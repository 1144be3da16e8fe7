package graft.bench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.GraftFunctions

/** An exact invariant of a result did not hold. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Checks {
  def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)
}

/** Everything one run measured, written as the raw result file. Layer
  * samples are lists so the reader can take medians; a failed cycle keeps
  * its error but its times never enter a timing statistic. */
final class Recorder {
  val setupS = ArrayBuffer.empty[Double]
  val cycles = ArrayBuffer.empty[Map[String, Any]]
  val layer = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val bounds = mutable.LinkedHashMap.empty[String, Double]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def sample(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, ArrayBuffer.empty[Double]) += v

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
  }
}

/** One closed-loop cycle: each timed stage is one attempted operation. */
final class CycleCtx(tr: Tracer, rec: Recorder) {
  val stages = mutable.LinkedHashMap.empty[String, Double]
  /** Per-cycle layer counts (not times). */
  val counts = mutable.LinkedHashMap.empty[String, Double]
  def timed[T](name: String)(body: => T): T = {
    rec.attempted += 1
    val t0 = System.nanoTime()
    val r = tr.span(name)(body)
    stages(name) = (System.nanoTime() - t0) / 1e9
    r
  }
}

/** A workload: staged inputs, a repeated cycle of layer calls, and the
  * estimate checks run once after the loop. */
trait Workload {
  /** Stage (or re-stage, dropping the previous copy) inputs and exact
    * answers. Timed as set-up. */
  def setup(tr: Tracer): Unit
  def cycle(c: CycleCtx): Unit
  /** Checks of the staged inputs, once after the set-up reps, untimed. */
  def staged(tr: Tracer, rec: Recorder): Unit = ()
  /** Extra layer probes of a traced run, outside the cycle's time. */
  def traced(tr: Tracer, rec: Recorder): Unit = ()
  /** Estimate-bound checks and per-layer counts, once after the loop. */
  def finish(tr: Tracer, rec: Recorder): Unit
  /** Content the kernel probe shingles in a traced run. */
  def content: DataFrame
  def maxCycles: Int = Int.MaxValue
}

object Main {
  private val SetupReps = 3
  private val MinWarmup = 2
  private val MaxWarmup = 3
  private val MinCycles = 3
  private val MaxFailedCycles = 3

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traceOn = arg(args, "trace") == "1"
    val work = arg(args, "work")
    val out = arg(args, "out")
    val cores = Runtime.getRuntime.availableProcessors
    val start = System.nanoTime()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"ganonbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, workload, seed, seconds, traceOn, work, out, cores, start)
    finally spark.stop()
  }

  private def run(spark: SparkSession, workload: String, seed: Long,
      seconds: Double, traceOn: Boolean, work: String, out: String, cores: Int,
      start: Long): Unit = {
    // wall time of each phase of the run, for the full result
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = start
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    phase("session")
    val tr = new Tracer(spark, traceOn)
    val rec = new Recorder
    val w: Workload = workload match {
      case "corpus_build_classify" =>
        new CorpusWorkload(spark, seed, cores)
      case "store_update_classify" =>
        new StoreWorkload(spark, seed, cores, s"$work/store")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up is repeated and its median reported, so work moved into it shows
    (1 to SetupReps).foreach { _ =>
      rec.attempted += 1
      val t0 = System.nanoTime()
      tr.span("setup")(w.setup(tr))
      rec.setupS += (System.nanoTime() - t0) / 1e9
    }

    def runCycle(record: Boolean): Boolean = {
      val c = new CycleCtx(tr, rec)
      val ok =
        try { tr.span(if (record) "cycle" else "warmup")(w.cycle(c)); true }
        catch { case e: Exception => rec.fail("cycle", e); false }
      if (record) rec.cycles += Map("ok" -> ok, "stages" -> c.stages.toMap,
        "counts" -> c.counts.toMap)
      ok
    }

    phase("setup")
    rec.attempted += 1
    try w.staged(tr, rec)
    catch { case e: Exception => rec.fail("staged", e) }

    phase("staged")
    // untimed warm-up cycles (JIT and codegen are per-process costs): 2,
    // and a third if the second was still >10% faster than the first
    val warm = ArrayBuffer.empty[Double]
    while (warm.length < MinWarmup || (warm.length < MaxWarmup &&
        warm(warm.length - 2) > 1.1 * warm.last)) {
      val t0 = System.nanoTime()
      runCycle(record = false)
      warm += (System.nanoTime() - t0) / 1e9
    }
    phase("warmup")
    val loopStart = System.nanoTime()
    var done = 0
    var okCycles = 0
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    while ((elapsed < seconds || okCycles < MinCycles) && done < w.maxCycles &&
        rec.cycles.count(_("ok") == false) < MaxFailedCycles) {
      if (runCycle(record = true)) okCycles += 1
      done += 1
      if (traceOn) {
        kernelProbe(spark, tr, rec, w.content)
        w.traced(tr, rec)
      }
    }

    phase("loop")
    // heap the engine and its cached inputs retain after the loop: a full
    // collection first, so the figure does not depend on when GC last ran
    System.gc()
    val retainedHeapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getUsage.getUsed).sum / 1e6
    rec.attempted += 1
    try w.finish(tr, rec)
    catch { case e: Exception => rec.fail("finish", e) }
    phase("finish")

    val spans = tr.spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start_s" -> s.startNs / 1e9,
      "end_s" -> s.endNs / 1e9, "gc_s" -> s.gcMs / 1e3))
    val tasks = tr.taskTotals.map { case (id, t) => id.toString -> t.asMap }
    val box = Map(
      "nproc" -> cores,
      "cores_used" -> spark.sparkContext.defaultParallelism,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6)
    val raw = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traceOn,
      "run_id" -> s"$workload-$seed-${ProcessHandle.current().pid()}",
      "box" -> box, "phases" -> phases,
      "setup_s" -> rec.setupS,
      "cycles" -> rec.cycles,
      "layer" -> rec.layer.map { case (k, v) => k -> v.toSeq },
      "bounds" -> rec.bounds,
      "retained_heap_mb" -> retainedHeapMb,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "failures" -> rec.failures,
      "spans" -> spans, "span_tasks" -> tasks)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Json.write(raw))
  }

  /** The shingle/minimizer kernel alone: one job summing the hash-set
    * sizes of the workload's content (k=19, w=31). */
  private def kernelProbe(spark: SparkSession, tr: Tracer, rec: Recorder,
      content: DataFrame): Unit = {
    val t0 = System.nanoTime()
    val r = tr.span("kernel.shingle") {
      content.agg(
        sum(size(GraftFunctions.shingles(col("content"), 19, 31))).cast("long"),
        sum(octet_length(col("content"))).cast("long"), count(lit(1))).first()
    }
    val s = (System.nanoTime() - t0) / 1e9
    val cores = spark.sparkContext.defaultParallelism
    rec.sample("kernel.shingle_s", s)
    rec.sample("kernel.mb_per_core_s", r.getLong(1) / 1e6 / (s * cores))
    rec.sample("kernel.hashes_per_row", r.getLong(0).toDouble / r.getLong(2))
  }
}
