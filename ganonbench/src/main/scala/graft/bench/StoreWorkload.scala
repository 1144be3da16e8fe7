package graft.bench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Ganon
import graft.bench.Checks.check
import graft.build.{IbfParams, LazyTwoLevelDb, SketchBuild}
import graft.classify.{Classify, ClassifyParams}
import graft.io.SketchStore
import graft.spark.GraftFunctions
import graft.synth.Corpus

/**
 * Writes beside reads on the generation-versioned store. Set-up builds
 * the base store with `buildToStore` (targets = repo x path salt). Then a
 * closed loop with one client; each cycle commits `updateStored` with a
 * staged delta of new files in the same 4 existing (active) targets plus
 * the removal of 1 target, loads the new generation lazily, classifies a
 * read batch at relCutoff 0.9 against it, and runs `gcStore` keeping 2
 * generations.
 */
final class StoreWorkload(spark: SparkSession, seed: Long,
    cores: Int, dir: String) extends Workload {
  import StoreWorkload._
  import spark.implicits._

  private val p = IbfParams(k = 19, w = 31, maxFp = 0.01)
  private val cp = ClassifyParams(relCutoff = 0.9)
  private var corpus: DataFrame = _
  private var batchBase: DataFrame = _
  private var allDeltas: DataFrame = _
  private var deltas: IndexedSeq[Delta] = IndexedSeq.empty
  private var exactDistinct: Map[String, Long] = Map.empty
  private var baseDb: LazyTwoLevelDb = _
  private var setups = 0
  private var storeDir: String = _
  private var next = 0
  private val removed = scala.collection.mutable.Set.empty[String]

  private final case class Delta(df: DataFrame, remove: String, bytes: Long)

  def content: DataFrame = corpus
  override def maxCycles: Int = Deltas - 3 // up to three feed the warm-up

  def setup(tr: Tracer): Unit = {
    Seq(corpus, batchBase, allDeltas).filter(_ != null)
      .foreach(_.unpersist(blocking = true))
    setups += 1
    storeDir = s"$dir/$setups"
    corpus = Corpus.df(spark, Files, numRepos = Repos, seed = seed,
        partitions = cores * 2)
      .withColumn("tgt",
        concat(col("repo"), lit("_"), pmod(xxhash64(col("path")), lit(Salts))))
      .withColumn("rid", concat(col("tgt"), lit("#"), col("path")))
      .cache()
    check(tr.span("setup.corpus")(corpus.count()) == Files, "staged corpus row count")
    batchBase = corpus.orderBy(xxhash64(col("rid"))).limit(BatchFiles)
      .select("rid", "content").cache()
    check(batchBase.count() == BatchFiles, "staged read batch size")
    val langOf = corpus.select("tgt", "lang").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    exactDistinct = tr.span("setup.exact")(Exact.sortedByKey(corpus.select(
        col("tgt"), GraftFunctions.shingles(col("content"), p.k, p.w, p.seed).as("hs")),
      "tgt", "hs").map { case (k, hs) => k -> Exact.distinct(hs) })

    removed.clear()
    next = 0
    baseDb = tr.span("setup.base_store")(
      SketchBuild.buildToStore(spark, corpus, "tgt", "content", storeDir, p))

    // per-cycle deltas, placed by the base layout so that the work of a
    // cycle does not hang on the seed: the same 4 active targets, one of
    // each of repos 1-4 (so their languages are fixed), each in its own
    // 64-bin group, receive every delta; cycle c removes the c-th target
    // of a fifth group
    val layout = baseDb.layout
    def groupOf(t: String): Option[Int] = baseDb.targetIndex.get(t).flatMap { i =>
      val g = layout.base(i) / 64
      if ((layout.base(i) + layout.split(i) - 1) / 64 == g) Some(g) else None
    }
    val used = scala.collection.mutable.Set.empty[Int]
    val addTo = (1 to TargetsPerDelta).map { r =>
      val t = (0 until Salts).map(s => s"repo-${r}_$s")
        .find(t => groupOf(t).exists(g => !used(g)))
        .getOrElse(throw new CheckFailed(s"no target of repo-$r in a free group"))
      used += groupOf(t).get
      t
    }.toArray
    val toRemove = (layout.numGroups - 1 to 0 by -1).filterNot(used)
      .map(g => baseDb.targets.filter(t => groupOf(t).contains(g)).toSeq)
      .find(_.length >= Deltas)
      .getOrElse(throw new CheckFailed("no group with enough targets to remove"))
      .take(Deltas)
    val langs = addTo.map(langOf)
    val sd = seed
    allDeltas = spark.range(Files, Files + Deltas * DeltaFiles, 1, cores)
      .map { i =>
        val c = ((i - Files) / DeltaFiles).toInt
        val j = ((i - Files) % TargetsPerDelta).toInt
        (c, addTo(j), s"${addTo(j)}#delta/c$c/f$i",
          Corpus.contentOf(i, langs(j), sd, MeanTokens))
      }
      .toDF("cycle", "tgt", "rid", "content").cache()
    val bytes = tr.span("setup.deltas")(allDeltas.groupBy("cycle")
      .agg(sum(octet_length(col("content"))))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
    check(bytes.size == Deltas, "staged deltas")
    deltas = (0 until Deltas).map(c => Delta(
      allDeltas.filter(col("cycle") === c).drop("cycle"), toRemove(c), bytes(c)))
  }

  def cycle(c: CycleCtx): Unit = {
    val d = deltas(next)
    next += 1
    val before = SketchStore.loadTwoLevelLazy(spark, storeDir)
    c.timed("store.update") {
      Ganon.updateStored(spark, storeDir, d.df, "tgt", "content", Seq(d.remove))
    }
    removed += d.remove
    val db = c.timed("store.load")(SketchStore.loadTwoLevelLazy(spark, storeDir))
    check(db.generation == before.generation + 1, "update did not commit a generation")
    val newBlobs = new File(s"$storeDir/shards_v${db.generation}").listFiles()
      .filter(_.getName.endsWith(".bin"))
    c.counts("store.groups_rewritten") =
      db.shardGens.indices.count(g => g >= before.shardGens.length ||
        db.shardGens(g) != before.shardGens(g)).toDouble
    c.counts("store.groups_total") = db.layout.numGroups.toDouble
    c.counts("store.bytes_written_per_delta_byte") =
      newBlobs.map(_.length).sum.toDouble / d.bytes

    val batch = batchBase.unionByName(d.df.select("rid", "content"))
    val res = c.timed("store.classify") {
      val r = Classify.classify(spark, batch, "rid", "content", db, cp).persist()
      r.count()
      r
    }
    try {
      // every delta file matches the target it was added to, and no read
      // matches a removed target
      val gone = removed.toSeq
      val r = res.toDF().agg(
        count_if(col("n_hashes") > 0 && !col("skipped") &&
          col("read_id").contains("#delta/") &&
          !exists(col("matches"), m =>
            m.getField("target") === substring_index(col("read_id"), "#", 1))),
        count_if(exists(col("matches"), m => m.getField("target").isin(gone: _*))),
        avg(size(col("matches")))).first()
      check(r.getLong(0) == 0, s"${r.getLong(0)} delta files miss their target")
      check(r.getLong(1) == 0, s"${r.getLong(1)} reads match a removed target")
      c.counts("classify.matches_per_read") = r.getDouble(2)
    } finally res.unpersist()

    val (_, freed) = c.timed("store.gc")(Ganon.gcStore(spark, storeDir, keepGens = 2))
    c.counts("store.gc_bytes_freed") = freed.toDouble
    c.counts("store.live_bytes") = dirBytes(new File(storeDir)).toDouble
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()

  /** Estimates of the base store, before any update or gc touches it. */
  override def staged(t: Tracer, rec: Recorder): Unit = t.span("estimates") {
    val exact = baseDb.targets.toSeq.map(exactDistinct)
    val (hllErr, hllRatio) = Estimates.hll(baseDb.targetHashes.toSeq, exact, p.hllP)
    val (fprReal, fprPlan) = Estimates.fpr(baseDb, FprProbes, seed ^ 0x5EEDL)
    rec.sample("build.hll_rel_err", hllErr)
    rec.sample("build.fpr_realized", fprReal)
    rec.sample("build.fpr_planned", fprPlan)
    rec.sample("build.db_bytes", dirBytes(new File(s"$storeDir/shards_v1")).toDouble)
    rec.bounds("hll") = hllRatio
    rec.bounds("bloom_fpr") = fprReal / p.maxFp
  }

  /** Load + classify after the last gc still serves the batch. */
  def finish(t: Tracer, rec: Recorder): Unit = t.span("store.after_gc") {
    val db = SketchStore.loadTwoLevelLazy(spark, storeDir)
    val n = Classify.classify(spark, batchBase, "rid", "content", db, cp)
      .filter(size(col("matches")) > 0).count()
    check(n > 0, "no read classified after gc")
  }
}

object StoreWorkload {
  val Files = 6000L
  val Repos = 64
  val Salts = 8
  val BatchFiles = 600
  val DeltaFiles = 60L
  val TargetsPerDelta = 4
  val Deltas = 14
  val MeanTokens = 120
  val FprProbes = 5000
}
