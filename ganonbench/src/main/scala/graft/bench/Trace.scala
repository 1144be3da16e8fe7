package graft.bench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One recorded span: times are nanoseconds since the tracer started;
  * `parent` is -1 for a root span. `gcMs` is the JVM-wide collection time
  * spent inside the span (in local mode the scheduler and the executors
  * share one JVM). */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    endNs: Long, gcMs: Long)

/** Task totals folded per span by the listener. */
final class TaskTotals {
  var tasks = 0L
  var busyMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def asMap: Map[String, Long] = Map("tasks" -> tasks, "busy_ms" -> busyMs,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes)
}

/**
 * Spans around the benchmark's calls into each layer. When enabled, every
 * span sets its id as the Spark job group, and a listener maps each job's
 * stages to that group so task metrics fold into the innermost open span.
 * Spans stay in memory until [[spans]]/[[taskTotals]] are read at the end.
 * When disabled, [[span]] only runs its body.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val recorded = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val totals = new ConcurrentHashMap[Int, TaskTotals]()
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  private def gcMillis: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      group.filter(_.startsWith("span-")).foreach { g =>
        val id = g.stripPrefix("span-").toInt
        e.stageIds.foreach(s => stageSpan.put(s, id))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.getOrDefault(e.stageId, -1)
      val t = totals.computeIfAbsent(id, _ => new TaskTotals)
      val m = e.taskMetrics
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.busyMs += m.executorRunTime
          t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  })

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setJobGroup(s"span-$id", name)
      val gc0 = gcMillis
      val start = System.nanoTime() - t0
      try body
      finally {
        recorded += Span(id, name, parent, start, System.nanoTime() - t0,
          gcMillis - gc0)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", "")
          case None => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = recorded.toSeq

  /** Task totals per span id (-1: tasks of jobs started outside a span). */
  def taskTotals: Map[Int, TaskTotals] = {
    if (enabled) org.apache.spark.BenchBridge.drainListeners(sc)
    totals.asScala.toMap
  }
}
