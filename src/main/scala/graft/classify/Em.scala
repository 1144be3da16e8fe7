package graft.classify

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * EM reassignment of multi-match reads (capability of ganon reassign,
 * src/ganon/reassign.py:8-224): initialize target probabilities from
 * unique-match counts, then iterate
 *   argmax-assign each multi-match read -> recount per target -> new probs
 * until the L1 prob change < threshold or maxIter (default 10,
 * src/ganon/config.py:770-776).
 *
 * Scale shape: `.all` is grouped by read ONCE into per-read candidate
 * arrays (single-match reads included; bounded by matches-per-read): one
 * exchange by read_id, then a hash map per partition over the rows copied
 * straight out of the plan. Everything after runs on RDDs, so EM compiles
 * one small query plan. One sorted run of targets per partition, merged
 * pairwise, yields the sorted target dictionary, the unique-match counts
 * and the `.all` rows per target. The grouped rows are interned into
 * compact primitive rows (target -> dense int id by binary search in the
 * sorted dictionary, so id order == target order) and cached; the
 * grouping's cache is released once they exist. Each iteration is then
 * ONE map-side job with no exchange:
 * argmax per read against the broadcast probs (a flat Array[Double], 8 B
 * per target), picks folded into a dense per-partition Array[Long]. Below
 * 64k targets the driver merges one array per partition (rdd.aggregate);
 * above it a depth-2 treeAggregate merges a few pre-combined arrays
 * instead of one per partition (the 10^7-target shape). Unique reads sit in
 * the same rows and always pick their one target, so the fold counts
 * unique + reassigned reads directly. After convergence the assignment is
 * materialized once, with the probs the last iteration used, as one eager
 * local checkpoint; both caches and every broadcast are released before
 * `reassign` returns. Measured with tools/EmScale at 10^6 targets and
 * 2x10^6 reads, local[8] on a 4-CPU box: 3 iterations in ~32 s wall,
 * grouping pass and final materialization included.
 * Tie-break: the reference keeps the FIRST listed match (reassign.py:
 * 227-241 — np.argmax returns the first max index). When the input
 * carries Classify.allMatches' `match_order` column (the read's bin
 * order), ties resolve on it exactly; without it the stable fallback is
 * (score desc, target asc).
 */
object Em {

  /** One read's candidates as grouped, targets by name. */
  private final case class Named(readId: String, names: Array[String],
      cs: Array[Long], os: Array[Long])

  private final class Builder {
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val cs = new scala.collection.mutable.ArrayBuilder.ofLong
    val os = new scala.collection.mutable.ArrayBuilder.ofLong
  }

  /** Targets in sorted order with their unique-read and `.all` row counts. */
  private final case class TargetRun(targets: Array[String],
      unique: Array[Long], matches: Array[Long])

  private object TargetRun {
    /** The union of two runs, counts of a shared target summed. */
    def merge(a: TargetRun, b: TargetRun): TargetRun = {
      val n = a.targets.length + b.targets.length
      val ts = new Array[String](n)
      val us = new Array[Long](n); val ms = new Array[Long](n)
      var i = 0; var j = 0; var k = 0
      while (i < a.targets.length || j < b.targets.length) {
        val c =
          if (j == b.targets.length) -1
          else if (i == a.targets.length) 1
          else a.targets(i).compareTo(b.targets(j))
        if (c <= 0) { ts(k) = a.targets(i); us(k) = a.unique(i); ms(k) = a.matches(i); i += 1 }
        else { ts(k) = b.targets(j); us(k) = b.unique(j); ms(k) = b.matches(j); j += 1 }
        if (c == 0) { us(k) += b.unique(j); ms(k) += b.matches(j); j += 1 }
        k += 1
      }
      TargetRun(ts.take(k), us.take(k), ms.take(k))
    }
  }

  /** One read's candidates, targets interned to dictionary ids. */
  private final case class Cands(readId: String, ts: Array[Int],
      cs: Array[Long], os: Array[Long])

  /** One EM run: the final assignment plus, per dictionary target, its
    * unique-match reads, `.all` rows and finally assigned reads. */
  private final case class Run(one: DataFrame, targets: Array[String],
      unique: Array[Long], matches: Array[Long], assigned: Array[Long])

  /** Index of the read's argmax candidate under `p`: score = count * p,
    * ties by first-listed order, then id asc (== target asc). */
  private def pick(c: Cands, p: Array[Double]): Int = {
    var best = 0
    var bs = c.cs(0) * p(c.ts(0)); var bo = c.os(0)
    var i = 1
    while (i < c.ts.length) {
      val t = c.ts(i); val o = c.os(i)
      val s = c.cs(i) * p(t)
      if (s > bs || (s == bs && (o < bo || (o == bo && t < c.ts(best))))) {
        best = i; bs = s; bo = o
      }
      i += 1
    }
    best
  }

  /**
   * @param all the `.all` relation (read_id, target, kmer_count); read_ids
   *            with exactly one match get weight-1 priors
   * @return (read_id, target, kmer_count: Long) final assignment per read,
   *         materialized (a local checkpoint: no recompute on reuse)
   */
  def reassign(spark: SparkSession, all: DataFrame, maxIter: Int = 10,
      threshold: Double = 0.001): DataFrame =
    run(spark, all, maxIter, threshold).one

  private def run(spark: SparkSession, all: DataFrame, maxIter: Int,
      threshold: Double): Run = {
    import spark.implicits._
    val sc = spark.sparkContext
    // first-listed order: present when the caller fed allMatches output
    val ordCol =
      if (all.columns.contains("match_order")) col("match_order").cast("long")
      else lit(0L)
    // one exchange brings each read's rows together; the rows are read as
    // they come out of the plan (no row decoder) and grouped in a hash map
    // per partition, so EM compiles one small query plan and runs every
    // later pass on RDDs
    val grouped = all
      .select(col("read_id").cast("string"), col("target").cast("string"),
        col("kmer_count").cast("long"), ordCol)
      .repartition(col("read_id"))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val byRead = new java.util.LinkedHashMap[String, Builder]()
        rows.foreach { r => // the plan reuses its row object: copy out
          val id = if (r.isNullAt(0)) null else r.getUTF8String(0).toString
          var b = byRead.get(id)
          if (b == null) { b = new Builder; byRead.put(id, b) }
          b.names += r.getUTF8String(1).toString
          b.cs += r.getLong(2); b.os += r.getLong(3)
        }
        byRead.entrySet.iterator.asScala.map { e =>
          val b = e.getValue
          Named(e.getKey, b.names.toArray, b.cs.result(), b.os.result())
        }
      }.persist(StorageLevel.MEMORY_AND_DISK)
    // the loop-invariant per-target facts, |targets| entries: each
    // partition's targets sorted, with their unique-read and `.all` row
    // counts, merged pairwise as sorted runs. Sorted so dictionary id
    // order == target order (the tie-break)
    val perTarget = grouped.mapPartitions { it =>
      val acc = new java.util.HashMap[String, Array[Long]]()
      it.foreach { c =>
        val u = if (c.names.length == 1) 1L else 0L
        c.names.foreach { t =>
          var a = acc.get(t)
          if (a == null) { a = new Array[Long](2); acc.put(t, a) }
          a(0) += u; a(1) += 1
        }
      }
      val ts = acc.keySet.toArray(new Array[String](0))
      java.util.Arrays.sort(ts.asInstanceOf[Array[AnyRef]])
      Iterator.single(TargetRun(ts, ts.map(acc.get(_)(0)), ts.map(acc.get(_)(1))))
    }.treeAggregate(TargetRun(Array.empty, Array.empty, Array.empty))(
      TargetRun.merge, TargetRun.merge, depth = 2)
    val targets = perTarget.targets
    val unique = perTarget.unique
    val n = targets.length
    val namesB = sc.broadcast(targets)

    val compact = grouped.map { c =>
      val names = namesB.value.asInstanceOf[Array[AnyRef]]
      val ts = c.names.map(t => java.util.Arrays.binarySearch(names, t))
      Cands(c.readId, ts, c.cs, c.os)
    }.persist(StorageLevel.MEMORY_AND_DISK)

    def normalized(totals: Array[Double]): Array[Double] = {
      val z = totals.sum
      totals.map(_ / z)
    }
    // +1 smoothing so zero-unique targets can still attract reads, as
    // reassign.py's eps does
    var probs = normalized(unique.map(_ + 1.0))
    // probs the most recent EXECUTED iteration assigned with, and its
    // per-target counts — the final assignment uses exactly these
    var probsUsed: Array[Double] = null
    var assigned = unique
    var iter = 0
    var diff = Double.MaxValue
    while (iter < maxIter && diff > threshold) {
      val pB = sc.broadcast(probs)
      probsUsed = probs
      val seqOp = (a0: Array[Long], c: Cands) => {
        val a = if (a0 == null) new Array[Long](n) else a0
        a(c.ts(pick(c, pB.value))) += 1
        a
      }
      val combOp = (a: Array[Long], b: Array[Long]) =>
        if (a == null) b
        else if (b == null) a
        else {
          var i = 0
          while (i < n) { a(i) += b(i); i += 1 }
          a
        }
      val agg =
        if (n < 65536) compact.aggregate(null: Array[Long])(seqOp, combOp)
        else compact.treeAggregate(null: Array[Long])(seqOp, combOp,
          depth = 2)
      pB.destroy()
      if (iter == 0) grouped.unpersist() // the compact rows hold it now
      assigned = if (agg == null) new Array[Long](n) else agg
      val newProbs = normalized(assigned.map(_ + 1.0))
      // L1 distance between consecutive normalized prob vectors — one pass
      diff = {
        var s = 0.0; var t = 0
        while (t < n) { s += math.abs(newProbs(t) - probs(t)); t += 1 }
        s
      }
      probs = newProbs
      iter += 1
    }
    grouped.unpersist() // still cached only when no iteration ran

    // no iteration ran (maxIter < 1): only the unique reads are assigned
    val pB = if (probsUsed == null) null else sc.broadcast(probsUsed)
    val one = compact.mapPartitions { it =>
      val names = namesB.value
      val p = if (pB == null) null else pB.value
      it.filter(c => p != null || c.ts.length == 1).map { c =>
        val i = if (c.ts.length == 1) 0 else pick(c, p)
        (c.readId, names(c.ts(i)), c.cs(i))
      }
    }.toDF("read_id", "target", "kmer_count")
      // eager: the broadcasts and the compact cache are released below,
      // and nothing may recompute through them afterwards
      .localCheckpoint(true)
    compact.unpersist()
    if (pB != null) pB.destroy()
    namesB.destroy()
    Run(one, targets, unique, perTarget.matches, assigned)
  }

  /** EM `.one` plus the rewritten `.rep` (reference reassign.py:180-224:
    * after EM the report's lca column becomes reassigned − unique). Returns
    * (one, rep) where rep = (target, unique_reads, lca_reads, matches):
    * unique_reads from single-match reads, lca_reads = EM-reassigned multis,
    * matches = total `.all` rows per target. The rep comes from the EM
    * run's own per-target counts: no further pass over `.all`. */
  def reassignWithRep(spark: SparkSession, all: DataFrame, maxIter: Int = 10,
      threshold: Double = 0.001): (DataFrame, DataFrame) = {
    import spark.implicits._
    val r = run(spark, all, maxIter, threshold)
    val rep = spark.sparkContext.parallelize(r.targets.indices.map(t =>
        (r.targets(t), r.unique(t), r.assigned(t) - r.unique(t), r.matches(t))))
      .toDF("target", "unique_reads", "lca_reads", "matches")
    (r.one, rep)
  }
}
