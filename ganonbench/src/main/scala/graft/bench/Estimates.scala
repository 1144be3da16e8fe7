package graft.bench

import graft.build.ProbeDb

/** Observed error of the engine's estimates against exact answers, each
  * also given as a ratio to its published bound (≤ 1 means within). */
object Estimates {

  /** HyperLogLog: root-mean-square relative error of the per-target
    * estimates against exact distinct counts, over the standard error
    * 1.04/√m the sketch publishes. Returns (rms error, ratio). */
  def hll(estimates: Seq[Long], exact: Seq[Long], p: Int): (Double, Double) = {
    require(estimates.length == exact.length && exact.nonEmpty)
    val sq = estimates.zip(exact).map { case (e, x) =>
      val r = (e - x).toDouble / math.max(1L, x)
      r * r
    }
    val rms = math.sqrt(sq.sum / sq.length)
    (rms, rms / (1.04 / math.sqrt((1L << p).toDouble)))
  }

  /** Bloom false-positive rate, realized: seeded uniform random hashes are
    * probed one at a time through `db.probe` and every target they hit is
    * a false positive (random 64-bit values are not among the built
    * hashes). Returns (realized rate over all probes and targets, mean
    * `binFpr` the plan predicted). */
  def fpr(db: ProbeDb, probes: Int, seed: Long): (Double, Double) = {
    val rnd = new java.util.SplittableRandom(seed)
    val n = db.targets.length
    val counts = new Array[Int](n)
    val one = new Array[Long](1)
    var hits = 0L
    var i = 0
    while (i < probes) {
      one(0) = rnd.nextLong()
      java.util.Arrays.fill(counts, 0)
      db.probe(one, counts, 1)
      var t = 0
      while (t < n) { if (counts(t) > 0) hits += 1; t += 1 }
      i += 1
    }
    val predicted = (0 until n).map(db.binFpr).sum / n
    (hits.toDouble / (probes.toLong * n), predicted)
  }

  /** Distance of quantile level `q` from the exact rank interval of
    * `estimate` in `sorted` (values with ties occupy a rank interval). */
  def rankError(sorted: Array[Double], q: Double, estimate: Double): Double = {
    val n = sorted.length.toDouble
    val below = lowerBound(sorted, estimate) / n
    val atOrBelow = upperBound(sorted, estimate) / n
    if (q < below) below - q else if (q > atOrBelow) q - atOrBelow else 0.0
  }

  private def lowerBound(a: Array[Double], x: Double): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
    lo
  }

  private def upperBound(a: Array[Double], x: Double): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) <= x) lo = m + 1 else hi = m }
    lo
  }
}

/** Exact answers, counted in the harness JVM from collected hash arrays (the
  * inputs are small; a sort per key beats a distinct-count shuffle). */
object Exact {
  /** key -> all hashes of the key's rows, sorted. */
  def sortedByKey(df: org.apache.spark.sql.DataFrame, keyCol: String,
      hashesCol: String): Map[String, Array[Long]] =
    df.select(keyCol, hashesCol).collect()
      .groupBy(_.getString(0))
      .map { case (k, rows) =>
        val all = rows.flatMap(_.getSeq[Long](1))
        java.util.Arrays.sort(all)
        k -> all
      }

  def distinct(sorted: Array[Long]): Long = {
    var n = 0L
    var i = 0
    while (i < sorted.length) {
      if (i == 0 || sorted(i) != sorted(i - 1)) n += 1
      i += 1
    }
    n
  }

  /** (value, multiplicity) runs of a sorted array. */
  def counts(sorted: Array[Long]): Seq[(Long, Long)] = {
    val out = Seq.newBuilder[(Long, Long)]
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j) == sorted(i)) j += 1
      out += ((sorted(i), (j - i).toLong))
      i = j
    }
    out.result()
  }
}
