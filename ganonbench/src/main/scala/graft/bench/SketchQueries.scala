package graft.bench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.bench.Checks.check
import graft.core.sketch.{CountMin, Kll, TDigest}
import graft.spark.GraftFunctions

/**
 * The sketch UDAF layer with the shingle kernel bypassed: four
 * `groupBy(repo)` queries over pre-hashed rows (repo, hs, th, len) —
 * `hllCount(hs)`, `cmsSketch(th)`, `kllQuantiles(len)` and
 * `tdigestQuantiles(len)` at p 0.5/0.99/0.999 — each timed, checked for
 * exact invariants, and scored against exact answers staged beforehand.
 */
final class SketchQueries(hashed: DataFrame,
    exactDistinct: Map[String, Long],
    exactTokens: Map[String, Seq[(Long, Long)]],
    sortedLens: Map[String, Array[Double]]) {
  import SketchQueries._

  /** Error ratios (observed error / published bound) of the last run. */
  val ratios = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  private def byRepo(agg: org.apache.spark.sql.Column): Array[Row] =
    hashed.groupBy("repo").agg(agg.as("v")).collect()

  def run(c: CycleCtx): Unit = {
    val hll = c.timed("udaf.hll")(byRepo(GraftFunctions.hllCount(col("hs"), HllP)))
    check(hll.length == exactDistinct.size, "hll: one row per repo")
    val hllEst = hll.map(r => r.getString(0) -> r.getLong(1)).toMap
    check(hllEst.values.forall(_ > 0), "hll: empty estimate for a non-empty repo")
    val repos = exactDistinct.keys.toSeq.sorted
    ratios("udaf.hll_err_ratio") = Estimates.hll(repos.map(hllEst),
      repos.map(exactDistinct), HllP)._2

    val cms = c.timed("udaf.cms")(
      byRepo(GraftFunctions.cmsSketch(col("th"), CmsDepth, CmsWidth)))
    var cmsRatio = 0.0
    cms.foreach { r =>
      val sk = CountMin.fromBytes(r.getAs[Array[Byte]](1))
      exactTokens(r.getString(0)).foreach { case (h, n) =>
        val e = sk.estimate(h)
        check(e >= n, s"cms: estimate $e under exact $n") // never under
        cmsRatio = math.max(cmsRatio, (e - n) / (sk.eps * sk.total))
      }
    }
    ratios("udaf.cms_err_ratio") = cmsRatio

    def quantileRatio(name: String, rows: Array[Row], bound: Double): Double =
      rows.map { r =>
        val lens = sortedLens(r.getString(0))
        val est = r.getSeq[Double](1)
        check(est.zip(est.drop(1)).forall { case (a, b) => a <= b },
          s"$name: quantiles not monotone")
        check(est.forall(v => v >= lens.head && v <= lens.last),
          s"$name: quantile outside the value range")
        Qs.zip(est).map { case (q, v) => Estimates.rankError(lens, q, v) }.max / bound
      }.max

    val kll = c.timed("udaf.kll")(
      byRepo(GraftFunctions.kllQuantiles(col("len"), Qs, KllK)))
    ratios("udaf.kll_err_ratio") = quantileRatio("kll", kll, Kll.empty(KllK).rankErrorBound)
    val td = c.timed("udaf.tdigest")(
      byRepo(GraftFunctions.tdigestQuantiles(col("len"), Qs, Compression)))
    ratios("udaf.tdigest_err_ratio") =
      quantileRatio("tdigest", td, TDigest.rankErrorBound(Compression))
  }
}

object SketchQueries {
  val HllP = 14
  val CmsDepth = 7
  val CmsWidth = 8192
  val KllK = 256
  val Compression = 100.0
  val Qs: Array[Double] = Array(0.5, 0.99, 0.999)

  /** The pre-hashed rows the queries read: shingle set, token-multiset
    * hashes and byte length of each file. */
  def hashedRows(corpus: DataFrame, k: Int, w: Int, seed: Long): DataFrame =
    corpus.select(col("repo"),
      GraftFunctions.shingles(col("content"), k, w, seed).as("hs"),
      GraftFunctions.tokenHashesMultiset(col("content")).as("th"),
      octet_length(col("content")).cast("double").as("len"))

  /** Exact answers: per-repo token counts and sorted lengths. */
  def exactTokens(hashed: DataFrame): Map[String, Seq[(Long, Long)]] =
    Exact.sortedByKey(hashed, "repo", "th").map { case (k, th) => k -> Exact.counts(th) }

  def sortedLens(hashed: DataFrame): Map[String, Array[Double]] =
    hashed.groupBy("repo").agg(collect_list("len"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toArray.sorted).toMap
}
