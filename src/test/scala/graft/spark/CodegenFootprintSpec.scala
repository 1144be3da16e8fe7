package graft.spark

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IbfParams, SketchBuild}
import graft.classify.{Classify, ClassifyParams, Em}
import graft.report.Report
import graft.synth.Corpus

/**
 * The engine's generated-code working set fits Spark's codegen cache
 * (`spark.sql.codegen.cache.maxEntries`, default 100, evicted per cache
 * segment): a repeated pipeline cycle — build, classify, `.rep`/`.sta`,
 * EM, tree report and the four grouped sketch queries — compiles nothing
 * once warm. A verb that grows the working set past the cache shows up
 * here as compilations on every pass.
 */
class CodegenFootprintSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm build/classify/report/EM/tree/sketch cycle compiles no classes") {
    val p = IbfParams(k = 19, w = 31, maxFp = 0.01)
    val corpus = Corpus.df(spark, 400, numRepos = 12, seed = 11L,
        meanTokens = 60, partitions = 4)
      .withColumn("rid", concat(col("repo"), lit("#"), col("path")))
      .cache()
    val pairs = corpus.select("repo", "lang").distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
    val repos = pairs.map(_._1).distinct.length
    val lineage = spark.createDataFrame(
      pairs.map { case (repo, lang) => (repo, Array("root", lang, repo)) }.toSeq ++
        pairs.map(_._2).distinct.map(l => (l, Array("root", l))) :+
        (("root", Array("root"))))
      .toDF("node", "lineage").cache()
    val hashed = corpus.select(col("repo"),
        GraftFunctions.shingles(col("content"), p.k, p.w).as("hs"),
        GraftFunctions.tokenHashesMultiset(col("content")).as("th"),
        octet_length(col("content")).cast("double").as("len"))
      .cache()
    val qs = Array(0.5, 0.99)

    def cycle(): Unit = {
      val db = SketchBuild.build(spark, corpus, "repo", "content", p)
      val res = Classify.classify(spark, corpus, "rid", "content", db,
        ClassifyParams()).persist()
      try {
        assert(res.count() == 400)
        val matches = Classify.report(res).collect().map(_.getLong(1)).sum
        assert(matches == Classify.stats(res).first().getAs[Long]("total_matches"))
        val one = Em.reassign(spark, Classify.allMatches(res))
        val counts = one.groupBy(col("target").as("node"))
          .agg(count(lit(1)).as("direct_count"))
        assert(Report.tree(counts, lineage).collect().nonEmpty)
        Seq(GraftFunctions.hllCount(col("hs")),
          GraftFunctions.cmsSketch(col("th")),
          GraftFunctions.kllQuantiles(col("len"), qs),
          GraftFunctions.tdigestQuantiles(col("len"), qs))
          .foreach(agg => assert(hashed.groupBy("repo").agg(agg).collect().length == repos))
      } finally res.unpersist()
    }

    try {
      val perPass = (1 to 3).map { _ =>
        val c0 = compilations
        cycle()
        compilations - c0
      }
      info(s"classes compiled per pass: ${perPass.mkString(", ")} " +
        s"(the first pass compiles the cycle's classes not already cached)")
      assert(perPass(2) == 0, s"a warm pass compiled ${perPass(2)} classes")
    } finally Seq(corpus, lineage, hashed).foreach(_.unpersist())
  }
}
