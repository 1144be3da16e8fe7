package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.bench.Checks.check
import graft.build.{IbfParams, ProbeDb, SketchBuild}
import graft.classify.{Classify, ClassifyParams, Em}
import graft.report.Report
import graft.spark.GraftFunctions
import graft.synth.Corpus

/**
 * The ganon pipeline on the synthetic corpus. Each cycle: flat build
 * (k=19, w=31, maxFp=0.01), classify every file (relCutoff 0.25) and
 * force its `.rep`/`.sta`, EM reassignment over `.all`, tree report, then
 * the four grouped sketch queries over pre-hashed rows ([[SketchQueries]]).
 */
final class CorpusWorkload(spark: SparkSession, seed: Long,
    cores: Int) extends Workload {
  import CorpusWorkload._

  private val p = IbfParams(k = 19, w = 31, maxFp = 0.01)
  private val cp = ClassifyParams(relCutoff = 0.25)
  private var corpus: DataFrame = _
  private var hashed: DataFrame = _
  private var queries: SketchQueries = _
  private var lineage: DataFrame = _
  private var exactDistinct: Map[String, Long] = Map.empty
  private var lastDb: ProbeDb = _

  def content: DataFrame = corpus

  def setup(tr: Tracer): Unit = {
    Seq(corpus, hashed, lineage).filter(_ != null).foreach(_.unpersist(blocking = true))
    corpus = Corpus.df(spark, Files, numRepos = Repos, seed = seed,
        partitions = cores * 2)
      .withColumn("rid", concat(col("repo"), lit("#"), col("path")))
      .cache()
    check(tr.span("setup.corpus")(corpus.count()) == Files, "staged corpus row count")
    val badSha = corpus
      .filter(sha2(col("content"), 256) =!= col("content_sha")).count()
    check(badSha == 0, s"content sha256 invariant broken on $badSha rows")
    // pre-hashed rows for the sketch queries, and the exact answers
    hashed = SketchQueries.hashedRows(corpus, p.k, p.w, p.seed).cache()
    check(tr.span("setup.hashed")(hashed.count()) == Files, "staged hashed rows")
    tr.span("setup.exact") {
      exactDistinct = Exact.sortedByKey(hashed, "repo", "hs")
        .map { case (k, hs) => k -> Exact.distinct(hs) }
      queries = new SketchQueries(hashed, exactDistinct,
        SketchQueries.exactTokens(hashed), SketchQueries.sortedLens(hashed))
    }
    // taxonomy root -> lang -> repo for the tree report
    val pairs = corpus.select("repo", "lang").distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
    val rows = pairs.map { case (repo, lang) => (repo, Array("root", lang, repo)) } ++
      pairs.map(_._2).distinct.map(l => (l, Array("root", l))) :+
      (("root", Array("root")))
    lineage = spark.createDataFrame(rows.toSeq).toDF("node", "lineage").cache()
    lineage.count()
  }

  def cycle(c: CycleCtx): Unit = {
    val db = c.timed("build") {
      SketchBuild.build(spark, corpus, "repo", "content", p)
    }
    lastDb = db
    val res = c.timed("classify") {
      val r = Classify.classify(spark, corpus, "rid", "content", db, cp).persist()
      r.count()
      r
    }
    try {
      val (repMatches, sta) = c.timed("outputs") {
        val rep = Classify.report(res).collect()
        (rep.map(_.getAs[Long]("matches")).sum, Classify.stats(res).first())
      }
      val reads = sta.getAs[Long]("seqs_processed")
      val classified = sta.getAs[Long]("seqs_classified")
      check(reads == Files, s".sta processed $reads of $Files reads")
      check(repMatches == sta.getAs[Long]("total_matches"),
        s".rep matches $repMatches != .sta total matches")
      // a Bloom filter has no false negatives: a file with any hash
      // matches its own repo
      val missed = res.toDF()
        .filter(col("n_hashes") > 0 && !col("skipped") &&
          !exists(col("matches"), m =>
            m.getField("target") === substring_index(col("read_id"), "#", 1)))
        .count()
      check(missed == 0, s"$missed files miss their own repo")

      val all = Classify.allMatches(res)
      val one = c.timed("em") {
        val o = Em.reassign(spark, all).persist()
        o.count()
        o
      }
      try {
        val assigned = one.count()
        check(assigned == classified, s"EM assigned $assigned reads, $classified classified")
        // every EM pick is one of the read's own matches
        val foreign = one.select(col("read_id"), col("target").as("pick"))
          .join(res.toDF().select("read_id", "matches"), "read_id")
          .filter(!exists(col("matches"), m => m.getField("target") === col("pick")))
          .count()
        check(foreign == 0, s"$foreign EM picks are not among the read's matches")

        val tree = c.timed("report") {
          val counts = one.groupBy(col("target").as("node"))
            .agg(count(lit(1)).as("direct_count"))
          Report.tree(counts, lineage).collect()
        }
        val root = tree.find(_.getAs[String]("node") == "root")
        check(root.exists(_.getAs[Long]("cumulative") == classified),
          "tree root cumulative != classified reads")

        val multi = sta.getAs[Long]("seqs_multi")
        c.counts("classify.matches_per_read") = sta.getAs[Double]("avg_matches_per_seq")
        c.counts("classify.multi_frac") = multi.toDouble / math.max(1L, classified)
        c.counts("em.multi_reads") = multi.toDouble
      } finally one.unpersist()
    } finally res.unpersist()
    queries.run(c)
  }

  /** Pass 1 and the plan called on their own, and the probe-only classify
    * path (shingles + public `ProbeDb.probe`, no `ReadResult` rows). */
  override def traced(t: Tracer, rec: Recorder): Unit = {
    def time[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = t.span(name)(body)
      rec.sample(s"$name.s", (System.nanoTime() - t0) / 1e9)
      r
    }
    val cards = time("build.pass1") {
      SketchBuild.targetCardinalities(corpus, "repo", "content", p)
        .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
    }
    time("build.plan")(SketchBuild.plan(cards, p))
    val db = lastDb
    if (db != null) time("classify.probe")(probeOnly(db))
  }

  private def probeOnly(db: ProbeDb): Long = {
    import spark.implicits._
    val dbB = spark.sparkContext.broadcast(db)
    val relCutoff = cp.relCutoff
    val maxHashes = cp.maxHashesPerRead
    try corpus
      .select(GraftFunctions.shingles(col("content"), p.k, p.w, p.seed).as("hs"))
      .as[Array[Long]]
      .mapPartitions { iter =>
        val d = dbB.value
        val counts = new Array[Int](d.targets.length)
        iter.map { hs =>
          val n = hs.length
          if (n == 0 || n > maxHashes) 0L
          else {
            val cutoff = math.max(1, math.ceil(n * relCutoff).toInt)
            java.util.Arrays.fill(counts, 0)
            d.probe(hs, counts, cutoff)
            var acc = 0L
            var b = 0
            while (b < counts.length) {
              if (counts(b) >= cutoff) acc += math.min(counts(b), n)
              b += 1
            }
            acc
          }
        }
      }.reduce(_ + _)
    finally dbB.destroy()
  }

  def finish(t: Tracer, rec: Recorder): Unit = t.span("estimates") {
    val db = lastDb
    check(db != null, "no database was built")
    val exact = db.targets.toSeq.map(exactDistinct)
    val (hllErr, hllRatio) = Estimates.hll(db.targetHashes.toSeq, exact, p.hllP)
    val (fprReal, fprPlan) = Estimates.fpr(db, FprProbes, seed ^ 0x5EEDL)
    rec.sample("build.hll_rel_err", hllErr)
    rec.sample("build.fpr_realized", fprReal)
    rec.sample("build.fpr_planned", fprPlan)
    rec.sample("build.db_bytes", db.sizeBytes.toDouble)
    rec.sample("build.bits_per_distinct_hash",
      db.plan.numBins.toDouble * db.plan.bitsPerBin / math.max(1L, exact.sum))
    rec.bounds("hll") = hllRatio
    rec.bounds("bloom_fpr") = fprReal / p.maxFp
    check(queries.ratios.nonEmpty, "no sketch query completed")
    queries.ratios.foreach { case (k, v) =>
      rec.sample(k, v)
      rec.bounds(k) = v
    }
  }
}

object CorpusWorkload {
  val Files = 4000L
  val Repos = 64
  val FprProbes = 20000
}
