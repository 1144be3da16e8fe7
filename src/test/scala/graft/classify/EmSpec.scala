package graft.classify

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.SparkTestSession

/** `Em.reassign` against a plain driver-side EM written from the
  * reference's definition (reassign.py:8-224), on small random `.all`
  * relations with many score ties. */
class EmSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private case class M(read: String, target: String, count: Long, ord: Long)

  /** Reference EM: priors from unique reads (+1), then argmax every
    * multi-match read by count * prob (ties: lower match order, then lower
    * target), recount, renormalize, until the L1 change <= threshold or
    * maxIter. The final picks use the probs of the last iteration run. */
  private def referenceEm(ms: Seq[M], maxIter: Int, threshold: Double)
      : (Map[String, (String, Long)], Map[String, (Long, Long, Long)]) = {
    val reads = ms.groupBy(_.read)
    val targets = ms.map(_.target).distinct.sorted
    val (uniq, multi) = reads.partition(_._2.size == 1)
    val uniqueOf = uniq.values.map(_.head.target).groupBy(identity)
      .map { case (t, v) => t -> v.size.toLong }.withDefaultValue(0L)
    def normalized(c: Map[String, Double]) = {
      val z = targets.map(c).sum
      targets.map(t => t -> c(t) / z).toMap
    }
    def argmax(cs: Seq[M], p: Map[String, Double]): M =
      cs.minBy(m => (-(m.count * p(m.target)), m.ord, m.target))
    var probs = normalized(targets.map(t => t -> (uniqueOf(t) + 1.0)).toMap)
    var used: Map[String, Double] = null
    var iter = 0
    var diff = Double.MaxValue
    while (iter < maxIter && diff > threshold) {
      used = probs
      val picked = multi.values.map(argmax(_, probs).target)
        .groupBy(identity).map { case (t, v) => t -> v.size.toLong }
      val next = normalized(targets.map(t =>
        t -> ((picked.getOrElse(t, 0L) + uniqueOf(t)) + 1.0)).toMap)
      diff = targets.map(t => math.abs(next(t) - probs(t))).sum
      probs = next
      iter += 1
    }
    val one = uniq.map { case (r, cs) => r -> (cs.head.target, cs.head.count) } ++
      (if (used == null) Map.empty else multi.map { case (r, cs) =>
        val m = argmax(cs, used)
        r -> (m.target, m.count)
      })
    val assigned = one.values.map(_._1).groupBy(identity)
      .map { case (t, v) => t -> v.size.toLong }.withDefaultValue(0L)
    val rep = targets.map(t => t -> (uniqueOf(t), assigned(t) - uniqueOf(t),
      ms.count(_.target == t).toLong)).toMap
    (one, rep)
  }

  /** `nReads` reads over `nTargets` targets, each with `minC`..`maxC`
    * distinct candidates; counts from {2, 4, 6} so scores tie often. */
  private def randomAll(seed: Long, nReads: Int, nTargets: Int, minC: Int,
      maxC: Int): Seq[M] = {
    val rnd = new scala.util.Random(seed)
    (0 until nReads).flatMap { r =>
      val k = minC + rnd.nextInt(maxC - minC + 1)
      rnd.shuffle((0 until nTargets).toList).take(k).zipWithIndex.map {
        case (t, o) => M(f"r$r%03d", f"t$t%02d", 2L * (1 + rnd.nextInt(3)), o)
      }
    }
  }

  private def check(ms: Seq[M], withOrder: Boolean, maxIter: Int,
      threshold: Double = 0.001): Unit = {
    val full = ms.map(m => (m.read, m.target, m.count.toInt, m.ord.toInt))
      .toDF("read_id", "target", "kmer_count", "match_order")
    val all = if (withOrder) full else full.drop("match_order")
    val (refOne, refRep) = referenceEm(
      if (withOrder) ms else ms.map(_.copy(ord = 0L)), maxIter, threshold)
    val (one, rep) = Em.reassignWithRep(spark, all, maxIter, threshold)
    val got = one.collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2)))
    assert(got.length == refOne.size, "one row per assigned read")
    assert(got.toMap == refOne)
    assert(rep.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap == refRep)
  }

  test("em equals the reference EM on random relations with ties") {
    for (seed <- 1L to 4L; withOrder <- Seq(true, false))
      check(randomAll(seed, 60, 7, 1, 4), withOrder, maxIter = 10)
  }

  test("em equals the reference EM on unique-only and multi-only input") {
    for (withOrder <- Seq(true, false)) {
      check(randomAll(11L, 30, 5, 1, 1), withOrder, maxIter = 10)
      check(randomAll(12L, 30, 5, 2, 4), withOrder, maxIter = 10)
    }
  }

  test("em equals the reference EM at maxIter = 1") {
    for (withOrder <- Seq(true, false))
      check(randomAll(21L, 50, 6, 1, 3), withOrder, maxIter = 1,
        threshold = 0.0)
  }

  test("em returns with no cache held beyond its result's checkpoint") {
    val all: DataFrame = randomAll(31L, 40, 6, 1, 3)
      .map(m => (m.read, m.target, m.count, m.ord))
      .toDF("read_id", "target", "kmer_count", "match_order")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val one = Em.reassign(spark, all)
    val held = sc.getPersistentRDDs.keySet -- before
    val own = one.queryExecution.analyzed.collect {
      case l: LogicalRDD => l.rdd.id
    }
    assert(own.size == 1)
    assert(held == own.toSet)
    assert(one.count() == 40)
  }
}
