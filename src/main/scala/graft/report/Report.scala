package graft.report

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.spark.Rows

/**
 * Hierarchical tree report (`.tre` capability of ganon report,
 * src/ganon/report.py:13-160): cumulative counts up the lineage, rank
 * percentages, count/percentile filters, deterministic sort.
 *
 * The cumulative tree sum (report.py:656-667 walks each target's lineage
 * to the root) runs on the driver: its inputs, the per-node counts and the
 * lineage, are |nodes| rows that a broadcast join would ship to the driver
 * anyway, and its output is |nodes| rows.
 */
object Report {

  private val TreeSchema = StructType(Seq(
    StructField("node", StringType), StructField("rank_depth", IntegerType),
    StructField("direct", LongType), StructField("cumulative", LongType),
    StructField("cum_perc", DoubleType)))

  /** One tree node's sums; a null sum has seen no non-null count, as in SQL. */
  private final class NodeSums(var depth: Int) {
    var direct: java.lang.Long = null
    var cumulative: java.lang.Long = null
  }

  private def plus(a: java.lang.Long, b: java.lang.Long): java.lang.Long =
    if (a == null) b else if (b == null) a else java.lang.Long.valueOf(a + b)

  /**
   * @param counts   (node, direct_count) — e.g. per-target read counts
   * @param lineage  (node, lineage: Array[String]) root-first, inclusive
   * @return (node, rank_depth, direct, cumulative, cum_perc), sorted by
   *         (rank_depth, cumulative desc, node); a node's `rank_depth` is
   *         its lineage position and `cum_perc` is over every counts row,
   *         those without a lineage included. Built from the collected
   *         inputs: the returned DataFrame is local.
   */
  def tree(counts: DataFrame, lineage: DataFrame): DataFrame = {
    val spark = counts.sparkSession
    val lineages = Rows.collect(lineage.select(col("node").cast("string"),
        col("lineage").cast("array<string>"))) { r =>
      val node = if (r.isNullAt(0)) null else r.getUTF8String(0).toString
      val lin = if (r.isNullAt(1)) Array.empty[String] else {
        val a = r.getArray(1)
        Array.tabulate(a.numElements())(i =>
          if (a.isNullAt(i)) null else a.getUTF8String(i).toString)
      }
      (node, lin)
    }.filter(_._1 != null).groupMap(_._1)(_._2)
    val sums = scala.collection.mutable.HashMap.empty[String, NodeSums]
    // each counts row meets every ancestor in each of its lineages; its own
    // (last) entry carries `direct`. A row with no lineage (or an empty
    // one) feeds only the total, through the lineage-less null group.
    var total: java.lang.Long = null
    Rows.collect(counts.select(col("node").cast("string"),
        col("direct_count").cast("long"))) { r =>
      (if (r.isNullAt(0)) null else r.getUTF8String(0).toString,
        if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)))
    }.foreach { case (node, dc) =>
      val lins = Option(node).flatMap(lineages.get)
        .getOrElse(Array(Array.empty[String]))
      lins.foreach { lin =>
        if (lin.isEmpty) total = plus(total, dc)
        else lin.zipWithIndex.foreach { case (anc, pos) =>
          val self = pos == lin.length - 1
          val d: java.lang.Long = if (self) dc else java.lang.Long.valueOf(0L)
          if (anc == null) total = plus(total, d)
          else {
            val s = sums.getOrElseUpdate(anc, new NodeSums(pos))
            s.depth = math.min(s.depth, pos)
            s.direct = plus(s.direct, d)
            s.cumulative = plus(s.cumulative, dc)
          }
        }
      }
    }
    sums.valuesIterator.foreach(s => total = plus(total, s.direct))
    // floored at 1 so an all-zero total divides cleanly
    val denom = if (total == null) 1.0 else math.max(total.longValue, 1L).toDouble
    val rows = sums.toSeq.map { case (node, s) =>
      val perc =
        if (s.cumulative == null) null
        else java.lang.Double.valueOf(java.math.BigDecimal
          .valueOf(s.cumulative.longValue / denom * 100.0)
          .setScale(5, java.math.RoundingMode.HALF_UP).doubleValue)
      (UTF8String.fromString(node), Row(node, s.depth, s.direct, s.cumulative, perc))
    }.sortWith { case ((na, a), (nb, b)) =>
      val da = a.getInt(1); val db = b.getInt(1)
      if (da != db) da < db
      else if (a.isNullAt(3) != b.isNullAt(3)) b.isNullAt(3) // nulls last
      else if (!a.isNullAt(3) && a.getLong(3) != b.getLong(3)) a.getLong(3) > b.getLong(3)
      else na.compareTo(nb) < 0
    }.map(_._2)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), TreeSchema)
  }

  /**
   * Report sort modes with root pinning (report.py:808-864): the root row
   * always sorts first; below it,
   *   "rank" (default): (rank_depth, -cum_perc)   — fixed-ranks order
   *   "lineage":        lineage array, elementwise lexicographic
   *   "count":          -cumulative
   *   "unique":         (-unique, -cum_perc)      — needs a unique column
   * Emits an explicit `pos` column (1-based) so downstream consumers (and
   * oracles) see the order relationally.
   */
  def sortTree(tre: DataFrame, lineage: DataFrame, mode: String = "rank",
      rootNode: String = "root"): DataFrame = {
    val withLin = tre.join(broadcast(lineage), Seq("node"), "left")
    val rootFirst = when(col("node") === rootNode, 0).otherwise(1)
    val keys: Seq[Column] = mode match {
      case "lineage" => Seq(rootFirst, col("lineage").asc)
      case "count"   => Seq(rootFirst, col("cumulative").desc, col("node").asc)
      // order by the EXACT cumulative count, not cum_perc: the percentage
      // is rounded to 5 decimals, so at >~2e7 totals two counts differing
      // by 1 tie on cum_perc and would sort node-asc instead of the
      // reference's count-desc (report.py:808-864 sorts on raw counts)
      case "unique"  => Seq(rootFirst, col("unique").desc,
        col("cumulative").desc, col("node").asc)
      case _         => Seq(rootFirst, col("rank_depth").asc,
        col("cumulative").desc, col("node").asc)
    }
    // reports are small (|nodes| rows) — a global rank window is fine here
    import org.apache.spark.sql.expressions.Window
    withLin.withColumn("pos", row_number().over(Window.orderBy(keys: _*)))
      .drop("lineage")
      .orderBy(col("pos"))
  }

  /**
   * Genome-size estimation with parent fallback (tax_util.py:161-224):
   * each node's size = mean of the sizes of its leaf descendants that have
   * one; nodes with no sized leaves inherit the deepest sized ancestor's
   * value, falling back to the global mean at the root.
   *
   * @param lineage   (node, lineage: Array[String]) root-first inclusive,
   *                  for every node (leaves included)
   * @param leafSizes (node, size) for the subset of leaves with data
   * @return (node, size) for every node in `lineage`
   */
  def genomeSizesWithFallback(lineage: DataFrame, leafSizes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sized = leafSizes.select(col("node").as("leaf"), col("size"))
    // leaves' lineages distribute their size to every ancestor
    val perAnc = lineage.join(sized, lineage("node") === sized("leaf"))
      .select(explode(col("lineage")).as("anc"), col("size"))
      .groupBy("anc").agg(avg(col("size")).as("anc_size"))
    val avgRow = sized.agg(avg(col("size"))).first()
    require(!avgRow.isNullAt(0),
      "genomeSizesWithFallback: leafSizes has no rows — nothing to average")
    val globalAvg = avgRow.getDouble(0)
    // node size = deepest sized ancestor (self included)
    val w = Window.partitionBy("node").orderBy(col("pos").desc)
    val resolved = lineage
      .select(col("node"), posexplode(col("lineage")).as(Seq("pos", "anc")))
      .join(broadcast(perAnc), Seq("anc"), "left")
      .filter(col("anc_size").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("node"), col("anc_size").as("size"))
    lineage.select("node")
      .join(resolved, Seq("node"), "left")
      .withColumn("size", coalesce(col("size"), lit(globalAvg)))
  }

  /**
   * `.tre` output formats (report.py:299-425): tsv (default), csv, text
   * (columns padded to the per-column max width), bioboxes (CAMI profiling
   * header + TAXID/RANK/TAXPATH/TAXPATHSN/PERCENTAGE rows, root omitted).
   * Returns a single-`line` DataFrame ordered by the input's `pos` column
   * (produce it with [[sortTree]]); write with `.write.text`.
   *
   * @param rows (pos, node, rank, lineage: Array[String], name, unique,
   *             shared, cumulative, cum_perc)
   * @param unclassified if > 0, the leading unclassified row (tsv/csv/text)
   * @param total denominator for the unclassified percentage
   * Node ids are first-class names in this engine, so the bioboxes
   * TAXPATHSN (name path) equals TAXPATH.
   */
  def formatTre(rows: DataFrame, format: String = "tsv",
      unclassified: Long = 0, total: Long = 0,
      sampleId: String = "sample", ranks: Seq[String] = Nil): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val sep = if (format == "csv") "," else "\t"
    val children = col("cumulative") - col("unique") - col("shared")
    format match {
      case "bioboxes" =>
        val hdr = Seq(
          (-4L, "@Version:0.10.0"),
          (-3L, s"@SampleID:$sampleId"),
          (-2L, "@Ranks:" + ranks.mkString("|")),
          (-1L, "@@TAXID\tRANK\tTAXPATH\tTAXPATHSN\tPERCENTAGE"))
          .toDF("pos", "line")
        val body = rows
          .filter(size(col("lineage")) > 1) // root omitted (report.py:361)
          .select(col("pos").cast("long").as("pos"),
            concat_ws("\t", col("node"), col("rank"),
              array_join(slice(col("lineage"), 2, 100000), "|"),
              array_join(slice(col("lineage"), 2, 100000), "|"),
              format_string("%g", col("cum_perc"))).as("line"))
        hdr.unionByName(body).orderBy("pos").select("line")
      case "text" =>
        // pad each column to its max width (report.py:404-425)
        val cols = Seq(
          col("rank"), col("node"), array_join(col("lineage"), "|"),
          col("name"), col("unique").cast("string"),
          col("shared").cast("string"), children.cast("string"),
          col("cumulative").cast("string"),
          format_string("%.5f", col("cum_perc")))
        val named = cols.zipWithIndex.map { case (c, i) => c.as(s"c$i") }
        val base = prependUnclassified(
          rows.select((col("pos").cast("long").as("pos") +: named): _*),
          unclassified, total)
        val widths = base.agg(
          max(length(col("c0"))), (1 until 9).map(i =>
            max(length(col(s"c$i")))): _*).first()
        val padded = (0 until 9).map(i =>
          rpad(col(s"c$i"), widths.getInt(i), " "))
        base.select(col("pos"), concat_ws("\t", padded: _*).as("line"))
          .orderBy("pos").select("line")
      case _ =>
        val base = prependUnclassified(
          rows.select(col("pos").cast("long").as("pos"),
            col("rank").as("c0"), col("node").as("c1"),
            array_join(col("lineage"), "|").as("c2"), col("name").as("c3"),
            col("unique").cast("string").as("c4"),
            col("shared").cast("string").as("c5"),
            children.cast("string").as("c6"),
            col("cumulative").cast("string").as("c7"),
            format_string("%.5f", col("cum_perc")).as("c8")),
          unclassified, total)
        base.select(col("pos"),
          concat_ws(sep, (0 until 9).map(i => col(s"c$i")): _*).as("line"))
          .orderBy("pos").select("line")
    }
  }

  /** The leading unclassified row (report.py:304-324). */
  private def prependUnclassified(base: DataFrame, unclassified: Long,
      total: Long): DataFrame = {
    if (unclassified <= 0) return base
    val spark = base.sparkSession
    import spark.implicits._
    val perc = "%.5f".format(unclassified.toDouble / math.max(1L, total) * 100)
    Seq((-1L, "unclassified", "-", "-", "unclassified", "0", "0", "0",
      unclassified.toString, perc))
      .toDF("pos", "c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7", "c8")
      .unionByName(base)
  }

  /** min-count filter with ganon's dual semantics: v < 1 means fraction of
    * total, v >= 1 absolute count (report.py:766-780). */
  def minCountFilter(tre: DataFrame, v: Double, total: Long): DataFrame =
    if (v <= 0) tre
    else if (v < 1) tre.filter(col("cumulative") >= lit(v * total))
    else tre.filter(col("cumulative") >= lit(v))

  /** max-count filter, same dual semantics (report.py:766-780). */
  def maxCountFilter(tre: DataFrame, v: Double, total: Long): DataFrame =
    if (v <= 0) tre
    else if (v < 1) tre.filter(col("cumulative") <= lit(v * total))
    else tre.filter(col("cumulative") <= lit(v))

  /** top-percentile per rank (report.py:722-738): keep rows at or above the
    * ceil(p*n)-th largest percentage within their rank_depth. */
  def topPercentilePerRank(tre: DataFrame, p: Double): DataFrame = {
    if (p <= 0 || p >= 1) return tre
    val w = Window.partitionBy("rank_depth")
      .orderBy(col("cum_perc").desc, col("node").asc)
    val n = Window.partitionBy("rank_depth")
    tre.withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(n))
      .filter(col("rn") <= ceil(col("cnt") * p))
      .drop("rn", "cnt")
  }

  /**
   * Size-normalized abundance correction (ganon report.py:578-653):
   * within each rank_depth, corrected = rank_total * (count/size) /
   * sum(count/size). Conserves the per-rank total (asserted in tests, as
   * the reference asserts).
   *
   * @param tre   (node, rank_depth, cumulative, ...)
   * @param sizes (node, size) — genome_size analog (e.g. bytes per bin)
   */
  def sizeCorrection(tre: DataFrame, sizes: DataFrame): DataFrame = {
    val w = Window.partitionBy("rank_depth")
    tre.join(broadcast(sizes), Seq("node"), "left")
      .withColumn("size", coalesce(col("size"), lit(1L)))
      .withColumn("density", col("cumulative") / col("size"))
      .withColumn("corrected",
        sum(col("cumulative")).over(w) * col("density") /
          sum(col("density")).over(w))
      .drop("density")
  }

  /**
   * Shared-count redistribution (ganon report.py:507-575): push each
   * internal node's own (LCA-assigned) count down to its leaf descendants
   * proportionally to their direct counts; integer leftovers go to leaves
   * in deterministic order (-direct, node) — the reference's stable-sort
   * tie-break reproduced with an explicit order.
   *
   * @param counts    (node, direct_count) — leaves AND internal nodes
   * @param leafOf    (node, leaf, leaf_direct) — every (internal node,
   *                  descendant leaf) pair; leaves map to themselves
   * @return (leaf, redistributed_count) summing exactly to the input total
   */
  def redistribute(counts: DataFrame, leafOf: DataFrame): DataFrame = {
    val joined = counts.join(leafOf, Seq("node"))
    val w = Window.partitionBy("node")
    val wOrd = Window.partitionBy("node")
      .orderBy(col("leaf_direct").desc, col("leaf").asc)
    joined
      .withColumn("tot", sum(col("leaf_direct")).over(w))
      .withColumn("share",
        when(col("tot") > 0,
          floor(col("direct_count") * col("leaf_direct") / col("tot")))
          .otherwise(floor(col("direct_count") /
            count(lit(1)).over(w))))
      .withColumn("leftover",
        col("direct_count") - sum(col("share")).over(w))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("extra", when(col("rn") <= col("leftover"), 1L).otherwise(0L))
      .groupBy(col("leaf"))
      .agg(sum(col("share") + col("extra")).as("redistributed_count"))
  }
}

/**
 * Multi-sample pivot table (ganon table, src/ganon/table.py:5-129):
 * samples x nodes matrix of counts or percentages.
 */
object Table {

  /** @param rep (sample, node, count) long-form rows. */
  def pivot(rep: DataFrame, nodes: Seq[String], percentage: Boolean = false): DataFrame = {
    val base =
      if (!percentage) rep
      else {
        val w = Window.partitionBy("sample")
        rep.withColumn("count",
          round(col("count") / sum(col("count")).over(w) * 100.0, 5))
      }
    base.groupBy("sample")
      .pivot("node", nodes)
      .agg(first(col("count")))
      .na.fill(0)
      .orderBy("sample")
  }

  /** top-k nodes per sample by count (table.py:232-250). */
  def topKPerSample(rep: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("sample")
      .orderBy(col("count").desc, col("node").asc)
    rep.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
  }

  /** drop all-zero rows/cols of a pivoted table (table.py:416-426):
    * samples with zero total and node columns never observed. */
  def trimZeros(pivoted: DataFrame, nodeCols: Seq[String]): DataFrame = {
    // node names are data (file basenames etc.) — resolve them as quoted
    // identifiers, or a dot in a name parses as a struct-field access
    def qcol(c: String) = pivoted.col(s"`$c`")
    // ONE aggregation pass for all column sums (not one job per column)
    val sums = pivoted.agg(sum(qcol(nodeCols.head)),
      nodeCols.tail.map(c => sum(qcol(c))): _*).first()
    val nonZeroCols = nodeCols.zipWithIndex.filter { case (_, i) =>
      sums.get(i) match {
        case null => false
        case v: Long => v != 0L
        case v: Double => v != 0.0
        case v => v.toString.toDouble != 0.0
      }
    }.map(_._1)
    val rowSum = nonZeroCols.map(qcol).reduceOption(_ + _).getOrElse(lit(0))
    pivoted.select((col("sample") +: nonZeroCols.map(qcol)): _*)
      .filter(rowSum > 0)
  }

  /** Global top-k nodes by percentage summed over samples
    * (table.py:253-277 select_top_all); the root node is always kept and
    * does not consume a slot. Ties break deterministically (node asc). */
  def topKGlobal(rep: DataFrame, k: Int, rootNode: String = "root"): DataFrame = {
    val w = Window.partitionBy("sample")
    val perc = rep.withColumn("perc",
      col("count") / sum(col("count")).over(w) * 100.0)
    val top = perc.filter(col("node") =!= rootNode)
      .groupBy("node").agg(sum(col("perc")).as("sum_perc"))
      .orderBy(col("sum_perc").desc, col("node").asc)
      .limit(k).select("node")
      .union(rep.select(lit(rootNode).as("node")).limit(1))
    rep.join(broadcast(top), Seq("node"), "left_semi")
  }

  /** Table-side min/max-count with the dual int/fraction semantics
    * (table.py:199-210): v > 1 absolute count, 0 < v < 1 fraction of the
    * SAMPLE's total. Zero disables the bound — and so does EXACTLY 1,
    * faithfully to the reference, whose `> 1` / `< 1` branches both skip
    * v == 1 (table.py:200-209). */
  def minMaxCount(rep: DataFrame, minCount: Double = 0, maxCount: Double = 0)
      : DataFrame = {
    val w = Window.partitionBy("sample")
    val withFrac = rep.withColumn("__frac",
      col("count") / sum(col("count")).over(w))
    val lo =
      if (minCount <= 0 || minCount == 1) withFrac
      else if (minCount > 1) withFrac.filter(col("count") >= minCount)
      else withFrac.filter(col("__frac") >= minCount)
    val hi =
      if (maxCount <= 0 || maxCount == 1) lo
      else if (maxCount > 1) lo.filter(col("count") <= maxCount)
      else lo.filter(col("__frac") <= maxCount)
    hi.drop("__frac")
  }

  /** keep nodes present in >= m samples (table.py:280-297). */
  def minFrequency(rep: DataFrame, m: Int): DataFrame = {
    val freq = rep.groupBy("node")
      .agg(countDistinct(col("sample")).as("freq"))
      .filter(col("freq") >= m)
    rep.join(broadcast(freq.select("node")), Seq("node"), "left_semi")
  }
}
