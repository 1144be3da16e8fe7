package graft.io

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.SparkTestSession

/** The store control plane moved from df.write/spark.read jobs to direct
  * driver parquet I/O (ParquetMeta) — these tests pin the FORMAT contract
  * both ways: Spark still reads what ParquetMeta writes (same paths, same
  * column names/types), and ParquetMeta still reads directory-shaped
  * metadata written by the old df.coalesce(1).write path. */
class ParquetMetaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  private val row = ParquetMeta.ManifestRow(
    version = 6, generation = 3, layout = "two", k = 8, w = 12,
    seed = 0x8F3F73B5CF1C9ADEL, maxFp = 0.01, hllP = 14, minContentLen = 0,
    sizingMode = "avg", bitsPerBin = 4096L, numHashes = 3,
    maxHashesBin = 1000L, numBins = 130,
    shardGens = Array(3, -1, 2), ibf = Array[Byte](1, 2, 3, 4, 5))

  private val bins = Seq(("a", 10L, 0, 1), ("b", 2000L, 1, 2), ("c", 5L, 3, 1))

  test("manifest row round-trips through ParquetMeta") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pm").toString
    val p = new Path(s"$dir/manifest.parquet")
    ParquetMeta.writeManifestRow(conf, p, row)
    val r = ParquetMeta.readManifestRow(conf, p)
    assert(r.copy(shardGens = null, ibf = null) ==
      row.copy(shardGens = null, ibf = null))
    assert(r.shardGens.toSeq == row.shardGens.toSeq)
    assert(r.ibf.toSeq == row.ibf.toSeq)
  }

  test("Spark reads ParquetMeta-written manifest and bins (format compat)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pm").toString
    ParquetMeta.writeManifestRow(conf, new Path(s"$dir/manifest.parquet"), row)
    ParquetMeta.writeBins(conf, new Path(s"$dir/bins.parquet"), bins)
    val m = spark.read.parquet(s"$dir/manifest.parquet").head()
    assert(m.getAs[Int]("version") == 6)
    assert(m.getAs[String]("layout") == "two")
    assert(m.getAs[Long]("bits_per_bin") == 4096L)
    assert(m.getAs[scala.collection.Seq[Int]]("shard_gens") == Seq(3, -1, 2))
    assert(m.getAs[Array[Byte]]("ibf").toSeq == Seq[Byte](1, 2, 3, 4, 5))
    val b = spark.read.parquet(s"$dir/bins.parquet")
      .collect().map(r => (r.getAs[String]("target"), r.getAs[Long]("n_hashes"),
        r.getAs[Int]("base"), r.getAs[Int]("split"))).sortBy(_._3)
    assert(b.toSeq == bins)
  }

  /** `rows` copies of the manifest row as the old df.write path made it. */
  private def legacyManifest(rows: Int) = {
    import spark.implicits._
    Seq.fill(rows)((row.version, row.generation, row.layout, row.k, row.w,
      row.seed, row.maxFp, row.hllP, row.minContentLen, row.sizingMode,
      row.bitsPerBin, row.numHashes, row.maxHashesBin, row.numBins,
      row.shardGens, row.ibf))
      .toDF("version", "generation", "layout", "k", "w", "seed", "max_fp",
        "hll_p", "min_content_len", "sizing_mode", "bits_per_bin",
        "num_hashes", "max_hashes_bin", "num_bins", "shard_gens", "ibf")
  }

  test("ParquetMeta reads legacy directory-shaped spark-written metadata") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pm").toString
    legacyManifest(1)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/manifest.parquet")
    bins.toDF("target", "n_hashes", "base", "split")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/bins.parquet")
    val r = ParquetMeta.readManifestRow(conf, new Path(s"$dir/manifest.parquet"))
    assert(r.copy(shardGens = null, ibf = null) ==
      row.copy(shardGens = null, ibf = null))
    assert(r.shardGens.toSeq == row.shardGens.toSeq)
    assert(r.ibf.toSeq == row.ibf.toSeq)
    val b = ParquetMeta.readBins(conf, new Path(s"$dir/bins.parquet"))
      .sortBy(_._3)
    assert(b.toSeq == bins)
  }

  test("empty shard_gens (flat layout) round-trips as an empty array") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pm").toString
    val p = new Path(s"$dir/manifest.parquet")
    ParquetMeta.writeManifestRow(conf, p,
      row.copy(layout = "flat", shardGens = Array.empty[Int]))
    assert(ParquetMeta.readManifestRow(conf, p).shardGens.isEmpty)
  }

  test("a multi-part legacy manifest reads when it holds exactly one row") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pm").toString
    def parts(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    // one row in the first part, an empty second part beside it
    legacyManifest(1).coalesce(1).write.parquet(s"$dir/one.parquet")
    legacyManifest(0).coalesce(1).write.parquet(s"$dir/empty.parquet")
    val emptyPart = parts(s"$dir/empty.parquet").head
    assert(emptyPart.renameTo(
      new java.io.File(s"$dir/one.parquet/part-99999-empty.parquet")))
    assert(parts(s"$dir/one.parquet").length == 2)
    val r = ParquetMeta.readManifestRow(conf, new Path(s"$dir/one.parquet"))
    assert(r.copy(shardGens = null, ibf = null) ==
      row.copy(shardGens = null, ibf = null))
    assert(r.shardGens.toSeq == row.shardGens.toSeq)
    // zero rows in total, or two rows over two parts: a clear error
    legacyManifest(0).coalesce(1).write.parquet(s"$dir/zero.parquet")
    assert(parts(s"$dir/zero.parquet").length == 1)
    val none = intercept[IllegalArgumentException](
      ParquetMeta.readManifestRow(conf, new Path(s"$dir/zero.parquet")))
    assert(none.getMessage.contains("holds 0 rows"))
    legacyManifest(2).repartition(2).write.parquet(s"$dir/two.parquet")
    assert(parts(s"$dir/two.parquet").length == 2)
    val two = intercept[IllegalArgumentException](
      ParquetMeta.readManifestRow(conf, new Path(s"$dir/two.parquet")))
    assert(two.getMessage.contains("holds 2 rows"))
  }

  test("gc's shard_gens read touches no other manifest column") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pm").toString
    val p = new Path(s"$dir/manifest.parquet")
    ParquetMeta.writeManifestRow(conf, p, row.copy(ibf = new Array[Byte](1 << 20)))
    assert(ParquetMeta.readShardGens(conf, p).toSeq == row.shardGens.toSeq)
    // legacy directory-shaped, spark-written (nullable fields)
    legacyManifest(1).coalesce(1).write.parquet(s"$dir/legacy.parquet")
    assert(ParquetMeta.readShardGens(conf, new Path(s"$dir/legacy.parquet"))
      .toSeq == row.shardGens.toSeq)
    // a file holding ONLY shard_gens: the full row read fails on the
    // missing columns, the gc read does not look for them
    Seq(row.shardGens).toDF("shard_gens")
      .coalesce(1).write.parquet(s"$dir/only.parquet")
    val only = new Path(s"$dir/only.parquet")
    assert(ParquetMeta.readShardGens(conf, only).toSeq == row.shardGens.toSeq)
    intercept[Exception](ParquetMeta.readManifestRow(conf, only))
  }
}
