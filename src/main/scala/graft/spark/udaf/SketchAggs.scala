package graft.spark.udaf

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.build.BinLayout
import graft.core.sketch.{Bloom, CountMin, Hll, InterleavedBloom, Kll, TDigest}

/**
 * One mergeable sketch as an aggregate: the six functions of a two-phase
 * aggregation (zero, update, merge, serialize, deserialize, eval) plus its
 * input and result types. [[SketchAgg]] runs it inside Catalyst.
 */
abstract class SketchOp[T] extends Serializable {
  /** SQL name of the aggregate (also its name in plans). */
  def name: String
  /** Types the children are cast to (a no-op cast is optimized away). */
  def inputTypes: Seq[DataType]
  def dataType: DataType
  def zero(): T
  /** Folds one non-null input in: the child's Catalyst value, or for an op
    * over several columns a row of the children's values. */
  def update(buf: T, in: Any): T
  def merge(buf: T, other: T): T
  def eval(buf: T): Any
  /** The partial state as it crosses the exchange: the sketch's own
    * compact bytes. */
  def serialize(buf: T): Array[Byte]
  def deserialize(bytes: Array[Byte]): T
}

/**
 * Mergeable sketches as Catalyst aggregates (the north rule's core): a
 * partial sketch per partition (map-side), an associative `merge` in the
 * reduce — the same two-phase algebra the reference applies to its
 * thread-local maps (ganon: src/ganon-classify/GanonClassify.cpp:475-490)
 * and to IBF bin insertion (src/ganon-build/GanonBuild.cpp:655-698, merge
 * == bitwise OR).
 *
 * A `TypedImperativeAggregate`, so Spark plans ObjectHashAggregate: the
 * buffer lives as a JVM object during partial aggregation and is turned
 * into bytes only at the exchange, by [[SketchOp.serialize]]. Input is read
 * straight from the bound child values (`ArrayData` for hash arrays), with
 * no encoder round trip and no generated encoder projections. Null inputs
 * are skipped. Build one with [[SketchAgg.of]], which casts the children
 * to the op's input types.
 *
 * Inputs of the hash sketches are `array<bigint>` hash sets (one row's
 * distinct shingles/tokens), so no explode() shuffle-amplification ever
 * happens: the per-row array is folded straight into the sketch buffer.
 */
case class SketchAgg[T](op: SketchOp[T], children: Seq[Expression],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[T] {

  override def dataType: DataType = op.dataType
  override def nullable: Boolean = true
  override def prettyName: String = op.name

  @transient private lazy val args = new GenericInternalRow(children.length)

  override def createAggregationBuffer(): T = op.zero()

  override def update(buf: T, input: InternalRow): T = {
    val v =
      if (children.length == 1) children.head.eval(input)
      else {
        var i = 0
        while (i < children.length) { args.update(i, children(i).eval(input)); i += 1 }
        args
      }
    if (v == null) buf else op.update(buf, v)
  }

  override def merge(buf: T, other: T): T = op.merge(buf, other)
  override def eval(buf: T): Any = op.eval(buf)
  override def serialize(buf: T): Array[Byte] = op.serialize(buf)
  override def deserialize(bytes: Array[Byte]): T = op.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): SketchAgg[T] =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchAgg[T] =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SketchAgg[T] = copy(children = newChildren)
}

object SketchAgg {
  def of[T](op: SketchOp[T], children: Seq[Expression]): SketchAgg[T] = {
    require(children.length == op.inputTypes.length,
      s"${op.name} takes ${op.inputTypes.length} argument(s), got ${children.length}")
    SketchAgg(op, children.zip(op.inputTypes).map { case (e, t) => Cast(e, t) })
  }
}

object SketchAggs {
  private val Hashes: Seq[DataType] = Seq(ArrayType(LongType))
  private val Doubles = ArrayType(DoubleType, containsNull = false)

  private def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
  private def le(b: Array[Byte]): ByteBuffer = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)

  /** HLL over hash arrays: the distinct-count estimate, or with `bytes`
    * the serialized mergeable sketch itself. */
  final case class HllOp(p: Int, bytes: Boolean) extends SketchOp[Hll] {
    def name: String = if (bytes) "graft_hll_sketch" else "graft_hll_count"
    def inputTypes: Seq[DataType] = Hashes
    def dataType: DataType = if (bytes) BinaryType else LongType
    def zero(): Hll = Hll.empty(p)
    def update(b: Hll, in: Any): Hll = {
      val a = in.asInstanceOf[ArrayData]
      var i = 0
      while (i < a.numElements()) { b.add(a.getLong(i)); i += 1 }
      b
    }
    def merge(b: Hll, o: Hll): Hll = b.merge(o)
    def eval(b: Hll): Any = if (bytes) b.toBytes else b.estimate
    def serialize(b: Hll): Array[Byte] = b.toBytes
    def deserialize(x: Array[Byte]): Hll = Hll.fromBytes(x)
  }

  /** Per-group Bloom filter (one bin of the IBF), fixed (numBits, numHashes). */
  final case class BloomOp(numBits: Long, numHashes: Int) extends SketchOp[Bloom] {
    def name: String = "graft_bloom_sketch"
    def inputTypes: Seq[DataType] = Hashes
    def dataType: DataType = BinaryType
    def zero(): Bloom = Bloom.empty(numBits, numHashes)
    def update(b: Bloom, in: Any): Bloom = {
      val a = in.asInstanceOf[ArrayData]
      var i = 0
      while (i < a.numElements()) { b.add(a.getLong(i)); i += 1 }
      b
    }
    def merge(b: Bloom, o: Bloom): Bloom = b.merge(o)
    def eval(b: Bloom): Any = b.toBytes
    def serialize(b: Bloom): Array[Byte] = b.toBytes
    def deserialize(x: Array[Byte]): Bloom = Bloom.fromBytes(x)
  }

  /** Shard buffer: one 64-bin-wide interleaved Bloom column (one word per
    * hash position), allocated with the first non-empty input; grp = -1
    * until then. */
  final class ShardBuf(var grp: Int, var shard: InterleavedBloom)

  /**
   * Builds ONE 64-bin group of the final interleaved filter directly in
   * its probe layout (no transpose step, no per-bin Bloom blobs): the
   * executor-side assembly of the reference's IBF insert pass
   * (GanonBuild.cpp:655-698), with hash->technical-bin routing replacing
   * the index-range bin map (:619-653). merge == bitwise OR. Input is
   * (grp, base, split, hs): a row's hash subset destined for 64-bin group
   * `grp`, owned by the target at bins [base, base+split).
   */
  final case class IbfShardOp(bitsPerBin: Long, numHashes: Int)
      extends SketchOp[ShardBuf] {
    def name: String = "graft_ibf_shard"
    def inputTypes: Seq[DataType] =
      Seq(IntegerType, IntegerType, IntegerType, ArrayType(LongType))
    def dataType: DataType = BinaryType
    def zero(): ShardBuf = new ShardBuf(-1, null)
    def update(b: ShardBuf, in: Any): ShardBuf = {
      // empty slices leave grp at -1: a group fed ONLY empty hash sets
      // finishes as null and its row is dropped post-agg — the same
      // "untouched group" semantics the routing explode used to enforce
      // row-side (the split-free fast path no longer filters rows, which
      // would push a shingle-expression predicate through the projection
      // and re-evaluate the kernel per row)
      val row = in.asInstanceOf[InternalRow]
      val hs = if (row.isNullAt(3)) null else row.getArray(3)
      if (hs != null && hs.numElements() > 0) {
        val grp = row.getInt(0); val base = row.getInt(1); val split = row.getInt(2)
        if (b.grp == -1) {
          b.grp = grp
          b.shard = InterleavedBloom.empty(64, bitsPerBin, numHashes)
        }
        val off = grp * 64
        var i = 0
        while (i < hs.numElements()) {
          val h = hs.getLong(i)
          val local = base + BinLayout.routeBin(h, split) - off
          if (local >= 0 && local < 64) b.shard.add(h, local)
          i += 1
        }
      }
      b
    }
    def merge(x: ShardBuf, y: ShardBuf): ShardBuf =
      if (x.grp == -1) y
      else if (y.grp == -1) x
      else {
        val xw = x.shard.words; val yw = y.shard.words
        var i = 0
        while (i < xw.length) { xw(i) |= yw(i); i += 1 }
        x
      }
    def eval(b: ShardBuf): Any = if (b.grp == -1) null else b.shard.toBytes
    /** [grp: Int][shard bytes], or no bytes for an untouched group. */
    def serialize(b: ShardBuf): Array[Byte] =
      if (b.grp == -1) Array.emptyByteArray
      else {
        val s = b.shard.toBytes
        le(4 + s.length).putInt(b.grp).put(s).array()
      }
    def deserialize(x: Array[Byte]): ShardBuf =
      if (x.isEmpty) zero()
      else new ShardBuf(le(x).getInt(),
        InterleavedBloom.fromBytes(java.util.Arrays.copyOfRange(x, 4, x.length)))
  }

  /** Bounded max-heap buffer holding the k smallest values seen. Grows
    * geometrically to k, so sub-cap groups (the common case) never pay the
    * full-cap allocation during partial aggregation. */
  final class MinKBuf(val k: Int) {
    var n = 0
    var dropped = 0L
    var heap: Array[Long] = Array.emptyLongArray

    def add(v: Long): Unit = {
      if (n < k) {
        if (n == heap.length)
          heap = java.util.Arrays.copyOf(heap,
            math.min(k, math.max(16, heap.length * 2)))
        heap(n) = v; n += 1
        var i = n - 1
        while (i > 0 && heap((i - 1) / 2) < heap(i)) {
          val p = (i - 1) / 2
          val t = heap(p); heap(p) = heap(i); heap(i) = t
          i = p
        }
      } else {
        dropped += 1
        if (v < heap(0)) {
          heap(0) = v
          var i = 0
          var done = false
          while (!done) {
            val l = 2 * i + 1; val r = l + 1
            var m = i
            if (l < n && heap(l) > heap(m)) m = l
            if (r < n && heap(r) > heap(m)) m = r
            if (m == i) done = true
            else { val t = heap(m); heap(m) = heap(i); heap(i) = t; i = m }
          }
        }
      }
    }

    def mergeFrom(o: MinKBuf): MinKBuf = {
      var i = 0
      while (i < o.n) { add(o.heap(i)); i += 1 }
      dropped += o.dropped
      this
    }

    /** The kept ids, ascending. */
    def ids: Array[Long] = {
      val out = java.util.Arrays.copyOf(heap, n)
      java.util.Arrays.sort(out)
      out
    }
  }

  /**
   * "k smallest ids per group + dropped count" — the LSH band-cap
   * primitive, as struct<ids: array<bigint>, dropped: bigint>. Replaces a
   * per-band `row_number()` window (a full sort exchange) with ONE
   * partially-aggregated shuffle: a mega-bucket ships at most k ids per
   * map partition instead of its whole membership, and truncation is an
   * observable VALUE instead of a silent rank filter. Keeps exactly the
   * ids `row_number().orderBy(id) <= k` kept, so cap semantics (and the
   * J=1 identical-signature recall argument) carry over.
   */
  final case class MinKIdsOp(k: Int) extends SketchOp[MinKBuf] {
    def name: String = "graft_min_k_ids"
    def inputTypes: Seq[DataType] = Seq(LongType)
    def dataType: DataType = StructType(Seq(
      StructField("ids", ArrayType(LongType, containsNull = false)),
      StructField("dropped", LongType, nullable = false)))
    def zero(): MinKBuf = new MinKBuf(k)
    def update(b: MinKBuf, in: Any): MinKBuf = { b.add(in.asInstanceOf[Long]); b }
    def merge(b: MinKBuf, o: MinKBuf): MinKBuf = b.mergeFrom(o)
    def eval(b: MinKBuf): Any =
      InternalRow(UnsafeArrayData.fromPrimitiveArray(b.ids), b.dropped)
    /** [n: Int][dropped: Long][heap: Long * n], heap order kept. */
    def serialize(b: MinKBuf): Array[Byte] = {
      val bb = le(12 + 8 * b.n).putInt(b.n).putLong(b.dropped)
      var i = 0
      while (i < b.n) { bb.putLong(b.heap(i)); i += 1 }
      bb.array()
    }
    def deserialize(x: Array[Byte]): MinKBuf = {
      val bb = le(x)
      val b = new MinKBuf(k)
      b.n = bb.getInt(); b.dropped = bb.getLong()
      b.heap = new Array[Long](b.n)
      var i = 0
      while (i < b.n) { b.heap(i) = bb.getLong(); i += 1 }
      b
    }
  }

  /**
   * Count-min partial state: a sparse cell -> count map (open addressing,
   * slot key cell + 1) until it holds an eighth of the cells, then the
   * dense counter array. A per-repo partial typically touches a few
   * thousand of its depth x width cells, so it neither allocates nor ships
   * the dense array.
   */
  final class CmsBuf(val depth: Int, val width: Int) {
    private val cells = depth * width
    private val maxSparse = math.max(16, cells / 8)
    var total = 0L
    var dense: Array[Long] = null
    private var keys = new Array[Int](32)
    private var vals = new Array[Long](32)
    private var used = 0

    def nonZero: Int =
      if (dense == null) used
      else { var c = 0; var i = 0; while (i < cells) { if (dense(i) != 0L) c += 1; i += 1 }; c }

    def addKey(key: Long): Unit = {
      var r = 0
      while (r < depth) { add(CountMin.cell(width, r, key), 1L); r += 1 }
      total += 1
    }

    def add(cell: Int, c: Long): Unit =
      if (dense != null) dense(cell) += c
      else {
        val mask = keys.length - 1
        var i = (cell * 0x9E3779B9) >>> 7 & mask
        while (keys(i) != 0 && keys(i) != cell + 1) i = (i + 1) & mask
        if (keys(i) == 0) {
          keys(i) = cell + 1
          used += 1
        }
        vals(i) += c
        if (used > maxSparse) promote()
        else if (2 * used > keys.length) rehash(keys.length * 2)
      }

    /** Every (cell, count) of the sparse map. */
    private def foreachSparse(f: (Int, Long) => Unit): Unit = {
      var i = 0
      while (i < keys.length) { if (keys(i) != 0) f(keys(i) - 1, vals(i)); i += 1 }
    }

    private def rehash(cap: Int): Unit = {
      val (ok, ov) = (keys, vals)
      keys = new Array[Int](cap); vals = new Array[Long](cap); used = 0
      var i = 0
      while (i < ok.length) { if (ok(i) != 0) add(ok(i) - 1, ov(i)); i += 1 }
    }

    private def promote(): Unit = {
      val d = new Array[Long](cells)
      foreachSparse((c, v) => d(c) += v)
      adopt(d)
    }

    private def adopt(d: Array[Long]): Unit = { dense = d; keys = null; vals = null; used = 0 }

    def merge(o: CmsBuf): CmsBuf = {
      require(o.depth == depth && o.width == width,
        s"incompatible CMS ($depth,$width) vs (${o.depth},${o.width})")
      total += o.total
      if (o.dense == null) o.foreachSparse(add)
      else if (dense != null) {
        var i = 0
        while (i < cells) { dense(i) += o.dense(i); i += 1 }
      } else {
        // take over the other side's dense array, fold our cells into it
        val (k0, v0) = (keys, vals)
        adopt(o.dense)
        var i = 0
        while (i < k0.length) { if (k0(i) != 0) dense(k0(i) - 1) += v0(i); i += 1 }
      }
      this
    }

    def toCountMin: CountMin = {
      if (dense == null) promote()
      new CountMin(depth, width, dense, total)
    }

    /** [depth: Int][width: Int][total: Long][nnz: Int] then nnz
      * (cell: Int, count: Long) pairs — or nnz = -1 and the dense counters
      * when those are smaller. */
    def toBytes: Array[Byte] = {
      val nnz = nonZero
      if (12L * nnz >= 8L * cells) {
        val bb = le(20 + 8 * cells).putInt(depth).putInt(width).putLong(total).putInt(-1)
        var i = 0
        while (i < cells) { bb.putLong(dense(i)); i += 1 }
        bb.array()
      } else {
        val bb = le(20 + 12 * nnz).putInt(depth).putInt(width).putLong(total).putInt(nnz)
        if (dense == null) foreachSparse((c, v) => bb.putInt(c).putLong(v))
        else {
          var i = 0
          while (i < cells) { if (dense(i) != 0L) bb.putInt(i).putLong(dense(i)); i += 1 }
        }
        bb.array()
      }
    }
  }

  object CmsBuf {
    def fromBytes(x: Array[Byte]): CmsBuf = {
      val bb = le(x)
      val b = new CmsBuf(bb.getInt(), bb.getInt())
      b.total = bb.getLong()
      val nnz = bb.getInt()
      if (nnz < 0) {
        val d = new Array[Long](b.depth * b.width)
        var i = 0
        while (i < d.length) { d(i) = bb.getLong(); i += 1 }
        b.adopt(d)
      } else {
        var i = 0
        while (i < nnz) { b.add(bb.getInt(), bb.getLong()); i += 1 }
      }
      b
    }
  }

  /** Count-min over hash multisets (each array element counts once) ->
    * the serialized [[CountMin]]. */
  final case class CmsOp(depth: Int, width: Int) extends SketchOp[CmsBuf] {
    def name: String = "graft_cms_sketch"
    def inputTypes: Seq[DataType] = Hashes
    def dataType: DataType = BinaryType
    def zero(): CmsBuf = new CmsBuf(depth, width)
    def update(b: CmsBuf, in: Any): CmsBuf = {
      val a = in.asInstanceOf[ArrayData]
      var i = 0
      while (i < a.numElements()) { b.addKey(a.getLong(i)); i += 1 }
      b
    }
    def merge(b: CmsBuf, o: CmsBuf): CmsBuf = b.merge(o)
    def eval(b: CmsBuf): Any = b.toCountMin.toBytes
    def serialize(b: CmsBuf): Array[Byte] = b.toBytes
    def deserialize(x: Array[Byte]): CmsBuf = CmsBuf.fromBytes(x)
  }

  /** KLL over a double column -> the serialized sketch, or with
    * `quantiles` the values at those ranks. */
  final case class KllOp(k: Int, quantiles: Option[IndexedSeq[Double]])
      extends SketchOp[Kll] {
    def name: String = if (quantiles.isEmpty) "graft_kll_sketch" else "graft_kll_quantiles"
    def inputTypes: Seq[DataType] = Seq(DoubleType)
    def dataType: DataType = if (quantiles.isEmpty) BinaryType else Doubles
    def zero(): Kll = Kll.empty(k)
    def update(b: Kll, in: Any): Kll = { b.add(in.asInstanceOf[Double]); b }
    def merge(b: Kll, o: Kll): Kll = b.merge(o)
    def eval(b: Kll): Any = quantiles match {
      case None => b.toBytes
      case Some(qs) => UnsafeArrayData.fromPrimitiveArray(qs.map(b.quantile).toArray)
    }
    def serialize(b: Kll): Array[Byte] = b.toBytes
    def deserialize(x: Array[Byte]): Kll = Kll.fromBytes(x)
  }

  /** t-digest over a double column -> the serialized sketch, or with
    * `quantiles` the values at those ranks. */
  final case class TDigestOp(compression: Double, quantiles: Option[IndexedSeq[Double]])
      extends SketchOp[TDigest] {
    def name: String =
      if (quantiles.isEmpty) "graft_tdigest_sketch" else "graft_tdigest_quantiles"
    def inputTypes: Seq[DataType] = Seq(DoubleType)
    def dataType: DataType = if (quantiles.isEmpty) BinaryType else Doubles
    def zero(): TDigest = TDigest.empty(compression)
    def update(b: TDigest, in: Any): TDigest = { b.add(in.asInstanceOf[Double]); b }
    def merge(b: TDigest, o: TDigest): TDigest = b.merge(o)
    def eval(b: TDigest): Any = quantiles match {
      case None => b.toBytes
      case Some(qs) => UnsafeArrayData.fromPrimitiveArray(qs.map(b.quantile).toArray)
    }
    def serialize(b: TDigest): Array[Byte] = b.toBytes
    def deserialize(x: Array[Byte]): TDigest = TDigest.fromBytes(x)
  }
}
