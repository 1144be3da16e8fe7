package graft.core.sketch

/**
 * KLL-style mergeable quantile sketch over doubles (Karnin-Lall-Liberty
 * 2016 family): a ladder of compactors; level h items carry weight 2^h;
 * when a level overflows its capacity (k * c^(depth-1-h), c = 2/3,
 * floor 2), the sorted buffer is halved by keeping alternating items and
 * promoting them one level up.
 *
 * Determinism: compaction keeps odd/even-indexed items by a per-level
 * alternating flag (no RNG) — bit-for-bit reproducible across runs and
 * merge orders of the same partition content; rank error stays O(1/k)
 * in practice and is asserted empirically against exact oracles in tests
 * (the north-rule "published bound" check uses a conservative 1.65*e(k)
 * envelope, e(k) ~ 2.3/k per the KLL paper's constant-factor regime).
 *
 * No analog in the reference; required by the north rule for file-size /
 * shingle-count quantile queries.
 *
 * Levels are primitive `double[]` buffers with explicit lengths; the level
 * capacities are recomputed only when the ladder grows a level, and the
 * item count is kept as a running total, so `add` costs no `math.pow`.
 *
 * Serialized layout: [k: Int][nLevels: Int][n: Long][flags: Long]
 * then per level [len: Int][items: Double*len].
 */
final class Kll(val k: Int) extends Serializable {
  require(k >= 8)
  private var items: Array[Array[Double]] = Array(new Array[Double](8))
  private var lens: Array[Int] = Array(0)
  private var depth = 1
  private var caps: Array[Int] = capacities(1)
  private var capTotal: Int = caps.sum
  private var size = 0 // items held, over all levels
  private var alternate: Long = 0L // bit per level: keep odd vs even next time
  private var _n: Long = 0L

  def n: Long = _n

  /** Level capacities of a `d`-level ladder: k * (2/3)^h at height h
    * below the top, floor 2. */
  private def capacities(d: Int): Array[Int] = Array.tabulate(d) { level =>
    val h = d - 1 - level // 0 for the top level
    math.max(2, math.ceil(k * math.pow(2.0 / 3.0, h.toDouble)).toInt)
  }

  private def setDepth(d: Int): Unit = {
    if (d > items.length) {
      items = java.util.Arrays.copyOf(items, math.max(d, items.length * 2))
      lens = java.util.Arrays.copyOf(lens, items.length)
    }
    var l = depth
    while (l < d) { items(l) = new Array[Double](8); lens(l) = 0; l += 1 }
    depth = d
    caps = capacities(d)
    capTotal = caps.sum
  }

  private def append(l: Int, x: Double): Unit = {
    if (lens(l) == items(l).length)
      items(l) = java.util.Arrays.copyOf(items(l), items(l).length * 2)
    items(l)(lens(l)) = x
    lens(l) += 1
  }

  def add(x: Double): Unit = {
    append(0, x)
    size += 1
    _n += 1
    compress()
  }

  private def compress(): Unit = {
    while (size >= capTotal) {
      // compact the lowest level at/over its capacity
      var l = 0
      while (l < depth && lens(l) < caps(l)) l += 1
      if (l == depth) return
      compactLevel(l)
    }
  }

  private def compactLevel(l: Int): Unit = {
    if (l + 1 == depth) setDepth(depth + 1)
    val buf = items(l)
    val len = lens(l)
    java.util.Arrays.sort(buf, 0, len)
    // weight conservation: only an even count can be halved-and-promoted;
    // an odd buffer leaves its last item behind at this level.
    val odd = len % 2 == 1
    val m = if (odd) len - 1 else len
    val keepOdd = ((alternate >>> l) & 1L) == 1L
    alternate ^= (1L << l)
    var i = if (keepOdd) 1 else 0
    while (i < m) { append(l + 1, buf(i)); i += 2 }
    size -= m - m / 2
    if (odd) buf(0) = buf(m)
    lens(l) = if (odd) 1 else 0
  }

  def merge(other: Kll): Kll = {
    require(other.k == k, s"incompatible KLL k=$k vs ${other.k}")
    if (depth < other.depth) setDepth(other.depth)
    var l = 0
    while (l < other.depth) {
      var i = 0
      while (i < other.lens(l)) { append(l, other.items(l)(i)); i += 1 }
      size += other.lens(l)
      l += 1
    }
    _n += other._n
    compress()
    this
  }

  /** Estimated value at rank fraction q in [0,1]: a merge walk over the
    * levels' sorted copies, accumulating each item's weight 2^level. */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0)
    if (size == 0) return Double.NaN
    val sorted = Array.tabulate(depth) { l =>
      val a = java.util.Arrays.copyOf(items(l), lens(l))
      java.util.Arrays.sort(a)
      a
    }
    val at = new Array[Int](depth)
    val target = q * _n
    var cum = 0L
    var last = Double.NaN
    var left = size
    while (left > 0) {
      var best = -1
      var l = 0
      while (l < depth) {
        if (at(l) < sorted(l).length &&
            (best < 0 || java.lang.Double.compare(sorted(l)(at(l)),
              sorted(best)(at(best))) < 0)) best = l
        l += 1
      }
      last = sorted(best)(at(best))
      at(best) += 1
      cum += 1L << best
      if (cum >= target) return last
      left -= 1
    }
    last
  }

  /** Estimated rank fraction of value x. */
  def rank(x: Double): Double = {
    if (_n == 0) return Double.NaN
    var below = 0L
    var l = 0
    while (l < depth) {
      var i = 0
      while (i < lens(l)) { if (items(l)(i) <= x) below += 1L << l; i += 1 }
      l += 1
    }
    below.toDouble / _n
  }

  /** Conservative published-style rank-error envelope for this k. */
  def rankErrorBound: Double = math.min(0.5, 1.65 * 2.3 / k)

  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 4 + 8 + 8 + 4 * depth + 8 * size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(k).putInt(depth).putLong(_n).putLong(alternate)
    var l = 0
    while (l < depth) {
      bb.putInt(lens(l))
      var i = 0
      while (i < lens(l)) { bb.putDouble(items(l)(i)); i += 1 }
      l += 1
    }
    bb.array()
  }
}

object Kll {
  def empty(k: Int = 256): Kll = new Kll(k)

  def fromBytes(bytes: Array[Byte]): Kll = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val k = bb.getInt(); val nLevels = bb.getInt()
    val sk = new Kll(k)
    val n = bb.getLong(); val alt = bb.getLong()
    sk.setDepth(nLevels)
    var l = 0
    while (l < nLevels) {
      val len = bb.getInt()
      var i = 0
      while (i < len) { sk.append(l, bb.getDouble()); i += 1 }
      sk.size += len
      l += 1
    }
    sk.alternate = alt
    sk._n = n
    sk
  }
}
