package graft.core.sketch

/**
 * Merging t-digest (Dunning & Ertl 2019 family): centroids kept sorted by
 * mean; incoming points buffer and are merged in one sorted sweep that
 * respects the k0-style size bound w_limit(q) = 4 n q(1-q) / compression —
 * tight at the tails (accurate extreme quantiles), loose in the middle.
 *
 * Mergeable: merge(other) replays the other digest's centroids (weighted)
 * through the same sweep — associative up to the documented rank-error
 * bound (t-digest merges are famously order-sensitive in their exact
 * centroid layout but bounded in error; the property tests assert the
 * BOUND, not bit-equality — SURVEY.md §7.4).
 *
 * No analog in the reference; north-rule companion to [[Kll]].
 *
 * Serialized layout: [compression: Double][n: Long][count: Int]
 * [mean: Double, weight: Double]*count.
 */
final class TDigest private (
    val compression: Double,
    private var means: Array[Double],
    private var weights: Array[Double],
    private var nCentroids: Int,
    private var total: Double) extends Serializable {

  private var bufMeans = new Array[Double](64)
  private var bufWeights = new Array[Double](64)
  private var nBuf = 0

  def n: Double = { flush(); total }

  def add(x: Double, w: Double = 1.0): Unit = {
    if (nBuf == bufMeans.length) flush()
    bufMeans(nBuf) = x; bufWeights(nBuf) = w; nBuf += 1
  }

  def merge(other: TDigest): TDigest = {
    require(other.compression == compression)
    other.flush()
    var i = 0
    while (i < other.nCentroids) {
      add(other.means(i), other.weights(i)); i += 1
    }
    flush()
    this
  }

  private def flush(): Unit = {
    if (nBuf == 0) return
    // sort the buffer (insertion order independence up to merge sweep)
    val idx = (0 until nBuf).sortBy(bufMeans)
    val m2 = new Array[Double](nCentroids + nBuf)
    val w2 = new Array[Double](nCentroids + nBuf)
    // merge-sorted walk of (centroids, buffer)
    var a = 0; var b = 0; var k = 0
    while (a < nCentroids || b < nBuf) {
      val takeA = b >= nBuf ||
        (a < nCentroids && means(a) <= bufMeans(idx(b)))
      if (takeA) { m2(k) = means(a); w2(k) = weights(a); a += 1 }
      else { m2(k) = bufMeans(idx(b)); w2(k) = bufWeights(idx(b)); b += 1 }
      k += 1
    }
    val newTotal = {
      var s = 0.0; var i = 0
      while (i < k) { s += w2(i); i += 1 }
      s
    }
    // greedy merge sweep under the size bound
    val om = new Array[Double](k)
    val ow = new Array[Double](k)
    var out = 0
    var cum = 0.0
    var i = 0
    while (i < k) {
      if (out == 0) { om(0) = m2(0); ow(0) = w2(0); out = 1 }
      else {
        val q = (cum + ow(out - 1) / 2) / newTotal
        val limit = 4.0 * newTotal * q * (1 - q) / compression
        if (ow(out - 1) + w2(i) <= math.max(limit, 1.0)) {
          // fold into the current centroid (weighted mean)
          val wSum = ow(out - 1) + w2(i)
          om(out - 1) += (m2(i) - om(out - 1)) * w2(i) / wSum
          ow(out - 1) = wSum
        } else {
          cum += ow(out - 1)
          om(out) = m2(i); ow(out) = w2(i); out += 1
        }
      }
      i += 1
    }
    means = om; weights = ow; nCentroids = out
    total = newTotal
    nBuf = 0
  }

  /** Quantile by linear interpolation across centroid midpoints. */
  def quantile(q: Double): Double = {
    flush()
    if (nCentroids == 0) return Double.NaN
    if (nCentroids == 1) return means(0)
    val target = q * total
    var cum = 0.0
    var i = 0
    while (i < nCentroids) {
      val half = weights(i) / 2
      if (cum + half >= target || i == nCentroids - 1) {
        if (i == 0) return means(0)
        val prevMid = cum - weights(i - 1) / 2
        val thisMid = cum + half
        val frac = ((target - prevMid) / (thisMid - prevMid)).max(0).min(1)
        return means(i - 1) + frac * (means(i) - means(i - 1))
      }
      cum += weights(i)
      i += 1
    }
    means(nCentroids - 1)
  }

  /** Rank (CDF) of x by the same interpolation. */
  def cdf(x: Double): Double = {
    flush()
    if (nCentroids == 0) return Double.NaN
    if (x <= means(0)) return 0.0
    if (x >= means(nCentroids - 1)) return 1.0
    var cum = 0.0
    var i = 0
    while (i < nCentroids - 1) {
      val mid = cum + weights(i) / 2
      val nextMid = cum + weights(i) + weights(i + 1) / 2
      if (x >= means(i) && x < means(i + 1)) {
        val frac = (x - means(i)) / (means(i + 1) - means(i))
        return (mid + frac * (nextMid - mid)) / total
      }
      cum += weights(i)
      i += 1
    }
    1.0
  }

  def centroidCount: Int = { flush(); nCentroids }

  def toBytes: Array[Byte] = {
    flush()
    val bb = java.nio.ByteBuffer.allocate(8 + 8 + 4 + nCentroids * 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putDouble(compression).putLong(total.toLong).putInt(nCentroids)
    var i = 0
    while (i < nCentroids) { bb.putDouble(means(i)); bb.putDouble(weights(i)); i += 1 }
    bb.array()
  }
}

object TDigest {
  def empty(compression: Double = 100.0): TDigest =
    new TDigest(compression, new Array[Double](0), new Array[Double](0), 0, 0.0)

  /** The digest exactly as serialized: its centroids are restored as
    * centroids, not replayed through the merge sweep, so a round trip
    * (a partial aggregate crossing the exchange) changes nothing. */
  def fromBytes(bytes: Array[Byte]): TDigest = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val comp = bb.getDouble(); bb.getLong(); val k = bb.getInt()
    val means = new Array[Double](k)
    val weights = new Array[Double](k)
    var total = 0.0
    var i = 0
    while (i < k) {
      means(i) = bb.getDouble(); weights(i) = bb.getDouble()
      total += weights(i)
      i += 1
    }
    new TDigest(comp, means, weights, k, total)
  }

  /** Practical rank-error envelope for the k0 sweep at this compression —
    * ~O(1/compression) mid-range; asserted empirically in tests. */
  def rankErrorBound(compression: Double): Double =
    math.min(0.5, 3.0 / compression)
}
