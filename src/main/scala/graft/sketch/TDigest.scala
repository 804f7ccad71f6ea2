package graft.sketch

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/**
 * t-digest state: sorted centroid arrays plus an unsorted ingest buffer.
 * Mergeable and serializable (plain product of primitive arrays), so it
 * participates in Spark's partial+final aggregation — each executor
 * builds a local digest, the shuffle moves ONE digest per partition, and
 * merge is associative. That is the property that makes a quantile
 * sketch viable at 10^12 rows where exact `percentile` would need a
 * full sort. (Dunning's merging t-digest; cf. the quantile-sketch
 * surveys in PAPERS.md — EDBT'23, KLL± VLDB'21.)
 */
final case class TDigestState(
    compression: Double,
    means: Array[Double],
    weights: Array[Double],
    buffer: Array[Double],
    bufLen: Int,
    total: Long)

object TDigest {
  private val BufCap = 512
  /** δ of every aggregate's digest ([[TDigestQuantiles]]). */
  val Compression = 200.0

  def empty(compression: Double): TDigestState =
    TDigestState(compression, Array.empty, Array.empty,
      new Array[Double](BufCap), 0, 0L)

  def insert(s: TDigestState, v: Double): TDigestState = {
    if (v.isNaN) return s
    val st = if (s.bufLen >= s.buffer.length) compress(s) else s
    st.buffer(st.bufLen) = v
    st.copy(bufLen = st.bufLen + 1, total = st.total + 1)
  }

  def merge(a: TDigestState, b: TDigestState): TDigestState = {
    val ca = compress(a); val cb = compress(b)
    if (cb.means.isEmpty) return ca
    if (ca.means.isEmpty) return cb
    compressPairs(
      ca.means ++ cb.means, ca.weights ++ cb.weights,
      math.max(ca.compression, cb.compression),
      ca.total + cb.total, ca.buffer)
  }

  /** Merge the ingest buffer into the centroid set using the k1 scale
    * function q ↦ (δ/2π)·asin(2q−1): centroid capacity shrinks toward the
    * tails, giving high relative accuracy at extreme quantiles. */
  def compress(s: TDigestState): TDigestState = {
    if (s.bufLen == 0) return s
    val m = s.means ++ s.buffer.take(s.bufLen)
    val w = s.weights ++ Array.fill(s.bufLen)(1.0)
    compressPairs(m, w, s.compression, s.total, s.buffer)
  }

  private def compressPairs(
      m: Array[Double], w: Array[Double], compression: Double,
      total: Long, buf: Array[Double]): TDigestState = {
    val idx = m.indices.toArray.sortBy(m(_))
    val tw = w.sum
    val outM = new Array[Double](m.length)
    val outW = new Array[Double](m.length)
    var n = 0
    var curM = m(idx(0)); var curW = w(idx(0))
    var cumW = 0.0
    var qLimit = kInv(k(0.0, compression) + 1.0, compression) * tw
    var i = 1
    while (i < idx.length) {
      val mi = m(idx(i)); val wi = w(idx(i))
      if (cumW + curW + wi <= qLimit) {
        // merge into current centroid (weighted mean)
        curM = (curM * curW + mi * wi) / (curW + wi)
        curW += wi
      } else {
        outM(n) = curM; outW(n) = curW; n += 1
        cumW += curW
        qLimit = kInv(k(cumW / tw, compression) + 1.0, compression) * tw
        curM = mi; curW = wi
      }
      i += 1
    }
    outM(n) = curM; outW(n) = curW; n += 1
    TDigestState(compression, outM.take(n), outW.take(n), buf, 0, total)
  }

  private def k(q: Double, c: Double): Double =
    c / (2.0 * math.Pi) * math.asin(2.0 * math.min(1.0, math.max(0.0, q)) - 1.0)
  private def kInv(kv: Double, c: Double): Double =
    (math.sin(math.min(c / 4.0, math.max(-c / 4.0, kv)) * 2.0 * math.Pi / c) + 1.0) / 2.0

  /** Interpolated quantile estimate: each centroid's mass is centered at
    * cumulativeWeightBefore + weight/2; linear interpolation between
    * adjacent centers. */
  def quantile(s0: TDigestState, q: Double): Double = {
    val s = compress(s0)
    if (s.means.isEmpty) return Double.NaN
    if (s.means.length == 1) return s.means(0)
    val tw = s.weights.sum
    val target = math.min(1.0, math.max(0.0, q)) * tw
    var cum = 0.0
    var i = 0
    while (i < s.means.length) {
      val center = cum + s.weights(i) / 2.0
      if (center >= target) {
        if (i == 0) return s.means(0)
        val prevCenter = cum - s.weights(i - 1) / 2.0
        val frac = (target - prevCenter) / (center - prevCenter)
        return s.means(i - 1) + (s.means(i) - s.means(i - 1)) * frac
      }
      cum += s.weights(i)
      i += 1
    }
    s.means.last
  }
}

/**
 * Typed aggregator exposing the t-digest as a DataFrame aggregate column:
 * `TDigestQuantiles(Seq(0.5, 0.99)).column(col)` — chosen over a raw
 * `TypedImperativeAggregate` per SURVEY.md §4.2 (simpler, same
 * partial/merge physical shape via ObjectHashAggregate).
 */
final case class TDigestQuantiles(qs: Seq[Double])
    extends Aggregator[java.lang.Double, TDigestState, Seq[Double]] {
  override def zero: TDigestState = TDigest.empty(TDigest.Compression)
  // boxed input: a primitive Double encoder decodes NULL column values
  // as 0.0 and silently drags every quantile toward zero — nulls must
  // be SKIPPED, matching how the fused min/max/avg stats treat them
  override def reduce(b: TDigestState, a: java.lang.Double): TDigestState =
    if (a == null) b else TDigest.insert(b, a.doubleValue())
  override def merge(b1: TDigestState, b2: TDigestState): TDigestState =
    TDigest.merge(b1, b2)
  override def finish(r: TDigestState): Seq[Double] = {
    // compress ONCE; quantile() compresses its immutable input per call
    val c = TDigest.compress(r)
    qs.map(TDigest.quantile(c, _))
  }
  override def bufferEncoder: Encoder[TDigestState] =
    Encoders.product[TDigestState]
  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()

  def column(c: Column): Column = udaf(this).apply(c)
}
