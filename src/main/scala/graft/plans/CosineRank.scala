package graft.plans

import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

/** Cosine scoring and ranking shared by graft's driver-side ANN kernels
  * ([[NswWalk]], [[IvfProbe]]), so that they agree with each other and,
  * bit for bit, with the DataFrame rankings they replaced:
  *   - a score is `CosineSim.compute(q, v)` = dot / (‖q‖·‖v‖), each norm
  *     summed in element order. A norm depends on one vector only, so
  *     computing it once per vector keeps the bits. Callers give a null
  *     score when either vector is null or the dimensions differ;
  *   - a sim is a score under Spark's `round(x, 4)` ([[round4]]);
  *   - rankings order by score descending under SQL double ordering
  *     (`SQLOrderingUtil.compareDoubles`: NaN above every number,
  *     −0.0 == 0.0), null scores last, then by id ascending.
  *
  * A NaN sim's raw bits are not part of the contract: every NaN counts
  * as one value, as SQL ordering, `tools/check.py` and the parity specs
  * compare it. Java leaves the sign and payload of a NaN that an
  * operation produces to the compiled code (a sum of NaNs in whole-stage
  * codegen gave 0xfff8…, the same sum here 0x7ff8…); [[round4]] passes
  * a NaN through unchanged, as Spark's `round` does.
  */
object CosineRank {

  /** One ranked answer row: sim is null when the pair has no cosine. */
  final case class Hit(cid: Long, sim: java.lang.Double, rn: Int)

  def norm(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** The norm of the `len` elements of `v` from `from`. */
  def norm(v: Array[Double], from: Int, len: Int): Double = {
    var s = 0.0; var i = 0
    while (i < len) { val x = v(from + i); s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** dot(q, v) / (qNorm · vNorm), for non-null `q` and `v` of equal
    * length whose norms are `qNorm` and `vNorm`.
    */
  def cosine(q: Array[Double], qNorm: Double, v: Array[Double], vNorm: Double): Double = {
    var dot = 0.0; var i = 0
    while (i < v.length) { dot += q(i) * v(i); i += 1 }
    dot / (qNorm * vNorm)
  }

  /** [[cosine]] of `q` and the `q.length` elements of `v` from `from`. */
  def cosine(q: Array[Double], qNorm: Double, v: Array[Double], from: Int, vNorm: Double): Double = {
    var dot = 0.0; var i = 0
    while (i < q.length) { dot += q(i) * v(from + i); i += 1 }
    dot / (qNorm * vNorm)
  }

  /** [[cosine]] over float elements, each widened to a double in the
    * same order: the bits of the double form of `v`.
    */
  def cosine(q: Array[Double], qNorm: Double, v: Array[Float], from: Int, vNorm: Double): Double = {
    var dot = 0.0; var i = 0
    while (i < q.length) { dot += q(i) * v(from + i).toDouble; i += 1 }
    dot / (qNorm * vNorm)
  }

  /** Spark's `round(x, 4)` on a double, bit for bit: HALF_UP of x's
    * decimal form (`BigDecimal.valueOf(x).setScale(4, HALF_UP)`), a zero
    * result as +0.0, NaN and ±Inf unchanged.
    *
    * The fast path rounds k = HALF_UP(|x|·10⁴) through `floor` and
    * returns ±k / 10⁴, the division `BigDecimal.doubleValue` performs
    * itself for such a k. For |x| < 1e5 the product |x|·10⁴ lies below
    * 2³⁰, where it and the decimal form scaled by 10⁴ differ by under
    * 2e-7 (half an ulp of the product plus the decimal form's half ulp
    * of x, scaled): only a fractional part within [[TieGuard]] of ½ can
    * round the two differently, and there, or for |x| ≥ 1e5, the
    * BigDecimal form decides.
    */
  def round4(x: Double): Double = {
    val a = math.abs(x)
    if (x.isNaN || x.isInfinite) x
    else if (a >= 1e5) round4Exact(x)
    else {
      val y = a * 1e4
      val f = math.floor(y)
      val frac = y - f
      if (math.abs(frac - 0.5) < TieGuard) round4Exact(x)
      else {
        val k = if (frac > 0.5) f + 1 else f
        if (k == 0) 0.0 else if (x < 0) -(k / 1e4) else k / 1e4
      }
    }
  }

  /** How close, in units of the fourth decimal place, the fractional
    * part of |x|·10⁴ may come to ½ before [[round4]] leaves the tie to
    * BigDecimal: five times the largest gap between the two forms.
    */
  private final val TieGuard = 1e-6

  private def round4Exact(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** < 0 when (aNull, a, aId) ranks before (bNull, b, bId). */
  def compare(aNull: Boolean, a: Double, aId: Long,
              bNull: Boolean, b: Double, bId: Long): Int =
    if (aNull != bNull) { if (aNull) 1 else -1 }
    else {
      val c = if (aNull) 0 else SQLOrderingUtil.compareDoubles(b, a)
      if (c != 0) c else java.lang.Long.compare(aId, bId)
    }

  /** The best `k` of a stream of scored ids under [[compare]]: a binary
    * heap with the worst kept entry on top, O(log k) per offer and
    * O(k) memory. Entries that tie on (score, id) are interchangeable.
    */
  final class TopK(k: Int) {
    private val cap = math.max(k, 0)
    private val ids = new Array[Long](cap)
    private val nulls = new Array[Boolean](cap)
    private val scores = new Array[Double](cap)
    private var n = 0

    def size: Int = n

    private def worse(i: Int, j: Int): Boolean =
      compare(nulls(i), scores(i), ids(i), nulls(j), scores(j), ids(j)) > 0

    private def swap(i: Int, j: Int): Unit = {
      val id = ids(i); ids(i) = ids(j); ids(j) = id
      val nl = nulls(i); nulls(i) = nulls(j); nulls(j) = nl
      val s = scores(i); scores(i) = scores(j); scores(j) = s
    }

    def offer(id: Long, isNull: Boolean, score: Double): Unit =
      if (n < cap) {
        ids(n) = id; nulls(n) = isNull; scores(n) = score
        var i = n
        n += 1
        while (i > 0 && worse(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
      } else if (cap > 0 && compare(isNull, score, id, nulls(0), scores(0), ids(0)) < 0) {
        ids(0) = id; nulls(0) = isNull; scores(0) = score
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1
          val w = if (l + 1 < n && worse(l + 1, l)) l + 1 else l
          if (l < n && worse(w, i)) { swap(i, w); i = w } else done = true
        }
      }

    /** Calls `f(id, isNull, score)` for each kept entry, best first. */
    def foreachRanked(f: (Long, Boolean, Double) => Unit): Unit =
      (0 until n).sortWith((i, j) => compare(nulls(i), scores(i), ids(i),
        nulls(j), scores(j), ids(j)) < 0).foreach(i => f(ids(i), nulls(i), scores(i)))
  }
}
