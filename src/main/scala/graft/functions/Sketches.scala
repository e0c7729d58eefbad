package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** MinHash / SimHash / random-hyperplane sketches as pure column
  * expressions (reference semantics: presto-main/src/main/java/com/facebook/
  * presto/operator/aggregation/ApproximateSetAggregation.java:1 for the
  * sketch-style aggregation surface; the dedup application follows the
  * MinHash-LSH banding scheme of Broder '97 / MMDS ch.3).
  *
  * All hashes are md5-derived 60-bit base hashes (minhash slots mix
  * them affinely mod 2^31−1; graft.plans.Affine holds the shared
  * constants) — deterministic across runs and executors, no RNG state
  * to ship, and every step is portable SQL, so the DuckDB oracle
  * replays the whole pipeline. The xxhash64 sketches are SQL functions only
  * (`graft_minhash`, `graft_simhash`).
  */
object Sketches {

  /** Per-element 60-bit md5-derived hashes, as array<bigint>. Native
    * codegen'd kernel (graft.plans.Md5Hash60) — the corpus-side hashing
    * runs once per shingle, and the interpreted HOF md5→hex→conv chain
    * was the dominant cost of the minhash/simhash pipelines. Full 60
    * bits — simhash needs every bit to carry signal. SketchParitySpec
    * pins it, and its mod-P form (the input domain of the affine minhash
    * mixing), to the conv(substr(md5)) chain the DuckDB oracle replays.
    */
  def md5Hashes(setCol: String): Column =
    graft.plans.NativeFunctions.md5Hash60(col(setCol))

  /** Affine MinHash signature over pre-hashed elements (native kernel;
    * SketchParitySpec pins it to its HOF formulation).
    */
  def minhashAffine(hashesCol: String, k: Int = 32): Column =
    graft.plans.NativeFunctions.minhashAffine(col(hashesCol), k)

  /** Majority-vote SimHash over the low `bits` bits of pre-hashed
    * elements (native kernel; SketchParitySpec pins it to its HOF
    * formulation).
    */
  def simhashBits(hashesCol: String, bits: Int = 60): Column =
    graft.plans.NativeFunctions.simhashBits(col(hashesCol), bits)

  /** The 15-bit chunks of a 60-bit simhash (hamming-bucket candidate
    * generation, pigeonhole over 4 chunks).
    */
  def simhash60Chunks(hashCol: String): Column =
    expr(s"transform(sequence(0, 3), j -> shiftright($hashCol, cast(j as int) * 15) & 32767L)")

  /** Deterministic ±1 hyperplane components for the SQL-replayable LSH
    * bucketing: sign(i, j) = parity of (a_i·(j+1) + b_i) mod P, from the
    * same Affine constants as the minhash family. Generated in Scala and
    * embedded as literals on BOTH engines, so the DuckDB oracle replays
    * the exact bucketing.
    */
  def hyperplaneSigns(nBits: Int, dim: Int): Seq[Seq[Int]] =
    (0 until nBits).map { i =>
      (0 until dim).map { j =>
        val v = (graft.plans.Affine.a(i) * (j + 1) + graft.plans.Affine.b(i)) % graft.plans.Affine.P
        if (v % 2 == 1) 1 else -1
      }
    }

  /** Random-hyperplane LSH bucket id over a double-array column, using
    * [[hyperplaneSigns]]-derived ±1 hyperplanes (Charikar '02 — buckets
    * cluster by cosine direction). bit i = sign(projection onto plane i).
    * Native codegen'd kernel (graft.plans.HyperplaneBucket) — runs once
    * per corpus vector; SketchParitySpec pins it to its bit-identical
    * HOF formulation.
    */
  def affineHyperplaneBucket(vecCol: String, nBits: Int = 4, dim: Int = 64): Column =
    graft.plans.NativeFunctions.hyperplaneBucket(col(vecCol), nBits)

  // ---- SQL-replayable HyperLogLog (m = 2^p registers) ------------------
  // Flajolet '07 HLL over the md5-derived 60-bit hash: bucket = h mod m,
  // rank = trailing zeros of (h div m) + 1, register = max rank. The
  // harmonic sum is kept in exact integer form (sum of 2^(K - r), K =
  // 61 - p, max 2^61 < Long.Max) so Spark and DuckDB agree bit-for-bit;
  // the only float op is the final numerator / S division (IEEE-exact
  // on both engines). Reference semantics:
  // presto-main/src/main/java/com/facebook/presto/operator/aggregation/
  // ApproximateCountDistinctAggregation.java:1 (approx_distinct).

  /** alpha_m * m^2 * 2^K — the HLL estimator numerator, embedded as the
    * same double literal on both engines (Double.toString round-trips).
    */
  def hllNumerator(p: Int): Double = {
    val m = 1 << p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1 + 1.079 / m.toDouble)
    }
    alpha * m.toDouble * m.toDouble * math.pow(2.0, 61 - p)
  }

  /** 60-bit md5-derived hash of a value (rendered via cast-to-string). */
  def hllHash(valueSql: String): Column =
    expr(s"cast(conv(substr(md5(cast(($valueSql) as string)), 1, 15), 16, 10) as bigint)")

  /** Rank (trailing zeros + 1) of the non-bucket hash bits `wCol`;
    * w = 0 → K (all 60 − p bits zero). round(log2(w & −w)) is exact:
    * w & −w is a power of two and log2 errs ≪ 0.5 ulp of an integer.
    */
  def hllRho(wCol: String, p: Int): Column =
    expr(s"if($wCol = 0, ${61 - p}, cast(round(log2($wCol & -$wCol)) as int) + 1)")

  /** Exact-integer harmonic sum over the present registers `rCol` of a
    * group: S = Σ 2^(K − r) + (m − #present) · 2^K. Estimate =
    * floor(hllNumerator / S).
    */
  def hllHarmonicSum(rCol: String, p: Int): Column = {
    val k = 61 - p
    expr(s"sum(shiftleft(1L, $k - $rCol)) + (${1 << p} - count(1)) * ${1L << k}L")
  }

  /** HLL estimate from the harmonic sum and present-bucket count, with
    * the linear-counting small-range correction (Flajolet '07 §4): when
    * raw ≤ 2.5·m and some buckets are empty, estimate m·ln(m/V) instead.
    * Branch + arithmetic are IEEE-identical across engines; ln's ≤1-ulp
    * engine variance is 9 orders of magnitude below the closest integer
    * boundary of m·ln(m/V) (min distance 3.8e-4 at p=8), so floor() is
    * stable. Mirrored in SQL by [[hllEstimateDuckSql]].
    */
  def hllEstimate(hsumCol: String, nbCol: String, p: Int): Column = {
    val m = 1 << p
    val num = hllNumerator(p)
    expr(s"cast(floor(if(cast($num as double) / $hsumCol <= ${2.5 * m}D and $nbCol < $m, " +
      s"$m * ln(cast($m as double) / ($m - $nbCol)), " +
      s"cast($num as double) / $hsumCol)) as bigint)")
  }

  /** DuckDB rendering of [[hllEstimate]] — same literals, same ops. */
  def hllEstimateDuckSql(hsumCol: String, nbCol: String, p: Int): String = {
    val m = 1 << p
    val num = hllNumerator(p)
    s"CAST(floor(CASE WHEN CAST($num AS DOUBLE) / $hsumCol <= ${2.5 * m} AND $nbCol < $m " +
      s"THEN $m * ln(CAST($m AS DOUBLE) / ($m - $nbCol)) " +
      s"ELSE CAST($num AS DOUBLE) / $hsumCol END) AS BIGINT)"
  }

  // ---- KMV / theta-sketch estimate family ------------------------------
  // Derivations over the bottom-k sketch state (graft.plans.KmvSketchAgg):
  // arrays of ≤ k sorted 60-bit hashes. Every op is portable (HOFs on
  // tiny arrays), so the DuckDB oracle replays estimates bit-for-bit.

  /** 2^60 as an exact double literal — the hash-domain size of the
    * md5-derived 60-bit hash family.
    */
  val KmvDomain = "1152921504606846976.0D"

  /** Distinct estimate from a bottom-k sketch: exact size when the
    * sketch never filled (fewer than k distinct values seen); else the
    * KMV estimator (k−1)/θ with θ = kth-smallest-hash / 2^60. The
    * (k−1)·2^60 product is exact in double (small mantissa × power of
    * two) so both engines compute the identical IEEE quotient.
    */
  def kmvEstimate(skCol: String, k: Int): Column =
    expr(s"if(size($skCol) < $k, cast(size($skCol) as bigint), " +
      s"cast(floor(${(k - 1).toDouble}D * $KmvDomain / cast(element_at($skCol, $k) as double)) as bigint))")

  /** DuckDB rendering of [[kmvEstimate]] — same literals, same ops. */
  def kmvEstimateDuckSql(skCol: String, k: Int): String =
    s"CASE WHEN len($skCol) < $k THEN len($skCol) " +
      s"ELSE CAST(floor(${(k - 1).toDouble} * 1152921504606846976.0 / CAST($skCol[$k] AS DOUBLE)) AS BIGINT) END"

  /** Estimated Jaccard similarity of the sets behind two bottom-k
    * sketches (the setdigest `jaccard_index` analog): over the k
    * smallest hashes of the union, the fraction present in BOTH input
    * sketches (Beyer '07 §4).
    */
  def kmvJaccard(aCol: String, bCol: String, k: Int): Column = {
    val u = s"slice(array_sort(array_distinct(concat($aCol, $bCol))), 1, $k)"
    expr(s"round(size(filter($u, h -> array_contains($aCol, h) and array_contains($bCol, h))) " +
      s"/ cast(size($u) as double), 4)")
  }

  /** DuckDB rendering of [[kmvJaccard]] — same merge, same ops. */
  def kmvJaccardDuckSql(aCol: String, bCol: String, k: Int): String = {
    val u = s"list_sort(list_distinct(list_concat($aCol, $bCol)))[1:$k]"
    s"round(len(list_filter($u, h -> list_contains($aCol, h) AND list_contains($bCol, h))) " +
      s"/ CAST(len($u) AS DOUBLE), 4)"
  }
}
