package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector/sketch kernels of the
  * LLM-pipeline operators.
  *
  * Spark's higher-order functions (transform/aggregate/zip_with) are
  * CodegenFallback: every lambda application is an interpreted closure
  * call. That is fine for per-document feature extraction, but the
  * similarity kernels run once per CANDIDATE PAIR — millions of times per
  * partition at corpus scale — so they are implemented here as
  * BinaryExpression/UnaryExpression with doGenCode: the whole kernel
  * inlines into WholeStageCodegen as a tight primitive loop (the same
  * reasoning the reference applies in its columnar kernels, e.g.
  * presto-main/src/main/java/com/facebook/presto/operator/scalar/
  * MathFunctions.java:1 — scalar kernels compiled, not interpreted).
  *
  * Hash semantics are bit-identical to the HOF formulations in the
  * test tree's HofOracles (asserted by SketchParitySpec): the sketch
  * hash is Spark's xxhash64 chain — XXH64(seed 42) over the UTF8 bytes,
  * then XXH64.hashInt with the slot index.
  *
  * MinHashSig, SimHash64, Md5Hash60, MinHashAffine, SimHashBits and
  * HyperplaneBucket follow their HOF oracles on null arrays and null
  * elements too (SketchParitySpec's edge arrays). The vector kernels
  * (CosineSim, L2Sq) read a null element as 0.0 — the corpus contract
  * is that embedding columns are never element-null.
  */

/** cosine(a, b) over two array<double> columns: fused dot + norms in one
  * pass, no intermediate arrays.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_cosine requires two array<double> inputs, got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  // null on dimension mismatch (not just null inputs)
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    // mismatched dimensions → null, matching the HOF formulation's
    // zip_with null padding — dimension bugs surface instead of
    // silently scoring a truncated prefix
    if (x.numElements() != y.numElements()) null
    else CosineSim.compute(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if ($a.numElements() != $b.numElements()) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.plans.CosineSim.compute($a, $b);
      }
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** l2sq(a, b) over two array<double> columns: Σ(xᵢ−yᵢ)² in one fused
  * loop — PQ's metric. The HOF form (aggregate∘zip_with, the parity
  * oracle in SketchParitySpec) is CodegenFallback and runs once per
  * (vector, sub, code) candidate in codebook training/encoding —
  * n·m·ksub interpreted closure calls per corpus pass, the count that
  * dominates at real corpus scale. At sf0.1 (2000 vectors) the fit
  * stages are cold-start/orchestration-dominated, so the local win is
  * modest (q142 −5%, q87 −12% warm) — the kernel exists for the same
  * reason as CosineSim: the per-candidate eval count grows with the
  * corpus while the orchestration cost does not.
  */
case class L2Sq(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_l2sq requires two array<double> inputs, got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2sq"
  // null on dimension mismatch (the HOF form's zip_with null padding
  // nulls the whole sum — dimension bugs surface, not truncate)
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (x.numElements() != y.numElements()) null
    else L2Sq.compute(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if ($a.numElements() != $b.numElements()) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.plans.L2Sq.compute($a, $b);
      }
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Sq =
    copy(left = newLeft, right = newRight)
}

object L2Sq {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }
}

/** k-slot MinHash signature of an array<string>: sig[i] = min over
  * elements of xxhash64(elem, i). One UTF8 hash per element, then k
  * cheap integer mixes — O(n + n·k) integer ops, no per-slot re-hash of
  * the bytes and no interpreted lambdas. As in the HOF formulation, a
  * null element hashes as xxhash64(null, i) = hashInt(i, 42) (a null
  * argument leaves the seed unchanged), and a null or empty array gives
  * k null slots (array_min over nothing).
  */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires an array<string> input, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash"

  override def eval(input: InternalRow): Any =
    MinHashSig.compute(child.eval(input).asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    NullInputCodeGen(this, ctx, ev)(a => s"graft.plans.MinHashSig.compute($a, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = if (arr == null) 0 else arr.numElements()
    // null or empty input → k null slots (matches array_min(empty) = null
    // in the HOF formulation)
    if (n == 0) return new GenericArrayData(new Array[Any](k))
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h0 = if (arr.isNullAt(j)) 42L else XXH64.hashUTF8String(arr.getUTF8String(j), 42L)
      var i = 0
      while (i < k) {
        val h = XXH64.hashInt(i, h0)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }
}

/** 64-bit SimHash of an array<string>: per-bit majority vote over
  * element hashes. One UTF8 hash + 64 shifts per element. As in the HOF
  * formulation, a null element hashes as xxhash64(null) = 42 (the seed)
  * and a null array gives 0.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash requires an array<string> input, got $t")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_simhash"

  override def eval(input: InternalRow): Any =
    SimHash64.compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    NullInputCodeGen(this, ctx, ev)(a => s"graft.plans.SimHash64.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** 60-bit md5-prefix hashes of an array<string>, optionally reduced mod
  * `mod`: bit-identical to the HOF formulation
  * `transform(arr, x -> conv(substr(md5(x), 1, 15), 16, 10) [% mod])`
  * (15 hex chars = the top 60 bits of the digest = first 8 bytes >>> 4),
  * but with no per-element hex render/reparse and no interpreted lambda —
  * one digest + shift per element inside WholeStageCodegen.
  */
case class Md5Hash60(child: Expression, mod: Long)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_md5_60 requires an array<string> input, got $t")
  }
  // a null element hashes to null (md5(null) is null in the HOF form)
  override def dataType: DataType = ArrayType(LongType,
    containsNull = child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "graft_md5_60"

  override protected def nullSafeEval(v: Any): Any =
    Md5Hash60.compute(v.asInstanceOf[ArrayData], mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.Md5Hash60.compute($a, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Md5Hash60 =
    copy(child = newChild)
}

/** Per-document term counts of an array<string> in ONE linear pass:
  * array<struct<term, c_dt>> with terms in first-occurrence order —
  * element-identical to the HOF formulation
  *   transform(array_distinct(w), t -> struct(t, size(filter(w, x -> x = t))))
  * which is O(distinct·len) per document (every distinct term re-scans
  * the whole array): measured as the dominant map-side CPU of the CCNet
  * scoring pass (q165/q194/q196/q200/q208/q209). A null element mirrors
  * the HOF exactly: one struct(null, 0) row (x = null is never true).
  */
case class WordCounts(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_word_counts requires an array<string> input, got $t")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = true),
    StructField("c_dt", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_word_counts"

  override protected def nullSafeEval(v: Any): Any =
    WordCounts.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.WordCounts.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): WordCounts =
    copy(child = newChild)
}

object WordCounts {
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
    var sawNull = false
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) sawNull = true
      else {
        val t = arr.getUTF8String(i)
        val c = counts.get(t)
        // clone on FIRST insert: the UTF8String from an unsafe array
        // points into a buffer the scan may reuse for the next row;
        // the map key (and the returned rows) outlive it. Increments
        // keep the existing (cloned) key — java.util.Map.put never
        // replaces an equal key object.
        if (c == null) counts.put(t.clone(), java.lang.Long.valueOf(1L))
        else counts.put(t, java.lang.Long.valueOf(c.longValue + 1L))
      }
      i += 1
    }
    // first-occurrence order like array_distinct; a null element yields
    // struct(null, 0) AT ITS FIRST POSITION in the HOF — order among
    // non-null terms is preserved, and downstream consumers aggregate,
    // so the null row's position is immaterial; emit it last
    val rows = new Array[Any](counts.size + (if (sawNull) 1 else 0))
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      rows(j) = org.apache.spark.sql.catalyst.InternalRow(e.getKey, e.getValue.longValue)
      j += 1
    }
    if (sawNull) rows(j) = org.apache.spark.sql.catalyst.InternalRow(null, 0L)
    new GenericArrayData(rows)
  }
}

/** First-32-bits-of-md5 of a STRING, optionally mod `mod`: bit-identical
  * to `conv(substr(md5(s), 1, 8), 16, 10) [% mod]` (8 hex digits = the
  * top 4 digest bytes, an unsigned 32-bit value), with no 32-char hex
  * render and no conv() string reparse per row — one digest + shift
  * inside WholeStageCodegen. The q139 z-order key derivation runs this
  * twice per row; the HOF formulation's md5()→hex→substr→conv chain
  * allocated four intermediate strings per call.
  */
case class Md5Prefix32(child: Expression, mod: Long)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_md5_prefix32 requires a string input, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_prefix32"

  override protected def nullSafeEval(v: Any): Any =
    Md5Prefix32.compute(v.asInstanceOf[UTF8String], mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.plans.Md5Prefix32.compute($s, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix32 =
    copy(child = newChild)
}

object Md5Prefix32 {
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(s: UTF8String, mod: Long): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    // first 4 digest bytes big-endian = the first 8 hex chars, unsigned
    val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    if (mod > 0) h % mod else h
  }
}

object Md5Hash60 {
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(arr: ArrayData, mod: Long): ArrayData = {
    val md = digests.get()
    val n = arr.numElements()
    val out = new Array[Long](n)
    var anyNull = false
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) anyNull = true
      else {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        // first 8 digest bytes big-endian, top 60 bits (= 15 hex digits)
        var h = 0L
        var j = 0
        while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
        h = h >>> 4
        out(i) = if (mod > 0) h % mod else h
      }
      i += 1
    }
    if (!anyNull) new GenericArrayData(out)
    else new GenericArrayData(Array.tabulate[Any](n)(j => if (arr.isNullAt(j)) null else out(j)))
  }
}

/** Number of equal slots between two equal-length array<bigint>
  * signatures (the minhash agreement count; est. Jaccard = agree / k).
  * Runs once per candidate pair — the HOF aggregate(zip_with(...))
  * formulation is interpreted and was a dominant per-pair cost.
  * Null slots never agree (SQL `if(x = y, 1, 0)` yields 0 for NULL=NULL),
  * keeping bit-parity with the HOF formulation.
  */
case class SlotAgreement(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_slot_agree requires two array<bigint> inputs, got ($l, $r)")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_slot_agree"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SlotAgreement.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.SlotAgreement.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SlotAgreement =
    copy(left = newLeft, right = newRight)
}

object SlotAgreement {
  def compute(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var agree = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) agree += 1
      i += 1
    }
    agree
  }
}

/** Random-hyperplane LSH bucket id over an array<double> vector: bit i
  * is the sign of the projection onto the deterministic ±1 hyperplane
  * derived from the Affine constants (same signs as
  * Sketches.hyperplaneSigns, which the DuckDB oracle embeds as
  * literals). Bit-identical to the HOF formulation: the projection is
  * the same left-fold acc + x·(±1.0) in element order.
  */
case class HyperplaneBucket(child: Expression, nBits: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_hyperplane_bucket requires an array<double> input, got $t")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hyperplane_bucket"

  override def eval(input: InternalRow): Any =
    HyperplaneBucket.compute(child.eval(input).asInstanceOf[ArrayData], nBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    NullInputCodeGen(this, ctx, ev)(a => s"graft.plans.HyperplaneBucket.compute($a, $nBits)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
    copy(child = newChild)
}

object HyperplaneBucket {
  def sign(i: Int, j: Int): Double = {
    val v = (Affine.a(i) * (j + 1) + Affine.b(i)) % Affine.P
    if (v % 2 == 1) 1.0 else -1.0
  }

  /** A null array, or one with a null element, gives 0: in the HOF
    * formulation each projection sum is then null, and `if(null > 0)`
    * sets no bit.
    */
  def compute(vec: ArrayData, nBits: Int): Long = {
    if (vec == null) return 0L
    val dim = vec.numElements()
    var j0 = 0
    while (j0 < dim) { if (vec.isNullAt(j0)) return 0L; j0 += 1 }
    var bucket = 0L
    var i = 0
    while (i < nBits) {
      var acc = 0.0
      var j = 0
      while (j < dim) { acc += vec.getDouble(j) * sign(i, j); j += 1 }
      if (acc > 0) bucket += (1L << i)
      i += 1
    }
    bucket
  }
}

/** Fused word-n-gram shingle hashes: hash of each length-`n` window of
  * the input array<string>, joined by a single space — bit-identical to
  * hashing `concat_ws(' ', w[i..i+n-1])` but with no shingle-string
  * materialization and no interpreted lambda. The shingle pipelines'
  * dominant cost was exactly that per-window concat in an interpreted
  * HOF (~100 µs/shingle); this kernel is one rolling digest per window.
  *
  * `algo` selects the hash family: MD5_60 (top 60 bits of md5, the
  * SQL-replayable family) or XX64 (xxhash64 seed 42, Spark-native).
  * `mod` > 0 reduces md5 hashes mod `mod` (the affine-minhash domain);
  * ignored for XX64.
  */
case class ShingleHashes(child: Expression, n: Int, algo: String, mod: Long)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hashes requires an array<string> input, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override protected def nullSafeEval(v: Any): Any =
    ShingleHashes.compute(v.asInstanceOf[ArrayData], n, algo == "md5", mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"""graft.plans.ShingleHashes.compute($a, $n, ${algo == "md5"}, ${mod}L)""")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(words: ArrayData, n: Int, md5: Boolean, mod: Long): ArrayData = {
    val nw = words.numElements()
    val count = math.max(0, nw - n + 1)
    val out = new Array[Long](count)
    if (count == 0) return new GenericArrayData(out)
    // resolve each word's bytes once; windows overlap n times
    val bytes = new Array[Array[Byte]](nw)
    var i = 0
    while (i < nw) { bytes(i) = words.getUTF8String(i).getBytes; i += 1 }
    val md = if (md5) digests.get() else null
    var w = 0
    while (w < count) {
      if (md5) {
        md.reset()
        var j = 0
        while (j < n) {
          if (j > 0) md.update(' '.toByte)
          md.update(bytes(w + j))
          j += 1
        }
        val d = md.digest()
        var h = 0L
        var j2 = 0
        while (j2 < 8) { h = (h << 8) | (d(j2) & 0xffL); j2 += 1 }
        h = h >>> 4
        out(w) = if (mod > 0) h % mod else h
      } else {
        // assemble the shingle bytes once, xxhash64 with Spark's seed 42
        var len = n - 1
        var j = 0
        while (j < n) { len += bytes(w + j).length; j += 1 }
        val buf = new Array[Byte](len)
        var off = 0
        j = 0
        while (j < n) {
          if (j > 0) { buf(off) = ' '.toByte; off += 1 }
          val b = bytes(w + j)
          System.arraycopy(b, 0, buf, off, b.length)
          off += b.length
          j += 1
        }
        out(w) = XXH64.hashUnsafeBytes(
          buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
      }
      w += 1
    }
    new GenericArrayData(out)
  }
}

/** Deterministic affine-permutation constants for the ORACLE-ABLE sketch
  * family (MinHashAffine / SimHashBits). Unlike the xxhash64 kernels
  * above, every step of this scheme is expressible in portable SQL
  * (md5 → 60-bit int → affine mix mod 2^31−1), so the DuckDB oracle can
  * replay the whole dedup pipeline — the driver's strongest check.
  * The xxhash64 kernels remain the faster non-oracled variant.
  */
object Affine {
  /** Mersenne prime 2^31 − 1: (a·h + b) % P stays within 2^62 for
    * h, a < P, so the mix needs no modmul tricks in SQL or Java.
    */
  val P = 2147483647L
  /** Knuth multiplicative constant spreads slot indices; +1 keeps a ≠ 0. */
  def a(i: Int): Long = (2654435761L * (i + 1)) % (P - 1) + 1
  def b(i: Int): Long = (2654435761L * 40503L * (i + 1)) % P
}

/** Generates `compute(childOrNull, ...)` for the kernels below that map
  * a null input to a value rather than to null (the HOF semantics their
  * SQL replays have).
  */
private object NullInputCodeGen {
  def apply(e: UnaryExpression, ctx: CodegenContext, ev: ExprCode)(
      call: String => String): ExprCode = {
    val c = e.child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(e.dataType)} ${ev.value} =
        ${call(s"(${c.isNull} ? null : ${c.value})")};""", isNull = FalseLiteral)
  }
}

/** sig[i] = min over the non-null h in the input array<bigint>
  * (pre-reduced mod P) of (a_i·h + b_i) mod P — the SQL-replayable
  * MinHash. A null or empty input, or one whose elements are all null,
  * gives k null slots (array_min over nothing).
  */
case class MinHashAffine(child: Expression, k: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_affine requires an array<bigint> input, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash_affine"

  override def eval(input: InternalRow): Any =
    MinHashAffine.compute(child.eval(input).asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    NullInputCodeGen(this, ctx, ev)(a => s"graft.plans.MinHashAffine.compute($a, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashAffine =
    copy(child = newChild)
}

object MinHashAffine {
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = if (arr == null) 0 else arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < k) {
      val a = Affine.a(i); val b = Affine.b(i)
      var j = 0
      while (j < n) {
        if (!arr.isNullAt(j)) {
          any = true
          val h = (a * arr.getLong(j) + b) % Affine.P
          if (h < mins(i)) mins(i) = h
        }
        j += 1
      }
      i += 1
    }
    if (any) new GenericArrayData(mins) else new GenericArrayData(new Array[Any](k))
  }
}

/** Majority-vote SimHash over the low `bits` bits of pre-hashed
  * array<bigint> elements — the SQL-replayable SimHash (60 bits: the
  * md5-derived base hash carries 15 hex digits). Tie → bit unset,
  * matching 2·count > n in SQL; a null element counts in n and sets no
  * bit; a null input gives 0, like an empty one.
  */
case class SimHashBits(child: Expression, bits: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash_bits requires an array<bigint> input, got $t")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_simhash_bits"

  override def eval(input: InternalRow): Any =
    SimHashBits.compute(child.eval(input).asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    NullInputCodeGen(this, ctx, ev)(a => s"graft.plans.SimHashBits.compute($a, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}

object SimHashBits {
  def compute(arr: ArrayData, bits: Int): Long = {
    val n = if (arr == null) 0 else arr.numElements()
    val counts = new Array[Int](bits)
    var j = 0
    while (j < n) {
      val h = if (arr.isNullAt(j)) 0L else arr.getLong(j)
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1
        b += 1
      }
      j += 1
    }
    var res = 0L
    var b = 0
    while (b < bits) {
      if (2 * counts(b) > n) res |= (1L << b)
      b += 1
    }
    res
  }
}

object SimHash64 {
  def compute(arr: ArrayData): Long = {
    val n = if (arr == null) 0 else arr.numElements()
    val counts = new Array[Int](64)
    var j = 0
    while (j < n) {
      val h = if (arr.isNullAt(j)) 42L else XXH64.hashUTF8String(arr.getUTF8String(j), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      j += 1
    }
    var res = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) res |= (1L << b)
      b += 1
    }
    res
  }
}

/** matvec(vec, M) — dense y = M·x as one codegen'd kernel: `M` is a
  * FOLDABLE array<array<double>> literal (a model, not per-row data),
  * unpacked into a primitive double[][] once and shipped as a codegen
  * reference object, never rebuilt per row. Built as the OPQ-style
  * pre-subvector ROTATION hook for the PQ family (Ge et al., CVPR 2013
  * "Optimized Product Quantization"; r12 anisotropy adjudication —
  * BENCHNOTES.md r12 measured PQ recall 0.41→0.31 under a geometrically
  * decaying eigenspectrum while the rotation-invariant IVF control
  * ROSE 0.79→0.98, isolating subspace starvation): an orthonormal M
  * preserves inner products and L2 distances, so ADC in rotated space
  * scores identically to the original space while the variance spreads
  * across the consecutive-dim subvectors PQ slices. Per-row cost is a
  * tight rows×dim multiply in WholeStageCodegen — the same reasoning
  * as [[CosineSim]]: this runs once per corpus vector per
  * encode/train pass.
  */
case class MatVec(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        if (right.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "graft_matvec requires a foldable (literal) matrix — the " +
            "rotation is a model, not a per-row column")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_matvec requires (array<double>, array<array<double>>), got ($l, $r)")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_matvec"
  override def nullable: Boolean = true

  @transient private lazy val mat: Array[Array[Double]] = {
    val arr = right.eval(null)
    require(arr != null, "graft_matvec: matrix literal is null")
    MatVec.buildMatrix(arr.asInstanceOf[ArrayData])
  }

  override protected def nullSafeEval(v: Any, m: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    MatVec.checkDim(x.numElements(), mat)
    MatVec.compute(x, mat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matRef = ctx.addReferenceObj("matvecMat", mat, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, _) => s"""
      graft.plans.MatVec.checkDim($v.numElements(), $matRef);
      ${ev.value} = graft.plans.MatVec.compute($v, $matRef);
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MatVec =
    copy(left = newLeft, right = newRight)
}

object MatVec {
  /** Primitive double[][] from the literal; rejects ragged rows and
    * null elements loudly (a model with holes must not rotate silently).
    */
  def buildMatrix(m: ArrayData): Array[Array[Double]] = {
    val rows = m.numElements()
    val out = new Array[Array[Double]](rows)
    var i = 0
    while (i < rows) {
      val row = m.getArray(i)
      require(row != null, s"graft_matvec: matrix row $i is null")
      val d = row.numElements()
      require(i == 0 || d == out(0).length,
        s"graft_matvec: ragged matrix — row $i has $d cols, row 0 has ${out(0).length}")
      out(i) = row.toDoubleArray()
      i += 1
    }
    out
  }

  /** Dimension mismatch fails LOUDLY (r13, closing the r12 advice): a
    * corpus rotated with the wrong dim previously flowed nulls into
    * pqFit/pqEncode — silent data loss. Null is reserved for genuinely
    * null input vectors (the nullSafeEval contract).
    */
  def checkDim(n: Int, mat: Array[Array[Double]]): Unit = {
    // an empty matrix is loud too — an (n=0, cols=0) pair would pass the
    // equality check and crash compute's m(0) with a bare AIOOBE
    if (mat.length == 0) throw new IllegalArgumentException(
      "graft_matvec: rotation matrix is empty")
    if (n != mat(0).length) throw new IllegalArgumentException(
      s"graft_matvec: vector length $n does not match rotation matrix columns ${mat(0).length}")
  }

  def compute(v: ArrayData, m: Array[Array[Double]]): ArrayData = {
    val rows = m.length
    val cols = m(0).length
    // same loud-failure contract as buildMatrix: a vector with holes
    // must not rotate silently (getDouble on a null slot reads 0.0)
    var c = 0
    while (c < cols) {
      if (v.isNullAt(c)) throw new IllegalArgumentException(
        s"graft_matvec: vector element $c is null")
      c += 1
    }
    val vec = v.toDoubleArray()
    val out = new Array[Any](rows)
    var r = 0
    while (r < rows) {
      val row = m(r)
      var s = 0.0
      c = 0
      while (c < cols) { s += row(c) * vec(c); c += 1 }
      out(r) = s
      r += 1
    }
    new GenericArrayData(out)
  }
}

/** Winnowing fingerprint selection over a gram-hash array (Schleimer/
  * Wilkerson/Aiken SIGMOD 2003 — the window-min step of the MOSS
  * algorithm): combines each hash with its position (h·2³⁰ + pos, so
  * integer min orders by (hash, position) lexicographically), takes the
  * minimum of every length-`w` window with an O(n) monotonic deque, and
  * emits each selected value once, in window order.
  *
  * Why a kernel: the HOF formulation (`transform(sequence(...), i ->
  * array_min(slice(comb, i+1, w)))`) is O(n·w) interpreted — and after
  * projection collapse into the downstream Generate the upstream hash
  * chain re-evaluated once PER WINDOW (measured 23× on the real corpus:
  * 15 s cold at sf0.1, 142 s at sf1, against sub-second here). Combined
  * values are position-unique, so each value's window wins form one
  * consecutive run — consecutive dedup below is exactly
  * `array_distinct` keep-first-occurrence.
  */
case class WinnowSelect(child: Expression, w: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if w >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckFailure(
      s"graft_winnow_select requires a window w >= 1, got $w")
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_winnow_select requires an array<bigint> input, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_select"

  override protected def nullSafeEval(v: Any): Any =
    WinnowSelect.compute(v.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.WinnowSelect.compute($a, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowSelect =
    copy(child = newChild)
}

object WinnowSelect {
  private val Shift = 1073741824L // 2^30 — pos in the low bits

  def compute(hs: ArrayData, w: Int): ArrayData = {
    val n = hs.numElements()
    if (n < w) return new GenericArrayData(new Array[Long](0))
    val comb = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (hs.isNullAt(i)) throw new IllegalArgumentException(
        s"graft_winnow_select: hash array contains null at index $i")
      comb(i) = hs.getLong(i) * Shift + i
      i += 1
    }
    // monotonic increasing deque of indices; comb values are unique
    // (position low bits), so ties are impossible
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0
    val out = new Array[Long](n - w + 1)
    var m = 0
    i = 0
    while (i < n) {
      while (tail > head && comb(dq(tail - 1)) > comb(i)) tail -= 1
      dq(tail) = i
      tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) {
        val sel = comb(dq(head))
        if (m == 0 || out(m - 1) != sel) { out(m) = sel; m += 1 }
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }
}

/** argbest centroid id for one vector against a literal codebook — the
  * k-means assignment step as ONE codegen'd kernel call per row.
  *
  * The join-free formulation of
  * `join(broadcast(cents)) → score → groupBy(id).agg(max/min(struct))`:
  * that shape multiplies every corpus row by the codebook size and then
  * pays a corpus-sized EXCHANGE (carrying the vector) to reduce the
  * copies back — per Lloyd round and per encode pass. Computing the
  * argbest inline keeps assignment map-only: no row blowup, no exchange,
  * and the following centroid-mean aggregation combines map-side to
  * codebook-sized partials (guide §2.3/§2.4 — the shuffle disappears
  * rather than shrinking).
  *
  * Decision-equivalence contract (the models must stay BIT-IDENTICAL to
  * the join formulation so every fitted-model consumer — recall reports,
  * SemDeDup clusters, IVF probe sets — replays exactly):
  *   - scores are computed by the same fused loops as [[CosineSim]] /
  *     [[L2Sq]] (same operation order, same double arithmetic);
  *   - comparisons use Spark's double ordering
  *     (SQLOrderingUtil.compareDoubles: NaN greatest, -0.0 == 0.0);
  *   - entries are iterated in ascending-id order, replacing on >= for
  *     cosine (argmax; score ties pick the HIGHEST id — max(struct(sim,
  *     id)) semantics) and on < for l2 (argmin; ties pick the LOWEST id
  *     — min(struct(d2, id)) semantics).
  * `groups` selects a codebook per row (PQ subspace, hierarchical
  * parent); flat callers pass a constant 0. Missing group or dimension
  * mismatch throws — both are contract violations upstream, and the old
  * join would have silently dropped or null-scored the row.
  */
case class NearestCentroidId(group: Expression, vec: Expression,
    ids: Array[Array[Int]], cents: Array[Array[Array[Double]]],
    useCos: Boolean)
    extends BinaryExpression {
  override def left: Expression = group
  override def right: Expression = vec
  override def checkInputDataTypes(): TypeCheckResult =
    (group.dataType, vec.dataType) match {
      case (IntegerType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (g, v) => TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_centroid requires (int, array<double>), got ($g, $v)")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid"

  override protected def nullSafeEval(g: Any, v: Any): Any =
    NearestCentroidId.compute(ids, cents, g.asInstanceOf[Int],
      v.asInstanceOf[ArrayData], useCos)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("ncIds", ids, "int[][]")
    val tabRef = ctx.addReferenceObj("ncCents", cents, "double[][][]")
    nullSafeCodeGen(ctx, ev, (g, v) => s"""
      ${ev.value} = graft.plans.NearestCentroidId.compute(
        $idsRef, $tabRef, $g, $v, $useCos);
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroidId =
    copy(group = newLeft, vec = newRight)
}

object NearestCentroidId {
  def compute(ids: Array[Array[Int]], tab: Array[Array[Array[Double]]],
      g: Int, vec: ArrayData, useCos: Boolean): Int = {
    if (g < 0 || g >= tab.length || tab(g).length == 0)
      throw new IllegalArgumentException(
        s"graft_nearest_centroid: no centroids for group $g")
    val cb = tab(g)
    val cbIds = ids(g)
    val n = vec.numElements()
    var bestId = 0
    var bestScore = 0.0
    var first = true
    var j = 0
    while (j < cb.length) {
      val ce = cb(j)
      if (ce.length != n) throw new IllegalArgumentException(
        s"graft_nearest_centroid: dim mismatch (vector $n, centroid ${ce.length})")
      var score = 0.0
      if (useCos) {
        // CosineSim.compute's loop verbatim (decision equivalence)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < n) {
          val x = vec.getDouble(i); val y = ce(i)
          dot += x * y; na += x * x; nb += y * y
          i += 1
        }
        score = dot / (math.sqrt(na) * math.sqrt(nb))
      } else {
        // L2Sq.compute's loop verbatim
        var s = 0.0
        var i = 0
        while (i < n) {
          val d = vec.getDouble(i) - ce(i)
          s += d * d
          i += 1
        }
        score = s
      }
      if (first) {
        first = false; bestId = cbIds(j); bestScore = score
      } else {
        val cmp = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
          .compareDoubles(score, bestScore)
        if (if (useCos) cmp >= 0 else cmp < 0) {
          bestId = cbIds(j); bestScore = score
        }
      }
      j += 1
    }
    bestId
  }
}
