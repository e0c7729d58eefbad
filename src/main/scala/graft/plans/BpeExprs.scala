package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_bpe_encode(syms, merges)` — apply a trained BPE merge list to
  * a symbol array as ONE native codegen'd kernel (reference surface:
  * the tokenizer application loop of Sennrich et al., ACL 2016, the
  * same greedy lowest-rank loop production tokenizers run per word).
  *
  * Why an expression and not the SQL fold: `Bpe.encodeTokenFreqWf`'s
  * original formulation applied M merges as M chained `aggregate()`
  * HOF projections — HOF lambdas are CodegenFallback (interpreted),
  * and a production tokenizer carries M ≈ 32k–100k merges, where a
  * 32k-deep projection chain is dead twice over (Catalyst analysis
  * time on the chain; per-row interpretation cost ×M). This kernel
  * takes the WHOLE merge list as one foldable literal, builds the
  * pair→rank table once per task (codegen stashes it as a reference
  * object, never per row), and runs the standard greedy loop per word:
  * find the lowest-ranked adjacent pair present, fuse all its
  * occurrences left-to-right non-overlapping, repeat. Per-word cost is
  * O(len²) hash probes INDEPENDENT of M, vs O(M·len) interpreted
  * closure calls for the chained folds.
  *
  * Equivalence with the sequential per-merge fold (the DuckDB oracle's
  * replay, and the test tree's `BpeOracles.mergeFoldSql`): for a VALID
  * trained merge list — one where each merged symbol pa·pb can only
  * occur inside pairs of strictly higher rank, which is every list
  * `Bpe.trainMergesBatched` emits, since a pair over pa·pb cannot be
  * counted before pa·pb exists —
  * fusing the lowest rank present never creates a lower-ranked pair
  * (every new adjacency involves the new symbol, whose pairs all rank
  * higher), so the greedy order visits ranks exactly as the sequential
  * passes do and the results are identical. `BpeSpec` pins kernel ==
  * fold on trained lists and the oracle pins it end-to-end through
  * training.
  *
  * `merges` must be a foldable array<string> with elements
  * "<pa> <pb>", both from the `^[a-z0-9]+$` training alphabet, in
  * rank order (rank 0 merges first) — [[BpeEncode.buildRanks]] rejects
  * anything else loudly rather than tokenize garbage.
  */
case class BpeEncode(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        if (right.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "graft_bpe_encode requires a foldable (literal) merge list — " +
            "the trained merges are a model, not a per-row column")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_encode requires (array<string>, array<string>), got ($l, $r)")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_encode"

  // built once per task (interpreted path) or once at codegen time and
  // shipped as a reference object (codegen path) — never per row
  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val arr = right.eval(null)
    require(arr != null,
      "graft_bpe_encode: merge list literal is null — pass array() for no merges")
    BpeEncode.buildRanks(arr.asInstanceOf[ArrayData])
  }

  override protected def nullSafeEval(syms: Any, merges: Any): Any =
    BpeEncode.compute(syms.asInstanceOf[ArrayData], ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks,
      "java.util.HashMap<String, Integer>")
    nullSafeCodeGen(ctx, ev, (syms, _) =>
      s"${ev.value} = graft.plans.BpeEncode.compute($syms, $ranksRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeEncode =
    copy(left = newLeft, right = newRight)
}

object BpeEncode {

  private val MergeEntry = "([a-z0-9]+) ([a-z0-9]+)".r

  /** pair→rank table from the literal merge list. Enforces the
    * `^[a-z0-9]+$` alphabet contract mechanically (same contract as
    * the test tree's `BpeOracles.mergeFoldSql`); first occurrence of a duplicate pair wins,
    * matching sequential application (the second pass finds nothing).
    */
  def buildRanks(merges: ArrayData): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    var i = 0
    val n = merges.numElements()
    while (i < n) {
      val e = merges.getUTF8String(i)
      require(e != null, "graft_bpe_encode: merge list contains null")
      e.toString match {
        case MergeEntry(_, _) => m.putIfAbsent(e.toString, Integer.valueOf(i))
        case bad => throw new IllegalArgumentException(
          s"graft_bpe_encode: merge entry '$bad' is not '<pa> <pb>' over [a-z0-9]+")
      }
      i += 1
    }
    m
  }

  /** Greedy lowest-rank BPE application over one word's symbol array.
    * Each iteration fuses EVERY left-to-right non-overlapping
    * occurrence of the lowest-ranked pair present, so iterations are
    * bounded by the symbol count, not the merge count.
    */
  def compute(symsIn: ArrayData, ranks: java.util.HashMap[String, Integer]): ArrayData = {
    var n = symsIn.numElements()
    // dataType declares containsNull = false: a null symbol must fail
    // loudly here (on EVERY path, including the early returns below)
    // rather than flow downstream as a schema-contract violation
    var i = 0
    while (i < n) {
      if (symsIn.isNullAt(i)) throw new IllegalArgumentException(
        s"graft_bpe_encode: symbol array contains null at index $i — " +
          "symbols must be non-null strings")
      i += 1
    }
    if (n < 2 || ranks.isEmpty)
      return new GenericArrayData(symsIn.toObjectArray(StringType))
    var syms = new Array[String](n)
    i = 0
    while (i < n) { syms(i) = symsIn.getUTF8String(i).toString; i += 1 }
    var done = false
    while (!done && n >= 2) {
      // lowest-ranked adjacent pair present in the word
      var best = Integer.MAX_VALUE
      var bestA: String = null
      var bestB: String = null
      i = 0
      while (i < n - 1) {
        val r = ranks.get(syms(i) + " " + syms(i + 1))
        if (r != null && r.intValue < best) {
          best = r.intValue; bestA = syms(i); bestB = syms(i + 1)
        }
        i += 1
      }
      if (bestA == null) done = true
      else {
        // fuse left-to-right, non-overlapping, in place
        val fused = bestA + bestB
        var w = 0
        i = 0
        while (i < n) {
          if (i < n - 1 && syms(i) == bestA && syms(i + 1) == bestB) {
            syms(w) = fused; i += 2
          } else {
            syms(w) = syms(i); i += 1
          }
          w += 1
        }
        n = w
      }
    }
    val out = new Array[AnyRef](n)
    i = 0
    while (i < n) { out(i) = UTF8String.fromString(syms(i)); i += 1 }
    new GenericArrayData(out)
  }
}
