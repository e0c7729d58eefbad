package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** One NSW cell's whole graph build in one call: the cell's members
  * array<struct<vec_id: bigint, h: bigint, ve: array<double>>> (any
  * order) in, its edges array<struct<u, v, sim>> out — the per-cell
  * kernel behind `Ann.nswBuild`.
  *
  * The recipe, member for member identical to the DataFrame build it
  * replaced (NswBuildParitySpec pins (u, v, raw sim bits) equality):
  *   1. rank the members by (h, vec_id) ascending, nulls first; rank r
  *      links ranks r+1 … r+min(kNbr, n−1) modulo n (the hash ring);
  *   2. `rounds` NN-Descent rounds: each node's candidates are the
  *      neighbours-of-neighbours over the SYMMETRIZED top-max(4, kNbr/2)
  *      sample of the current lists, plus its current list; it keeps
  *      the top kNbr of them;
  *   3. the output is the final lists ∪ the ring, one row per (u, v).
  *
  * Rankings order by sim descending under SQL double ordering
  * (`SQLOrderingUtil.compareDoubles`: NaN above every number, −0.0 ==
  * 0.0), null sims last, then by v ascending. Sims are
  * [[CosineSim.compute]] of (u's vector, v's vector), null when either
  * vector is null or the dimensions differ; the output normalizes NaN
  * and −0.0 like a SQL `distinct` does. Members with a null vec_id
  * hold a ring slot but get no edges. vec_ids are unique within a
  * cell (the index key).
  *
  * Cost: a cell of n members is one row of O(n·dim) and a round is
  * O(n·(2h)²) similarity evaluations, h = max(4, kNbr/2).
  */
case class NswCellGraph(child: Expression, kNbr: Int, rounds: Int)
    extends UnaryExpression {

  require(kNbr >= 1 && rounds >= 0, s"kNbr=$kNbr rounds=$rounds")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, LongType, _, _), StructField(_, LongType, _, _),
        StructField(_, ArrayType(DoubleType, _), _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      "graft_nsw_cell_graph requires array<struct<vec_id: bigint, h: bigint, " +
        s"ve: array<double>>>, got $t")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("u", LongType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = true))), containsNull = false)
  override def prettyName: String = "graft_nsw_cell_graph"

  override protected def nullSafeEval(v: Any): Any =
    NswCellGraph.compute(v.asInstanceOf[ArrayData], kNbr, rounds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.NswCellGraph.compute($a, $kNbr, $rounds)")

  override protected def withNewChildInternal(newChild: Expression): NswCellGraph =
    copy(child = newChild)
}

object NswCellGraph {
  def compute(members: ArrayData, kNbr: Int, rounds: Int): ArrayData = {
    val cell = new Cell(members)
    val n = cell.n
    val ring = Array.tabulate(n) { r =>
      val ts = (1 to math.min(kNbr, n - 1)).map(d => (r + d) % n)
        .filter(cell.linkable(r, _)).toArray
      cell.topK(r, ts, ts.length, kNbr)
    }
    var lists = ring
    val h = math.max(4, kNbr / 2)
    val mark = new Array[Int](n)
    val cand = new Array[Int](n)
    for (_ <- 1 to rounds) {
      // the symmetrized sample as CSR adjacency: x's top-h both ways
      val off = new Array[Int](n + 1)
      for (x <- 0 until n; j <- 0 until math.min(h, lists(x).length)) {
        off(x + 1) += 1; off(lists(x)(j) + 1) += 1
      }
      for (x <- 0 until n) off(x + 1) += off(x)
      val adj = new Array[Int](off(n))
      val fill = off.clone()
      for (x <- 0 until n; j <- 0 until math.min(h, lists(x).length)) {
        val y = lists(x)(j)
        adj(fill(x)) = y; fill(x) += 1
        adj(fill(y)) = x; fill(y) += 1
      }
      java.util.Arrays.fill(mark, -1)
      val prev = lists
      lists = Array.tabulate(n) { x =>
        var c = 0
        def offer(z: Int): Unit =
          if (z != x && mark(z) != x) { mark(z) = x; cand(c) = z; c += 1 }
        var i = off(x)
        while (i < off(x + 1)) {
          val y = adj(i)
          var j = off(y)
          while (j < off(y + 1)) { offer(adj(j)); j += 1 }
          i += 1
        }
        prev(x).foreach(offer)
        cell.topK(x, cand, c, kNbr)
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    java.util.Arrays.fill(mark, -1)
    for (u <- 0 until n) {
      def emit(v: Int): Unit = if (mark(v) != u) {
        mark(v) = u
        out += InternalRow(cell.id(u), cell.id(v), cell.simOut(u, v))
      }
      lists(u).foreach(emit)
      ring(u).foreach(emit)
    }
    new GenericArrayData(out.toArray)
  }

  /** The members in ring order, with the similarity and ranking rules. */
  private final class Cell(members: ArrayData) {
    val n: Int = members.numElements()
    private val rows = Array.tabulate(n)(members.getStruct(_, 3))
    // ring order: (h, vec_id) ascending, nulls first (SQL ASC)
    private def cmpNullsFirst(a: InternalRow, b: InternalRow, f: Int): Int =
      (a.isNullAt(f), b.isNullAt(f)) match {
        case (true, true) => 0
        case (true, false) => -1
        case (false, true) => 1
        case _ => java.lang.Long.compare(a.getLong(f), b.getLong(f))
      }
    private val sorted = rows.sortWith { (a, b) =>
      val c = cmpNullsFirst(a, b, 1)
      (if (c != 0) c else cmpNullsFirst(a, b, 0)) < 0
    }
    private val idNull = sorted.map(_.isNullAt(0))
    private val ids = sorted.map(r => if (r.isNullAt(0)) 0L else r.getLong(0))
    private val vecs = sorted.map(r => if (r.isNullAt(2)) null else r.getArray(2).toDoubleArray())
    // √Σx² per member, summed in CosineSim.compute's order: its na and nb
    // depend on one vector each, so hoisting them keeps every sim
    // bit-identical and leaves one dot product per pair
    private val norms = vecs.map { v =>
      if (v == null) 0.0
      else {
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        math.sqrt(s)
      }
    }

    def id(r: Int): Long = ids(r)

    def linkable(a: Int, b: Int): Boolean =
      !idNull(a) && !idNull(b) && ids(a) != ids(b)

    private def simNull(a: Int, b: Int): Boolean =
      vecs(a) == null || vecs(b) == null || vecs(a).length != vecs(b).length

    /** [[CosineSim.compute]] of members a and b (same dimension). */
    private def sim(a: Int, b: Int): Double = {
      val x = vecs(a); val y = vecs(b)
      var dot = 0.0; var i = 0
      while (i < x.length) { dot += x(i) * y(i); i += 1 }
      dot / (norms(a) * norms(b))
    }

    /** The output sim: null, or normalized like a SQL grouping key. */
    def simOut(a: Int, b: Int): Any =
      if (simNull(a, b)) null
      else {
        val s = sim(a, b)
        if (s.isNaN) Double.NaN else if (s == 0.0) 0.0 else s
      }

    /** Whether neighbour a (sim sa, null when na) ranks before
      * neighbour b: sim descending, nulls last, then vec_id ascending.
      */
    private def before(na: Boolean, sa: Double, a: Int,
                       nb: Boolean, sb: Double, b: Int): Boolean =
      if (na != nb) nb
      else {
        val c = if (na) 0 else SQLOrderingUtil.compareDoubles(sb, sa)
        if (c != 0) c < 0 else ids(a) < ids(b)
      }

    /** u's best k of cands(0 until c), best first (insertion into a
      * k-slot buffer: c·k comparisons, k is a graph degree).
      */
    def topK(u: Int, cands: Array[Int], c: Int, k: Int): Array[Int] = {
      val cap = math.min(k, c)
      val bt = new Array[Int](cap)
      val bs = new Array[Double](cap)
      val bn = new Array[Boolean](cap)
      var size = 0
      var i = 0
      while (i < c) {
        val t = cands(i)
        val nt = simNull(u, t)
        val st = if (nt) 0.0 else sim(u, t)
        if (size < cap || before(nt, st, t, bn(cap - 1), bs(cap - 1), bt(cap - 1))) {
          var p = if (size < cap) size else cap - 1
          while (p > 0 && before(nt, st, t, bn(p - 1), bs(p - 1), bt(p - 1))) {
            bt(p) = bt(p - 1); bs(p) = bs(p - 1); bn(p) = bn(p - 1)
            p -= 1
          }
          bt(p) = t; bs(p) = st; bn(p) = nt
          if (size < cap) size += 1
        }
        i += 1
      }
      bt
    }
  }
}
