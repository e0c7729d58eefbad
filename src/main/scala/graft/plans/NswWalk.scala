package graft.plans

import CosineRank.Hit

/** The NSW beam walk over a driver-resident graph — the kernel behind
  * `Ann.nswWalk`, pure Scala over plain arrays.
  *
  * The walk, per query (NswWalkParitySpec pins (qid, cid, raw sim
  * bits, rn) equality with the DataFrame walk it replaced):
  *   1. the visited set starts as the query's seeds;
  *   2. hop 1 expands every seed, each later hop the top `beam` of
  *      everything visited so far, through the undirected adjacency;
  *      every neighbour not yet seen is scored and visited. Seeds are
  *      hash-random cell representatives, not good scorers: cutting
  *      them to the beam drops whole probed cells before they are
  *      walked once (at sf1, recall@5 froze at ~28% across nprobe
  *      4→32). The adjacency is undirected (the HNSW/NSW convention):
  *      directed top-kNbr lists starve low-in-degree nodes (at sf1 the
  *      directed walk recovered ~60% of the matched-cell recall);
  *   3. the answer is the top `k` of the visited nodes whose predicate
  *      bit is set, ranked 1..k.
  * A candidate absent from the index, or equal to the query id under
  * `excludeSelf`, never enters the visited set.
  *
  * Sims and rankings are [[CosineRank]]'s: `round(CosineSim.compute(qe,
  * ve), 4)`, null when either vector is null or the dimensions differ;
  * sim descending under SQL double ordering, null sims last, then cid
  * ascending.
  */
object NswWalk {

  /** Index rows packed for a [[Graph]]: unique ids, each row's vector
    * as the slice `[ends(i-1), ends(i))` of one flat array (empty for a
    * null vector, which `nulls` marks) and the rows' predicate bits.
    * Serializable: each task of a read packs its partition.
    */
  final class Rows(val ids: Array[Long], val ends: Array[Int], val values: Array[Double],
                   val nulls: Array[Boolean], val ok: Array[Boolean]) extends Serializable {
    require(ids.length == ends.length && ids.length == nulls.length && ids.length == ok.length,
      s"${ids.length} ids, ${ends.length} vectors, ${nulls.length} null marks, " +
        s"${ok.length} predicate bits")
    def n: Int = ids.length
  }

  object Rows {
    /** `parts` end to end. */
    def concat(parts: Seq[Rows]): Rows = {
      val bases = parts.scanLeft(0)(_ + _.values.length)
      new Rows(Array.concat(parts.map(_.ids): _*),
        Array.concat(parts.zip(bases).map { case (r, b) => r.ends.map(_ + b) }: _*),
        Array.concat(parts.map(_.values): _*), Array.concat(parts.map(_.nulls): _*),
        Array.concat(parts.map(_.ok): _*))
    }
  }

  /** The index rows by position (vec_ids unique, vectors nullable,
    * predicate bits) and the undirected adjacency over them, built from
    * (u, v) edges. An edge naming an id absent from the index is not
    * linked: its other end could never be visited through it. Such an
    * edge, and only such, is kept beside the adjacency, so that
    * [[extend]] links it once its endpoints arrive.
    *
    * Compact, since a serving cache holds graphs across calls
    * ([[WalkCache]]): the vectors lie end to end in one array, as floats
    * when every element is a float widened (as `Ann.ivfEncode` writes
    * float embeddings) and as doubles otherwise; the adjacency is CSR
    * (`off`, `adj`); ids map to positions through an open-addressing
    * table of primitives. About 4·dim + 50 bytes per row with float
    * vectors, plus 8 per edge. Immutable: a walk may read a graph while
    * another thread extends it.
    */
  final class Graph private (
      ids: Array[Long], pos: IdMap, ends: Array[Int],
      floats: Array[Float], doubles: Array[Double],
      nulls: Array[Boolean], ok: Array[Boolean], norms: Array[Double],
      off: Array[Int], adj: Array[Int], strayU: Array[Long], strayV: Array[Long]) {

    val n: Int = ids.length

    def indexOf(id: Long): Int = pos.get(id)

    /** The edges not linked, for want of an endpoint in the index. */
    def strayEdges: Int = strayU.length

    /** Approximate heap bytes held. */
    def bytes: Long =
      8L * n + pos.bytes + 4L * ends.length + 2L * n + 8L * n +
        (if (floats != null) 4L * floats.length else 8L * doubles.length) +
        4L * off.length + 4L * adj.length + 16L * strayU.length + 256L

    /** This graph with `rows` appended: what [[Graph.apply]] would build
      * from this graph's rows and edges followed by `rows`. A stray edge
      * whose endpoints are now both present is linked. Throws
      * IllegalArgumentException if a row's id is already present.
      */
    def extend(rows: Rows): Graph = {
      val pos1 = pos.grown(rows.n)
      var i = 0
      while (i < rows.n) { pos1.add(rows.ids(i), n + i); i += 1 }
      val base = if (floats != null) floats.length else doubles.length
      val ends1 = ends ++ rows.ends.map(_ + base)
      val (f1, d1) =
        if (floats != null && exactFloats(rows.values)) (floats ++ rows.values.map(_.toFloat), null)
        else (null, (if (floats != null) floats.map(_.toDouble) else doubles) ++ rows.values)
      val norms1 = norms ++ Graph.norms(rows)
      val a = strayU.map(pos1.get)
      val b = strayV.map(pos1.get)
      val (live, stray) = Graph.present(a, b)
      val (off1, adj1) = Graph.link(n + rows.n, off, adj, live.map(a), live.map(b))
      new Graph(ids ++ rows.ids, pos1, ends1, f1, d1, nulls ++ rows.nulls, ok ++ rows.ok,
        norms1, off1, adj1, stray.map(strayU), stray.map(strayV))
    }

    private def from(p: Int): Int = if (p == 0) 0 else ends(p - 1)

    private[NswWalk] def id(p: Int): Long = ids(p)
    private[NswWalk] def allowed(p: Int): Boolean = ok(p)

    /** True when row p has a vector of `dim` elements. */
    private[NswWalk] def scorable(p: Int, dim: Int): Boolean =
      !nulls(p) && ends(p) - from(p) == dim

    /** The cosine of `q` (norm `qNorm`) and row p's vector, for a
      * [[scorable]] p, in CosineRank's order and bits.
      */
    private[NswWalk] def cosine(q: Array[Double], qNorm: Double, p: Int): Double =
      if (floats != null) CosineRank.cosine(q, qNorm, floats, from(p), norms(p))
      else CosineRank.cosine(q, qNorm, doubles, from(p), norms(p))

    private[NswWalk] def neighbours(p: Int, f: Int => Unit): Unit = {
      var j = off(p)
      while (j < off(p + 1)) { f(adj(j)); j += 1 }
    }
  }

  object Graph {

    /** The graph of `rows` and the (us(i), vs(i)) edges. Throws
      * IllegalArgumentException naming a duplicate row id.
      */
    def apply(rows: Rows, us: Array[Long], vs: Array[Long]): Graph = {
      require(us.length == vs.length, s"${us.length} edge sources, ${vs.length} targets")
      val pos = new IdMap(rows.n)
      var i = 0
      while (i < rows.n) { pos.add(rows.ids(i), i); i += 1 }
      val a = us.map(pos.get)
      val b = vs.map(pos.get)
      val (live, stray) = present(a, b)
      val (off, adj) = link(rows.n, Array(0), Array.emptyIntArray, live.map(a), live.map(b))
      val (f, d) =
        if (exactFloats(rows.values)) (rows.values.map(_.toFloat), null)
        else (null, rows.values)
      new Graph(rows.ids, pos, rows.ends, f, d, rows.nulls, rows.ok, norms(rows),
        off, adj, stray.map(us), stray.map(vs))
    }

    /** The indices of the edges (a(j), b(j)) with both ends present
      * (≥ 0), and of the others.
      */
    private[NswWalk] def present(a: Array[Int], b: Array[Int]): (Array[Int], Array[Int]) =
      a.indices.toArray.partition(j => a(j) >= 0 && b(j) >= 0)

    // √Σx² per vector, summed in CosineSim.compute's order: its two
    // norms depend on one vector each, so hoisting them keeps the bits
    private def norms(rows: Rows): Array[Double] =
      Array.tabulate(rows.n) { p =>
        val from = if (p == 0) 0 else rows.ends(p - 1)
        if (rows.nulls(p)) 0.0 else CosineRank.norm(rows.values, from, rows.ends(p) - from)
      }

    /** The CSR adjacency of `n` positions: the first `off0.length - 1`
      * keep their neighbours in (`off0`, `adj0`), and each edge
      * (a(i), b(i)) adds both directions.
      */
    private[NswWalk] def link(n: Int, off0: Array[Int], adj0: Array[Int],
                              a: Array[Int], b: Array[Int]): (Array[Int], Array[Int]) = {
      val n0 = off0.length - 1
      val off = new Array[Int](n + 1)
      var p = 0
      while (p < n0) { off(p + 1) = off0(p + 1) - off0(p); p += 1 }
      var i = 0
      while (i < a.length) { off(a(i) + 1) += 1; off(b(i) + 1) += 1; i += 1 }
      p = 0
      while (p < n) { off(p + 1) += off(p); p += 1 }
      val adj = new Array[Int](off(n))
      val fill = java.util.Arrays.copyOf(off, n)
      p = 0
      while (p < n0) {
        val len = off0(p + 1) - off0(p)
        System.arraycopy(adj0, off0(p), adj, off(p), len)
        fill(p) += len
        p += 1
      }
      i = 0
      while (i < a.length) {
        adj(fill(a(i))) = b(i); fill(a(i)) += 1
        adj(fill(b(i))) = a(i); fill(b(i)) += 1
        i += 1
      }
      (off, adj)
    }
  }

  /** True when every element of `v` is a float widened to a double. */
  private def exactFloats(v: Array[Double]): Boolean = {
    var i = 0
    while (i < v.length &&
      java.lang.Double.doubleToRawLongBits(v(i).toFloat.toDouble) ==
        java.lang.Double.doubleToRawLongBits(v(i))) i += 1
    i == v.length
  }

  /** vec_id → position, open addressing over primitive arrays (linear
    * probing, at most 2/3 full). Positions are ≥ 0; a miss is −1.
    */
  private[NswWalk] final class IdMap(expected: Int) {
    private val cap = Integer.highestOneBit(math.max(4, expected + expected / 2 + 1) * 2 - 1)
    private val keys = new Array[Long](cap)
    private val vals = Array.fill(cap)(-1)
    private val mask = cap - 1
    private var size = 0

    private def slot(id: Long): Int = {
      var s = (java.lang.Long.hashCode(id * 0x9E3779B97F4A7C15L) ^ (id >>> 32).toInt) & mask
      while (vals(s) >= 0 && keys(s) != id) s = (s + 1) & mask
      s
    }

    def get(id: Long): Int = vals(slot(id))

    /** Maps `id` to `p`; throws IllegalArgumentException if `id` is mapped. */
    def add(id: Long, p: Int): Unit = {
      require(3L * (size + 1) <= 2L * cap, s"IdMap of $cap slots is full")
      val s = slot(id)
      if (vals(s) >= 0) throw new IllegalArgumentException(s"duplicate vec_id $id in the index")
      keys(s) = id; vals(s) = p; size += 1
    }

    /** A copy with room for `more` further ids. */
    def grown(more: Int): IdMap = {
      val m = new IdMap(size + more)
      var s = 0
      while (s < cap) { if (vals(s) >= 0) m.add(keys(s), vals(s)); s += 1 }
      m
    }

    def bytes: Long = 12L * cap
  }

  /** Walks queries over `g`. Its per-node state (seen, sim) is
    * allocated once and reset after each query at the positions that
    * query touched, so a query costs O(visited), not O(n). One walker
    * per thread.
    */
  final class Walker(g: Graph) {
    private val seen = new Array[Boolean](g.n)
    private val simNull = new Array[Boolean](g.n)
    private val sim = new Array[Double](g.n)

    private val rank: Ordering[Int] = (a, b) =>
      CosineRank.compare(simNull(a), sim(a), g.id(a), simNull(b), sim(b), g.id(b))

    /** Query `qid` (vector `qe`, nullable) walked from `seeds` (ids; any
      * order, duplicates allowed): its ranked top-k, best first.
      */
    def search(qid: Long, qe: Array[Double], seeds: Array[Long],
               k: Int, beam: Int, hops: Int, excludeSelf: Boolean): Array[Hit] = {
      val qNorm = if (qe == null) 0.0 else CosineRank.norm(qe)
      val visited = scala.collection.mutable.ArrayBuffer.empty[Int]
      val self = if (excludeSelf) g.indexOf(qid) else -1
      if (self >= 0) seen(self) = true

      def visit(p: Int): Unit = if (!seen(p)) {
        seen(p) = true
        if (qe == null || !g.scorable(p, qe.length)) simNull(p) = true
        else sim(p) = CosineRank.round4(g.cosine(qe, qNorm, p))
        visited += p
      }

      try {
        seeds.foreach { s => val p = g.indexOf(s); if (p >= 0) visit(p) }
        // hop 1 expands every seed; later hops the top `beam` visited
        var frontier = visited.toArray
        for (hop <- 1 to hops) {
          if (hop > 1) frontier = visited.sorted(rank).take(beam).toArray
          frontier.foreach(g.neighbours(_, visit))
        }
        visited.filter(g.allowed).sorted(rank).take(k).zipWithIndex.map { case (p, i) =>
          Hit(g.id(p), if (simNull(p)) null else sim(p), i + 1)
        }.toArray
      } finally {
        visited.foreach { p => seen(p) = false; simNull(p) = false }
        if (self >= 0) seen(self) = false
      }
    }
  }
}
