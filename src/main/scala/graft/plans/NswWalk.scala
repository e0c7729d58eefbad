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

  /** The index rows by position (vec_ids unique, vectors nullable,
    * predicate bits) and the undirected adjacency over them, built from
    * (u, v) edges. Edges naming an id absent from the index are
    * dropped: their other end could never be visited through them.
    * Memory: O(n·dim) for the vectors plus O(edges) for the adjacency.
    */
  final class Graph(ids: Array[Long], vecs: Array[Array[Double]],
                    ok: Array[Boolean], edges: Array[(Long, Long)]) {
    require(ids.length == vecs.length && ids.length == ok.length,
      s"${ids.length} ids, ${vecs.length} vectors, ${ok.length} predicate bits")
    val n: Int = ids.length

    private val pos = new scala.collection.mutable.LongMap[Int](n)
    ids.indices.foreach { i =>
      if (pos.put(ids(i), i).isDefined)
        throw new IllegalArgumentException(s"duplicate vec_id ${ids(i)} in the index")
    }

    def indexOf(id: Long): Int = pos.getOrElse(id, -1)

    // √Σx² per vector, summed in CosineSim.compute's order: its two
    // norms depend on one vector each, so hoisting them keeps the bits
    private[NswWalk] val norms = vecs.map(v => if (v == null) 0.0 else CosineRank.norm(v))

    // CSR adjacency, both directions of every edge
    private val (off, adj) = {
      val a = edges.map(e => indexOf(e._1))
      val b = edges.map(e => indexOf(e._2))
      def live(i: Int) = a(i) >= 0 && b(i) >= 0
      val off = new Array[Int](n + 1)
      for (i <- edges.indices if live(i)) { off(a(i) + 1) += 1; off(b(i) + 1) += 1 }
      for (x <- 0 until n) off(x + 1) += off(x)
      val fill = off.clone()
      val adj = new Array[Int](off(n))
      for (i <- edges.indices if live(i)) {
        adj(fill(a(i))) = b(i); fill(a(i)) += 1
        adj(fill(b(i))) = a(i); fill(b(i)) += 1
      }
      (off, adj)
    }

    private[NswWalk] def id(p: Int): Long = ids(p)
    private[NswWalk] def vec(p: Int): Array[Double] = vecs(p)
    private[NswWalk] def allowed(p: Int): Boolean = ok(p)
    private[NswWalk] def neighbours(p: Int, f: Int => Unit): Unit = {
      var j = off(p)
      while (j < off(p + 1)) { f(adj(j)); j += 1 }
    }
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
        val v = g.vec(p)
        if (qe == null || v == null || qe.length != v.length) simNull(p) = true
        else sim(p) = CosineRank.round4(CosineRank.cosine(qe, qNorm, v, g.norms(p)))
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
