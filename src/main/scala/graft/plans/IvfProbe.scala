package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow

import CosineRank.{Hit, TopK}

/** The routing of a collected query batch and the one-scan search
  * behind `Ann`'s IVF and LSH faces, pure Scala over plain arrays and
  * internal rows. Every batch routing lives here: flat IVF
  * ([[Router]]), two-level IVF ([[HierRouter]]) and multi-probe LSH
  * ([[LshRouter]]). IvfSearchParitySpec and NswWalkParitySpec pin
  * (qid, cid, sim bits, rn) equality with the DataFrame routings and
  * searches they replaced (every NaN counting as one value).
  *
  * Scores and rankings are [[CosineRank]]'s. Routing ranks centroids by
  * their unrounded cosine to the query, so a null query vector probes
  * the lowest cids (the highest, under the two-level router).
  * Candidates rank by sim, rounded to 4 places. A NaN sim's raw bits
  * are not part of the contract (see [[CosineRank]]): every NaN is one
  * value, ranked above every number.
  */
object IvfProbe {

  /** Routes queries against a centroid model of (cid, vector) pairs; a
    * centroid vector may be null. Centroids rank by sim descending
    * ([[CosineRank.compare]]), then by cid ascending or, with
    * `tiesToHigherCid`, descending.
    */
  final class Router(cents: Seq[(Int, Seq[Double])], tiesToHigherCid: Boolean = false) {
    private val cids = cents.map(_._1).toArray
    private val vecs = cents.map(c => if (c._2 == null) null else c._2.toArray).toArray
    private val norms = vecs.map(v => if (v == null) 0.0 else CosineRank.norm(v))
    // TopK breaks ties by ascending id, so a negated cid ranks descending
    private val sign = if (tiesToHigherCid) -1L else 1L

    /** The cids of the `nprobe` centroids closest to `qe` (nullable),
      * best first.
      */
    def route(qe: Array[Double], nprobe: Int): Array[Int] = {
      val top = new TopK(math.min(nprobe, cids.length))
      val qNorm = if (qe == null) 0.0 else CosineRank.norm(qe)
      var i = 0
      while (i < cids.length) {
        val v = vecs(i)
        if (qe == null || v == null || v.length != qe.length) top.offer(sign * cids(i), isNull = true, 0.0)
        else top.offer(sign * cids(i), isNull = false, CosineRank.cosine(qe, qNorm, v, norms(i)))
        i += 1
      }
      val out = Array.newBuilder[Int]
      top.foreachRanked((id, _, _) => out += (sign * id).toInt)
      out.result()
    }
  }

  /** Routes queries against a two-level model: super centroids (scid,
    * vector) and children (parent scid, child cid, vector), whose leaf
    * cell is `parent · cChild + child cid`.
    */
  final class HierRouter(superCents: Seq[(Int, Seq[Double])],
                         children: Seq[(Int, Int, Seq[Double])], cChild: Int) {
    private val supers = new Router(superCents, tiesToHigherCid = true)
    private val kids: Map[Int, Router] = children.groupBy(_._1).map { case (p, cs) =>
      p -> new Router(cs.map(c => (c._2, c._3)), tiesToHigherCid = true)
    }

    /** The leaf cells of `qe` (nullable): the `nprobeSuper` closest
      * super centroids, then within each the `nprobePerSuper` closest
      * children. Ties at both levels go to the higher id, as in the
      * encode argmax (`NearestCentroidId`), so a vector identical to an
      * indexed one always probes that vector's leaf.
      */
    def route(qe: Array[Double], nprobeSuper: Int, nprobePerSuper: Int): Array[Int] =
      supers.route(qe, nprobeSuper).flatMap { p =>
        kids.get(p).fold(Array.emptyIntArray)(_.route(qe, nprobePerSuper).map(p * cChild + _))
      }
  }

  /** Multi-probe LSH routing over `nBits`-bit sign buckets: a query's
    * own bucket, then the bucket with bit i flipped for i = 0 until
    * nBits — the probe set `Ann.lshProbeSet` computes in SQL. The
    * bucket comes from the hyperplane kernel on the query's own array
    * (a null vector or element gives bucket 0). Buckets are below 2³¹
    * for nBits ≤ 31, so the cells are ints.
    */
  final class LshRouter(nBits: Int) {
    require(nBits >= 1 && nBits <= 31, s"LSH nBits must be in 1..31, got $nBits")

    def route(bucket: Long): Array[Int] =
      (bucket +: Array.tabulate(nBits)(i => bucket ^ (1L << i))).map(_.toInt)
  }

  /** One task's best candidates for query `q` (a position in the batch).
    * Sims travel as raw bits: Java serialization would canonicalize a
    * NaN's sign and payload.
    */
  final case class Part(q: Int, ids: Array[Long], nulls: Array[Boolean], simBits: Array[Long])

  /** The scan of the probed cells for a batch of queries: query `i` has
    * id `qids(i)`, vector `qvecs(i)` (nullable) and probes the cells
    * `probes(i)` (a cell probed twice yields its candidates twice).
    * `excludeSelf` drops a candidate whose id equals the query's. As a
    * function it is the scan's task ([[Tasks.collect]]).
    */
  final class Scan(qids: Array[Long], qvecs: Array[Array[Double]],
                   probes: Array[Array[Int]], k: Int, excludeSelf: Boolean)
      extends ((TaskContext, Iterator[InternalRow]) => Array[Part]) with Serializable {
    require(qids.length == qvecs.length && qids.length == probes.length,
      s"${qids.length} ids, ${qvecs.length} vectors, ${probes.length} probe lists")

    private val qNorms = qvecs.map(v => if (v == null) 0.0 else CosineRank.norm(v))

    /** cell → the queries probing it */
    private val byCell: Map[Int, Array[Int]] =
      probes.indices.flatMap(q => probes(q).map(_ -> q)).groupMap(_._1)(_._2)
        .map { case (c, qs) => c -> qs.toArray }

    /** The cells any query probes. */
    def cells: Array[Int] = byCell.keys.toArray.sorted

    /** Scores every (vec_id: bigint, ve: array<double>, cluster: int)
      * row against the queries probing its cell, keeping each query's
      * best `k`; emits at most one [[Part]] per query. Rows with a null
      * id, a null cluster or a cell no query probes take no part, so
      * `rows` may be the whole index; a null vector or one whose
      * dimension differs from the query's scores null. Memory:
      * O(queries · k) plus one vector.
      */
    def run(rows: Iterator[InternalRow]): Iterator[Part] = {
      val tops = new Array[TopK](qids.length)
      var buf = new Array[Double](0)
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(2)) byCell.get(r.getInt(2)).foreach { qs =>
          val cid = r.getLong(0)
          val v = if (r.isNullAt(1)) null else {
            val a = r.getArray(1)
            if (buf.length != a.numElements()) buf = new Array[Double](a.numElements())
            var i = 0
            while (i < buf.length) { buf(i) = a.getDouble(i); i += 1 }
            buf
          }
          val vNorm = if (v == null) 0.0 else CosineRank.norm(v)
          qs.foreach { q =>
            if (!excludeSelf || qids(q) != cid) {
              if (tops(q) == null) tops(q) = new TopK(k)
              val qe = qvecs(q)
              if (qe == null || v == null || qe.length != v.length) tops(q).offer(cid, isNull = true, 0.0)
              else tops(q).offer(cid, isNull = false,
                CosineRank.round4(CosineRank.cosine(qe, qNorms(q), v, vNorm)))
            }
          }
        }
      }
      tops.indices.iterator.filter(q => tops(q) != null).map(q => part(q, tops(q)))
    }

    /** One task's [[run]]. */
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[Part] = run(rows).toArray

    /** Each query's ranked top-k over every task's [[Part]]s. */
    def merge(parts: Iterable[Part]): Array[Array[Hit]] = {
      val tops = Array.fill(qids.length)(new TopK(k))
      parts.foreach { p =>
        p.ids.indices.foreach { i =>
          tops(p.q).offer(p.ids(i), p.nulls(i), java.lang.Double.longBitsToDouble(p.simBits(i)))
        }
      }
      tops.map { t =>
        val out = Array.newBuilder[Hit]
        var rn = 0
        t.foreachRanked { (cid, isNull, sim) =>
          rn += 1
          out += Hit(cid, if (isNull) null else sim, rn)
        }
        out.result()
      }
    }

    private def part(q: Int, t: TopK): Part = {
      val ids = Array.newBuilder[Long]
      val nulls = Array.newBuilder[Boolean]
      val sims = Array.newBuilder[Long]
      t.foreachRanked { (id, isNull, sim) =>
        ids += id; nulls += isNull; sims += java.lang.Double.doubleToRawLongBits(sim)
      }
      Part(q, ids.result(), nulls.result(), sims.result())
    }
  }
}
