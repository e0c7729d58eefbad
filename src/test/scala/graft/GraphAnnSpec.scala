package graft

import org.apache.spark.sql.functions._
import graft.operators.Ann

/** Partitioned-NSW graph ANN (r14): cell-local ring init + sampled
  * NN-Descent + centroid-routed beam search. The planted-twin top-1 law
  * is oracled by q203; these pin the structural laws.
  */
class GraphAnnSpec extends SparkSpec {

  private def embs = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))
  private def queries = embs.filter(col("vec_id") < 8)

  test("graph build: degree bounded by kNbr, no self-edges, edges deterministic") {
    val index = Ann.nswLshIndex(embs, nBits = 4)
    val e1 = Ann.nswBuild(index, kNbr = 6, rounds = 2)
    val rows = e1.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.nonEmpty)
    assert(!rows.exists(p => p._1 == p._2), "self-edge leaked")
    val deg = rows.groupBy(_._1).map(_._2.size)
    // refined top-kNbr links + the permanent ring spine
    assert(deg.max <= 12, s"degree ${deg.max} > 2*kNbr")
    val e2 = Ann.nswBuild(index, kNbr = 6, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.sorted == e2.sorted, "build is not deterministic")
  }

  test("search output shape: <= k rows per query, rn contiguous, sims non-increasing") {
    val got = Ann.nswKnnLsh(embs, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byQ = got.groupBy(_._1)
    assert(byQ.nonEmpty)
    for ((q, rows) <- byQ) {
      assert(rows.length <= 5, s"$q returned ${rows.length} rows")
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length), s"$q rn gap")
      val sims = rows.sortBy(_._4).map(_._3)
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, s"$q sims not sorted")
      assert(!rows.exists(_._2 == q), s"$q returned itself")
    }
  }

  test("filtered walk: twins of allowed vectors surface top-1, disallowed never in results") {
    // q222's graph face: the walk traverses the FULL graph (connectivity
    // through disallowed nodes intact) but the final k-list holds only
    // predicate-satisfying nodes — a twin query of an even-label vector
    // finds its original at sim 1.0; a twin of an odd-label vector must
    // NOT see its original, and no odd-label cid may appear anywhere.
    val full = Tables.embeddings(spark, sfDir)
    val plain = Ann.nswLshIndex(full.select(col("vec_id"), col("embedding")),
      nBits = 4)
    val edges = Ann.nswBuild(plain, kNbr = 6, rounds = 2)
    val index = plain.join(full.select(col("vec_id"), col("label")), Seq("vec_id"))
    val twins = full.filter(col("vec_id") < 8)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val got = Ann.nswSearchLshFiltered(edges, index,
      Ann.nswEntriesSampled(plain), twins, k = 3, nBits = 4,
      pred = col("label") % 2 === 0)
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.nonEmpty)
    val even = full.filter(col("label") % 2 === 0).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => even(r._2)),
      s"disallowed cid leaked: ${rows.filterNot(r => even(r._2)).mkString(", ")}")
    for (orig <- 0L until 8L) {
      val top1 = rows.filter(r => r._1 == orig + 1000000L && r._4 == 1).headOption
      if (even(orig))
        assert(top1.exists(r => r._2 == orig && r._3 == 1.0),
          s"allowed twin $orig not top-1: $top1")
      else
        assert(!rows.exists(r => r._1 == orig + 1000000L && r._2 == orig),
          s"disallowed original $orig leaked into its twin's k-list")
    }
  }

  test("planted twins surface top-1 at sim 1.0 through the graph walk") {
    val twins = queries.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"))
    val got = Ann.nswKnnLsh(embs, twins, k = 3)
      .filter(col("rn") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = queries.select("vec_id").collect()
      .map(r => (r.getLong(0) + 1000000L, r.getLong(0), 1.0)).toSet
    assert(got == want, s"twin walk failed: $got")
  }

  test("a duplicate vec_id in the index fails the search, naming the id") {
    val index = Ann.nswLshIndex(embs, nBits = 4)
    val edges = Ann.nswBuild(index, kNbr = 6, rounds = 2)
    val doubled = index.unionByName(index.filter(col("vec_id") === 17L))
    val e = intercept[IllegalArgumentException] {
      Ann.nswSearchLsh(edges, doubled, Ann.nswEntries(index), queries, k = 5, nBits = 4)
    }
    assert(e.getMessage.contains("vec_id 17 "), e.getMessage)
  }

  test("a duplicate vec_id among the queries fails the search, naming the id") {
    val index = Ann.nswLshIndex(embs, nBits = 4)
    val edges = Ann.nswBuild(index, kNbr = 6, rounds = 2)
    val doubled = queries.unionByName(queries.filter(col("vec_id") === 5L))
    val e = intercept[IllegalArgumentException] {
      Ann.nswSearchLsh(edges, index, Ann.nswEntries(index), doubled, k = 5, nBits = 4)
    }
    assert(e.getMessage.contains("vec_id 5 "), e.getMessage)
  }
}
