package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Ann

/** `Ann.nswSearch`/`nswSearchLsh` (driver routing, [[graft.plans.IvfProbe]],
  * and the one-pass driver walk, [[graft.plans.NswWalk]]) vs the
  * DataFrame walk it replaced ([[NswWalkOracle]]) seeded by the
  * DataFrame routing the routers replaced: identical (qid, cid,
  * raw sim bits, rn) answers and id types. Cases: the IVF face on the
  * sf0.1 vectors (fresh and corpus queries, `excludeSelf` on and off,
  * a predicate, an appended segment the graph does not reach,
  * hops = 0, beam = 1, k = 50, a zero query's NaN sims, a short
  * query's null sims), the LSH face (compiled and interpreted) before
  * and after `nswInsert` links a batch in and on queries with a null
  * element, and hand-built edge inputs — edges naming absent
  * ids, probed cells without entries, null vectors, null predicate
  * values, duplicate vectors (sim ties broken by cid) — plus a seeded
  * generated mix of all of them.
  */
class NswWalkParitySpec extends SparkSpec {
  import spark.implicits._

  // the sf0.1 tables (2,000 vectors) sit beside the default sfDir's
  private lazy val corpus =
    Tables.embeddings(spark, new java.io.File(sfDir).getParent + "/sf0.1")
      .select(col("vec_id"), col("embedding"), col("label"))
      .localCheckpoint()

  private def answers(df: DataFrame): Seq[(Long, Long, Option[Long], Int)] =
    df.select(col("qid").cast("long"), col("cid").cast("long"), col("sim"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))),
        r.getInt(3)))
      .toSeq.sorted

  private def assertSame(got: DataFrame, want: DataFrame, nonEmpty: Boolean = true): Unit = {
    assert(got.schema.map(_.dataType) == want.schema.map(_.dataType),
      s"schema ${got.schema.simpleString} vs oracle ${want.schema.simpleString}")
    val (g, w) = (answers(got), answers(want))
    if (nonEmpty) assert(w.nonEmpty, "oracle answered nothing")
    assert(g == w, s"${g.size} vs ${w.size} rows; only walk ${g.diff(w).take(5)}; " +
      s"only oracle ${w.diff(g).take(5)}")
  }

  private def ivfCase(cents: Seq[(Int, Seq[Double])], edges: DataFrame,
                      index: DataFrame, entries: DataFrame, queries: DataFrame,
                      k: Int = 5, beam: Int = 16, hops: Int = 4, nprobe: Int = 4,
                      excludeSelf: Boolean = true, pred: Option[Column] = None,
                      nonEmpty: Boolean = true): Unit =
    assertSame(
      Ann.nswSearch(cents, edges, index, entries, queries, k, beam, hops, nprobe,
        excludeSelf, pred),
      NswWalkOracle.walk(NswWalkOracle.seedsIvf(cents, queries, entries, nprobe), edges,
        index, queries, k, beam, hops, excludeSelf, pred),
      nonEmpty)

  /** The LSH face against the oracle walk seeded by the oracle's LSH
    * routing, compiled and interpreted.
    */
  private def lshCase(edges: DataFrame, index: DataFrame, entries: DataFrame,
                      queries: DataFrame, nBits: Int, k: Int = 5, beam: Int = 16,
                      hops: Int = 3): Unit =
    bothModes { _ =>
      assertSame(
        Ann.nswSearchLsh(edges, index, entries, queries, k, nBits, beam, hops),
        NswWalkOracle.walk(NswWalkOracle.seedsLsh(queries, entries, nBits), edges, index,
          queries, k, beam, hops, excludeSelf = true))
    }

  /** Corpus vectors moved off the data: ids shifted by `idBase`. */
  private def near(ids: Column, idBase: Long): DataFrame =
    corpus.filter(ids).select((col("vec_id") + idBase).as("vec_id"),
      expr("transform(embedding, (x, i) -> x + 0.05 * sin(i + vec_id))").as("embedding"))

  private lazy val cents = Ann.ivfFit(corpus, c = 45, iters = 2)
  private lazy val index = Ann.ivfEncode(corpus, cents).localCheckpoint()
  private lazy val edges = Ann.nswBuild(index, kNbr = 12, rounds = 3)
  private lazy val entries = Ann.nswEntriesSampled(index).localCheckpoint()
  private lazy val fresh = near(col("vec_id") % 50 === 3, 1000000L)

  test("IVF face: fresh batches, excludeSelf off and on, nprobe 4 and 2") {
    ivfCase(cents, edges, index, entries, fresh, excludeSelf = false)
    ivfCase(cents, edges, index, entries, near(col("vec_id") % 40 === 7, 2000000L),
      nprobe = 2)
  }

  test("IVF face: corpus queries with excludeSelf on and off") {
    val own = corpus.filter(col("vec_id") % 60 === 1).select("vec_id", "embedding")
    ivfCase(cents, edges, index, entries, own)
    ivfCase(cents, edges, index, entries, own, excludeSelf = false)
  }

  test("IVF face: a predicate ranks only allowed visited nodes") {
    ivfCase(cents, edges, index.join(corpus.select("vec_id", "label"), Seq("vec_id")),
      entries, fresh, pred = Some(col("label") % 3 === 0))
  }

  test("IVF face: after a 500-vector append the graph does not reach") {
    val added = Ann.ivfEncode(near(col("vec_id") < 500, 3000000L), cents)
    val queries = near(col("vec_id") % 25 === 0, 4000000L)
      .unionByName(near(col("vec_id") % 50 === 0, 3000000L))
    ivfCase(cents, edges, index.unionByName(added), entries, queries,
      excludeSelf = false)
  }

  test("IVF face: hops = 0, beam = 1, k = 50") {
    ivfCase(cents, edges, index, entries, fresh, hops = 0)
    ivfCase(cents, edges, index, entries, fresh, beam = 1)
    ivfCase(cents, edges, index, entries, fresh, k = 50)
  }

  test("IVF face: a zero query's NaN sims and a 32-d query's null sims") {
    val odd = Seq((9000001L, Seq.fill(64)(0.0f)), (9000002L, Seq.tabulate(32)(i => (i % 5).toFloat)))
      .toDF("vec_id", "embedding")
    ivfCase(cents, edges, index, entries, odd)
  }

  private val nBits = 5
  private lazy val lshIndex = Ann.nswLshIndex(corpus.select("vec_id", "embedding"), nBits)
    .localCheckpoint()
  private lazy val lshEdges = Ann.nswBuild(lshIndex, kNbr = 12, rounds = 2)

  test("LSH face") {
    lshCase(lshEdges, lshIndex, Ann.nswEntriesSampled(lshIndex), fresh, nBits)
  }

  test("LSH face on a graph nswInsert extended (cross-cell edges)") {
    val batch = near(col("vec_id") % 20 === 11, 5000000L)
    val (i1, e1) = Ann.nswInsert(batch, lshIndex, lshEdges, nBits, kNbr = 8)
    val index1 = i1.localCheckpoint()
    val queries = near(col("vec_id") % 40 === 11, 6000000L)
      .unionByName(near(col("vec_id") % 50 === 17, 7000000L))
    lshCase(e1.localCheckpoint(), index1, Ann.nswEntriesSampled(index1), queries, nBits)
  }

  test("LSH face: a query with a null element routes from bucket 0, as the hyperplane kernel hashes it") {
    // the router must take the bucket from the raw array: read as 0.0,
    // the null element hashes the vector into another bucket
    val withNull = fresh.withColumn("embedding",
      expr("transform(embedding, (x, i) -> if(i = 5, null, x))"))
    val zeroFilled = fresh.withColumn("embedding",
      expr("transform(embedding, (x, i) -> if(i = 5, 0.0f, x))"))
    val entries = Ann.nswEntriesSampled(lshIndex)
    def seeds(qs: DataFrame) = NswWalkOracle.seedsLsh(qs, entries, nBits).collect().toSet
    assert(seeds(withNull) != seeds(zeroFilled), "the input does not tell the two readings apart")
    lshCase(lshEdges, lshIndex, entries, withNull, nBits)
  }

  // ---- hand-built edge inputs over three axis cells ----------------------

  private val axes = Seq((0, Seq(1.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0)),
    (2, Seq(0.0, 0.0, 1.0)))

  /** (vec_id, ve, cluster, tag); None = null. */
  private def handIndex(rows: Seq[(Option[Long], Option[Seq[Double]], Int, Option[String])]) =
    rows.toDF("vec_id", "ve", "cluster", "tag")

  private def handEdges(pairs: (Option[Long], Option[Long])*) =
    pairs.map { case (u, v) => (u, v, 0.5) }.toDF("u", "v", "sim")

  private def handQueries(qs: (Long, Seq[Float])*) = qs.toDF("vec_id", "embedding")

  private def chain(ids: Seq[Long]): Seq[(Option[Long], Option[Long])] =
    ids.zip(ids.tail).map { case (a, b) => (Some(a), Some(b)) }

  private val handRows = Seq.tabulate(12) { i =>
    (Option(100L + i), Option(Seq(1.0, i * 0.1, (i % 3) * 0.2)), 0, Option(if (i % 2 == 0) "a" else "b"))
  } ++ Seq.tabulate(6) { i =>
    (Option(200L + i), Option(Seq(i * 0.3, 1.0, 0.1)), 1, Option("a"))
  }
  private lazy val handEntries = Seq((0, 100L), (1, 200L)).toDF("cluster", "vec_id")
  private lazy val handQs = handQueries((1L, Seq(1.0f, 0.25f, 0.1f)), (2L, Seq(0.2f, 1.0f, 0.0f)))

  test("edges that name ids absent from the index") {
    val e = handEdges(chain((100L to 111L) ++ (200L to 205L)) ++ Seq(
      (Some(100L), Some(9999L)), (Some(8888L), Some(103L)), (Some(8888L), Some(9999L)),
      (Some(104L), None), (None, Some(201L))): _*)
    ivfCase(axes, e, handIndex(handRows), handEntries, handQs, k = 4, beam = 2,
      hops = 3, nprobe = 1)
  }

  test("a query whose probed cells have no entries") {
    val e = handEdges(chain(100L to 111L): _*)
    val qs = handQs.unionByName(handQueries((3L, Seq(0.0f, 0.1f, 1.0f))))
    val got = Ann.nswSearch(axes, e, handIndex(handRows), handEntries, qs, k = 4,
      beam = 2, hops = 3, nprobe = 1)
    assert(got.filter(col("qid") === 3L).isEmpty, "a query without seeds answered")
    ivfCase(axes, e, handIndex(handRows), handEntries, qs, k = 4, beam = 2,
      hops = 3, nprobe = 1)
  }

  test("null index vectors: null sims rank after every non-null") {
    val rows = handRows.map { case r @ (id, _, c, t) =>
      if (id.exists(i => i % 4 == 1)) (id, None, c, t) else r
    } ++ Seq((None, Some(Seq(1.0, 0.0, 0.0)), 0, Some("a")))
    val e = handEdges(chain((100L to 111L) ++ (200L to 205L)) ++
      Seq((Some(100L), Some(105L)), (Some(101L), Some(200L))): _*)
    ivfCase(axes, e, handIndex(rows), handEntries, handQs, k = 6, beam = 2,
      hops = 4, nprobe = 2)
  }

  test("null predicate values count as false") {
    val rows = handRows.map { case (id, v, c, t) =>
      (id, v, c, if (id.exists(_ % 3 == 0)) None else t)
    }
    val e = handEdges(chain((100L to 111L) ++ (200L to 205L)): _*)
    ivfCase(axes, e, handIndex(rows), handEntries, handQs, k = 5, beam = 3,
      hops = 4, nprobe = 2, pred = Some(col("tag") === "a"))
  }

  test("duplicate vectors: sim ties broken by cid") {
    val dup = Seq(0.6, 0.8, 0.0)
    val rows = Seq.tabulate(14) { i =>
      (Option(300L + (i * 5) % 14), Option(if (i % 4 == 3) Seq(0.8, 0.6, 0.0) else dup), 1,
        Option("a"))
    }
    val ents = Seq((1, 305L), (1, 310L)).toDF("cluster", "vec_id")
    val e = handEdges(chain((300L to 313L).reverse) ++
      Seq((Some(305L), Some(300L)), (Some(310L), Some(313L))): _*)
    ivfCase(axes, e, handIndex(rows), ents,
      handQueries((1L, Seq(0.6f, 0.8f, 0.0f)), (2L, Seq(0.0f, 1.0f, 0.0f))),
      k = 5, beam = 2, hops = 3, nprobe = 1)
  }

  test("generated edge inputs: random graphs, zeros, duplicates, nulls, short vectors") {
    val rnd = new scala.util.Random(20261017L)
    val pool = Seq(Seq(0.0, 0.0, 0.0), Seq(1.0, 0.0, 0.0), Seq(-1.0, 0.0, 0.0),
      Seq(0.0, 1.0, 0.0), Seq(0.6, 0.8, 0.0), Seq(1.0, 1.0))
    val rows = (0 until 60).map { i =>
      val v = rnd.nextInt(8) match {
        case 0 => None
        case 1 | 2 => Some(pool(rnd.nextInt(pool.size)))
        case _ => Some(Seq.fill(3)(rnd.nextInt(5) - 2.0))
      }
      (Option(1000L + i), v, rnd.nextInt(3),
        Seq(Some("a"), Some("b"), None)(rnd.nextInt(3)))
    }
    val e = handEdges(Seq.fill(150)((Option(1000L + rnd.nextInt(64)),
      Option(1000L + rnd.nextInt(64)))): _*)
    val ents = (0 until 8).map(_ => (rnd.nextInt(3), 1000L + rnd.nextInt(60)))
      .toDF("cluster", "vec_id")
    val qs = handQueries((1000L, Seq(1.0f, 0.0f, 0.0f)), (1003L, Seq(0.0f, 0.0f, 0.0f)),
      (7L, Seq(0.5f, 0.5f, -1.0f)), (8L, Seq(1.0f, 2.0f)), (9L, Seq(-1.0f, 1.0f, 1.0f)))
    ivfCase(axes, e, handIndex(rows), ents, qs, k = 4, beam = 1, hops = 2, nprobe = 2)
    ivfCase(axes, e, handIndex(rows), ents, qs, k = 7, beam = 3, hops = 5, nprobe = 3,
      pred = Some(col("tag") =!= "b"))
  }
}
