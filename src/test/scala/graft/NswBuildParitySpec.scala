package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Ann

/** `Ann.nswBuild` (one exchange + the per-cell NswCellGraph kernel) vs
  * the DataFrame build it replaced ([[NswBuildOracle]]): identical
  * (u, v, raw sim bits) edge sets on IVF and LSH cells of the sf0.1
  * vectors and on hand-built and generated edge inputs — singleton and
  * two-member cells, duplicate vectors (sim ties broken by v), zero
  * vectors (NaN sims), orthogonal and opposite pairs, mismatched
  * dimensions (null sims, ranked after every non-null), null vectors,
  * ids and cells. Every case runs the kernel with whole-stage codegen
  * on (generated code) and off (interpreted eval).
  */
class NswBuildParitySpec extends SparkSpec {
  import spark.implicits._

  // the sf0.1 tables (2,000 vectors) sit beside the default sfDir's
  private def corpus =
    Tables.embeddings(spark, new java.io.File(sfDir).getParent + "/sf0.1")
    .select(col("vec_id"), col("embedding"))

  private def edges(df: DataFrame): Seq[(Long, Long, Option[Long])] =
    df.select(col("u").cast("long"), col("v").cast("long"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2)))))
      .toSeq.sorted

  private def withWholeStage[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.codegen.wholeStage"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  private def assertParity(index: DataFrame, kNbr: Int, rounds: Int): Unit = {
    val idx = index.persist()
    try {
      val want = edges(NswBuildOracle.build(idx, kNbr, rounds))
      assert(want.nonEmpty)
      for (ws <- Seq(true, false)) {
        val built = withWholeStage(ws)(Ann.nswBuild(idx, kNbr, rounds))
        val got = edges(built)
        built.unpersist(blocking = true)
        assert(got == want,
          s"kNbr=$kNbr rounds=$rounds wholeStage=$ws: ${got.size} vs ${want.size} edges; " +
            s"only kernel ${got.diff(want).take(5)}; only oracle ${want.diff(got).take(5)}")
      }
    } finally idx.unpersist(blocking = true)
  }

  private def ivfIndex: DataFrame = {
    val cents = Ann.ivfFit(corpus, c = 45, iters = 2)
    Ann.ivfEncode(corpus, cents)
  }

  test("IVF cells: kNbr 8 rounds 2 and kNbr 12 rounds 3") {
    val index = ivfIndex.persist()
    assertParity(index, kNbr = 8, rounds = 2)
    assertParity(index, kNbr = 12, rounds = 3)
    index.unpersist(blocking = true)
  }

  test("LSH cells: nBits 4 and 9") {
    assertParity(Ann.nswLshIndex(corpus, nBits = 4), kNbr = 12, rounds = 2)
    assertParity(Ann.nswLshIndex(corpus, nBits = 9), kNbr = 12, rounds = 2)
  }

  test("rounds = 0: the ring alone") {
    assertParity(Ann.nswLshIndex(corpus, nBits = 4), kNbr = 8, rounds = 0)
  }

  /** An index over hand-given (cluster, vec_id, ve) rows; None = null. */
  private def cells(rows: Seq[(Option[Int], Option[Long], Option[Seq[Double]])]): DataFrame =
    rows.toDF("cluster", "vec_id", "ve")

  private def cell(c: Int, vecs: Seq[Double]*): Seq[(Option[Int], Option[Long], Option[Seq[Double]])] =
    vecs.zipWithIndex.map { case (v, i) => (Some(c), Some(c * 100L + i), Some(v)) }

  test("cells of 1 and 2 members: a singleton gets no edges") {
    val index = cells(cell(0, Seq(1.0, 0.0)) ++ cell(1, Seq(1.0, 2.0), Seq(2.0, 1.0)) ++
      cell(2, Seq(1.0, 1.0), Seq(0.5, 2.0), Seq(3.0, -1.0)))
    assertParity(index, kNbr = 3, rounds = 2)
    val got = edges(Ann.nswBuild(index, kNbr = 3, rounds = 2))
    assert(!got.exists(e => e._1 == 0L || e._2 == 0L), "singleton linked")
    assert(got.count(e => e._1 / 100 == 1) == 2, "two-member cell must link both ways")
  }

  test("duplicate vectors: sim ties broken by v") {
    val dup = Seq(0.6, 0.8, 0.0)
    assertParity(cells(cell(3, Seq.fill(9)(dup): _*) ++
      cell(4, dup, dup, Seq(0.0, 0.8, 0.6), dup, Seq(0.0, 0.8, 0.6), dup, dup)),
      kNbr = 3, rounds = 2)
  }

  test("zero vectors: NaN sims") {
    val z = Seq(0.0, 0.0, 0.0)
    assertParity(cells(cell(5, z, Seq(1.0, 2.0, 3.0), z, Seq(-1.0, 0.5, 2.0), z,
      Seq(3.0, 1.0, 0.0), Seq(0.1, 0.1, 0.1), z)), kNbr = 3, rounds = 2)
  }

  test("orthogonal and opposite pairs: zero, -0.0 and -1 sims") {
    val basis = (0 until 4).flatMap { i =>
      val e = Seq.tabulate(4)(j => if (j == i) 1.0 else 0.0)
      Seq(e, e.map(-_))
    }
    // a subnormal component underflows this pair's cosine to −0.0,
    // which the old build's distinct turned into 0.0
    val underflow = cell(9, Seq(1.0, 0.0), Seq(-java.lang.Double.MIN_VALUE, 1e10),
      Seq(0.0, 1.0))
    assertParity(cells(cell(6, basis: _*) ++ underflow), kNbr = 3, rounds = 2)
  }

  test("mismatched dimensions: null sims rank after every non-null") {
    assertParity(cells(cell(7, Seq(1.0, 0.0, 0.0), Seq(1.0, 1.0), Seq(0.0, 1.0, 0.0),
      Seq(0.5, 0.5), Seq(1.0, 1.0, 1.0), Seq(2.0), Seq(0.0, 0.0, 1.0))),
      kNbr = 3, rounds = 2)
  }

  test("null vectors, ids and cells") {
    val rows = cell(8, Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0), Seq(2.0, 1.0)) ++ Seq(
      (Some(8), Some(850L), None),
      (Some(8), None, Some(Seq(1.0, 3.0))),
      (None, Some(860L), Some(Seq(1.0, 0.0))),
      (None, Some(861L), Some(Seq(1.0, 0.5))))
    assertParity(cells(rows), kNbr = 3, rounds = 2)
  }

  test("generated edge inputs: mixed cell sizes, duplicates, zeros, short vectors") {
    val rnd = new scala.util.Random(20261017L)
    val pool = Seq(Seq(0.0, 0.0, 0.0), Seq(1.0, 0.0, 0.0), Seq(-1.0, 0.0, 0.0),
      Seq(0.0, 1.0, 0.0), Seq(0.6, 0.8, 0.0), Seq(1.0, 1.0))
    var id = 1000L
    val rows = (0 until 12).flatMap { c =>
      val size = Seq(1, 2, 3, 5, 9, 17)(rnd.nextInt(6))
      Seq.fill(size) {
        id += 1
        val v = if (rnd.nextInt(3) == 0) pool(rnd.nextInt(pool.size))
          else Seq.fill(3)(rnd.nextInt(5) - 2.0)
        (Option(10 + c), Option(id), Option(v))
      }
    }
    assertParity(cells(rows), kNbr = 2, rounds = 3)
    assertParity(cells(rows), kNbr = 5, rounds = 1)
  }
}
