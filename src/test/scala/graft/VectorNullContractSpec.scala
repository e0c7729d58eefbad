package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Ann

/** The null-element contract of graft's five vector kernels, as it is
  * today: a null element of a non-null vector reads as 0.0.
  *   - `CosineSim` and `L2Sq` read it through `ArrayData.getDouble`;
  *   - `IvfProbe` (the routed index scan), `NswWalk` (the driver-side
  *     graph walk) and `CosineRank` (the cosine, rounding and ranking
  *     both share) mirror that reading on purpose, so that the ANN
  *     search faces equal the DataFrame searches they replaced. Both
  *     the query batch and the index vectors `Ann.nswSearch` collects
  *     for its walk decode that way.
  *
  * Each kernel is fed partly-null vectors and the same vectors with
  * every null element replaced by 0.0, under whole-stage codegen and
  * interpreted; the answers must be bit for bit the same, and never
  * null. The HOF oracles give null on such a vector instead. Which
  * reading is right is not settled here: a change to it is a change to
  * all five kernels together, and this spec is what shows it.
  */
class VectorNullContractSpec extends SparkSpec {

  private val vecType = ArrayType(DoubleType, containsNull = true)

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def zeroFilled(v: Seq[java.lang.Double]): Seq[java.lang.Double] =
    v.map(x => if (x == null) java.lang.Double.valueOf(0.0) else x)

  private def d(xs: java.lang.Double*): Seq[java.lang.Double] = xs

  private val nul: java.lang.Double = null

  private val pairs = Seq(
    d(0.6, nul, 0.8) -> d(0.5, 0.5, nul),
    d(nul, 2.0, -1.0) -> d(3.0, nul, 4.0),
    d(1.0, 2.0, 3.0) -> d(nul, nul, 1.0))

  test("CosineSim and L2Sq read a null element as 0.0 (the HOF oracles give null)") {
    val schema = StructType(Seq(StructField("i", IntegerType),
      StructField("a", vecType), StructField("b", vecType),
      StructField("a0", vecType), StructField("b0", vecType)))
    val df = frame(schema, pairs.zipWithIndex.map { case ((a, b), i) =>
      Row(i, a, b, zeroFilled(a), zeroFilled(b))
    })
    bothModes { mode =>
      val got = df.select(col("i"),
          expr("graft_cosine(a, b)"), expr("graft_cosine(a0, b0)"),
          expr("graft_l2sq(a, b)"), expr("graft_l2sq(a0, b0)"),
          HofOracles.cosineHof("a", "b"), HofOracles.l2sqHof("a", "b"))
        .collect().sortBy(_.getInt(0))
      assert(got.length == pairs.length)
      got.foreach { r =>
        Seq(1, 3).foreach { c =>
          assert(!r.isNullAt(c), s"$mode row ${r.getInt(0)}: kernel gave null")
          assert(java.lang.Double.doubleToRawLongBits(r.getDouble(c)) ==
            java.lang.Double.doubleToRawLongBits(r.getDouble(c + 1)),
            s"$mode row ${r.getInt(0)}: ${r.getDouble(c)} vs zero-filled ${r.getDouble(c + 1)}")
        }
        assert(r.isNullAt(5) && r.isNullAt(6), s"$mode: the HOF oracles read null elements as null")
      }
    }
  }

  // a 3-d world small enough to reason about: two cells, four index
  // vectors (three partly null), two partly-null queries
  private val cents = Seq(0 -> Seq(1.0, 0.0, 0.0), 1 -> Seq(0.0, 1.0, 0.0))
  private val indexVecs = Seq(
    (1L, d(0.9, nul, 0.1), 0), (2L, d(0.2, 0.8, nul), 1),
    (3L, d(0.5, 0.5, 0.5), 0), (4L, d(nul, 0.9, 0.2), 1))
  private val queryVecs = Seq(10L -> d(0.7, nul, 0.3), 11L -> d(nul, 1.0, 0.1))

  private def index(fill: Boolean): DataFrame =
    frame(StructType(Seq(StructField("vec_id", LongType), StructField("ve", vecType),
        StructField("cluster", IntegerType))),
      indexVecs.map { case (id, v, c) => Row(id, if (fill) zeroFilled(v) else v, c) })

  private def queries(fill: Boolean): DataFrame =
    frame(StructType(Seq(StructField("vec_id", LongType), StructField("embedding", vecType))),
      queryVecs.map { case (id, v) => Row(id, if (fill) zeroFilled(v) else v) })

  private def answers(df: DataFrame): Seq[(Long, Long, Long, Int)] =
    df.select(col("qid").cast("long"), col("cid").cast("long"), col("sim"), col("rn"))
      .collect().map { r =>
        assert(!r.isNullAt(2), s"a partly-null vector scored null: $r")
        (r.getLong(0), r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          r.getInt(3))
      }.toSeq.sorted

  test("IvfProbe and CosineRank (Ann.ivfSearch) read a null element as 0.0") {
    bothModes { mode =>
      val got = answers(Ann.ivfSearch(cents, index(false), queries(false), k = 4,
        nprobe = 2, excludeSelf = false))
      val want = answers(Ann.ivfSearch(cents, index(true), queries(true), k = 4,
        nprobe = 2, excludeSelf = false))
      assert(got.length == 8, s"$mode: every query ranks all four vectors")
      assert(got == want, s"$mode: partly-null $got vs zero-filled $want")
    }
  }

  test("NswWalk and CosineRank (Ann.nswSearch) read a null element as 0.0") {
    val edges = frame(StructType(Seq(StructField("u", LongType), StructField("v", LongType))),
      Seq(Row(1L, 2L), Row(2L, 3L), Row(3L, 4L), Row(1L, 4L)))
    val entries = frame(StructType(Seq(StructField("cluster", IntegerType),
      StructField("vec_id", LongType))), Seq(Row(0, 1L), Row(1, 2L)))
    def search(idx: DataFrame, qs: DataFrame) = answers(Ann.nswSearch(cents, edges, idx,
      entries, qs, k = 4, beam = 4, hops = 2, nprobe = 2, excludeSelf = false))
    bothModes { mode =>
      val want = search(index(true), queries(true))
      assert(want.length == 8, s"$mode: the walk reaches all four vectors from either seed")
      for (fillIndex <- Seq(true, false); fillQueries <- Seq(true, false))
        assert(search(index(fillIndex), queries(fillQueries)) == want,
          s"$mode: partly-null (index filled $fillIndex, queries filled $fillQueries) " +
            "vs zero-filled")
    }
  }
}
