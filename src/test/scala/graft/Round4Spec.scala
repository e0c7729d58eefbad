package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.plans.CosineRank

/** `CosineRank.round4` (the sim rounding of the IVF and NSW kernels)
  * against two oracles, by raw bits: the BigDecimal form it replaced
  * ([[HofOracles.round4BigDecimal]]) and Spark's own `round(x, 4)`,
  * under whole-stage codegen and interpreted. A NaN must come back with
  * its own bits from the kernel and the BigDecimal form; against Spark
  * every NaN is one value, as in the parity specs.
  *
  * The generated values aim at the fast path's edges: HALF_UP ties
  * (k + ½)/10⁴ and their neighbours one ulp away, ±0.0 (the answer is
  * +0.0), small negatives that round to zero, subnormals, ±Inf and NaN,
  * |x| around the 1e5 cut-over and above it, and uniform values in
  * [−1, 1].
  */
class Round4Spec extends SparkSpec {

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  private def show(x: Double): String = s"$x (0x${java.lang.Long.toHexString(bits(x))})"

  private val sign: Gen[Double] = Gen.oneOf(1.0, -1.0)

  /** A HALF_UP tie (k + ½)/10⁴ or one of its neighbours, k below `maxK`. */
  private def tie(maxK: Long): Gen[Double] = for {
    k <- Gen.choose(0L, maxK)
    s <- sign
    step <- Gen.oneOf(-1, 0, 1)
  } yield {
    val t = s * ((k + 0.5) / 1e4)
    if (step < 0) math.nextDown(t) else if (step > 0) math.nextUp(t) else t
  }

  private val value: Gen[Double] = Gen.frequency(
    6 -> tie(10000L),
    3 -> tie(1000000000L),
    1 -> Gen.oneOf(0.0, -0.0),
    1 -> Gen.choose(0.0, 0.00005).flatMap(x => sign.map(_ * x)),
    1 -> Gen.choose(1L, 1L << 52).flatMap(m => sign.map(_ * m * Double.MinPositiveValue)),
    1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN,
      java.lang.Double.longBitsToDouble(0xfff8000000000001L)),
    2 -> Gen.oneOf(1e5, math.nextDown(1e5), math.nextUp(1e5), 99999.99995,
      math.nextDown(99999.99995), math.nextUp(99999.99995), 1e6 + 0.00005, 1e15 + 0.5,
      Double.MaxValue).flatMap(x => sign.map(_ * x)),
    2 -> Gen.choose(1e5, 1e12).flatMap(x => sign.map(_ * x)),
    6 -> Gen.choose(-1.0, 1.0))

  test("round4 equals the BigDecimal form on every tie ±1 ulp in [−1, 1]") {
    for (k <- -10000 to 10000; t = (k + 0.5) / 1e4; x <- Seq(math.nextDown(t), t, math.nextUp(t))) {
      val (got, want) = (CosineRank.round4(x), HofOracles.round4BigDecimal(x))
      assert(bits(got) == bits(want), s"round4(${show(x)}) = ${show(got)}, BigDecimal ${show(want)}")
    }
    assert(bits(CosineRank.round4(-0.0)) == bits(0.0))
    assert(bits(CosineRank.round4(-0.00004)) == bits(0.0))
  }

  test("ScalaCheck: round4 equals the BigDecimal form and Spark's round, compiled and interpreted") {
    val schema = StructType(Seq(StructField("i", IntegerType), StructField("x", DoubleType)))
    Seq("true" -> "CODEGEN_ONLY", "false" -> "NO_CODEGEN").foreach { case (ws, mode) =>
      spark.conf.set("spark.sql.codegen.wholeStage", ws)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val prop = Prop.forAllNoShrink(Gen.listOfN(200, value)) { xs =>
          // a parallelized frame, so the projection is not folded on the driver
          val df = spark.createDataFrame(spark.sparkContext.parallelize(
            xs.zipWithIndex.map { case (x, i) => Row(i, x) }, 2), schema)
          val sparkRound = df.select(col("i"), round(col("x"), 4)).collect()
            .sortBy(_.getInt(0)).map(_.getDouble(1))
          val bad = xs.indices.filterNot { i =>
            val (x, got) = (xs(i), CosineRank.round4(xs(i)))
            val viaSpark = sparkRound(i)
            bits(got) == bits(HofOracles.round4BigDecimal(x)) &&
              (if (got.isNaN) viaSpark.isNaN else bits(got) == bits(viaSpark))
          }
          bad.isEmpty :| bad.take(5).map { i =>
            s"round4(${show(xs(i))}) = ${show(CosineRank.round4(xs(i)))}, BigDecimal " +
              s"${show(HofOracles.round4BigDecimal(xs(i)))}, Spark ${show(sparkRound(i))}"
          }.mkString(s"$mode: ", "; ", "")
        }
        val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(40)
          .withWorkers(1).withInitialSeed(Seed(20261019L)), prop)
        assert(res.passed, s"$mode: ${res.status}")
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }
}
