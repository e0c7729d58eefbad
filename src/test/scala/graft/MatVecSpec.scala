package graft

import org.apache.spark.sql.functions._
import graft.operators.Ann

/** graft_matvec kernel + the OPQ-style rotation hook (plans/VectorExprs
  * MatVec, Ann.rotationMatrix/rotateEmbeddings — r12 anisotropy
  * adjudication). Recall numbers live in BENCHNOTES.md r12; this
  * spec pins the kernel's algebra and contracts.
  */
class MatVecSpec extends SparkSpec {

  test("matvec computes y = M·x (hand case + SQL face)") {
    val got = spark.sql(
      "SELECT graft_matvec(array(1.0D, 2.0D), " +
        "array(array(3.0D, 4.0D), array(5.0D, 6.0D), array(0.0D, 1.0D))) AS y")
      .head.getSeq[Double](0)
    assert(got == Seq(11.0, 17.0, 2.0))
  }

  test("identity matrix is a no-op; dimension mismatch fails loudly; null vector stays null") {
    val id = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    import spark.implicits._
    val df = Seq((1L, Seq(3.5, -2.0))).toDF("id", "v")
    val out = df.select(graft.plans.NativeFunctions.matVec(col("v"), id).as("y"))
      .head.getSeq[Double](0)
    assert(out == Seq(3.5, -2.0))
    // wrong-dim corpus must FAIL, not flow nulls into pqFit/pqEncode
    val e = intercept[Exception] {
      Seq((1L, Seq(1.0, 2.0, 3.0))).toDF("id", "v")
        .select(graft.plans.NativeFunctions.matVec(col("v"), id).as("y")).head
    }
    def msgs(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(msgs(e).exists(_.contains("does not match rotation matrix columns")),
      msgs(e).mkString(" | "))
    // null reserved for genuinely null input vectors
    val nullRow = Seq((1L, Option.empty[Seq[Double]])).toDF("id", "v")
      .select(graft.plans.NativeFunctions.matVec(col("v"), id).as("y")).head
    assert(nullRow.isNullAt(0), "null input vector must stay null")
    // an EMPTY matrix with an EMPTY vector must fail loudly too, never
    // reach compute's m(0) as a bare AIOOBE
    val e2 = intercept[Exception] {
      Seq((1L, Seq.empty[Double])).toDF("id", "v")
        .select(graft.plans.NativeFunctions.matVec(col("v"),
          Seq.empty[Seq[Double]]).as("y")).head
    }
    assert(msgs(e2).exists(_.contains("rotation matrix is empty")),
      msgs(e2).mkString(" | "))
  }

  test("rotationMatrix is orthonormal and deterministic per seed") {
    val r = Ann.rotationMatrix(16, seed = 7L)
    assert(r.length == 16 && r.forall(_.length == 16))
    for (i <- r.indices; j <- r.indices) {
      val d = r(i).zip(r(j)).map { case (a, b) => a * b }.sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(d - want) < 1e-12, s"R·Rᵀ[$i][$j] = $d")
    }
    assert(Ann.rotationMatrix(16, seed = 7L) == r, "same seed, same matrix")
    assert(Ann.rotationMatrix(16, seed = 8L) != r, "different seed, different matrix")
  }

  test("rotation preserves cosine similarity on real embeddings (the ADC-equivalence law)") {
    val embs = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 50)
    val a = embs.select(col("vec_id").as("ida"), col("embedding").cast("array<double>").as("va"))
    val b = embs.select(col("vec_id").as("idb"), col("embedding").cast("array<double>").as("vb"))
    val pairs = a.join(b, col("ida") < col("idb"))
    val rot = Ann.rotationMatrix(64, seed = 7L)
    val diff = pairs.select(abs(
        Ann.cosine("va", "vb") -
        graft.plans.NativeFunctions.cosineSim(
          graft.plans.NativeFunctions.matVec(col("va"), rot),
          graft.plans.NativeFunctions.matVec(col("vb"), rot))).as("d"))
      .agg(max(col("d"))).head.getDouble(0)
    assert(diff < 1e-9, s"rotation changed a cosine by $diff")
  }

  test("a null vector ELEMENT fails loudly (no silent read-as-zero)") {
    val e = intercept[Exception] {
      spark.sql(
        "SELECT graft_matvec(array(1.0D, CAST(NULL AS DOUBLE)), " +
          "array(array(1.0D, 2.0D)))").collect()
    }
    def msg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msg(e).contains("vector element 1 is null"), msg(e))
  }

  test("ragged and null-row matrices fail loudly; non-foldable matrices are rejected") {
    val ragged = intercept[Exception] {
      spark.sql("SELECT graft_matvec(array(1.0D), array(array(1.0D), array(1.0D, 2.0D)))").collect()
    }
    assert((ragged.getMessage != null && ragged.getMessage.contains("ragged")) ||
      (ragged.getCause != null && ragged.getCause.getMessage.contains("ragged")))
    val nonFoldable = intercept[Exception] {
      spark.sql("SELECT graft_matvec(array(CAST(id AS DOUBLE)), array(array(CAST(id AS DOUBLE)))) FROM range(2)").collect()
    }
    assert(nonFoldable.getMessage.contains("foldable"))
  }
}
