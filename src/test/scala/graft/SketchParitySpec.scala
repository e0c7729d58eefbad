package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{Sketches, Text}
import graft.operators.Ann
import graft.plans.{Affine, NativeFunctions}

/** The native codegen kernels (graft.plans.VectorExprs) must be
  * bit-identical to their HOF formulations ([[HofOracles]]) — same hash
  * chain, same fold order — so swapping them in changes nothing but
  * speed. The minhash and simhash kernels are reached through their
  * registered SQL functions (`graft_minhash`, `graft_simhash`), the
  * only face they have.
  */
class SketchParitySpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sfDir).limit(200)
    .select(col("doc_id"), Text.words(col("text")).as("w"))

  test("native minhash signature == HOF minhash signature") {
    val mismatches = docs
      .select(expr("graft_minhash(w, 32)").as("native"),
        HofOracles.minhashSignatureHof("w").as("hof"))
      .filter(not(col("native") <=> col("hof")))
      .count()
    assert(mismatches === 0)
  }

  test("native simhash == HOF simhash") {
    val mismatches = docs
      .select(expr("graft_simhash(w)").as("native"),
        HofOracles.simhashHof("w").as("hof"))
      .filter(not(col("native") <=> col("hof")))
      .count()
    assert(mismatches === 0)
  }

  test("native md5-60 hashes == HOF conv(substr(md5)) chain, plain and mod P") {
    val mismatches = docs
      .select(Sketches.md5Hashes("w").as("n1"), HofOracles.md5HashesHof("w").as("h1"),
        NativeFunctions.md5Hash60(col("w"), Affine.P).as("n2"),
        HofOracles.md5HashesModPHof("w").as("h2"))
      .filter(not(col("n1") <=> col("h1")) || not(col("n2") <=> col("h2")))
      .count()
    assert(mismatches === 0)
  }

  test("fused shingle hashes == hash of concat_ws shingle strings (md5 and xx64)") {
    val mismatches = docs
      .select(
        NativeFunctions.shingleHashes(col("w"), 3, "md5", graft.plans.Affine.P).as("n1"),
        expr(s"transform(${Text.shinglesSql("w", 3)}, x -> " +
          s"cast(conv(substr(md5(x), 1, 15), 16, 10) as bigint) % ${graft.plans.Affine.P}L)").as("h1"),
        NativeFunctions.shingleHashes(col("w"), 3, "xx").as("n2"),
        expr(s"transform(${Text.shinglesSql("w", 3)}, x -> xxhash64(x))").as("h2"))
      .filter(not(col("n1") <=> col("h1")) || not(col("n2") <=> col("h2")))
      .count()
    assert(mismatches === 0)
  }

  test("native slot agreement and hyperplane bucket == their HOF formulations") {
    val sigs = docs
      .select(col("doc_id"), graft.plans.NativeFunctions
        .shingleHashes(col("w"), 3, "md5", graft.plans.Affine.P).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), Sketches.minhashAffine("hs", 32).as("sig"))
    val a = sigs.select(col("doc_id").as("ia"), col("sig").as("sa"))
    val b = sigs.select(col("doc_id").as("ib"), col("sig").as("sb"))
    val sigMismatch = a.join(b, col("ia") < col("ib")).limit(3000)
      .select((NativeFunctions.slotAgree(col("sa"), col("sb")) / 32.0d).as("native"),
        HofOracles.estJaccardHof("sa", "sb", 32).as("hof"))
      .filter(not(col("native") <=> col("hof"))).count()
    assert(sigMismatch === 0)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("embedding").cast("array<double>").as("emb"))
    val hpMismatch = e
      .select(Sketches.affineHyperplaneBucket("emb", 4, 64).as("native"),
        HofOracles.affineHyperplaneBucketHof("emb", 4, 64).as("hof"))
      .filter(not(col("native") <=> col("hof"))).count()
    assert(hpMismatch === 0)
  }

  /** sf0.1's word-shingle md5 hashes (`mod` 0: full 60 bits), plus the
    * edge arrays: empty, null, a null element among values, all nulls.
    */
  private def shingleHashInputs(mod: Long): org.apache.spark.sql.DataFrame = {
    val sf01 = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.1").getPath
    val corpus = Tables.documents(spark, sf01)
      .select(graft.plans.NativeFunctions.shingleHashes(
        Text.words(col("text")), 3, "md5", mod).as("hs"))
    val edges = spark.range(1).select(explode(array(
      expr("cast(array() as array<bigint>)"),
      expr("cast(null as array<bigint>)"),
      expr("array(12345L, cast(null as bigint), 987654321L)"),
      expr("array(cast(null as bigint), cast(null as bigint))"))).as("hs"))
    corpus.unionByName(edges)
  }

  /** Rows of `in` where `native` and `hof` differ, with the kernel run
    * compiled (whole-stage codegen) and interpreted.
    */
  private def mismatches(in: org.apache.spark.sql.DataFrame,
                         native: Column, hof: Column): Seq[String] =
    Seq("true" -> "CODEGEN_ONLY", "false" -> "NO_CODEGEN").flatMap { case (ws, mode) =>
      spark.conf.set("spark.sql.codegen.wholeStage", ws)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try in.select(col("hs"), native.as("native"), hof.as("hof"))
        .filter(not(col("native") <=> col("hof")))
        .collect().map(r => s"$mode: $r").toSeq
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }

  test("native affine minhash == HOF affine minhash at k 1 and 32 (edge arrays too)") {
    val in = shingleHashInputs(graft.plans.Affine.P)
    assert(in.count() > 1000)
    for (k <- Seq(1, 32)) {
      val bad = mismatches(in, Sketches.minhashAffine("hs", k),
        HofOracles.minhashAffineHof("hs", k))
      assert(bad.isEmpty, s"k=$k: ${bad.take(3).mkString("; ")}")
    }
  }

  test("native simhash bits == HOF simhash bits at bits 1 and 60 (edge arrays too)") {
    val in = shingleHashInputs(0L)
    for (bits <- Seq(1, 60)) {
      val bad = mismatches(in, Sketches.simhashBits("hs", bits),
        HofOracles.simhashBitsHof("hs", bits))
      assert(bad.isEmpty, s"bits=$bits: ${bad.take(3).mkString("; ")}")
    }
  }

  /** The first 200 documents' words, plus the edge arrays: empty, null,
    * a null element among words, all nulls.
    */
  private def wordInputs: org.apache.spark.sql.DataFrame = {
    val edges = spark.range(1).select(explode(array(
      expr("cast(array() as array<string>)"),
      expr("cast(null as array<string>)"),
      expr("array('a', cast(null as string), 'b')"),
      expr("array(cast(null as string), cast(null as string))"))).as("hs"))
    docs.select(col("w").as("hs")).unionByName(edges)
  }

  test("native minhash and simhash == their HOFs on edge arrays too") {
    val in = wordInputs
    for (k <- Seq(1, 32)) {
      val bad = mismatches(in, expr(s"graft_minhash(hs, $k)"),
        HofOracles.minhashSignatureHof("hs", k))
      assert(bad.isEmpty, s"minhash k=$k: ${bad.take(3).mkString("; ")}")
    }
    val bad = mismatches(in, expr("graft_simhash(hs)"), HofOracles.simhashHof("hs"))
    assert(bad.isEmpty, s"simhash: ${bad.take(3).mkString("; ")}")
  }

  test("native md5-60 hashes == HOF chain on edge arrays too, plain and mod P") {
    val in = wordInputs
    val plain = mismatches(in, Sketches.md5Hashes("hs"), HofOracles.md5HashesHof("hs"))
    assert(plain.isEmpty, plain.take(3).mkString("; "))
    val modP = mismatches(in, NativeFunctions.md5Hash60(col("hs"), Affine.P),
      HofOracles.md5HashesModPHof("hs"))
    assert(modP.isEmpty, modP.take(3).mkString("; "))
  }

  test("native hyperplane bucket == HOF on empty, null, partly-null and all-null vectors") {
    val edges = spark.range(1).select(explode(array(
      expr("cast(array() as array<double>)"),
      expr("cast(null as array<double>)"),
      expr("transform(sequence(1, 64), i -> if(i = 7, cast(null as double), cast(i as double) - 30.0D))"),
      expr("transform(sequence(1, 64), i -> cast(null as double))"))).as("hs"))
    val in = Tables.embeddings(spark, sfDir)
      .select(col("embedding").cast("array<double>").as("hs")).unionByName(edges)
    for (nBits <- Seq(1, 4)) {
      val bad = mismatches(in, Sketches.affineHyperplaneBucket("hs", nBits, 64),
        HofOracles.affineHyperplaneBucketHof("hs", nBits, 64))
      assert(bad.isEmpty, s"nBits=$nBits: ${bad.take(3).mkString("; ")}")
    }
  }

  test("native cosine == HOF cosine (exact double equality)") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val a = e.select(col("vec_id").as("ia"), col("emb").as("ea"))
    val b = e.select(col("vec_id").as("ib"), col("emb").as("eb"))
    val mismatches = a.join(b, col("ia") < col("ib")).limit(5000)
      .select(Ann.cosine("ea", "eb").as("native"),
        HofOracles.cosineHof("ea", "eb").as("hof"))
      .filter(not(col("native") <=> col("hof")))
      .count()
    assert(mismatches === 0)
  }

  test("graft_cosine is registered as a SQL function via extensions") {
    import spark.implicits._
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .as[Double].head()
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("native l2sq == HOF l2sq (exact double equality, incl. dim-mismatch null)") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val a = e.select(col("vec_id").as("ia"), col("emb").as("ea"))
    val b = e.select(col("vec_id").as("ib"), col("emb").as("eb"))
    val mismatches = a.join(b, col("ia") < col("ib")).limit(5000)
      .select(Ann.l2sq("ea", "eb").as("native"),
        HofOracles.l2sqHof("ea", "eb").as("hof"))
      .filter(not(col("native") <=> col("hof")))
      .count()
    assert(mismatches === 0)
    // dimension mismatch → null on both forms (zip_with null padding)
    val cut = a.join(b, col("ia") < col("ib")).limit(10)
      .select(Ann.l2sq("ea", "eb").as("full"),
        expr("slice(ea, 1, 32)").as("ea32"))
      .select(graft.plans.NativeFunctions.l2Sq(col("ea32"), lit(null).cast("array<double>")).as("nullside"),
        graft.plans.NativeFunctions.l2Sq(col("ea32"), col("ea32")).as("self"))
    assert(cut.filter(col("nullside").isNotNull).count() === 0)
    assert(cut.filter(col("self") =!= 0.0).count() === 0)
  }

  test("graft_l2sq is registered as a SQL function via extensions") {
    import spark.implicits._
    val r = spark.sql(
      "SELECT graft_l2sq(array(1.0D, 2.0D), array(3.0D, 0.0D)) AS c")
      .as[Double].head()
    assert(math.abs(r - 8.0) < 1e-12)
    // mismatched dimensions null out, matching the HOF contract
    assert(spark.sql(
      "SELECT graft_l2sq(array(1.0D), array(1.0D, 2.0D)) AS c").head().isNullAt(0))
  }

  test("sql minhash/simhash functions evaluate") {
    import spark.implicits._
    val sig = spark.sql(
      "SELECT graft_minhash(array('a', 'b', 'c'), 8) AS s").as[Seq[Long]].head()
    assert(sig.length === 8)
    val sh = spark.sql(
      "SELECT graft_simhash(array('a', 'b', 'c')) AS s").as[Long].head()
    val shAgain = spark.sql(
      "SELECT graft_simhash(array('a', 'b', 'c')) AS s").as[Long].head()
    assert(sh === shAgain)
  }
}
