package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.operators.Ann
import graft.plans.NativeFunctions

/** `Ann.ivfSearch`/`ivfSearchFiltered`/`ivfSearchHier`/`lshKnn` (driver
  * routing + one index scan, [[graft.plans.IvfProbe]]) vs the DataFrame
  * search they replaced ([[IvfSearchOracle]]): identical (qid, cid, sim
  * bits, rn) answers and column types, each case run under whole-stage
  * codegen and interpreted. Cases: the sf0.1 vectors at nprobe 1, 4
  * and c, k 1, 10 and 50, `excludeSelf` on and off; a predicate; the
  * hierarchical face, with exact centroid ties; `lshKnn` at several
  * nBits, with a query holding a null element; hand-built edge inputs
  * (empty cells, k above the candidate count, nprobe above c, sim ties
  * broken by cid, zero, NaN and short vectors, null vectors, ids and
  * clusters, duplicated index rows, int query ids); a ScalaCheck
  * property over generated mixes of all of them; and one that the
  * driver's LSH probe sets equal the SQL ones.
  *
  * Both sides of the probe pushdown are covered: the 80-query sf0.1
  * batch at nprobe c probes every cell and scans the index unfiltered,
  * a 2-query batch at nprobe 1 pushes its cells into the scan, and
  * bigint and double `cluster` columns keep the filter at any batch
  * size (a cast to int would alias their cells).
  *
  * Deliberate departures from the oracle, pinned on their own: a
  * duplicate query id throws, null query and index ids take no part
  * (the oracle is fed the same inputs without those rows), and
  * `lshKnn` rejects nBits outside 1..31 before any job runs.
  */
class IvfSearchParitySpec extends SparkSpec {
  import spark.implicits._
  import IvfSearchParitySpec.Mix

  // the sf0.1 tables (2,000 vectors) sit beside the default sfDir's
  private lazy val corpus =
    Tables.embeddings(spark, new java.io.File(sfDir).getParent + "/sf0.1")
      .select(col("vec_id"), col("embedding"), col("label"))
      .localCheckpoint()

  private val c = 45
  private lazy val cents = Ann.ivfFit(corpus, c = c, iters = 2)
  private lazy val index = Ann.ivfEncode(corpus, cents).localCheckpoint()

  /** 40 corpus vectors and 40 vectors moved off the data (ids + 10⁶). */
  private lazy val queries = corpus.filter(col("vec_id") % 50 === 3)
    .select("vec_id", "embedding")
    .unionByName(corpus.filter(col("vec_id") % 50 === 7).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> x + 0.05 * sin(i + vec_id))").as("embedding")))
    .localCheckpoint()

  private type Answer = (Long, Long, Option[Long], Int)

  /** Sims compare by their bits (so −0.0 ≠ 0.0), except that every NaN
    * is one value: Java leaves a NaN's sign and payload to the JIT. On
    * x86, NaN + NaN keeps the first operand's NaN and the compiler may
    * swap the operands of a sum, so one vector [NaN, 2, ∞] against
    * [0.6, 0.8, 0] gives 0xfff8… in the oracle's CosineSim and 0x7ff8…
    * from the same sum compiled in another method.
    */
  private def answers(df: DataFrame): Seq[Answer] =
    df.select(col("qid").cast("long"), col("cid").cast("long"), col("sim"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(2))),
        r.getInt(3)))
      .toSeq.sorted

  private def types(df: DataFrame) = df.schema.map(_.dataType)

  private def diff(g: Seq[Answer], w: Seq[Answer]): String =
    s"${g.size} vs ${w.size} rows; only kernel ${g.diff(w).take(5)}; only oracle ${w.diff(g).take(5)}"

  private def assertSame(got: DataFrame, want: DataFrame, what: String,
                         nonEmpty: Boolean = true): Unit = {
    assert(types(got) == types(want),
      s"$what: schema ${got.schema.simpleString} vs oracle ${want.schema.simpleString}")
    val (g, w) = (answers(got), answers(want))
    if (nonEmpty) assert(w.nonEmpty, s"$what: oracle answered nothing")
    assert(g == w, s"$what: ${diff(g, w)}")
  }

  test("sf0.1: nprobe 1, 4 and c; k 1, 10 and 50; excludeSelf on and off") {
    bothModes { mode =>
      for (nprobe <- Seq(1, 4, c); excl <- Seq(true, false)) {
        // the oracle's rn <= k cut is a prefix of its k = 50 ranking
        val want50 = IvfSearchOracle.ivfSearch(cents, index, queries, 50, nprobe, excl)
        val wantTypes = types(want50)
        val all = answers(want50)
        assert(all.size > 40 * 50, s"$mode nprobe=$nprobe: ${all.size} oracle rows")
        for (k <- Seq(1, 10, 50)) {
          val got = Ann.ivfSearch(cents, index, queries, k, nprobe, excl)
          val what = s"$mode nprobe=$nprobe k=$k excludeSelf=$excl"
          assert(types(got) == wantTypes, what)
          val (g, w) = (answers(got), all.filter(_._4 <= k))
          assert(g == w, s"$what: ${diff(g, w)}")
        }
      }
    }
  }

  test("a 2-query batch at nprobe 1 (the probe set pushed into the scan)") {
    val two = queries.filter(col("vec_id").isin(3L, 1000007L))
    bothModes { mode =>
      for (excl <- Seq(true, false)) assertSame(Ann.ivfSearch(cents, index, two, 10, 1, excl),
        IvfSearchOracle.ivfSearch(cents, index, two, 10, 1, excl), s"$mode excludeSelf=$excl")
    }
  }

  test("bigint and double clusters keep the filter: no cast aliases an unprobed cell") {
    // every hand row again under a fresh id, in a cell whose int cast is
    // a probed cell: bigint 2³² + c wraps to c, double c + 0.5 truncates
    Seq("bigint" -> (1L << 32).toDouble, "double" -> 0.5).foreach { case (tpe, offset) =>
      val rows = handRows.map { case (id, v, cl) => (id, v, cl.map(_.toDouble)) } ++
        handRows.collect { case (Some(id), v, Some(cl)) => (Option(id + 1000L), v, Option(cl + offset)) }
      val idx = rows.toDF("vec_id", "ve", "cluster")
        .withColumn("cluster", col("cluster").cast(tpe))
      bothModes { mode =>
        for (nprobe <- Seq(1, 4); excl <- Seq(true, false)) {
          val got = Ann.ivfSearch(axes, idx, handQs, 40, nprobe, excl)
          assertSame(got, IvfSearchOracle.ivfSearch(axes, idx, handQs, 40, nprobe, excl),
            s"$tpe $mode nprobe=$nprobe excludeSelf=$excl")
          assert(got.filter(col("cid") >= 1000L).isEmpty, s"$tpe $mode: an aliased row answered")
        }
      }
    }
  }

  test("a predicate prunes the probed cells' rows before ranking") {
    val labelled = index.join(corpus.select("vec_id", "label"), Seq("vec_id"))
    val pred = col("label") % 3 === 0
    bothModes { mode =>
      assertSame(Ann.ivfSearchFiltered(cents, labelled, queries, 10, pred, nprobe = 4),
        IvfSearchOracle.ivfSearch(cents, labelled.filter(pred), queries, 10, 4,
          excludeSelf = true), mode)
    }
  }

  test("hierarchical face: two-level routing feeds the same scan") {
    val (sup, ch) = Ann.ivfFitHier(corpus, cSuper = 6, cChild = 6, iters = 2)
    val hIndex = Ann.ivfEncodeHier(corpus, sup, ch, cChild = 6).localCheckpoint()
    bothModes { mode =>
      for (excl <- Seq(true, false)) assertSame(
        Ann.ivfSearchHier(sup, ch, hIndex, queries, k = 10, cChild = 6,
          nprobeSuper = 2, nprobePerSuper = 2, excludeSelf = excl),
        IvfSearchOracle.ivfSearchHier(sup, ch, hIndex, queries, 10, 6, 2, 2, excl),
        s"$mode excludeSelf=$excl")
    }
  }

  test("hierarchical face: exact centroid ties go to the higher id at both levels") {
    // supers 0 and 1 are one vector, as are children 0 and 1 of super
    // 0 and of super 2; child 1 of super 3 is null
    val sup = Seq((0, Seq(1.0, 0.0, 0.0)), (1, Seq(1.0, 0.0, 0.0)),
      (2, Seq(0.0, 1.0, 0.0)), (3, Seq(0.0, 0.0, 1.0)))
    val ch = Seq((0, 0, Seq(1.0, 0.1, 0.0)), (0, 1, Seq(1.0, 0.1, 0.0)), (0, 2, Seq(1.0, 0.0, 0.1)),
      (1, 0, Seq(1.0, 0.0, 0.0)), (1, 1, Seq(0.9, 0.1, 0.0)),
      (2, 0, Seq(0.0, 1.0, 0.0)), (2, 1, Seq(0.0, 1.0, 0.0)),
      (3, 0, Seq(0.0, 0.0, 1.0)), (3, 1, null: Seq[Double]))
    val rows = for (p <- 0 until 4; c <- 0 until 3; j <- 0 until 2) yield
      (Option(100L + p * 10 + c * 3 + j), Option(Seq(1.0 - p * 0.2, c * 0.3, j * 0.5)), Option(p * 3 + c))
    val qs = handQueries((Some(1L), Some(Seq(1.0, 0.0, 0.0))), (Some(2L), Some(Seq(1.0, 0.1, 0.0))),
      (Some(3L), Some(Seq(0.0, 1.0, 0.0))), (Some(4L), None), (Some(5L), Some(Seq(0.0, 0.0, 0.0))),
      (Some(6L), Some(Seq(Double.NaN, 1.0, 0.0))), (Some(7L), Some(Seq(1.0, 0.0))),
      (Some(8L), Some(Seq(-0.0, 0.0, 1.0))))
    bothModes { mode =>
      for (ns <- Seq(1, 2, 5); np <- Seq(1, 2, 3); excl <- Seq(true, false)) assertSame(
        Ann.ivfSearchHier(sup, ch, handIndex(rows), qs, k = 4, cChild = 3,
          nprobeSuper = ns, nprobePerSuper = np, excludeSelf = excl),
        IvfSearchOracle.ivfSearchHier(sup, ch, handIndex(rows), qs, 4, 3, ns, np, excl),
        s"$mode nprobeSuper=$ns nprobePerSuper=$np excludeSelf=$excl")
    }
    // the ties decide the leaves: query 1 probes child 0 of super 1 and
    // child 2 of super 0 (a three-way tie), query 2 child 1 of super 1
    // and child 1 of super 0
    val top = Ann.ivfSearchHier(sup, ch, handIndex(rows), qs, k = 40, cChild = 3,
        nprobeSuper = 2, nprobePerSuper = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).groupMap(_._1)(_._2)
    assert(top(1L).toSet == Set(110L, 111L, 106L, 107L), top(1L).toSeq)
    assert(top(2L).toSet == Set(113L, 114L, 103L, 104L), top(2L).toSeq)
  }

  // ---- lshKnn: driver LSH routing + one corpus scan ----------------------

  test("lshKnn on the sf0.1 vectors: nBits 2, 4 and 8; k 1, 10 and 50") {
    val embs = corpus.select("vec_id", "embedding")
    bothModes { mode =>
      for (nBits <- Seq(2, 4, 8)) {
        val want50 = IvfSearchOracle.lshKnn(embs, queries, 50, nBits)
        val all = answers(want50)
        assert(all.nonEmpty, s"$mode nBits=$nBits: oracle answered nothing")
        for (k <- Seq(1, 10, 50)) {
          val got = Ann.lshKnn(embs, queries, k, nBits)
          val what = s"$mode nBits=$nBits k=$k"
          assert(types(got) == types(want50), what)
          val (g, w) = (answers(got), all.filter(_._4 <= k))
          assert(g == w, s"$what: ${diff(g, w)}")
        }
      }
    }
  }

  test("lshKnn edge inputs: ties, zero/NaN/short/null vectors, null corpus ids, int query ids") {
    val rows = handRows.map { case (id, v, _) => (id, v) } ++
      Seq((None, Some(Seq(1.0, 0.0, 0.0))), (Some(400L), Some(Seq(Double.NegativeInfinity, 1.0, 0.0))))
    val embs = rows.toDF("vec_id", "embedding")
    val qs = handQs.filter(col("vec_id").isNotNull)
    val intQs = qs.select(col("vec_id").cast("int").as("vec_id"), col("embedding"))
    bothModes { mode =>
      for (nBits <- Seq(1, 2, 4); k <- Seq(1, 3, 40)) {
        assertSame(Ann.lshKnn(embs, qs, k, nBits),
          IvfSearchOracle.lshKnn(embs.filter(col("vec_id").isNotNull), qs, k, nBits),
          s"$mode nBits=$nBits k=$k")
        assertSame(Ann.lshKnn(embs, intQs, k, nBits),
          IvfSearchOracle.lshKnn(embs.filter(col("vec_id").isNotNull), intQs, k, nBits),
          s"$mode int ids nBits=$nBits k=$k")
      }
    }
  }

  test("lshKnn: a query with a null element routes from bucket 0, as the hyperplane kernel hashes it") {
    val embs = corpus.select("vec_id", "embedding")
    // read as 0.0, the null element hashes the vector into another bucket
    def patched(v: String) = queries.withColumn("embedding",
      expr(s"transform(embedding, (x, i) -> if(i = 5, $v, x))"))
    val (withNull, zeroFilled) = (patched("null"), patched("0.0f"))
    def buckets(qs: DataFrame) = qs.select(NativeFunctions.hyperplaneBucket(
      col("embedding").cast("array<double>"), 4)).as[Long].collect().toSeq
    assert(buckets(withNull).forall(_ == 0L) && buckets(zeroFilled).exists(_ != 0L))
    bothModes { mode =>
      val got = Ann.lshKnn(embs, withNull, 10, 4)
      assertSame(got, IvfSearchOracle.lshKnn(embs, withNull, 10, 4), mode)
      assert(answers(got) != answers(Ann.lshKnn(embs, zeroFilled, 10, 4)),
        s"$mode: the input does not tell the two readings apart")
    }
  }

  test("deliberate: lshKnn throws on a duplicate query id and on nBits outside 1..31; " +
      "null query ids take no part") {
    val embs = handRows.map { case (id, v, _) => (id, v) }.toDF("vec_id", "embedding")
    val dup = handQs.unionByName(handQueries((Some(2L), Some(Seq(1.0, 0.0, 0.0)))))
    val e = intercept[IllegalArgumentException](Ann.lshKnn(embs, dup, 3))
    assert(e.getMessage.contains("duplicate vec_id 2"), e.getMessage)
    for (nBits <- Seq(-1, 0, 32, 64)) {
      val (bad, jobs) = countJobs(intercept[IllegalArgumentException](Ann.lshKnn(embs, handQs, 3, nBits)))
      assert(bad.getMessage.contains(s"got $nBits") && jobs == 0, s"nBits=$nBits: ${bad.getMessage}, $jobs jobs")
    }
    val withNullId = handQs.unionByName(handQueries((None, Some(Seq(1.0, 0.0, 0.0)))))
    assert(answers(Ann.lshKnn(embs, withNullId, 40, 2)) ==
      answers(IvfSearchOracle.lshKnn(embs, handQs, 40, 2)))
  }

  // ---- hand-built edge inputs over four cells ----------------------------

  /** Centroids: three axes and a cell no index row is in (cid 9). */
  private val axes = Seq((0, Seq(1.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0)),
    (2, Seq(0.0, 0.0, 1.0)), (9, Seq(0.5, 0.5, 0.5)))

  /** (vec_id, ve, cluster); None = null. */
  private def handIndex(rows: Seq[(Option[Long], Option[Seq[Double]], Option[Int])]) =
    rows.toDF("vec_id", "ve", "cluster")

  private def handQueries(qs: (Option[Long], Option[Seq[Double]])*) =
    qs.toDF("vec_id", "embedding")

  private val handRows: Seq[(Option[Long], Option[Seq[Double]], Option[Int])] =
    Seq.tabulate(10) { i =>
      (Option(100L + i), Option(Seq(1.0, i * 0.1, (i % 3) * 0.2)), Option(0))
    } ++ Seq.tabulate(6) { i =>
      (Option(200L + i), Option(Seq(i * 0.3, 1.0, 0.1)), Option(1))
    } ++ Seq(
      // ties: one vector under three ids, the middle id listed first
      (Some(302L), Some(Seq(0.0, 0.6, 0.8)), Some(2)),
      (Some(301L), Some(Seq(0.0, 0.6, 0.8)), Some(2)),
      (Some(303L), Some(Seq(0.0, 0.6, 0.8)), Some(2)),
      // a duplicated row yields a duplicated hit
      (Some(304L), Some(Seq(0.1, 0.1, 0.9)), Some(2)),
      (Some(304L), Some(Seq(0.1, 0.1, 0.9)), Some(2)),
      (Some(305L), None, Some(2)),
      (Some(306L), Some(Seq(0.0, 0.0)), Some(2)),
      (Some(307L), Some(Seq(0.0, 0.0, 0.0)), Some(2)),
      (Some(308L), Some(Seq(Double.NaN, 0.0, 1.0)), Some(2)),
      (Some(309L), Some(Seq(Double.PositiveInfinity, 0.0, 1.0)), Some(1)),
      (Some(310L), Some(Seq(-0.0, -1.0, 0.0)), Some(1)),
      (Some(311L), Some(Seq(0.2, 0.2, 0.2)), None))

  private val handQs = handQueries(
    (Some(1L), Some(Seq(1.0, 0.25, 0.1))), (Some(2L), Some(Seq(0.0, 0.6, 0.8))),
    (Some(3L), Some(Seq(0.0, 0.0, 0.0))), (Some(4L), Some(Seq(Double.NaN, 1.0, 0.0))),
    (Some(5L), Some(Seq(1.0, 1.0))), (Some(6L), None), (Some(304L), Some(Seq(0.1, 0.1, 0.9))),
    (Some(7L), Some(Seq(-0.0, -1.0, 0.0))))

  test("edge inputs: empty cell, k > candidates, nprobe > c, ties, zero/NaN/short/null vectors") {
    bothModes { mode =>
      for (nprobe <- Seq(1, 2, 4, 7); k <- Seq(1, 3, 40); excl <- Seq(true, false))
        assertSame(Ann.ivfSearch(axes, handIndex(handRows), handQs, k, nprobe, excl),
          IvfSearchOracle.ivfSearch(axes, handIndex(handRows), handQs, k, nprobe, excl),
          s"$mode nprobe=$nprobe k=$k excludeSelf=$excl")
    }
    // k = 40 over nprobe = 7 ranks every non-null-cluster row
    val all = Ann.ivfSearch(axes, handIndex(handRows), handQs, 40, 7, excludeSelf = false)
      .filter(col("qid") === 1L).collect()
    assert(all.length == handRows.count(_._3.isDefined))
    assert(all.count(_.getLong(1) == 304L) == 2, "the duplicated row must answer twice")
  }

  test("a null centroid vector and int query ids keep the oracle's routing and types") {
    val cents = axes :+ ((5, null: Seq[Double]))
    val qs = Seq((1, Seq(1.0f, 0.25f, 0.1f)), (2, Seq(0.0f, 0.6f, 0.8f)), (3, null: Seq[Float]))
      .toDF("vec_id", "embedding")
    bothModes { mode =>
      for (nprobe <- Seq(1, 5, 6)) assertSame(Ann.ivfSearch(cents, handIndex(handRows), qs, 5, nprobe),
        IvfSearchOracle.ivfSearch(cents, handIndex(handRows), qs, 5, nprobe, excludeSelf = true),
        s"$mode nprobe=$nprobe")
    }
    assert(types(Ann.ivfSearch(cents, handIndex(handRows), qs, 5)).take(2) ==
      Seq(org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType))
  }

  test("deliberate: null query and index ids take no part") {
    val rows = handRows ++ Seq((None, Some(Seq(1.0, 0.0, 0.0)), Some(0)),
      (None, Some(Seq(0.0, 1.0, 0.0)), Some(1)))
    val qs = handQs.unionByName(handQueries((None, Some(Seq(1.0, 0.0, 0.0)))))
    val got = Ann.ivfSearch(axes, handIndex(rows), qs, 40, 4, excludeSelf = false)
    assert(answers(got) == answers(IvfSearchOracle.ivfSearch(axes,
      handIndex(rows).filter(col("vec_id").isNotNull), qs.filter(col("vec_id").isNotNull),
      40, 4, excludeSelf = false)))
    assert(got.filter(col("qid").isNull || col("cid").isNull).isEmpty)
  }

  test("deliberate: a duplicate query id throws, naming it") {
    val qs = handQs.unionByName(handQueries((Some(2L), Some(Seq(1.0, 0.0, 0.0)))))
    val e = intercept[IllegalArgumentException](Ann.ivfSearch(axes, handIndex(handRows), qs, 3))
    assert(e.getMessage.contains("duplicate vec_id 2"), e.getMessage)
  }

  // ---- generated mixes (ScalaCheck) --------------------------------------

  private val element: Gen[Double] = Gen.frequency(
    8 -> Gen.choose(-2, 2).map(_.toDouble), 1 -> Gen.const(Double.NaN),
    1 -> Gen.const(0.0), 1 -> Gen.const(-0.0),
    1 -> Gen.const(Double.PositiveInfinity), 1 -> Gen.const(Double.NegativeInfinity))

  /** A 3-d vector (sometimes 2-d, null, or one of a few shared values,
    * so duplicates and sim ties are common).
    */
  private val vector: Gen[Option[Seq[Double]]] = Gen.frequency(
    1 -> Gen.const(None),
    2 -> Gen.oneOf(Seq(1.0, 0.0, 0.0), Seq(0.6, 0.8, 0.0), Seq(0.0, 0.0, 0.0)).map(Some(_)),
    6 -> Gen.listOfN(3, element).map(Some(_)),
    1 -> Gen.listOfN(2, element).map(Some(_)))

  private val mix: Gen[Mix] = for {
    nc <- Gen.choose(1, 4)
    cids <- Gen.pick(nc, 0 to 5)
    cvecs <- Gen.listOfN(nc, vector)
    nr <- Gen.choose(0, 24)
    rows <- Gen.listOfN(nr, for {
      id <- Gen.frequency(9 -> Gen.choose(0L, 20L).map(Some(_)), 1 -> Gen.const(None))
      v <- vector
      cl <- Gen.frequency(9 -> Gen.choose(0, 6).map(Some(_)), 1 -> Gen.const(None))
    } yield (id, v, cl))
    nq <- Gen.choose(1, 5)
    qids <- Gen.pick(nq, 0L to 20L)
    qnull <- Gen.listOfN(nq, Gen.frequency(9 -> false, 1 -> true))
    qvecs <- Gen.listOfN(nq, vector)
    k <- Gen.choose(0, 6)
    nprobe <- Gen.choose(0, 5)
    excl <- Gen.oneOf(true, false)
  } yield Mix(cids.toSeq.zip(cvecs.map(_.orNull)),
    rows, qids.toSeq.zip(qnull).zip(qvecs).map { case ((id, n), v) => (if (n) None else Some(id), v) },
    k, nprobe, excl)

  /** An element of an LSH query: small numbers, null, NaN, ±0.0, ±Inf. */
  private val lshElement: Gen[java.lang.Double] = Gen.frequency(
    1 -> Gen.const(null: java.lang.Double),
    11 -> Gen.frequency(6 -> Gen.choose(-2.0, 2.0), 1 -> Gen.const(Double.NaN),
      1 -> Gen.const(0.0), 1 -> Gen.const(-0.0), 1 -> Gen.const(Double.PositiveInfinity),
      1 -> Gen.const(Double.NegativeInfinity)).map(Double.box))

  /** A batch of LSH queries (null, short and 64-d vectors) and its bits. */
  private val lshBatch: Gen[(Int, Seq[Option[Seq[java.lang.Double]]])] = for {
    nBits <- Gen.choose(1, 31)
    n <- Gen.choose(1, 6)
    vs <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(None),
      8 -> Gen.oneOf(Gen.choose(0, 8), Gen.const(64)).flatMap(d => Gen.listOfN(d, lshElement).map(Some(_)))))
  } yield (nBits, vs)

  test("ScalaCheck: the driver's LSH probe sets equal the SQL ones (nBits 1..31; null, NaN, ±0, ±Inf)") {
    bothModes { mode =>
      val prop = Prop.forAll(lshBatch) { case (nBits, vs) =>
        val qs = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
        val (batch, probes) = Ann.lshBatch(qs, nBits)
        val driver = batch.ids.zip(probes.map(_.toSeq.map(_.toLong))).toMap
        val sql = qs.select(col("vec_id"),
            NativeFunctions.hyperplaneBucket(col("embedding").cast("array<double>"), nBits).as("bucket"))
          .select(col("vec_id"), Ann.lshProbeSet("bucket", nBits))
          .as[(Long, Seq[Long])].collect().toMap
        (driver == sql) :| s"$mode nBits=$nBits $vs: driver $driver, SQL $sql"
      }
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(40)
        .withWorkers(1).withInitialSeed(Seed(20261019L)), prop)
      assert(res.passed, s"$mode: ${res.status}")
    }
  }

  test("ScalaCheck: generated mixes equal the oracle, compiled and interpreted") {
    bothModes { mode =>
      val prop = Prop.forAll(mix) { m =>
        val idx = handIndex(m.rows)
        val qs = handQueries(m.qs: _*)
        val got = Ann.ivfSearch(m.cents, idx, qs, m.k, m.nprobe, m.excludeSelf)
        val want = IvfSearchOracle.ivfSearch(m.cents, idx.filter(col("vec_id").isNotNull),
          qs.filter(col("vec_id").isNotNull), m.k, m.nprobe, m.excludeSelf)
        val (g, w) = (answers(got), answers(want))
        (types(got) == types(want) && g == w) :| s"$mode $m: ${diff(g, w)}"
      }
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(25)
        .withWorkers(1).withInitialSeed(Seed(20261018L)), prop)
      assert(res.passed, s"$mode: ${res.status}")
    }
  }
}

object IvfSearchParitySpec {
  /** One generated search: its model, index rows, queries and knobs. */
  final case class Mix(cents: Seq[(Int, Seq[Double])],
                       rows: Seq[(Option[Long], Option[Seq[Double]], Option[Int])],
                       qs: Seq[(Option[Long], Option[Seq[Double]])],
                       k: Int, nprobe: Int, excludeSelf: Boolean)
}
