package graft

import org.apache.spark.sql.functions._
import graft.operators.Ann

/** The r9 fit/encode/search deployment split: models and index tables
  * persist to parquet, reload, and serve queries WITHOUT re-training —
  * the query path launches a small, constant number of Spark jobs
  * (probe ranking + the ADC/cluster join), never the Lloyd-round
  * collect loop. The inline ivfKnn/pqKnn/ivfPqKnn compositions remain
  * the oracle shape; these tests pin split == inline.
  */
class AnnIndexSpec extends SparkSpec {

  private def embs = Tables.embeddings(spark, sfDir)
  private def queries = embs.filter(col("vec_id") < 10)

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"annidx_$name")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("IVF: reloaded model+index serve queries with no training jobs; split == inline") {
    val dir = tmp("ivf")
    val (_, fitJobs) = countJobs {
      val cents = Ann.ivfFit(embs, c = 8, iters = 2)
      Ann.ivfModelDf(spark, cents).write.mode("overwrite").parquet(s"$dir/model")
      Ann.ivfEncode(embs, cents).write.mode("overwrite").parquet(s"$dir/index")
    }
    val model = Ann.ivfModelFrom(spark.read.parquet(s"$dir/model"))
    val index = spark.read.parquet(s"$dir/index")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (got, searchJobs) = countJobs {
      rows(Ann.ivfSearch(model, index, queries, k = 5, nprobe = 3))
    }
    val left = spark.sparkContext.getPersistentRDDs.keySet -- persisted
    val want = rows(Ann.ivfKnn(embs, queries, k = 5, c = 8, nprobe = 3))
    assert(got == want, "split search must reproduce the inline composition")
    // the query path is the query collect plus one read of the index —
    // never the per-Lloyd-round collect loop the fit phase runs (each
    // round is its own multi-stage job set): 2 jobs. The embeddings are
    // one small file, read as one split with no rebalance, and their
    // re-read is pinned by SchemaPin: no schema job
    assert(searchJobs < fitJobs,
      s"search ($searchJobs jobs) must be lighter than fit+encode ($fitJobs)")
    assert(searchJobs <= 2, s"query path launched $searchJobs jobs — training leaked in?")
    assert(left.isEmpty, s"search left persisted RDDs ${left.mkString(", ")}")
    // a driver-local query batch (the serving posture) over the same
    // unchanged index read is served from the session's cache: no job
    val local = spark.createDataFrame(java.util.Arrays.asList(queries.collect(): _*),
      queries.schema)
    val (gotLocal, localJobs) = countJobs {
      rows(Ann.ivfSearch(model, index, local, k = 5, nprobe = 3))
    }
    assert(gotLocal == want)
    assert(localJobs == 0, s"a local batch's search over a held index launched $localJobs jobs")
  }

  test("IVF probe pushdown: a small batch skips row groups of a cell-sorted index; " +
      "a batch probing half the cells reads every row") {
    val dir = tmp("ivf_sorted")
    val c = 8
    val cents = Ann.ivfFit(embs, c = c, iters = 2)
    // one file sorted by cell, in row groups of a few dozen rows
    Ann.ivfEncode(embs, cents).repartition(1).sortWithinPartitions("cluster")
      .write.mode("overwrite")
      .option("parquet.block.size", 16384L).option("parquet.block.size.row.check.min", 8L)
      .parquet(dir)
    // the pushdown is the scan job's: a plain read of the index would be
    // served from the session's cache, which reads every row once
    val index = spark.read.parquet(dir).select("*")
    val total = index.count()
    def local(n: Int) = spark.createDataFrame(
      java.util.Arrays.asList(embs.filter(col("vec_id") < n).collect(): _*), embs.schema)
    for ((qs, nprobe) <- Seq(local(1) -> 1, local(10) -> c / 2)) {
      val probed = IvfSearchOracle.queryProbes(cents, qs, nprobe)
        .select("cluster").distinct().count()
      val (got, jobs, read) = countRead(rows(Ann.ivfSearch(cents, index, qs, k = 5, nprobe)))
      val what = s"${qs.count()} queries probing $probed of $c cells"
      assert(got == rows(IvfSearchOracle.ivfSearch(cents, index, qs, 5, nprobe,
        excludeSelf = true)), what)
      assert(got.nonEmpty, what)
      assert(jobs == 1, s"$what: $jobs jobs, want the one scan")
      if (2 * probed < c) assert(read < total, s"$what: read $read of $total rows")
      else assert(read == total, s"$what: read $read of $total rows")
    }
  }

  test("IVF: a repeat search over an unchanged index runs no job; after an append, " +
      "one job that reads exactly the appended rows") {
    val dir = s"${tmp("ivf_held")}/index"
    val cents = Ann.ivfFit(embs, c = 8, iters = 2)
    val encoded = Ann.ivfEncode(embs, cents).localCheckpoint()
    encoded.filter(col("vec_id") % 5 =!= 0).repartition(2).write.parquet(dir)
    val local = spark.createDataFrame(java.util.Arrays.asList(queries.collect(): _*),
      queries.schema)
    def search(read: => org.apache.spark.sql.DataFrame) =
      rows(Ann.ivfSearch(cents, read, local, k = 5, nprobe = 3, excludeSelf = false))
    def served() = search(spark.read.parquet(dir))
    // the same index behind a projection is not a plain read: it is scanned
    def scanned() = search(spark.read.parquet(dir).select("*"))
    val total = spark.read.parquet(dir).count()
    val (first, firstJobs, firstRead) = countRead(served())
    assert(firstJobs == 1 && firstRead == total,
      s"the first search ran $firstJobs jobs reading $firstRead rows, want 1 job of $total")
    val (again, jobs, read) = countRead(served())
    assert(jobs == 0 && read == 0, s"a repeat ran $jobs jobs reading $read rows")
    assert(again == first && first == scanned())
    // an appended file that sorts after the first keeps the pinned schema
    val added = encoded.filter(col("vec_id") % 5 === 0)
    val n = added.count()
    appendFile(added, dir, "part-99999-appended.parquet")
    val (grown, grownJobs, grownRead) = countRead(served())
    assert(grownJobs == 1 && grownRead == n,
      s"after an append $grownJobs jobs read $grownRead rows, want 1 job of $n")
    assert(grown == scanned() && grown != first)
    assert(countRead(served()) == ((grown, 0, 0L)))
  }

  test("PQ: reloaded codebooks+code table serve ADC queries with no training jobs; split == inline") {
    val dir = tmp("pq")
    val (_, fitJobs) = countJobs {
      val cents = Ann.pqFit(embs, m = 4, ksub = 8, iters = 2)
      Ann.pqModelDf(spark, cents).write.mode("overwrite").parquet(s"$dir/model")
      Ann.pqEncode(embs, cents, m = 4).write.mode("overwrite").parquet(s"$dir/codes")
    }
    val model = Ann.pqModelFrom(spark.read.parquet(s"$dir/model"))
    val codes = spark.read.parquet(s"$dir/codes")
    val (got, searchJobs) = countJobs {
      rows(Ann.pqSearch(model, codes, queries, k = 5, m = 4))
    }
    val want = rows(Ann.pqKnn(embs, queries, k = 5, m = 4, ksub = 8))
    assert(got == want, "split search must reproduce the inline composition")
    assert(searchJobs < fitJobs,
      s"search ($searchJobs jobs) must be lighter than fit+encode ($fitJobs)")
    assert(searchJobs <= 10, s"query path launched $searchJobs jobs — training leaked in?")
  }

  test("rotated PQ: the rotation persists WITH the codebooks; reloaded rotation serves queries") {
    // the OPQ-hook deployment contract (r12): PQ codes are only
    // meaningful in the rotated basis, so the rotation is part of the
    // model — persisted next to the codebooks, and every later query
    // batch rotates with the RELOADED matrix, never a re-derived one
    val dir = tmp("pqrot")
    val rot = Ann.rotationMatrix(64, seed = 7L)
    val (_, fitJobs) = countJobs {
      val rEmbs = Ann.rotateEmbeddings(embs, rot, "embedding")
      val cents = Ann.pqFit(rEmbs, m = 4, ksub = 8, iters = 2)
      Ann.rotationDf(spark, rot).write.mode("overwrite").parquet(s"$dir/rotation")
      Ann.pqModelDf(spark, cents).write.mode("overwrite").parquet(s"$dir/model")
      Ann.pqEncode(rEmbs, cents, m = 4).write.mode("overwrite").parquet(s"$dir/codes")
    }
    val reloadedRot = Ann.rotationFrom(spark.read.parquet(s"$dir/rotation"))
    assert(reloadedRot == rot, "rotation must survive the parquet round-trip bit-exact")
    val model = Ann.pqModelFrom(spark.read.parquet(s"$dir/model"))
    val codes = spark.read.parquet(s"$dir/codes")
    val (got, searchJobs) = countJobs {
      rows(Ann.pqSearch(model, codes,
        Ann.rotateEmbeddings(queries, reloadedRot, "embedding"), k = 5, m = 4))
    }
    val want = rows(Ann.pqKnn(Ann.rotateEmbeddings(embs, rot, "embedding"),
      Ann.rotateEmbeddings(queries, rot, "embedding"), k = 5, m = 4, ksub = 8))
    assert(got == want, "reloaded-rotation search must reproduce the inline rotated composition")
    assert(searchJobs < fitJobs,
      s"search ($searchJobs jobs) must be lighter than fit+encode ($fitJobs)")
    assert(searchJobs <= 10, s"query path launched $searchJobs jobs — training leaked in?")
  }

  test("IVF-PQ: reloaded models+index serve queries with no training jobs; split == inline") {
    val dir = tmp("ivfpq")
    val (_, fitJobs) = countJobs {
      val (coarse, pqCents) = Ann.ivfPqFit(embs, c = 4, m = 8, ksub = 8)
      Ann.ivfModelDf(spark, coarse).write.mode("overwrite").parquet(s"$dir/coarse")
      Ann.pqModelDf(spark, pqCents).write.mode("overwrite").parquet(s"$dir/pq")
      Ann.ivfPqEncode(embs, coarse, pqCents, m = 8)
        .write.mode("overwrite").parquet(s"$dir/index")
    }
    val coarse = Ann.ivfModelFrom(spark.read.parquet(s"$dir/coarse"))
    val pqCents = Ann.pqModelFrom(spark.read.parquet(s"$dir/pq"))
    val index = spark.read.parquet(s"$dir/index")
    val (got, searchJobs) = countJobs {
      rows(Ann.ivfPqSearch(coarse, pqCents, index, queries, k = 5, nprobe = 2, m = 8))
    }
    val want = rows(
      Ann.ivfPqKnn(embs, queries, k = 5, c = 4, nprobe = 2, m = 8, ksub = 8))
    assert(got == want, "split search must reproduce the inline composition")
    assert(searchJobs < fitJobs,
      s"search ($searchJobs jobs) must be lighter than fit+encode ($fitJobs)")
    assert(searchJobs <= 12, s"query path launched $searchJobs jobs — training leaked in?")
  }

  test("excludeSelf=false returns the self-match at rank 1 (independent id spaces)") {
    // queries share ids with the corpus here, so with excludeSelf=false
    // each query's own vector is a candidate and must win rank 1 — the
    // deployment contract for separate id spaces, where dropping an
    // index vector that HAPPENS to share a query's id would be wrong
    val cents = Ann.ivfFit(embs, c = 4, iters = 1)
    val index = Ann.ivfEncode(embs, cents)
    val ivf = Ann.ivfSearch(cents, index, queries, k = 3, nprobe = 2,
        excludeSelf = false)
      .filter(col("rn") === 1).collect()
    assert(ivf.nonEmpty)
    assert(ivf.forall(r => r.getLong(0) == r.getLong(1) && r.getDouble(2) == 1.0),
      "with the self-match admitted, rank 1 must be the query itself at cosine 1.0")
    // the default keeps the inline-oracle behavior: self never returned
    val dflt = Ann.ivfSearch(cents, index, queries, k = 3, nprobe = 2).collect()
    assert(dflt.forall(r => r.getLong(0) != r.getLong(1)))
    // PQ face: the self-match's ADC distance is its own quantization
    // error, which is the per-subspace argmin over the codebook — so it
    // must TIE the rank-1 adist for its query (another vector sharing
    // the same codes can win the id tie-break, so rank 1 itself is not
    // guaranteed; the argmin property is)
    val pq = Ann.pqFit(embs, m = 8, ksub = 8, iters = 1)
    val pqIdx = Ann.pqEncode(embs, pq, m = 8)
    val pqAll = Ann.pqSearch(pq, pqIdx, queries, k = 50, m = 8, excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byQ = pqAll.groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.foreach { case (qid, rows) =>
      val self = rows.find(r => r._2 == qid)
      assert(self.isDefined, s"self-match for $qid missing with excludeSelf=false")
      val best = rows.minBy(_._4)._3
      assert(self.get._3 == best,
        s"self adist ${self.get._3} must equal the rank-1 adist $best for $qid")
    }
  }

  test("NSW graph: reloaded model+index+edges+entries serve queries with " +
      "no build jobs; split == inline") {
    val dir = tmp("nsw")
    val (_, buildJobs) = countJobs {
      val index = Ann.nswLshIndex(embs, nBits = 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      index.count()
      index.write.mode("overwrite").parquet(s"$dir/index")
      Ann.nswBuild(index, kNbr = 6, rounds = 2).write.mode("overwrite")
        .parquet(s"$dir/edges")
      Ann.nswEntries(index).write.mode("overwrite").parquet(s"$dir/entries")
      index.unpersist(blocking = true)
    }
    assert(buildJobs > 0)
    val index = spark.read.parquet(s"$dir/index")
    val edges = spark.read.parquet(s"$dir/edges")
    val entries = spark.read.parquet(s"$dir/entries")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (got, searchJobs) = countJobs {
      rows(Ann.nswSearchLsh(edges, index, entries, queries, k = 5, nBits = 4,
        beam = 16, hops = 3))
    }
    val left = spark.sparkContext.getPersistentRDDs.keySet -- persisted
    // inline recomputation: the LSH build + walk are replay-exact
    // (sign-LSH cells, fixed-order arithmetic), so the reloaded walk
    // must reproduce the inline composition row-for-row
    val index2 = Ann.nswLshIndex(embs, nBits = 4)
    val want = rows(Ann.nswSearchLsh(Ann.nswBuild(index2, 6, 2), index2,
      Ann.nswEntries(index2), queries, k = 5, nBits = 4, beam = 16, hops = 3))
    assert(got == want, "reloaded walk must reproduce the inline composition")
    // the query path is one collect each of the queries, the entries,
    // the index and the edges, then driver-side routing and walk: never
    // a job per hop, a second read of the queries, the NN-Descent round
    // loop or a fit (and no schema job: the parquet re-reads are pinned)
    assert(searchJobs <= 4, s"query path launched $searchJobs jobs " +
      "(a per-hop or build loop leaked into search)")
    // and it owns no state: nothing persisted outlives the call
    assert(left.isEmpty, s"search left persisted RDDs ${left.mkString(", ")}")
    // the session's serving cache holds the graph and the entries: a
    // local batch over the unchanged reads runs no job at all
    val local = spark.createDataFrame(java.util.Arrays.asList(queries.collect(): _*),
      queries.schema)
    val (gotLocal, localJobs) = countJobs {
      rows(Ann.nswSearchLsh(spark.read.parquet(s"$dir/edges"), spark.read.parquet(s"$dir/index"),
        spark.read.parquet(s"$dir/entries"), local, k = 5, nBits = 4, beam = 16, hops = 3))
    }
    assert(gotLocal == want)
    assert(localJobs == 0, s"a repeat over unchanged reads launched $localJobs jobs")
  }

  test("LSH and two-level IVF search: the query collect and one scan, nothing left persisted") {
    val (sup, ch) = Ann.ivfFitHier(embs, cSuper = 4, cChild = 4, iters = 1)
    val hIndex = Ann.ivfEncodeHier(embs, sup, ch, cChild = 4)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    // routing runs on the driver, between the query collect and one
    // scan of the corpus or index, merged on the driver: 2 jobs each
    val (lsh, lshJobs) = countJobs(rows(Ann.lshKnn(embs, queries, k = 5, nBits = 4)))
    val (hier, hierJobs) = countJobs(rows(Ann.ivfSearchHier(sup, ch, hIndex, queries,
      k = 5, cChild = 4)))
    val left = spark.sparkContext.getPersistentRDDs.keySet -- persisted
    assert(lsh.nonEmpty && hier.nonEmpty)
    assert(lshJobs <= 2, s"lshKnn launched $lshJobs jobs")
    assert(hierJobs <= 2, s"ivfSearchHier launched $hierJobs jobs")
    assert(left.isEmpty, s"search left persisted RDDs ${left.mkString(", ")}")
  }

  test("NSW graph build runs in at most 4 jobs") {
    // one exchange by cell feeding the per-cell kernel, materialized
    // once — never a job chain per NN-Descent round
    val index = Ann.nswLshIndex(embs, nBits = 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    index.count()
    val (edges, jobs) = countJobs(Ann.nswBuild(index, kNbr = 12, rounds = 3))
    assert(edges.count() > 0)
    assert(jobs <= 4, s"nswBuild launched $jobs jobs, budget 4")
    edges.unpersist(blocking = true)
    index.unpersist(blocking = true)
  }

  test("contrastive mining from the persisted index: full probe == brute, " +
      "partial probe finds every planted positive with no training jobs") {
    // planted twins: the only pairs ≥ 0.9 (max natural cosine ~0.6)
    val twins = queries.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"))
    val corpus = embs.select("vec_id", "embedding").unionByName(twins)
    val dir = tmp("contr")
    val c = 8
    val cents = Ann.ivfFit(corpus, c = c, iters = 2)
    Ann.ivfModelDf(spark, cents).write.mode("overwrite").parquet(s"$dir/model")
    Ann.ivfEncode(corpus, cents).write.mode("overwrite").parquet(s"$dir/index")
    val model = Ann.ivfModelFrom(spark.read.parquet(s"$dir/model"))
    val index = spark.read.parquet(s"$dir/index")
    // law 1: nprobe = c probes every cluster -> candidates = the whole
    // corpus -> row-for-row equality with the brute face (approximation
    // lives ONLY in candidate generation)
    val (full, searchJobs) = countJobs {
      rows(Ann.contrastivePairsFromIndex(model, index, queries, k = 5,
        posThreshold = 0.9, nprobe = c))
    }
    assert(full == rows(Ann.contrastivePairs(corpus, queries, k = 5,
      posThreshold = 0.9)), "full probe must equal the brute face")
    assert(searchJobs <= 5, s"query path launched $searchJobs jobs " +
      "(a Lloyd loop leaked into search)")
    // law 2: a near-dup positive shares the anchor's top cluster
    // (identical vector -> identical assignment), so even nprobe = 1
    // finds EVERY planted positive
    val pos = Ann.contrastivePairsFromIndex(model, index, queries, k = 5,
        posThreshold = 0.9, nprobe = 1)
      .filter(col("role") === "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = queries.select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    assert(pos == want, s"planted positives missed: got $pos")
  }
}
