package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Sketches
import graft.operators.Ann
import graft.plans.NativeFunctions

/** The DataFrame formulation of `Ann.ivfSearch`, `Ann.ivfSearchHier` and
  * `Ann.lshKnn` that the driver routing and one-scan search
  * ([[graft.plans.IvfProbe]]) replaced, kept as their parity oracle:
  * route every query in the plan (a cross join with the broadcast
  * centroid model and a per-query window, or the query's exploded
  * multi-probe LSH buckets), then equi-join the broadcast probe set
  * against the index on `cluster` (the corpus on `bucket`), score, and
  * rank by a second window.
  */
object IvfSearchOracle {

  private def cosine(a: String, b: String) = NativeFunctions.cosineSim(col(a), col(b))

  private def queryRows(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qe"))

  /** Each query's `nprobe` closest centroids → (qid, qe, cluster). */
  def queryProbes(cents: Seq[(Int, Seq[Double])], queries: DataFrame,
                  nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centDf = broadcast(cents.toDF("cid", "ce"))
    queryRows(queries)
      .join(centDf)
      .withColumn("csim", cosine("qe", "ce"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cid"))))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qe"), col("cid").as("cluster"))
  }

  /** Candidates = probe-set equi-join against the index on `cluster`,
    * exact-cosine rank, top-k.
    */
  def probeIndex(index: DataFrame, qprobes: DataFrame, k: Int,
                 excludeSelf: Boolean): DataFrame = {
    val cand = index.select(col("vec_id").as("cvid"), col("ve").as("cve"), col("cluster"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cvid"))
    cand.join(broadcast(qprobes), Seq("cluster"))
      .filter(if (excludeSelf) col("qid") =!= col("cvid") else lit(true))
      .withColumn("sim", round(cosine("qe", "cve"), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cvid").as("cid"), col("sim"), col("rn"))
  }

  def ivfSearch(cents: Seq[(Int, Seq[Double])], index: DataFrame, queries: DataFrame,
                k: Int, nprobe: Int, excludeSelf: Boolean): DataFrame =
    probeIndex(index, queryProbes(cents, queries, nprobe), k, excludeSelf)

  def ivfSearchHier(superCents: Seq[(Int, Seq[Double])],
                    children: Seq[(Int, Int, Seq[Double])], index: DataFrame,
                    queries: DataFrame, k: Int, cChild: Int, nprobeSuper: Int,
                    nprobePerSuper: Int, excludeSelf: Boolean): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val supDf = broadcast(superCents.toDF("scid", "sce"))
    val chDf = broadcast(children.toDF("parent", "ccid", "ce"))
    val qprobes = queryRows(queries)
      .join(supDf)
      .withColumn("ssim", cosine("qe", "sce"))
      .withColumn("srn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("ssim").desc, col("scid").desc)))
      .filter(col("srn") <= nprobeSuper)
      .select(col("qid"), col("qe"), col("scid").as("parent"))
      .join(chDf, Seq("parent"))
      .withColumn("csim", cosine("qe", "ce"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"), col("parent"))
          .orderBy(col("csim").desc, col("ccid").desc)))
      .filter(col("rn") <= nprobePerSuper)
      .select(col("qid"), col("qe"),
        (col("parent") * cChild + col("ccid")).cast("int").as("cluster"))
    probeIndex(index, qprobes, k, excludeSelf)
  }

  /** `Ann.lshKnn` as it was: both sides bucketed in the plan, the
    * queries' multi-probe buckets exploded and broadcast, the join on
    * `bucket` ranked by a per-query window. A query never answers
    * itself.
    */
  def lshKnn(corpus: DataFrame, queries: DataFrame, k: Int, nBits: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("cid"), col("embedding").cast("array<double>").as("ce"))
      .withColumn("bucket", Sketches.affineHyperplaneBucket("ce", nBits))
    val q = broadcast(queryRows(queries)
      .withColumn("bucket", Sketches.affineHyperplaneBucket("qe", nBits))
      .select(col("qid"), col("qe"), explode(Ann.lshProbeSet("bucket", nBits)).as("bucket")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    c.join(q, Seq("bucket")).filter(col("qid") =!= col("cid"))
      .withColumn("sim", round(cosine("qe", "ce"), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rn"))
  }
}
