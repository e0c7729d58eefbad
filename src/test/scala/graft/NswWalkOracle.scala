package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Sketches
import graft.operators.Ann
import graft.plans.NativeFunctions

/** The DataFrame formulation of `Ann.nswWalk` that the one-pass
  * driver walk ([[graft.plans.NswWalk]]) replaced, kept as its parity
  * oracle: score the distinct seeds by join against the vector table,
  * then per hop expand the frontier through the symmetrized edge list,
  * anti-join the visited set, score the new candidates and cut the
  * next frontier by a per-query window (hop 1 expands every seed);
  * the final top-k ranks the allowed visited nodes. Only the layout
  * tuning of the old operator (the co-locating repartitions, their
  * persists and release) is left out — none of it changes a row.
  *
  * The seeds come from the DataFrame routings the driver routers
  * ([[graft.plans.IvfProbe]]) replaced, so that a parity case compares
  * the routing too: [[seedsIvf]] and [[seedsLsh]].
  */
object NswWalkOracle {

  /** Centroid routing for `Ann.nswSearch`: each query's `nprobe`
    * closest cells ([[IvfSearchOracle.queryProbes]]) joined with the
    * (cluster, vec_id) entry table → (qid, cid) seeds.
    */
  def seedsIvf(cents: Seq[(Int, Seq[Double])], queries: DataFrame, entries: DataFrame,
               nprobe: Int): DataFrame =
    IvfSearchOracle.queryProbes(cents, queries, nprobe)
      .join(entries, Seq("cluster"))
      .select(col("qid"), col("vec_id").as("cid"))

  /** Multi-probe LSH routing for `Ann.nswSearchLsh`: each query's own
    * bucket and every hamming-1 flip, hashed in the plan, joined with
    * the broadcast entry table → (qid, cid) seeds.
    */
  def seedsLsh(queries: DataFrame, entries: DataFrame, nBits: Int): DataFrame =
    queries
      .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qe"))
      .withColumn("bucket", Sketches.affineHyperplaneBucket("qe", nBits))
      .select(col("qid"), explode(Ann.lshProbeSet("bucket", nBits)).as("pb"))
      .select(col("qid"), col("pb").cast("int").as("cluster"))
      .join(broadcast(entries), Seq("cluster"))
      .select(col("qid"), col("vec_id").as("cid"))

  def walk(seeds: DataFrame, edges: DataFrame, index: DataFrame,
           queries: DataFrame, k: Int, beam: Int, hops: Int,
           excludeSelf: Boolean, pred: Option[Column] = None): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qe")))
    val thin = index.select(col("vec_id").as("cid"), col("ve"),
      pred.getOrElse(lit(true)).as("ok"))
    def score(cand: DataFrame): DataFrame = cand
      .join(thin, Seq("cid"))
      .join(q, Seq("qid"))
      .filter(if (excludeSelf) col("qid") =!= col("cid") else lit(true))
      .select(col("qid"), col("cid"),
        round(NativeFunctions.cosineSim(col("qe"), col("ve")), 4).as("sim"),
        col("ok"))
    val wb = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    def topBeam(acc: DataFrame): DataFrame = acc
      .withColumn("rn", row_number().over(wb)).filter(col("rn") <= beam)
      .select(col("qid"), col("cid"), col("sim"))
    var acc = score(seeds.select(col("qid"), col("cid")).distinct()).localCheckpoint()
    var frontier = acc.select(col("qid"), col("cid"), col("sim"))
    val adj = edges.select(col("u").as("cid"), col("v"))
      .unionByName(edges.select(col("v").as("cid"), col("u").as("v")))
    for (_ <- 1 to hops) {
      val expand = frontier
        .join(adj, Seq("cid"))
        .select(col("qid"), col("v").as("cid")).distinct()
        .join(acc.select(col("qid"), col("cid")), Seq("qid", "cid"), "left_anti")
      acc = acc.unionByName(score(expand)).localCheckpoint()
      frontier = topBeam(acc)
    }
    acc.filter(col("ok"))
      .withColumn("rn", row_number().over(wb))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rn"))
  }
}
