package graft.tools

import graft._

/** Measured-shuffle sweep: execute every registered query and report the
  * ACTUAL bytes/records through its shuffle writes — the numbers behind
  * §2.7's "this shuffle is bounded" claims (PlanAudit counts exchanges;
  * this weighs them). Read against the known table sizes in TESTDATA.md:
  * a df-capped / quota-sized / model-sized shuffle sits orders of
  * magnitude below its input table; a corpus-sized shuffle rivals it.
  * (Stage inputMetrics are NOT reported: the columnar parquet reader
  * under-reports bytesRead for most scans, so an input-relative ratio
  * would mislead.)
  *
  * Each query runs once to a noop sink with the cache cleared first;
  * its shuffle writes are summed over exactly the stages that run
  * completed ([[StageLog]] drains before and after it).
  */
object ShuffleAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val stages = StageLog.attach(spark.sparkContext)
    def mb(b: Long): String = f"${b / 1048576.0}%.2f"
    // optional regex filter (same knob as Bench/PlanAudit)
    val filter = sys.env.get("SPARK_GRAFT_FILTER").map(_.r)
    // snapshot provenance: shuffle_diff's flap re-measurement must run
    // against the SAME data the snapshot was taken at, or a cross-SF
    // reading could mask a real regression as a flap
    println(s"[shuffle-meta] sf_dir=$d")
    def measure(name: String, run: () => org.apache.spark.sql.DataFrame): Unit =
      try {
        spark.catalog.clearCache()
        stages.drain()
        run().write.format("noop").mode("overwrite").save()
        val ran = stages.drain()
        println(f"[shuffle] $name%-32s shuffle_mb=${mb(ran.map(_.shuffleBytes).sum)}%-9s " +
          f"shuffle_rows=${ran.map(_.shuffleRecords).sum}%d")
      } catch {
        case e: Throwable => println(s"[shuffle] $name ERROR ${e.getMessage.take(60)}")
      }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => filter.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) => measure(name, () => fn(spark, d)) }
    // NATURAL-DENSITY controls (r13 VERDICT item 6): the q138/q188 PQ
    // search shapes with NO planted twins — queries are the first 10
    // natural vectors. The registered queries' sf1 byte super-linearity
    // was adjudicated as the generator's planted dup-density; these rows
    // make the data-vs-shape split mechanical: a control row scaling
    // ~linearly across SFs proves the SHAPE is linear, so any remaining
    // super-linearity in the registered row is the data.
    locally {
      import org.apache.spark.sql.functions.col
      import graft.operators.Ann
      def embs = Tables.embeddings(spark, d)
      def nat = embs.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
      Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "ctrl_q138_pq_natural" -> (() =>
          Ann.pqKnn(embs, nat, k = 5, m = 32, ksub = 16, trainMod = 4)),
        "ctrl_q188_pq_rot_natural" -> (() =>
          Ann.pqKnn(Ann.rotateEmbeddings(embs), Ann.rotateEmbeddings(nat),
            k = 5, m = 32, ksub = 16, trainMod = 4)))
        .filter { case (name, _) => filter.forall(_.findFirstIn(name).isDefined) }
        .foreach { case (name, fn) => measure(name, fn) }
    }
    spark.stop()
  }
}
