package graft

import org.apache.spark.sql.functions._
import graft.operators.ZOrder

/** Z-order clustering: interleave exactness and the data-skipping
  * payoff (tight per-file bounding boxes on BOTH dimensions).
  */
class ZOrderSpec extends SparkSpec {

  /** Per-file bounding boxes of (x, y) — the statistics a reader prunes
    * with.
    */
  private def fileBoxes(path: String, x: String, y: String) =
    spark.read.parquet(path)
      .withColumn("file", input_file_name())
      .groupBy("file")
      .agg(min(x).as("x_min"), max(x).as("x_max"),
        min(y).as("y_min"), max(y).as("y_max"), count(lit(1)).as("rows"))

  test("zval interleaves bits exactly (x even positions, y odd)") {
    import spark.implicits._
    // x=3 → bits 0,1 → z bits 0,2 = 5; y=5 → bits 0,2 → z bits 1,5 = 34
    val rows = Seq((3, 5), (0, 0), (1023, 1023)).toDF("x", "y")
      .withColumn("zval", ZOrder.zval("x", "y", bits = 10).cast("long"))
      .orderBy("x").collect().map(_.getAs[Long]("zval"))
    assert(rows(0) == 0L)
    assert(rows(1) == 39L)
    assert(rows(2) == (1L << 20) - 1) // all 20 bits set
  }

  test("a slice predicate on EITHER dimension prunes z-clustered files; a 1-D sort only prunes its own") {
    def k(salt: String) =
      conv(substring(md5(concat(lit(s"$salt|"), col("l_orderkey").cast("string"),
        lit("|"), col("l_linenumber").cast("string"))), 1, 8), 16, 10).cast("long") % 1024
    val li = Tables.lineitem(spark, sfDir)
      .select(k("zx").as("x"), k("zy").as("y"))
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    // baseline: same file count, sorted on x only — each file spans the
    // full y range, so any y-predicate must read every file
    li.repartitionByRange(8, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$dir/linear")
    ZOrder.clusterWrite(li, "x", "y", s"$dir/zorder", n = 8)

    // files whose [min,max] stats overlap the slice [0,63] on dimension d
    def touched(path: String, d: String): Long =
      fileBoxes(path, "x", "y")
        .filter(col(s"${d}_min") <= 63 && col(s"${d}_max") >= 0)
        .count()
    val linWorst = math.max(touched(s"$dir/linear", "x"), touched(s"$dir/linear", "y"))
    val zWorst = math.max(touched(s"$dir/zorder", "x"), touched(s"$dir/zorder", "y"))
    // 1-D layout: the y-slice touches all 8 files. Z-order bounds BOTH
    // dimensions' per-file extents, so the worst dimension still prunes
    // (≤4 quadrant files + possibly one range-boundary straddler —
    // repartitionByRange boundaries are sample-based).
    assert(linWorst == 8, s"expected the 1-D layout to read all files for the y slice, got $linWorst")
    assert(zWorst <= 5, s"z-order worst-dimension touched $zWorst of 8 files")
  }
}
