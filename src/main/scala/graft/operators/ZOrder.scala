package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering for multi-dimensional data
  * skipping — the layout trick behind Delta/Iceberg OPTIMIZE ZORDER and
  * the reference's KdbTree-style spatial partitioning, expressed on
  * plain parquet: interleave the bits of two (quantized) key columns so
  * that sorting by the single z-value keeps BOTH dimensions locally
  * clustered. Files written in z-order carry tight per-file min/max
  * ranges on each dimension, so a scan with predicates on either (or
  * both) keys prunes most files/row-groups from statistics alone.
  *
  * Everything is exact integer bit-arithmetic (shifts, masks, adds) —
  * replayable verbatim in any SQL engine, hence FULL-oracle testable.
  */
object ZOrder {

  /** SQL fragment computing the `bits`-per-dimension Morton interleave
    * of two integer expressions (x in even positions, y in odd). An
    * explicit `bits`-term sum, shared verbatim with oracles.
    */
  def zvalSql(x: String, y: String, bits: Int = 10): String =
    (0 until bits).map { i =>
      val (xm, ym) = (1L << (2 * i), 2L << (2 * i))
      val (lo, hi) = (1L << i, 1L << (i + 1))
      // bit i of v == 1  ⇔  v % 2^(i+1) >= 2^i; spelled with only % and
      // >= so the same fragment parses in Spark SQL and DuckDB (their
      // shift operators differ), exact for non-negative keys
      s"(CASE WHEN ($x % $hi) >= $lo THEN $xm ELSE 0 END + " +
        s"CASE WHEN ($y % $hi) >= $lo THEN $ym ELSE 0 END)"
    }.mkString(" + ")

  /** Column form of [[zvalSql]]. */
  def zval(x: String, y: String, bits: Int = 10): Column =
    expr(zvalSql(x, y, bits))

  /** Write `df` into `n` files clustered along the z-curve of (x, y):
    * range-partition by z-value (balanced file sizes whatever the key
    * distribution) and sort within each partition. At warehouse scale
    * this is the periodic OPTIMIZE pass over a table whose queries
    * filter on both keys.
    */
  def clusterWrite(df: DataFrame, x: String, y: String, path: String,
                   n: Int, bits: Int = 10): Unit =
    df.withColumn("zval", zval(x, y, bits))
      .repartitionByRange(n, col("zval"))
      .sortWithinPartitions("zval")
      .drop("zval")
      .write.mode("overwrite").parquet(path)
}
