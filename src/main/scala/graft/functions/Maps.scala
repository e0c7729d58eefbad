package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Map-valued aggregates — the Spark re-expression of the reference's
  * map_union / map_union_sum / multimap_agg
  * (reference: presto-main/src/main/java/com/facebook/presto/operator/
  * aggregation/MapUnionAggregation.java:1,
  * .../aggregation/MapUnionSumAggregation.java:1,
  * .../aggregation/multimapagg/MultimapAggregationFunction.java:1).
  *
  * Shape: explode the map column to entries, hash-aggregate per key
  * with an explicit combiner, rebuild the map sorted by key. This is
  * deliberately NOT a custom buffer aggregate: entry-level hash
  * aggregation gets map-side partial combine for free and scales as a
  * single shuffle keyed by (group, key) — at 100 TB a map-state buffer
  * per group would hold the whole key space per executor, while the
  * entry shuffle is bounded by distinct (group, key) pairs. Where the
  * reference leaves duplicate-key resolution "arbitrary"
  * (MapUnionAggregation), graft pins a deterministic combiner so
  * results are reproducible under any partitioning.
  */
object Maps {

  private def entryRows(df: DataFrame, keys: Seq[String], mapCol: String): DataFrame =
    df.select(keys.map(col) :+ explode(col(mapCol)).as(Seq("k", "v")): _*)

  private def rebuild(grouped: DataFrame, keys: Seq[String], out: String): DataFrame =
    grouped
      .groupBy(keys.map(col): _*)
      .agg(map_from_entries(sort_array(collect_list(struct(col("k"), col("v")))))
        .as(out))

  /** Presto map_union AND map_union_sum over the same input in ONE
    * entry pass — the shape the reference executes when a query computes
    * several map aggregates in the same GROUP BY (one AggregationNode,
    * shared input). `outMax` resolves a key shared across rows max-wins
    * (the reference keeps an arbitrary value; a deterministic engine
    * must pin one); in `outSum` the values of shared keys add. One call
    * per aggregate would re-explode and re-shuffle the entry stream per
    * aggregate and then need a join to reunite results that were never
    * apart — at corpus scale that is two extra passes over the map
    * column for zero information.
    */
  def mapUnions(df: DataFrame, keys: Seq[String], mapCol: String,
                outMax: String = "map_union",
                outSum: String = "map_union_sum"): DataFrame =
    entryRows(df, keys, mapCol).groupBy((keys :+ "k").map(col): _*)
      .agg(max(col("v")).as("vmax"), sum(col("v")).as("vsum"))
      .groupBy(keys.map(col): _*)
      .agg(
        map_from_entries(sort_array(collect_list(struct(col("k"), col("vmax")))))
          .as(outMax),
        map_from_entries(sort_array(collect_list(struct(col("k"), col("vsum")))))
          .as(outSum))

  /** Presto multimap_agg(key, value) → map<k, array<v>> with values
    * sorted per key (the reference preserves encounter order, which is
    * partitioning-dependent; sorted is the deterministic contract).
    */
  def multimapAgg(df: DataFrame, keys: Seq[String], kCol: String, vCol: String,
                  out: String = "multimap"): DataFrame =
    rebuild(df.groupBy((keys :+ kCol).map(c => col(c)): _*)
      .agg(sort_array(collect_list(col(vCol))).as("v"))
      .withColumnRenamed(kCol, "k"), keys, out)
}
