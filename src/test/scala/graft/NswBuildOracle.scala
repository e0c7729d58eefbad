package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.NativeFunctions

/** The DataFrame formulation of `Ann.nswBuild` that the per-cell
  * kernel ([[graft.plans.NswCellGraph]]) replaced, kept as its parity
  * oracle: cluster-local hash-ring init by window ranks, then `rounds`
  * NN-Descent rounds of self-joined symmetrized top-h samples, scored
  * by join against the vector table and cut by a per-node window; the
  * result is the final lists ∪ the ring, `distinct`. Only the layout
  * tuning of the old operator (explicit partition counts, the
  * co-partitioning conf, block release) is left out — none of it
  * changes a row.
  */
object NswBuildOracle {
  private def hrank(c: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit("nsw|"), c.cast("string"))), 1, 15), 16, 10)
      .cast("long")

  private def topKPerNode(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("cluster"), col("u"))
      .orderBy(col("sim").desc, col("v"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("cluster"), col("u"), col("v"), col("sim"))
  }

  def build(index: DataFrame, kNbr: Int, rounds: Int): DataFrame = {
    val byCell = index.select(col("cluster"), col("vec_id"), col("ve"))
    val w = Window.partitionBy(col("cluster")).orderBy(col("h"), col("vec_id"))
    val ranked = byCell
      .withColumn("h", hrank(col("vec_id")))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_c", count(lit(1)).over(Window.partitionBy(col("cluster"))))
    val targets = ranked
      .select(col("vec_id").as("u"), col("ve").as("uve"), col("cluster"),
        col("rn"), col("n_c"),
        explode(expr(s"sequence(1, least($kNbr, n_c - 1))")).as("d"))
      .withColumn("rn_t", (col("rn") - 1 + col("d")) % col("n_c") + 1)
    val init = targets.join(
        ranked.select(col("vec_id").as("v"), col("ve").as("vve"),
          col("cluster"), col("rn").as("rn_t")),
        Seq("cluster", "rn_t"))
      .filter(col("u") =!= col("v"))
      .select(col("cluster"), col("u"), col("v"),
        NativeFunctions.cosineSim(col("uve"), col("vve")).as("sim"))
      .localCheckpoint()
    var edges = topKPerNode(init, kNbr).localCheckpoint()
    val h = math.max(4, kNbr / 2)
    for (_ <- 1 to rounds) {
      val top = topKPerNode(edges, h)
      val sym = top.select(col("cluster"), col("u"), col("v"))
        .unionByName(top.select(col("cluster"), col("v").as("u"), col("u").as("v")))
      val non = sym.as("a").join(sym.as("b"),
          col("a.cluster") === col("b.cluster") && col("a.v") === col("b.u"))
        .select(col("a.cluster").as("cluster"), col("a.u").as("u"),
          col("b.v").as("v"))
        .filter(col("u") =!= col("v"))
        .unionByName(edges.select(col("cluster"), col("u"), col("v")))
        .dropDuplicates("cluster", "u", "v")
      val scored = non
        .join(byCell.select(col("cluster"), col("vec_id").as("u"),
          col("ve").as("uve")), Seq("cluster", "u"))
        .join(byCell.select(col("cluster"), col("vec_id").as("v"),
          col("ve").as("vve")), Seq("cluster", "v"))
        .select(col("cluster"), col("u"), col("v"),
          NativeFunctions.cosineSim(col("uve"), col("vve")).as("sim"))
      edges = topKPerNode(scored, kNbr).localCheckpoint()
    }
    edges.select(col("u"), col("v"), col("sim"))
      .unionByName(init.select(col("u"), col("v"), col("sim")))
      .distinct()
  }
}
