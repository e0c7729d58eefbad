package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.{TreeNode, TreeNodeTag}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Plans a small shuffle as a gather into one partition. An AQE
  * query-stage preparation rule: it runs after `EnsureRequirements`, on
  * the initial plan and on every re-plan, so a bound that a finished
  * stage proves is used by the stages after it.
  *
  * Spark plans every global sort as a range exchange: a sampling job
  * that re-runs the sort's input, a map stage, then the sort. Over a few
  * KB that is three jobs for work one task does in a millisecond; AQE
  * later coalesces the shuffle to one partition but cannot take back the
  * sampling job or the stage.
  *
  * '''Gather.''' An `ENSURE_REQUIREMENTS` shuffle becomes a
  * `SinglePartition` exchange when its input is provably small:
  *  - a range exchange (a global sort) when its input is at most
  *    `spark.sql.adaptive.advisoryPartitionSizeInBytes`, one partition's
  *    worth by AQE's own target; the sampling pass goes with it;
  *  - a hash exchange (an aggregate or a window) when its input is at
  *    most `spark.sql.adaptive.coalescePartitions.minPartitionSize`,
  *    below which AQE's parallelism-first coalescing reads one partition
  *    anyway, so an aggregate gets no fewer partitions than before.
  *
  * '''Drop.''' An `ENSURE_REQUIREMENTS` shuffle whose child already
  * outputs one partition is removed: a single partition satisfies any
  * distribution a one-child operator asks for, so a small aggregate and
  * the sort above it run in one stage.
  *
  * '''Provably small.''' The bound on an exchange's input is, in order:
  * the runtime size of the finished query stage under a chain of
  * one-child operators; else Catalyst's size estimate of the input's
  * logical plan, which covers an exact `LocalRelation` and takes runtime
  * sizes for finished stages. A file scan's estimate is its size on
  * disk. Either bound is refused when the operators it spans contain a
  * row-multiplying node (a generator, `Expand`, a flat-map or a UDTF),
  * whose output Catalyst cannot bound.
  *
  * '''Kept as planned.''' Any exchange under an operator with more than
  * one child (the sides of a sort-merge or shuffled-hash join stay
  * co-partitioned), user repartitions (`REPARTITION_BY_*`, `REBALANCE`),
  * an exchange whose input stage is a user repartition, and every
  * non-AQE plan (the rule runs only inside AQE).
  */
final class SmallGather extends Rule[SparkPlan] {
  import SmallGather._

  def apply(plan: SparkPlan): SparkPlan =
    rewrite(plan, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))

  private def rewrite(p: SparkPlan, sortBound: Long, hashBound: Long): SparkPlan = p match {
    case _ if p.children.size > 1 => p
    case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS =>
      val child = rewrite(e.child, sortBound, hashBound)
      val limit = e.outputPartitioning match {
        case _: RangePartitioning => Some(sortBound)
        case _: HashPartitioning => Some(hashBound)
        case _ => None
      }
      if (child.outputPartitioning.numPartitions == 1) child
      else if (limit.exists(l => !feedsOnUserShuffle(child) && bound(child).exists(_ <= l))) {
        val g = e.copy(outputPartitioning = SinglePartition, child = child)
        g.setTagValue(Gathered, ())
        g
      } else e.withNewChildren(Seq(child))
    case _ => p.mapChildren(rewrite(_, sortBound, hashBound))
  }
}

object SmallGather {

  /** Marks an exchange this rule planned as a gather, so that plan tools
    * tell it apart from a gather Spark asked for (a global aggregate's or
    * an unpartitioned window's).
    */
  private val Gathered = TreeNodeTag[Unit]("graft.smallGather")

  def isGather(p: SparkPlan): Boolean = p.getTagValue(Gathered).isDefined

  /** Nodes whose output rows Catalyst cannot bound by their input's:
    * generators, `Expand`, the object and Python/R map-partitions and
    * flat-map-groups operators, Python UDTFs and script transforms. By
    * class name, so that one list covers the logical and the physical
    * node and the Python and R variants.
    */
  private def multipliesRows(n: TreeNode[_]): Boolean = {
    val name = n.getClass.getSimpleName.stripSuffix("Exec")
    name == "Generate" || name == "Expand" || name == "MapGroups" || name == "CoGroup" ||
      name.startsWith("MapPartitions") || name.startsWith("MapIn") ||
      name.startsWith("FlatMap") || name.endsWith("MapInArrow") ||
      name.endsWith("PythonUDTF") || name.contains("ScriptTransformation")
  }

  /** An upper bound on the bytes `p` outputs, or None. */
  private def bound(p: SparkPlan): Option[BigInt] =
    stageUnder(p) match {
      case Some(s) => s.computeStats().map(_.sizeInBytes)
      case None => estimate(p)
    }

  /** The finished query stage at the bottom of a chain of one-child,
    * non-multiplying operators from `p`, if there is one.
    */
  private def stageUnder(p: SparkPlan): Option[QueryStageExec] = p match {
    case s: QueryStageExec => Some(s).filter(_.isMaterialized)
    case _ if p.children.size == 1 && !multipliesRows(p) => stageUnder(p.children.head)
    case _ => None
  }

  /** Catalyst's estimate of `p`'s logical plan. A node planned as a part
    * of a larger logical operator (a partial aggregate) inherits that
    * operator's link; its output is bounded by the operator's input, not
    * by the operator's output, so the larger of the two is taken.
    */
  private def estimate(p: SparkPlan): Option[BigInt] = {
    val own = p.getTagValue(SparkPlan.LOGICAL_PLAN_TAG)
    val link = own.orElse(p.getTagValue(SparkPlan.LOGICAL_PLAN_INHERITED_TAG))
    link.filterNot(multipliesRowsIn).map { l =>
      if (own.isDefined) l.stats.sizeInBytes
      else (l.stats.sizeInBytes +: l.children.map(_.stats.sizeInBytes)).max
    }
  }

  /** Whether a row-multiplying node is in `l`, down to finished stages. */
  private def multipliesRowsIn(l: LogicalPlan): Boolean = l.exists {
    case LogicalQueryStage(inner, physical) =>
      !physical.exists { case q: QueryStageExec => q.isMaterialized; case _ => false } &&
        multipliesRowsIn(inner)
    case n => multipliesRows(n)
  }

  /** Whether the stage that feeds `p` reads a user repartition. */
  private def feedsOnUserShuffle(p: SparkPlan): Boolean = p match {
    case e: ShuffleExchangeExec => e.shuffleOrigin != ENSURE_REQUIREMENTS
    case s: ShuffleQueryStageExec => s.shuffle.shuffleOrigin != ENSURE_REQUIREMENTS
    case _: QueryStageExec => false
    case _ => p.children.exists(feedsOnUserShuffle)
  }
}
