package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{ColumnarRule, ProjectExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Physical rule: the global sort that produces a query's result gathers
  * its input into one partition when that input is small, instead of
  * range-partitioning it. A range exchange builds a `RangePartitioner`,
  * which runs a sampling job over the sort's input before the sort's own
  * job; a single-partition exchange needs no sample. The reference does its
  * final ORDER BY the same way, as a merge of sorted streams with no
  * sampling pass (core/trino-main/src/main/java/io/trino/operator/MergeOperator.java).
  *
  * "Small" is at most `spark.sql.adaptive.advisoryPartitionSizeInBytes`:
  * the size at which AQE would coalesce the range exchange's output into
  * one partition anyway. The input is sized by the smaller of
  *  - Catalyst's estimate for the sort, and
  *  - once every stage under the exchange has run (AQE re-plans after each
  *    stage), the bytes those stages produced plus the estimated bytes of
  *    the scans in the exchange's own stage.
  * An unknown or larger size keeps range partitioning: that is the path
  * for large results.
  *
  * Only the sort at the top of the plan, under nothing but deterministic
  * projections, is touched. A sort that feeds a write keeps its range
  * layout, because that layout is the written files: a V1 write
  * (`df.write`, CTAS, INSERT) is the root of its own plan, and the query of
  * a DSv2 write, which AQE plans on its own, is tagged by [[writeGuard]]. A
  * `repartitionByRange` exchange has another shuffle origin and no sort
  * above it.
  *
  * Injected twice by `GraftSession.builder`: as a query-stage preparation
  * rule (AQE, after `EnsureRequirements`, on every re-plan) and as a
  * columnar pre-transition rule (AQE off). */
object SmallResultSort extends Rule[SparkPlan] {
  /** Marks the logical nodes of a DSv2 write's query. */
  private val FeedsWrite = TreeNodeTag[Unit]("graft.feedsWrite")

  /** Planner hook that plans nothing: it tags the query of each DSv2 write
    * before the write's own strategy plans it. Tags survive AQE's re-plans
    * (copied nodes keep them), so the sort of the plan AQE builds for that
    * query is still known to feed the write. */
  val writeGuard: SparkStrategy = new SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = {
      plan match {
        case w: V2WriteCommand => w.query.foreach(_.setTagValue(FeedsWrite, ()))
        case _ =>
      }
      Nil
    }
  }

  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = SmallResultSort
  }

  def apply(plan: SparkPlan): SparkPlan = plan match {
    case p: ProjectExec if p.projectList.forall(_.deterministic) =>
      p.withNewChildren(Seq(apply(p.child)))
    case s @ SortExec(_, true,
        e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
        if !s.logicalLink.exists(_.getTagValue(FeedsWrite).isDefined) && small(s, child) =>
      s.withNewChildren(Seq(e.copy(outputPartitioning = SinglePartition)))
    case other => other
  }

  private def small(sort: SortExec, input: SparkPlan): Boolean = {
    val estimate = sort.logicalLink.map(_.stats.sizeInBytes)
    (estimate ++ stageInput(input)).minOption
      .exists(_ <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
  }

  /** Bytes read by the stage that computes `p`: the runtime size of each
    * materialized stage under it plus the estimate of each scan. None while
    * an exchange under it has not run. */
  private def stageInput(p: SparkPlan): Option[BigInt] = p match {
    case s: QueryStageExec => s.computeStats().map(_.sizeInBytes)
    case _: Exchange => None
    case leaf if leaf.children.isEmpty => leaf.logicalLink.map(_.stats.sizeInBytes)
    case other =>
      val sizes = other.children.map(stageInput)
      if (sizes.forall(_.isDefined)) Some(sizes.flatten.sum) else None
  }
}
