package graft.plans

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** Optimizer rule: a plan whose leaves together weigh no more than
  * `spark.sql.autoBroadcastJoinThreshold` runs as one task.
  *
  * Each scan (a leaf with the projections and filters right above it)
  * is wrapped in `Repartition(1, shuffle = false)`, which plans as
  * `CoalesceExec(1)`. Its output is a single partition, which satisfies
  * every required distribution (clustered, ordered, all tuples), so
  * `EnsureRequirements` plants no shuffle exchange above it and only
  * broadcasts remain (a union of such scans has one partition per
  * branch, so a distribution required above a union may still
  * shuffle). A small plan then pays one job instead of one job and one
  * adaptive re-plan per exchange.
  *
  * The input of a global sort is coalesced as well. A full outer join
  * or a union reports an unknown partitioning even over one partition,
  * so a sort above it would still plan a range exchange, and a range
  * exchange runs its input twice (a sampling job, then the map stage).
  * Behind a shuffle that input is a cheap shuffle read; here it is the
  * whole plan down to its scans (growth_accounting: a full outer join
  * of two windowed aggregates, then `orderBy`).
  *
  * The bar is Spark's own broadcast threshold (10 MB by default; a
  * value ≤ 0 turns the rule off): below it Spark already ships a whole
  * join side to every task, so one task may hold all of the inputs
  * ([[graft.Sessions]] says why not the 64 MB advisory partition size).
  *
  * A plan is left as it is when its layout is part of its answer or
  * has already been chosen: a streaming plan, a `Sample` (draws follow
  * partition and position), an explicit repartition, rebalance or
  * coalesce (the [[graft.Tables.wide]] spread, an operator's own
  * `coalesce`), and a nondeterministic expression (`rand`,
  * `monotonically_increasing_id`, `spark_partition_id`,
  * `input_file_name`). An empty local relation is not wrapped: it reads
  * nothing, and empty-relation propagation removes the plan above it.
  *
  * Runs once, after the operator-optimization fixed point
  * (`injectPreCBORule`), on the plan whose filters and projections are
  * already pushed down: the scan it wraps is the one the planner turns
  * into a parquet read, so its `ReadSchema` and `PushedFilters` are
  * unchanged. Inside the fixed point `PushDownLeftSemiAntiJoin` pushes
  * a semi join below a repartition, so the coalesce would end up above
  * the join instead of on the scan. The coalesces this rule adds carry
  * a tag and are not counted as explicit repartitions, so a second
  * application changes nothing.
  */
object SmallPlanOneTask extends Rule[LogicalPlan] {

  private val added = TreeNodeTag[Unit]("graft.smallPlanOneTask")

  private def ours(p: LogicalPlan): Boolean = p.getTagValue(added).isDefined

  /** True when the plan's partition layout is part of its answer or
    * has already been chosen. */
  private def layoutBound(plan: LogicalPlan): Boolean = plan.exists {
    case _: Sample | _: RebalancePartitions => true
    case r: RepartitionOperation => !ours(r)
    case p => p.expressions.exists(!_.deterministic)
  }

  /** A leaf with the projections and filters right above it. */
  private def scan(p: LogicalPlan): Boolean = p match {
    case l: LocalRelation => l.data.nonEmpty
    case _: LeafNode => true
    case Project(_, c) => scan(c)
    case Filter(_, c) => scan(c)
    case _ => false
  }

  private def one(p: LogicalPlan): LogicalPlan =
    if (ours(p)) p
    else {
      val r = Repartition(1, shuffle = false, p)
      r.setTagValue(added, ())
      r
    }

  private def wrap(p: LogicalPlan): LogicalPlan =
    if (ours(p)) p
    else if (scan(p)) one(p)
    else p match {
      case s: Sort if s.global => s.withNewChildren(Seq(one(wrap(s.child))))
      case _ => p.withNewChildren(p.children.map(wrap))
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val bar = conf.autoBroadcastJoinThreshold
    if (bar <= 0 || plan.isStreaming || scan(plan) || layoutBound(plan) ||
        plan.collectLeaves().map(_.stats.sizeInBytes).sum > bar) plan
    else wrap(plan)
  }
}
