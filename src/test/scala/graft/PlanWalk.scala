package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/**
 * Executed-plan walker shared by the specs that inspect a
 * physical plan — one place to absorb Spark's AQE wrapper zoo
 * (`AdaptiveSparkPlanExec` holds the re-optimized plan; materialized
 * stages appear as LEAF `QueryStageExec` nodes wrapping the real
 * operator, so a naive `children` recursion undercounts).
 */
object PlanWalk {

  /** `pf` over every node of the (AQE-finalized) plan it is defined on,
    * each node before the nodes beneath it, looking through AQE's
    * wrappers and materialized stages. */
  def collect[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    pf.lift(p).toSeq ++ (p match {
      case a: AdaptiveSparkPlanExec => collect(a.executedPlan)(pf)
      case qs: QueryStageExec       => collect(qs.plan)(pf)
      case other                    => other.children.flatMap(collect(_)(pf))
    })

  /** Every file scan in the plan — read its `metrics("numFiles")` AFTER
    * an action on the SAME DataFrame (a new QueryExecution keeps metrics
    * at 0, and `DataFrame.inputFiles` ignores runtime partition pruning
    * entirely). */
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
    collect(p) { case s: FileSourceScanExec => s }
}
