package graft.tools

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/**
 * Executed-plan walker shared by the specs that count file scans — one
 * place to absorb Spark's AQE wrapper zoo (`AdaptiveSparkPlanExec` holds
 * the re-optimized plan; materialized stages appear as LEAF
 * `QueryStageExec` nodes wrapping the real operator, so a naive
 * `children` recursion undercounts).
 */
object PlanWalk {

  /** Every file scan in the (AQE-finalized) plan — read its
    * `metrics("numFiles")` AFTER an action on the SAME DataFrame (a new
    * QueryExecution keeps metrics at 0, and `DataFrame.inputFiles`
    * ignores runtime partition pruning entirely). */
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case qs: QueryStageExec       => fileScans(qs.plan)
    case s: FileSourceScanExec    => Seq(s)
    case other                    => other.children.flatMap(fileScans)
  }
}
