package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Plan checks for PlanAuditSpec. Executed plans of a query
  * (with their ReusedExchange/ReusedSubquery nodes, the t18
  * scan-count discipline) are written by `graft.Probe`'s plans file. */
object PlanAudit {

  /** Single-partition Window/WindowGroupLimit nodes in the query's
    * physical plan: a window with an EMPTY partitionSpec requires
    * AllTuples — the whole input sorts through ONE task, the classic
    * global-window scale cliff (fine on a vocabulary-sized frame,
    * fatal on a data-sized one). Walks through the AQE wrapper and
    * plan subqueries. PlanAuditSpec sweeps every registered query
    * with it (the e16 class of scale-killer). */
  def globalWindows(df: DataFrame): Seq[String] = {
    def walk(p: SparkPlan): Seq[String] = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          Seq("Window[" +
            w.windowExpression.mkString(",").take(100) + "]")
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          Seq("WindowGroupLimit[" + w.rankLikeFunction.toString + "]")
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      self ++ (kids ++ p.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
}
