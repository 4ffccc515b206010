package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbus.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What a piece of work costs Spark: the jobs it starts and the
  * physical plan nodes of every SQL execution it runs, AQE's final
  * plans and query stages and the plans under write commands included.
  * The listeners attach after a listener-bus drain, so earlier work is
  * not counted. Executions of a streaming query count when the query
  * starts inside `body` (its session clones the listeners). */
object PlanShape {

  /** (body's result, Spark jobs started, plan nodes). */
  def capture[T](spark: SparkSession)(body: => T): (T, Int, Seq[SparkPlan]) = {
    val sc = spark.sparkContext
    val execs = new ConcurrentLinkedQueue[QueryExecution]()
    val jobs = new AtomicInteger
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = execs.add(qe): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = execs.add(qe): Unit
    }
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    Bus.drain(sc)
    spark.listenerManager.register(qel)
    sc.addSparkListener(sl)
    val out =
      try body
      finally {
        Bus.drain(sc)
        spark.listenerManager.unregister(qel)
        sc.removeSparkListener(sl)
      }
    (out, jobs.get, execs.asScala.toSeq.flatMap(qe => nodes(qe.executedPlan)))
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case other => other.children.flatMap(nodes)
  })
}
