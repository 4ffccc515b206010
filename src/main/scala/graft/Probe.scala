package graft

import org.apache.spark.graftbus.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.Locale
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._

/** Dev measurement tool: run ONE registered query `reps` times and say
  * where its wall seconds go, before touching it (optimization guide
  * §1). Every rep reports wall and GC ms; rep 1 runs cold, so the curve
  * separates JIT warm-up (monotone decay), GC pressure and real plan
  * cost (flat reps). Reps 2..n run under one SparkListener: jobs,
  * stages, tasks, executor-run and task seconds per rep, and their
  * median wall. Task time near `wall × cores` is compute; many jobs
  * with task time ≪ wall is per-round orchestration, where the fix is
  * fewer exchanges per iteration (also the 100 TB fix). With
  * `plansFile`, every SQL execution of the last rep is written there
  * with its duration, operator counts and formatted plan: iterative
  * operators hide their rounds behind `localCheckpoint`, and only this
  * sees each round's plan.
  *
  * Usage: `sbt 'runMain graft.Probe <sfDir> <query> [reps=6] [plansFile]'`
  * prints one JSON line; progress goes to stderr.
  */
object Probe {
  /** Counted in each execution's executed-plan tree string. */
  private val Ops = Seq("Exchange hashpartitioning",
    "Exchange rangepartitioning", "Exchange SinglePartition",
    "BroadcastExchange", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "+- Sort ", "Window", "HashAggregate", "ObjectHashAggregate",
    "SortAggregate", "AQEShuffleRead")

  private def fmt(pattern: String, args: Any*): String =
    String.format(Locale.ROOT, pattern, args.map(_.asInstanceOf[AnyRef]): _*)

  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Runs the probe on `spark` and returns its JSON line. */
  def run(spark: SparkSession, sfDir: String, query: String, reps: Int,
      plansFile: Option[String]): String = {
    require(reps >= 2, s"reps must be at least 2, got $reps")
    val sc = spark.sparkContext
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    val fn = SparkEntry.queries(query)
    val jobs, stages, tasks = new AtomicInteger
    val taskRunMs, taskMs = new AtomicLong
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet(): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null) taskRunMs.addAndGet(e.taskMetrics.executorRunTime)
        if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration): Unit
      }
    }
    val execs = new ConcurrentLinkedQueue[String]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = {
        val tree = qe.executedPlan.toString
        val counts = Ops.map(o => o -> Pattern.quote(o).r.findAllIn(tree).length)
          .collect { case (o, n) if n > 0 => s"${o.trim.stripPrefix("+- ")}=$n" }
        execs.add(fmt("(%s) %.3f s: %s\n%s", action, ns / 1e9, counts.mkString(" "),
          qe.explainString(FormattedMode))): Unit
      }
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // each listener joins after a drain, so it sees no event of an
    // earlier rep: the counts cover reps 2..n, the plans the last rep
    val rows = try (1 to reps).map { i =>
      if (i == 2) { Bus.drain(sc); sc.addSparkListener(jobListener) }
      if (i == reps && plansFile.nonEmpty) {
        Bus.drain(sc)
        spark.listenerManager.register(planListener)
      }
      val (g0, t0) = (gcMs, System.nanoTime())
      fn(spark, sfDir).count()
      val (sec, gc) = ((System.nanoTime() - t0) / 1e9, gcMs - g0)
      System.err.println(fmt("[probe] %s rep %d: %.3f s, gc %d ms", query, i, sec, gc))
      (sec, gc)
    } finally {
      Bus.drain(sc)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    plansFile.foreach { path =>
      val blocks = execs.asScala.toSeq.zipWithIndex.map { case (b, i) => s"== exec ${i + 1} $b\n" }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        (blocks :+ s"== total: ${blocks.size} executions\n").mkString("\n"))
    }
    val warm = rows.drop(1).map(_._1).sorted
    val n = warm.size
    fmt("""{"probe":"%s","sf":"%s","reps":[%s],"gc_ms":[%s],"median_wall_sec":%.4f,""" +
        """"jobs_per_rep":%.1f,"stages_per_rep":%.1f,"tasks_per_rep":%.1f,""" +
        """"task_run_sec_per_rep":%.3f,"task_total_sec_per_rep":%.3f}""",
      query, sfDir, rows.map(r => fmt("%.3f", r._1)).mkString(","),
      rows.map(_._2).mkString(","), (warm((n - 1) / 2) + warm(n / 2)) / 2,
      jobs.get / n.toDouble, stages.get / n.toDouble, tasks.get / n.toDouble,
      taskRunMs.get / 1e3 / n, taskMs.get / 1e3 / n)
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    try println(run(spark, args(0), args(1), args.lift(2).fold(6)(_.toInt), args.lift(3)))
    finally spark.stop()
  }
}
