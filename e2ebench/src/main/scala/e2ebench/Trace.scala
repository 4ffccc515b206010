package e2ebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same base as
  * the `System.currentTimeMillis` stamps Spark puts on its events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed call into a layer. `parent` is the enclosing span's id on the
  * same thread (-1 at the top), `op` the timed op it belongs to. */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
    parent: Long, op: Int)

/** In-memory span recorder plus the Spark, SQL and streaming listeners of
  * a traced run. Nothing here is registered in an untraced run: workloads
  * call [[Tracer.span]] through [[Tracer.current]], which is `None` then. */
final class Tracer(spark: SparkSession, val cores: Int) {
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var op: Int = -1

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parents = stack.get()
    stack.set(id :: parents)
    val t0 = Clock.nowMs
    try body
    finally {
      spans.add(Span(id, name, t0, Clock.nowMs, parents.headOption.getOrElse(-1L), op))
      stack.set(parents)
    }
  }

  /** A span measured elsewhere (another thread, or a listener event). */
  def record(name: String, startMs: Double, endMs: Double): Unit =
    spans.add(Span(ids.incrementAndGet(), name, startMs, endMs, -1L, op))

  // ---------------------------------------------------------------- spark

  /** Totals over the traced phase. */
  val sum: mutable.Map[String, Double] =
    new java.util.concurrent.ConcurrentHashMap[String, Double]().asScala
  private def add(k: String, v: Double): Unit =
    sum.synchronized { sum(k) = sum.getOrElse(k, 0.0) + v }

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Double]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time.toDouble); add("jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t => record("spark.job", t, e.time.toDouble))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      if (e.reason != org.apache.spark.Success) add("failed_tasks", 1)
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        add("task_s", m.executorRunTime / 1e3)
        add("task_cpu_s", m.executorCpuTime / 1e9)
        add("task_gc_s", m.jvmGCTime / 1e3)
        add("shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead) / 1048576.0)
        add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        add("rows_read", m.inputMetrics.recordsRead.toDouble)
        add("bytes_read_mb", m.inputMetrics.bytesRead / 1048576.0)
        if (info != null) add("sched_delay_s", math.max(0L, info.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime) / 1e3)
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      add("plan_s", Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum / 1e3)
      val nodes = Tracer.walk(qe.executedPlan).toSeq
      add("exchanges", nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble)
      add("smj", nodes.count(_.isInstanceOf[SortMergeJoinExec]).toDouble)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Latest progress per streaming query and per-progress totals. */
  val lastProgress =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, org.apache.spark.sql.streaming.StreamingQueryProgress]()
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      lastProgress.put(p.id, p)
      progress.add(p)
      val d = p.durationMs.asScala
      def ms(k: String) = d.get(k).map(_.doubleValue / 1e3).getOrElse(0.0)
      add("st_trigger_s", ms("triggerExecution"))
      add("st_add_batch_s", ms("addBatch"))
      add("st_plan_s", ms("queryPlanning"))
      add("st_wal_s", ms("walCommit"))
      p.stateOperators.foreach { s =>
        add("st_rows_updated", s.numRowsUpdated.toDouble)
        add("st_rows_removed", s.numRowsRemoved.toDouble)
        add("st_commit_s", s.commitTimeMs / 1e3)
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every listener event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.e2ebenchbus.Bus.drain(spark.sparkContext)

  def get(k: String): Double = sum.getOrElse(k, 0.0)

  /** Write every span as one JSON line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(f"""{"id":${s.id},"name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"parent":${s.parent},"op":${s.op}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  @volatile var current: Option[Tracer] = None

  /** `body` inside a span when a run is traced, plain otherwise. */
  def span[T](name: String)(body: => T): T = current match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** Every node of an executed plan, looking through adaptive wrappers and
    * query stages, subqueries included. */
  def walk(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case other => Iterator(other) ++ other.children.iterator.flatMap(walk) ++
      other.subqueries.iterator.flatMap(walk)
  }

  // ------------------------------------------------------------ intervals

  /** Union of [start, end) intervals, merged and sorted. */
  def union(xs: Iterable[(Double, Double)]): Seq[(Double, Double)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    xs.toSeq.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2)
        out(out.length - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }

  def length(xs: Seq[(Double, Double)]): Double = xs.map(x => x._2 - x._1).sum

  /** Length of `xs` clipped to the window [a, b). */
  def covered(xs: Seq[(Double, Double)], a: Double, b: Double): Double =
    xs.map(x => math.max(0.0, math.min(b, x._2) - math.max(a, x._1))).sum
}
