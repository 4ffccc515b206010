package e2ebench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced phase, derived from the tracer's spans
  * and listener totals. Every figure is per timed op unless its name says
  * otherwise. */
object Layers {
  def derive(t: Tracer, p: Phase, wl: Workload): Map[String, Double] = {
    val n = p.recs.length.toDouble
    val wallS = p.walls.sum
    def per(k: String) = t.get(k) / n
    val spans = t.spans.asScala.toSeq
    val opIds = p.recs.map(_.id).toSet
    val inPhase = spans.filter(s => opIds(s.op))
    def unionOf(pred: Span => Boolean) =
      Tracer.union(inPhase.filter(pred).map(s => (s.startMs, s.endMs)))
    val jobs = unionOf(_.name == "spark.job")
    val http = unionOf(_.name.startsWith("http."))
    val work = unionOf(s => s.name.startsWith(wl.layer))
    val below = Tracer.union(jobs ++ http)
    // self time per op window: each layer minus what runs below it
    var harness, layerSelf, sparkSelf, httpSelf, gap = 0.0
    p.recs.foreach { r =>
      val (a, b) = (r.startMs, r.endMs)
      val w = Tracer.covered(work, a, b)
      val j = Tracer.covered(jobs, a, b)
      val h = Tracer.covered(http, a, b)
      val bl = Tracer.covered(below, a, b)
      harness += (b - a) - w
      layerSelf += math.max(0.0, w - bl)
      sparkSelf += math.max(0.0, bl - h)
      httpSelf += h
      gap += (b - a) - j
    }
    val progress = t.lastProgress.values.asScala.toSeq
    val gcS = p.b.gcS - p.a.gcS
    val opMedians =
      if (wl.layer != "operators") Map.empty[String, Double]
      else p.recs.groupBy(_.op).map { case (op, rs) =>
        s"operators.${op}_s" -> Stats.median(rs.map(_.wallS))
      }
    val base = Map(
      "spark.jobs_per_op" -> per("jobs"),
      "spark.stages_per_op" -> per("stages"),
      "spark.tasks_per_op" -> per("tasks"),
      "spark.exchanges_per_op" -> per("exchanges"),
      "spark.smj_per_op" -> per("smj"),
      "spark.plan_s_per_op" -> per("plan_s"),
      "spark.driver_gap_s_per_op" -> gap / 1e3 / n,
      "spark.sched_delay_s_per_op" -> per("sched_delay_s"),
      "spark.task_s_per_op" -> per("task_s"),
      "spark.task_cpu_s_per_op" -> per("task_cpu_s"),
      "spark.busy_frac" -> t.get("task_s") / (wallS * t.cores),
      "spark.shuffle_read_mb_per_op" -> per("shuffle_read_mb"),
      "spark.shuffle_write_mb_per_op" -> per("shuffle_write_mb"),
      "spark.spill_mb_per_op" -> per("spill_mb"),
      "spark.task_gc_s_per_op" -> per("task_gc_s"),
      "spark.failed_tasks_per_op" -> per("failed_tasks"),
      "sources.rows_read_per_op" -> per("rows_read"),
      "sources.bytes_read_mb_per_op" -> per("bytes_read_mb"),
      "streaming.trigger_s" -> per("st_trigger_s"),
      "streaming.add_batch_s" -> per("st_add_batch_s"),
      "streaming.plan_s" -> per("st_plan_s"),
      "streaming.wal_s" -> per("st_wal_s"),
      "streaming.state_rows_total" ->
        progress.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum,
      "streaming.state_mb" ->
        progress.flatMap(_.stateOperators).map(_.memoryUsedBytes / 1048576.0).sum,
      "streaming.state_rows_updated" -> per("st_rows_updated"),
      "streaming.state_rows_removed" -> per("st_rows_removed"),
      "streaming.state_commit_s" -> per("st_commit_s"),
      "jvm.gc_s_per_op" -> gcS / n,
      "jvm.gc_pauses_per_op" -> (p.b.gcN - p.a.gcN) / n,
      "jvm.heap_after_gc_mb" -> Probe.heapAfterGcMb(),
      "self.harness_s" -> harness / 1e3 / n,
      "self.workload_s" -> layerSelf / 1e3 / n,
      "self.spark_s" -> sparkSelf / 1e3 / n,
      "self.http_s" -> httpSelf / 1e3 / n)
    base ++ opMedians ++ wl.layerMetrics(t, p.recs)
  }
}
