package graft.pipeline

import java.util.concurrent.{ExecutionException, FutureTask}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import Model._
import Sinks._

/** Driver (SURVEY.md §3.3): one-shot and cron modes with per-pipeline
  * error isolation (T5 — the reference wraps the bulletin pipeline in
  * try/except and lets IOC errors propagate,
  * `src/Datalake2Anomali.py:442-449`; we isolate both but preserve the
  * exit policy). Each cycle is a fresh idempotent batch — the
  * reference re-pulls everything and relies on sink upsert (T1), and
  * so do we. The two pipelines share nothing but the session, so a
  * cycle overlaps them: the IOC pipeline runs on a thread of its own
  * while the bulletin pipeline runs on the caller's. A
  * Structured-Streaming variant of the cadence lives in
  * `graft.streaming` (Trigger.ProcessingTime ≙ `schedule.every(h)`).
  */
object Runner {

  /** Source boundary: everything the pipelines read.
    * [[HttpConnectors.HttpSources]] reads the real endpoints; tests use
    * local/file implementations of the same contract. */
  trait Sources {
    def iocRows(spark: SparkSession): DataFrame          // S1 (decoded)
    def queryConfig(spark: SparkSession): DataFrame      // S6
    def advisories(spark: SparkSession): Dataset[Advisory] // S2
    def tipReportState(spark: SparkSession): DataFrame   // S3/S4
    def htmlFetcher: Bulletins.HtmlFetcher               // S5
  }

  /** Per-pipeline outcome plus (accepted, failed) sink-write counts —
    * a failed write is surfaced here and in the sink logs, never
    * silently dropped (ADVICE r1). */
  final case class RunReport(
      iocOk: Boolean, bulletinsOk: Boolean,
      iocError: Option[String] = None, bulletinError: Option[String] = None,
      iocWrites: (Long, Long) = (0L, 0L),
      bulletinWrites: (Long, Long) = (0L, 0L))

  /** One batch cycle: the IOC pipeline on a fresh thread, overlapped
    * with the bulletin pipeline on the calling thread, joined before the
    * report is built. A fresh thread per cycle (not a pool) inherits
    * this caller's Spark local properties. An `Exception` from either
    * side is that pipeline's error in the report; any other throwable
    * still propagates out of `runOnce`, after both sides have ended. */
  def runOnce(spark: SparkSession, src: Sources, cfg: PipelineConfig,
      intelSink: IntelSink, tipSink: TipReportSink,
      nowUtc: java.time.Instant = java.time.Instant.now()): RunReport = {
    // pin timestamp parsing/formatting to UTC: cursor comparison and
    // modified_ts rendering are wrong in any other session time zone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    def isolated(body: => (Long, Long)): Either[String, (Long, Long)] =
      try Right(body) catch { case e: Exception => Left(e.toString) }
    val iocTask = new FutureTask[Either[String, (Long, Long)]](() => isolated {
      val objs = IocTransform.run(
        src.iocRows(spark), src.queryConfig(spark), cfg)
      writeIntel(objs, intelSink, IocTransform.metaJson(cfg, nowUtc),
        cfg.maxPayloadBytes)
    })
    val iocThread = new Thread(iocTask, "graft-runner-ioc")
    iocThread.setDaemon(true)
    iocThread.start()
    val bul =
      try isolated {
        val state = src.tipReportState(spark)
        val cur = Bulletins.cursor(cfg, state, nowUtc)
        import org.apache.spark.sql.functions._
        // F4 BEFORE S5: filter on the cursor first so the per-row html
        // fetch only runs for advisories that survive it (the reference
        // narrows with updated_after before fetching html, :409-430)
        val fresh = src.advisories(spark).filter(
          to_timestamp(col("timestamp_updated")) >
            lit(java.sql.Timestamp.from(cur)))
        val enriched = Bulletins.enrich(fresh, src.htmlFetcher)
        Bulletins.write(enriched.toDF(), state, tipSink)
      } finally iocThread.join()
    val ioc =
      try iocTask.get()
      catch { case e: ExecutionException => throw e.getCause }
    RunReport(ioc.isRight, bul.isRight, ioc.left.toOption, bul.left.toOption,
      ioc.getOrElse((0L, 0L)), bul.getOrElse((0L, 0L)))
  }

  /** T1 cron mode: run immediately, then every uploadFrequencyHours.
    * `cycles` bounds the loop for tests; pass -1 for forever. */
  def runCron(spark: SparkSession, src: Sources, cfg: PipelineConfig,
      intelSink: IntelSink, tipSink: TipReportSink, cycles: Int = -1,
      sleep: Long => Unit = Thread.sleep): Seq[RunReport] = {
    val out = Seq.newBuilder[RunReport]
    var i = 0
    while (cycles < 0 || i < cycles) {
      out += runOnce(spark, src, cfg, intelSink, tipSink)
      i += 1
      if (cycles < 0 || i < cycles) sleep(cfg.uploadFrequencyHours * 3600L * 1000L)
    }
    out.result()
  }
}
