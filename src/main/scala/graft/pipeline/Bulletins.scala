package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import Model._
import Sinks._

/** Bulletin pipeline (SURVEY.md §3.2): incremental advisory read →
  * per-row html enrichment → MERGE against sink state → one write pass
  * that posts new advisories and patches known ones.
  *
  * The reference does 2-3 HTTP round-trips *per advisory* serially
  * (`upload_bulletins`, `src/Datalake2Anomali.py:246-253`); here the
  * probe is one bulk left-outer join against the sink-state table and
  * the writes fan out over a fixed number of tasks. Races of the
  * probe-then-write MERGE under parallelism are avoided the same way
  * the reference's serial loop avoids them: each advisory id lands in
  * exactly one task (a hash repartition on `id` before the writer).
  */
object Bulletins {

  val GENERIC_TAG = "world_watch_advisory"
  /** `%Y-%m-%dT%H:%M:%S.%f%z` (`src/Datalake2Anomali.py:24`) — `xx`
    * renders +0000 like Python's %z on a UTC-aware datetime. (The
    * reference feeds `%z` a *naive* parse and silently emits no
    * offset; we pin timestamps to UTC instead — SURVEY §7.3.) */
  val ANOMALI_TIME_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxx"

  /** Html enrichment boundary (S5): the reference fetches
    * `/api/advisory/{id}/html` per row (:424-430). `mapPartitions`
    * with one client per partition; never a driver-side loop. */
  trait HtmlFetcher extends Serializable {
    def fetch(advisoryId: Long): String
  }

  /** T2 cursor resolution — cron mode: now - uploadFrequency (late
    * data beyond one period is LOST, the reference's documented
    * behavior at :398); one-shot mode: sink watermark (max
    * modified_ts, S4/A3) which cannot drop updates. */
  def cursor(cfg: PipelineConfig, sinkState: DataFrame,
      nowUtc: java.time.Instant): java.time.Instant =
    if (cfg.runAsCron)
      nowUtc.minusSeconds(cfg.uploadFrequencyHours * 3600L)
    else {
      val row = sinkState.agg(max(to_timestamp(col("modified_ts")))).head()
      if (row.isNullAt(0)) java.time.Instant.EPOCH
      else row.getTimestamp(0).toInstant
    }

  /** S5 enrichment as a distributed map (adds `html`). The HTTP
    * fetcher reuses [[Http]]'s one client per JVM and conf, so tasks
    * share pooled connections without per-partition set-up. */
  def enrich(advisories: Dataset[Advisory], fetcher: HtmlFetcher)
      : Dataset[Advisory] = {
    import advisories.sparkSession.implicits._
    advisories.mapPartitions(_.map(a => a.copy(html = fetcher.fetch(a.id))))
  }

  /** J5 — the MERGE probe as one bulk left-outer join: returns the
    * advisory rows annotated with `tip_id` (null ⇒ insert path). */
  def mergeSplit(advisories: DataFrame, sinkState: DataFrame): DataFrame =
    advisories.join(
      sinkState.select(col("ww_id").as("id"), col("tip_id")),
      Seq("id"), "left_outer")

  /** Tag assembly (C6/C7). The two reference paths order the leading
    * pair differently — insert is [world_watch_{id}, generic, *tags]
    * (`src/Datalake2Anomali.py:225-229`) while patch is
    * [generic, world_watch_{id}, *tags] (`:191-195`). Semantically a
    * set, but we reproduce the per-path observable payload exactly. */
  private def specificTag = concat(lit("world_watch_"), col("id").cast("string"))
  private def insertTags = concat(array(specificTag, lit(GENERIC_TAG)), col("tags"))
  private def patchTags = concat(array(lit(GENERIC_TAG), specificTag), col("tags"))

  /** K2 — insert-path tipreport JSON (`AnomaliTipReportModel`,
    * `src/models.py:16-19`: body/created/modified/name/tags plus the
    * model's constant defaults). */
  private def insertPayload = to_json(struct(
    col("html").as("body"),
    lit("markdown").as("body_content_type"),
    col("timestamp_updated").as("modified_ts"),
    col("title").as("name"),
    lit("WorldWatch").as("original_source"),
    lit("WorldWatch").as("source"),
    col("timestamp_created").as("created_ts"),
    insertTags.as("tags")))

  /** K3 — update-path tipreport JSON (`PatchTipReportModel`,
    * `src/models.py:13-14`: tags_v2 as {name} structs, modified_ts
    * reformatted to `%Y-%m-%dT%H:%M:%S.%f%z`, :201-204). */
  private def patchPayload = to_json(struct(
    col("html").as("body"),
    lit("markdown").as("body_content_type"),
    date_format(to_timestamp(col("timestamp_updated")), ANOMALI_TIME_FORMAT)
      .as("modified_ts"),
    col("title").as("name"),
    lit("WorldWatch").as("original_source"),
    lit("WorldWatch").as("source"),
    transform(patchTags, t => struct(t.as("name"))).as("tags_v2")))

  /** The MERGE as write-ready rows `(id, tip_id, payload)`: the probe
    * result picks each row's payload (insert JSON when `tip_id` is null,
    * patch JSON otherwise), and a hash repartition on `id` with an
    * explicit width — `defaultParallelism` — fans the rows out. AQE
    * never coalesces an exchange of explicit width, and one id still
    * lands in exactly one task. */
  def mergePayloads(advisories: DataFrame, sinkState: DataFrame): DataFrame =
    mergeSplit(advisories, sinkState)
      .select(col("id"), col("tip_id"),
        when(col("tip_id").isNull, insertPayload).otherwise(patchPayload)
          .as("payload"))
      .repartition(advisories.sparkSession.sparkContext.defaultParallelism,
        col("id"))

  /** Full MERGE write in one pass: [[mergePayloads]], then one
    * `foreachPartition` that posts each insert row and patches each
    * update row via the sink trait. Returns (accepted, failed) write
    * counts — mirroring [[Sinks.writeIntel]]: the reference logs post
    * failures and raises on patch failures
    * (`src/Datalake2Anomali.py:213-216,240-243`); here every
    * non-Accepted result is counted and logged, never silently
    * dropped. */
  def write(advisories: DataFrame, sinkState: DataFrame,
      sink: TipReportSink): (Long, Long) = {
    val sc = advisories.sparkSession.sparkContext
    val accepted = sc.longAccumulator("tipreport_accepted")
    val failed = sc.longAccumulator("tipreport_failed")
    def count(r: Sinks.UploadResult, what: String): Unit = r match {
      case Sinks.Accepted => accepted.add(1)
      case other =>
        failed.add(1)
        System.err.println(s"[graft.sink] tipreport $what failed: $other")
    }
    mergePayloads(advisories, sinkState)
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach { r =>
          val payload = r.getString(2)
          if (r.isNullAt(1)) count(sink.post(payload), "post")
          else count(sink.patch(r.getLong(1), payload), "patch")
        }
      }
    (accepted.value, failed.value)
  }
}
