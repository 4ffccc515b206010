package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import Model._
import Sinks._

/** Bulletin pipeline (SURVEY.md §3.2): incremental advisory read →
  * per-row html enrichment → MERGE against sink state → one write pass
  * that posts new advisories and patches known ones.
  *
  * The reference does 2-3 HTTP round-trips *per advisory* serially
  * (`upload_bulletins`, `src/Datalake2Anomali.py:246-253`); here the
  * advisories and the sink-state table travel one hash exchange on `id`
  * together, each write task probes the state it received, and the
  * writes fan out over a fixed number of tasks. Races of the
  * probe-then-write MERGE under parallelism are avoided the same way
  * the reference's serial loop avoids them: each advisory id lands in
  * exactly one task.
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
      // the max is taken on the driver: the state table is a driver-side
      // read, and a Project over a local relation collects without a
      // Spark job, where an aggregate would run two
      val ts = sinkState.select(to_timestamp(col("modified_ts"))).collect()
        .collect { case r if !r.isNullAt(0) => r.getTimestamp(0).toInstant }
      if (ts.isEmpty) java.time.Instant.EPOCH else ts.max
    }

  /** S5 enrichment as a distributed map (adds `html`). The HTTP
    * fetcher reuses [[Http]]'s one client per JVM and conf, so tasks
    * share pooled connections without per-partition set-up. */
  def enrich(advisories: Dataset[Advisory], fetcher: HtmlFetcher)
      : Dataset[Advisory] = {
    import advisories.sparkSession.implicits._
    advisories.mapPartitions(_.map(a => a.copy(html = fetcher.fetch(a.id))))
  }

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

  /** J5 and the MERGE write in one pass, with no join and no broadcast.
    * Each advisory row carries both payloads; the state rows (`ww_id` as
    * `id`, with its `tip_id`; a null `ww_id` matches nothing) join them
    * in one hash repartition on `id` of explicit width
    * `defaultParallelism`, which AQE never coalesces, so one id lands in
    * exactly one task with all of its state. Each task groups its state
    * rows by id, then posts an advisory that no state row matches and
    * otherwise patches it once per matching `tip_id` — the left-outer
    * join's multiplicity — via the sink trait. A large sink travels the
    * shuffle like a shuffle join. Returns (accepted, failed) write
    * counts — mirroring [[Sinks.writeIntel]]: the reference logs post
    * failures and raises on patch failures
    * (`src/Datalake2Anomali.py:213-216,240-243`); here every
    * non-Accepted result is counted and logged, never silently
    * dropped. */
  def write(advisories: DataFrame, sinkState: DataFrame,
      sink: TipReportSink): (Long, Long) = {
    val spark = advisories.sparkSession
    val sc = spark.sparkContext
    val accepted = sc.longAccumulator("tipreport_accepted")
    val failed = sc.longAccumulator("tipreport_failed")
    def count(r: Sinks.UploadResult, what: String): Unit = r match {
      case Sinks.Accepted => accepted.add(1)
      case other =>
        failed.add(1)
        System.err.println(s"[graft.sink] tipreport $what failed: $other")
    }
    // the payloads are rendered before the probe picks the path, and only
    // the patch JSON parses timestamp_updated: where that parse would
    // fail (ANSI), the patch JSON is null and only a patch fails the write
    val ts = col("timestamp_updated")
    val ansi = spark.conf.get("spark.sql.ansi.enabled").toBoolean
    val posts = advisories.select(col("id"), lit(null).cast("long").as("tip_id"),
      insertPayload.as("insert"),
      when(lit(!ansi) || ts.isNull || try_to_timestamp(ts).isNotNull, patchPayload)
        .as("patch"))
    // state rows carry no insert payload, which is how a task tells them apart
    val tips = sinkState.filter(col("ww_id").isNotNull).select(col("ww_id"),
      col("tip_id"), lit(null).cast("string"), lit(null).cast("string"))
    posts.union(tips).repartition(sc.defaultParallelism, col("id"))
      .foreachPartition { rows: Iterator[Row] =>
        val state = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Row]]
        val advisoryRows = mutable.ArrayBuffer.empty[Row]
        rows.foreach { r =>
          if (r.isNullAt(2)) state.getOrElseUpdate(r.get(0), mutable.ArrayBuffer.empty) += r
          else advisoryRows += r
        }
        advisoryRows.foreach { a =>
          val matches = if (a.isNullAt(0)) Nil else state.getOrElse(a.get(0), Nil)
          if (matches.isEmpty) count(sink.post(a.getString(2)), "post")
          else matches.foreach { t =>
            if (t.isNullAt(1)) count(sink.post(a.getString(2)), "post")
            else if (a.isNullAt(3)) throw new IllegalArgumentException(
              s"advisory ${a.get(0)}: timestamp_updated does not parse")
            else count(sink.patch(t.getLong(1), a.getString(3)), "patch")
          }
        }
      }
    (accepted.value, failed.value)
  }
}
