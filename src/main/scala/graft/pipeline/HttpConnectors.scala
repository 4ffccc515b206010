package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.sources.IocBulkSource

/** Production HTTP implementations of every connector trait (SURVEY
  * §2.9) — the first non-test instantiation of the seams the pipeline
  * core is built against ([[Sinks.IntelSink]], [[Sinks.TipReportSink]],
  * [[Bulletins.HtmlFetcher]], [[Runner.Sources]],
  * [[IocBulkSource.Fetcher]]).
  *
  * Endpoint shapes mirror the reference's API surface exactly:
  *  - intelligence PATCH `{anomali}/api/v2/intelligence/`
  *    (`src/Datalake2Anomali.py:47-48,104-138`), 202 = accepted,
  *    400 + "Data exceeds maximum allowed size" = split signal;
  *  - tipreport POST `{anomali}/api/v1/tipreport/` (`:220-243`) and
  *    PATCH `{anomali}/api/v1/tipreport/{id}/` (`:188-216`);
  *  - tipreport state GET `{anomali}/api/v1/threat_model_search/`
  *    (`:142-183`) — the reference probes this endpoint once per
  *    advisory, serially; here ONE paged bulk read materializes the
  *    whole world-watch-tagged state table, whose rows travel the
  *    MERGE's hash exchange on `id` so each write task probes its own
  *    share ([[Bulletins.write]]);
  *  - advisory list GET `{ww}/api/advisory/` + per-row html GET
  *    `{ww}/api/advisory/{id}/html` (`:397-440`) — the list is one
  *    driver-side request (as in the reference), the html fan-out runs
  *    on executors via [[Bulletins.enrich]]'s mapPartitions;
  *  - bulk-search download GET `{dtl}/{query_hash}` returning the
  *    response document of FIXTURES.md §1 — the reference reaches this
  *    through its SDK's create_task + download (`:302-336`); the scan
  *    schedules one such download per query as a Spark task (S1/T4).
  *
  * TLS + proxy come uniformly from ONE [[Http.Conf]] shared by all
  * endpoints — by construction fixing the reference's inconsistency
  * (ssl_verify/proxies applied to 1 of 4 call sites,
  * `src/Datalake2Anomali.py:111-112` vs `:144,211,238`).
  *
  * All connector values are serializable (strings + [[Http.Conf]]
  * primitives); the non-serializable `HttpClient` lives in
  * [[Http]]'s JVM-static cache, built lazily per executor.
  */
object HttpConnectors {

  /** The reference's oversize marker (`src/Datalake2Anomali.py:122`). */
  val MaxSizeMarker = "Data exceeds maximum allowed size"

  /** Anomali-side endpoint + credentials (env surface
    * ANOMALI_URL/ANOMALI_USER/ANOMALI_API_KEY,
    * `src/Datalake2Anomali.py:36-53`). */
  final case class AnomaliEndpoint(baseUrl: String, user: String,
      apiKey: String, http: Http.Conf = Http.Conf()) {
    def headers: Map[String, String] = Map(
      "Authorization" -> s"apikey $user:$apiKey",
      "Content-Type" -> "application/json",
      "accept" -> "application/json")
  }

  /** WorldWatch-side endpoint (env surface WORLD_WATCH_URL/TOKEN,
    * `src/Datalake2Anomali.py:268-280` — note the raw token, no
    * scheme prefix). */
  final case class WorldWatchEndpoint(baseUrl: String, token: String,
      http: Http.Conf = Http.Conf()) {
    def headers: Map[String, String] = Map(
      "accept" -> "application/json",
      "authorization" -> token)
  }

  /** Datalake bulk-search endpoint (the reference's SDK env surface,
    * `src/Datalake2Anomali.py:302-307`). */
  final case class DatalakeEndpoint(baseUrl: String, token: String,
      http: Http.Conf = Http.Conf()) {
    def headers: Map[String, String] = Map(
      "accept" -> "application/json",
      "Authorization" -> s"Token $token")
  }

  // ---------------------------------------------------------------- sinks

  /** K1 over the wire: PATCH `{base}/api/v2/intelligence/`.
    * 2xx → Accepted (the reference checks ==202; we accept the class),
    * 400+marker → TooLarge (drives [[Sinks.uploadWithSplit]]'s
    * halving — the reference's recursion at `:125-132`), anything
    * else → Failed with code+body surfaced. */
  final case class HttpIntelSink(ep: AnomaliEndpoint)
      extends Sinks.IntelSink {
    override def upload(payloadJson: String): Sinks.UploadResult = {
      // NOT idempotent despite the PATCH verb: this endpoint APPENDS
      // the posted intel objects, so a timed-out-but-server-processed
      // attempt retried at the transport layer would ingest the same
      // objects twice. Like the tipreport POST, the retry policy is
      // Spark task retry (a re-run task re-uploads its whole
      // partition — at-least-once either way, but not silently
      // doubled inside one healthy task).
      val r = Http.request(ep.http, "PATCH",
        s"${ep.baseUrl}/api/v2/intelligence/", ep.headers, Some(payloadJson),
        idempotent = false)
      if (r.code / 100 == 2) Sinks.Accepted
      else if (r.code == 400 && r.body.contains(MaxSizeMarker)) Sinks.TooLarge
      else Sinks.Failed(r.code, r.body)
    }
  }

  /** K2/K3 over the wire: POST `{base}/api/v1/tipreport/` and PATCH
    * `{base}/api/v1/tipreport/{id}/` (trailing slash as in the
    * reference, `:190,220`). */
  final case class HttpTipReportSink(ep: AnomaliEndpoint)
      extends Sinks.TipReportSink {
    private def toResult(r: Http.Response): Sinks.UploadResult =
      if (r.code / 100 == 2) Sinks.Accepted else Sinks.Failed(r.code, r.body)
    override def post(tipReportJson: String): Sinks.UploadResult =
      // NOT idempotent: a timed-out-but-processed POST would create a
      // duplicate tipreport, so no transport retry (Http doc)
      toResult(Http.request(ep.http, "POST",
        s"${ep.baseUrl}/api/v1/tipreport/", ep.headers, Some(tipReportJson),
        idempotent = false))
    override def patch(tipId: Long, patchJson: String): Sinks.UploadResult =
      toResult(Http.request(ep.http, "PATCH",
        s"${ep.baseUrl}/api/v1/tipreport/$tipId/", ep.headers,
        Some(patchJson)))
  }

  // -------------------------------------------------------------- fetchers

  /** S5 over the wire: GET `{base}/api/advisory/{id}/html`, body
    * `{"html": "..."}` (`src/Datalake2Anomali.py:425-430`). Runs
    * executor-side inside [[Bulletins.enrich]]; non-2xx throws (the
    * reference raises, `:427-428`) and Spark's task retry is the
    * retry policy. */
  final case class HttpHtmlFetcher(ep: WorldWatchEndpoint)
      extends Bulletins.HtmlFetcher {
    override def fetch(advisoryId: Long): String = {
      val r = Http.get(ep.http,
        s"${ep.baseUrl}/api/advisory/$advisoryId/html", ep.headers)
      if (r.code / 100 != 2)
        throw new RuntimeException(
          s"advisory $advisoryId html fetch failed: ${r.code} ${r.body}")
      Json.str(r.body, "html")
    }
  }

  /** S1 transport: GET `{base}/{query_hash}?query_fields=...` returning
    * the bulk-search document (FIXTURES.md §1). `fields` is the PRUNED
    * column list from the DSv2 scan — column pruning reaches the wire
    * as the reference's `query_fields` parameter (P1, `:297-300`).
    * Response cells arrive in requested-field order; [[fetch]]
    * re-expands them to the canonical 5-slot positional layout the
    * reader's decode expects, so a pruned request stays
    * position-correct. */
  final case class HttpIocFetcher(ep: DatalakeEndpoint,
      fields: Seq[String]) extends IocBulkSource.Fetcher {
    override def fetch(queryHash: String): Seq[Seq[Any]] = {
      val qs = fields.map(Http.enc).mkString(",")
      val r = Http.get(ep.http,
        s"${ep.baseUrl}/$queryHash?query_fields=$qs", ep.headers)
      if (r.code / 100 != 2)
        throw new RuntimeException(
          s"bulk search $queryHash failed: ${r.code} ${r.body}")
      val slot = fields.map(IocBulkSource.QueryFieldSlot)
      IocBulkSource.parseResults(r.body).map { cells =>
        if (cells.length > fields.length &&
            cells.length <= IocBulkSource.PositionalWidth)
          // the server ignored query_fields and sent (a prefix of) the
          // canonical positional row — pass it through instead of
          // mis-mapping positions (detectable whenever the projection
          // was a strict subset; a full-width request is already
          // canonical either way)
          cells
        else {
          val full = Array.fill[Any](IocBulkSource.PositionalWidth)(null)
          slot.zip(cells).foreach { case (i, c) => full(i) = c }
          full.toSeq
        }
      }
    }
  }

  // -------------------------------------------------------------- sources

  /** [[Runner.Sources]] over HTTP — everything a production deployment
    * points at real endpoints.
    *
    * Driver/executor split: the advisory LIST and the tipreport STATE
    * are small control tables (one row per advisory ever published) and
    * are fetched driver-side in one (paged) request each, exactly like
    * the reference's single list call (`:406-414`); the per-row html
    * enrichment and every intelligence/tipreport write run distributed.
    * `updatedAfter`, when set, is pushed into the advisory list request
    * (`?updated_after=`, `:408-413`) — [[Runner.runOnce]]'s cursor
    * filter (F4) still applies on top, so pushing it is a bandwidth
    * optimization, never a semantics change. */
  final case class HttpSources(
      ww: WorldWatchEndpoint,
      anomali: AnomaliEndpoint,
      datalake: DatalakeEndpoint,
      cfg: Model.PipelineConfig,
      updatedAfter: Option[String] = None,
      statePageSize: Int = 1000) extends Runner.Sources {

    /** F1 runs before the fetch, as in the reference (`:311-313`): only
      * valid descriptors get a bulk-search request. The filter is over
      * a local relation, so collecting it runs no Spark job. The
      * endpoint's whole [[Http.Conf]] (proxy, timeouts, retries, TLS)
      * crosses the source's option boundary, so the executor-side
      * fetches use the same transport as every other endpoint. */
    override def iocRows(spark: SparkSession): DataFrame = {
      import spark.implicits._
      val valid = IocTransform.validQueries(queryConfig(spark))
        .select("query_hash").as[String].collect()
      spark.read.format("graft-ioc")
        .option("transport", "http")
        .option("url", datalake.baseUrl)
        .option("token", datalake.token)
        .option("http", Http.Conf.encode(datalake.http))
        .option("queries", valid.mkString(","))
        .load()
    }

    override def queryConfig(spark: SparkSession): DataFrame = {
      import spark.implicits._
      cfg.datalakeQueries.toDF()
    }

    override def advisories(spark: SparkSession): Dataset[Model.Advisory] = {
      import spark.implicits._
      val url = s"${ww.baseUrl}/api/advisory/" +
        updatedAfter.fold("")(t => s"?updated_after=${Http.enc(t)}")
      val r = Http.get(ww.http, url, ww.headers)
      if (r.code / 100 != 2)
        throw new RuntimeException(
          s"advisory list failed: ${r.code} ${r.body}")
      // html arrives empty here; Bulletins.enrich fills it distributed
      Json.advisoryItems(r.body).toDS()
    }

    /** One paged bulk read of the world-watch-tagged tipreports. The
      * `world_watch_{id}` correlation tag (C1, `:185-186`) carried in
      * each object's `tags` is decoded back to `ww_id` — the key the
      * MERGE probe joins on. */
    override def tipReportState(spark: SparkSession): DataFrame = {
      import spark.implicits._
      val base = s"${anomali.baseUrl}/api/v1/threat_model_search/" +
        s"?model_type=tipreport&tags=${Bulletins.GENERIC_TAG}" +
        s"&limit=$statePageSize"
      val out = Seq.newBuilder[Model.TipReportState]
      var offset = 0
      var more = true
      // a server that ignores offset would return full pages forever —
      // cap the walk and fail loudly instead of looping
      val maxPages = 100000
      var pages = 0
      while (more) {
        val r = Http.get(anomali.http, s"$base&offset=$offset",
          anomali.headers)
        if (r.code / 100 != 2)
          throw new RuntimeException(
            s"threat_model_search failed: ${r.code} ${r.body}")
        out ++= Json.tipReportObjects(r.body)
        offset += statePageSize
        pages += 1
        if (pages >= maxPages)
          throw new RuntimeException(
            s"threat_model_search paging did not terminate after $pages pages")
        // continue on the RAW object count: the decoder drops objects
        // without a world_watch tag, and a dropped object mid-page must
        // not truncate the walk
        more = Json.objectCount(r.body) == statePageSize
      }
      out.result().toDS().toDF()
    }

    override def htmlFetcher: Bulletins.HtmlFetcher = HttpHtmlFetcher(ww)
  }

  /** Response-document decoding shared by the HTTP sources. */
  private[pipeline] object Json {
    import org.json4s._
    import org.json4s.jackson.JsonMethods

    def str(body: String, field: String): String =
      (JsonMethods.parse(body) \ field) match {
        case JString(s) => s
        case other => throw new RuntimeException(
          s"expected string field '$field', got $other")
      }

    /** `{"items":[{id,title,tags,timestamp_created,timestamp_updated}]}`
      * (`src/Datalake2Anomali.py:423-437`). */
    def advisoryItems(body: String): Seq[Model.Advisory] =
      (JsonMethods.parse(body) \ "items") match {
        case JArray(items) => items.map { it =>
          Model.Advisory(
            id = (it \ "id") match { case JInt(i) => i.toLong; case _ => -1L },
            title = (it \ "title") match { case JString(s) => s; case _ => "" },
            tags = (it \ "tags") match {
              case JArray(ts) => ts.collect { case JString(t) => t }
              case _ => Nil
            },
            timestamp_created = (it \ "timestamp_created") match {
              case JString(s) => s; case _ => ""
            },
            timestamp_updated = (it \ "timestamp_updated") match {
              case JString(s) => s; case _ => ""
            },
            html = "")
        }
        case _ => Nil
      }

    /** Raw `objects` array length (pagination signal — independent of
      * how many objects the decoder keeps). */
    def objectCount(body: String): Int =
      (JsonMethods.parse(body) \ "objects") match {
        case JArray(objs) => objs.size
        case _ => 0
      }

    /** `{"objects":[{id,modified_ts,tags:[...]}]}` — the reference
      * reads id/modified_ts (`:162-165`); the world_watch_{id} tag is
      * the join key our bulk probe additionally decodes. */
    def tipReportObjects(body: String): Seq[Model.TipReportState] =
      (JsonMethods.parse(body) \ "objects") match {
        case JArray(objs) => objs.flatMap { o =>
          val tipId = (o \ "id") match {
            case JInt(i) => i.toLong; case _ => -1L
          }
          val modified = (o \ "modified_ts") match {
            case JString(s) => s; case _ => ""
          }
          val wwId = (o \ "tags") match {
            case JArray(ts) => ts.collectFirst {
              case JString(t) if t.startsWith("world_watch_") &&
                  t.stripPrefix("world_watch_").forall(_.isDigit) &&
                  t.length > "world_watch_".length =>
                t.stripPrefix("world_watch_").toLong
            }
            case _ => None
          }
          wwId.map(Model.TipReportState(_, tipId, modified))
        }
        case _ => Nil
      }
  }
}
