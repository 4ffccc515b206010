package e2ebench

import org.apache.spark.sql.SparkSession

import graft.pipeline._
import graft.pipeline.HttpConnectors._
import graft.pipeline.Model._

/** Seeded input of one ETL cycle: bulk-search results for the configured
  * queries, the advisory list with html bodies, and the tipreport state.
  *
  * @param rowsPerQuery IOC rows served per bulk search
  * @param advisories   advisories listed; even ids already have a
  *                     tipreport (patch path), odd ids are new (post path)
  */
final class EtlFixture(seed: Long, rowsPerQuery: Int, advisories: Int) {
  import EtlFixture._
  private val rng = new scala.util.Random(seed)

  /** Eight descriptors; the last misses its dataset name, so F1 drops it. */
  val descriptors: Seq[QueryDescriptor] = (0 until 8).map { i =>
    QueryDescriptor(f"qh$seed%x_$i", if (i == 7) "" else s"dataset_$i",
      Seq("low", "medium", "high", "very-high")(i % 4),
      if (i == 2) Map("domain" -> "phishing_domain") else Map.empty)
  }

  /** Positional rows (type, value, md5, scores, tags) per query hash:
    * the six supported atom types, an unsupported type (dropped by J2)
    * and file rows without an md5 (dropped by F3). */
  val bulkDocs: Map[String, Seq[Seq[Any]]] = descriptors.zipWithIndex.map {
    case (d, qi) =>
      d.query_hash -> (0 until rowsPerQuery).map { r =>
        val tpe = if (r % 20 == 19) "asn" else AtomTypes(r % AtomTypes.length)
        val tag = rng.alphanumeric.take(6).mkString.toLowerCase
        val value = tpe match {
          case "fqdn" | "domain" => s"h$qi-$r-$tag.example"
          case "ip" => s"10.$qi.${r / 250}.${r % 250}"
          case "url" => s"http://s$qi-$r.example/$tag"
          case "email" => s"u$qi-$r@$tag.example"
          case "file" => s"f$qi-$r-$tag.bin"
          case _ => s"AS$qi$r"
        }
        val md5 =
          if (tpe == "file" && r % 7 == 0) null
          else f"${rng.nextLong()}%016x${rng.nextLong()}%016x"
        Seq(tpe, value, md5,
          Seq.fill(1 + rng.nextInt(3))(rng.nextInt(101)), Seq(s"tag_$tag"))
      }
  }.toMap

  /** The objects a correct cycle uploads, as (anomali key, value). */
  val expectedObjects: Seq[(String, String)] = descriptors
    .filter(_.dataset_name.nonEmpty)
    .flatMap(d => bulkDocs(d.query_hash))
    .flatMap { row =>
      val tpe = row(0).asInstanceOf[String]
      IocTransform.dtlToAnomaliType.get(tpe).flatMap { key =>
        if (key == "md5") Option(row(2).asInstanceOf[String]).map(key -> _)
        else Some(key -> row(1).asInstanceOf[String])
      }
    }

  val html: Map[Long, String] = (1L to advisories).map { id =>
    id -> (0 until 24).map(_ =>
      "<p>" + Seq.fill(12)(Words(rng.nextInt(Words.length))).mkString(" ") + "</p>")
      .mkString
  }.toMap

  val advisoryListJson: String = (1L to advisories).map { id =>
    s"""{"id":$id,"title":"Advisory $id","tags":["ww_${id % 5}"],""" +
      s""""timestamp_created":"2026-02-01T00:00:00",""" +
      f""""timestamp_updated":"2026-02-${1 + id % 27}%02dT${id % 24}%02d:00:00"}"""
  }.mkString("""{"items":[""", ",", "]}")

  /** Tipreports for the even advisory ids; every modified_ts is older than
    * every advisory update, so the one-shot cursor keeps all advisories. */
  val stateObjects: Seq[String] = (2L to advisories by 2).map { id =>
    f"""{"id":${TipBase + id},"modified_ts":"2026-01-${1 + id % 28}%02dT00:00:00",""" +
      s""""tags":["world_watch_advisory","world_watch_$id"]}"""
  }
}

object EtlFixture {
  val AtomTypes = Seq("fqdn", "domain", "ip", "url", "email", "file")
  val Fields = Seq("atom_type", "atom_value", ".hashes.md5", "threat_scores", "tags")
  val TipBase = 100000L
  private val Words = ("indicator campaign actor malware payload loader beacon " +
    "domain exploit patch advisory vendor sector phishing ransomware").split(" ")

  def objectHash(key: String, value: String): Long = Stats.rowHash(s"$key=$value")

  /** The bulk-search document with the requested fields, in request order. */
  def bulkJson(rows: Seq[Seq[Any]], fields: Seq[String]): String = {
    val slots = fields.flatMap(graft.sources.IocBulkSource.QueryFieldSlot.get)
    def js(v: Any): String = v match {
      case null => "null"
      case s: String => "\"" + s + "\""
      case xs: Seq[_] => xs.map(js).mkString("[", ",", "]")
      case other => other.toString
    }
    rows.map(r => slots.map(i => js(r(i))).mkString("[", ",", "]"))
      .mkString(s"""{"count":${rows.length},"results":[""", ",", "]}")
  }
}

/** `etl_cycle`: one op is one `Runner.runOnce` over the HTTP sources and
  * sinks, against the loopback [[Stub]], in one-shot cursor mode with a
  * fixed `nowUtc`.
  *
  * Check: the cycle reports both pipelines ok with no failed writes, the
  * stub accepted exactly the expected indicator objects (count and an
  * order-insensitive hash of their values), and every advisory was posted
  * (odd ids) or patched (even ids) exactly once. */
final class EtlWorkload(spark: SparkSession, seed: Long, cfg: Config) extends Workload {
  import EtlWorkload._
  private val fx = new EtlFixture(seed, RowsPerQuery, Advisories)
  private val cores = Runtime.getRuntime.availableProcessors
  private val stub = new Stub(fx, StubMaxIntelBytes, math.min(4, cores))
  private val pcfg = PipelineConfig(datalakeQueries = fx.descriptors,
    maxPayloadBytes = MaxPayloadBytes)
  private val anomali = AnomaliEndpoint(stub.url, "bench", "key")
  private val sources = HttpSources(WorldWatchEndpoint(stub.url, "token"), anomali,
    DatalakeEndpoint(s"${stub.url}/bulk", "token"), pcfg,
    statePageSize = StatePageSize)
  private val now = java.time.Instant.parse("2026-03-01T00:00:00Z")
  private val wantHash = fx.expectedObjects.map { case (k, v) => EtlFixture.objectHash(k, v) }.sum
  private val tallies = scala.collection.mutable.ArrayBuffer.empty[Tally]

  val ops: IndexedSeq[String] = IndexedSeq("cycle")
  val warmReps: Int = cfg.warmReps
  val layer = "pipeline"

  def run(op: String): () => Option[String] = {
    stub.reset()
    val report = Tracer.span("pipeline.runOnce")(Runner.runOnce(spark, sources, pcfg,
      HttpIntelSink(anomali), HttpTipReportSink(anomali), now))
    val t = stub.tally()
    tallies += t
    () => {
      val posted = t.posted.sorted
      val patched = t.patched.sorted
      val problems = Seq(
        (!report.iocOk || !report.bulletinsOk) -> s"report $report",
        (report.iocWrites._2 != 0) -> s"intel writes failed ${report.iocWrites}",
        (report.bulletinWrites != ((Advisories.toLong, 0L))) ->
          s"tipreport writes ${report.bulletinWrites}",
        (t.intelAccepted != fx.expectedObjects.length) ->
          s"accepted ${t.intelAccepted} objects, expected ${fx.expectedObjects.length}",
        (t.acceptedHash != wantHash) -> "accepted objects differ from the expected ones",
        (posted != (1L to Advisories by 2)) -> s"posted ${posted.length} advisories wrongly",
        (patched != (2L to Advisories by 2).map(EtlFixture.TipBase + _)) ->
          s"patched ${patched.length} tipreports wrongly")
      problems.collectFirst { case (true, why) => s"cycle: $why" }
    }
  }

  override def layerMetrics(tr: Tracer, ops: Seq[OpRec]): Map[String, Double] = {
    // tallies are appended in op order; the traced ops are the last ones
    val ts = tallies.takeRight(ops.length).toSeq
    val n = ts.length.toDouble
    val eps = Seq("bulk", "advisory_list", "advisory_html", "state_search",
      "intel_patch", "tip_post", "tip_patch")
    val perEp = eps.flatMap { e =>
      Seq(s"pipeline.req.$e" -> ts.map(_.reqs.count(_.endpoint == e)).sum / n,
        s"pipeline.busy_s.$e" ->
          ts.map(_.reqs.filter(_.endpoint == e).map(r => r.endMs - r.startMs).sum).sum / 1e3 / n)
    }
    val cycles = ops.map(_.wallS)
    val busy = ops.zip(ts).map { case (r, t) =>
      Tracer.length(Tracer.union(t.reqs.map(q => (q.startMs, q.endMs)))) / 1e3
    }
    val sent = ts.map(_.intelSent).sum.toDouble
    perEp.toMap ++ Map(
      "pipeline.cycle_s" -> Stats.median(cycles),
      "pipeline.http_busy_frac" -> busy.sum / cycles.sum,
      "pipeline.spark_self_s" -> (cycles.sum - busy.sum) / n,
      "pipeline.intel_too_large" -> ts.map(_.intelTooLarge).sum / n,
      "pipeline.upload_useful_ratio" -> (if (sent == 0) 0.0 else ts.map(_.intelAccepted).sum / sent),
      "pipeline.payload_kb_p50" -> Stats.median(ts.flatMap(_.payloadBytes).map(_ / 1024.0)))
  }

  override def close(): Unit = stub.stop()
}

object EtlWorkload {
  /** IOC rows served per bulk search. */
  val RowsPerQuery = 600
  /** Advisories listed: 100 on the patch path, 100 on the post path. */
  val Advisories = 200
  /** The sink's chunk size, as in `PipelineConfig.maxPayloadBytes`. */
  val MaxPayloadBytes = 65536L
  /** The stub refuses intelligence bodies above this size, below the chunk
    * size, so a fixed share of chunks takes the 400→halving path. */
  val StubMaxIntelBytes = 40960
  /** Tipreport state page size: 100 state objects come in 4 pages. */
  val StatePageSize = 32
}
