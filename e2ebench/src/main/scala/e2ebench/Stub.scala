package e2ebench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** What the stub saw for one request. */
final case class Req(endpoint: String, startMs: Double, endMs: Double)

/** Everything the stub saw since the last [[Stub.reset]]. */
final case class Tally(reqs: Seq[Req], intelSent: Int, intelAccepted: Int,
    intelTooLarge: Int, acceptedHash: Long, payloadBytes: Seq[Int],
    posted: Seq[Long], patched: Seq[Long])

/** Loopback stub of the Datalake bulk-search, WorldWatch advisory and
  * Anomali intelligence/tipreport APIs, in the endpoint shapes the
  * connectors in `graft.pipeline.HttpConnectors` call.
  *
  * Stateless: every response depends only on the fixture and the request,
  * so every ETL cycle does identical work. It only counts what it sees;
  * the counts are cleared with [[reset]] before each cycle.
  *
  * @param maxIntelBytes intelligence PATCH bodies above this size get the
  *   400 "Data exceeds maximum allowed size" answer that makes the sink
  *   halve the chunk
  * @param threads the server's worker pool size */
final class Stub(fx: EtlFixture, maxIntelBytes: Int, threads: Int) {
  private val reqs = new ConcurrentLinkedQueue[Req]()
  private val payloads = new ConcurrentLinkedQueue[Integer]()
  private val posted = new ConcurrentLinkedQueue[java.lang.Long]()
  private val patched = new ConcurrentLinkedQueue[java.lang.Long]()
  private val counters = new java.util.concurrent.atomic.AtomicLongArray(4)
  // slots: 0 objects sent, 1 objects accepted, 2 too-large answers,
  // 3 sum of the accepted objects' value hashes

  private val pool = Executors.newFixedThreadPool(threads)
  val server: HttpServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  def reset(): Unit = {
    reqs.clear(); payloads.clear(); posted.clear(); patched.clear()
    (0 until 4).foreach(counters.set(_, 0L))
  }

  def tally(): Tally = Tally(reqs.asScala.toSeq, counters.get(0).toInt,
    counters.get(1).toInt, counters.get(2).toInt, counters.get(3),
    payloads.asScala.map(_.intValue).toSeq, posted.asScala.map(_.longValue).toSeq,
    patched.asScala.map(_.longValue).toSeq)

  private def param(q: String, name: String): Option[String] =
    q.split("&").toSeq.map(_.split("=", 2)).collectFirst {
      case Array(k, v) if k == name => java.net.URLDecoder.decode(v, UTF_8)
    }

  private val objectValue =
    "\"(domain|srcip|url|email|md5)\":\"([^\"]*)\"".r
  private val wwTag = "world_watch_(\\d+)".r

  private def handle(ex: HttpExchange): Unit = {
    val t0 = Clock.nowMs
    val path = ex.getRequestURI.getPath
    val query = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val body = ex.getRequestBody.readAllBytes()
    val (endpoint, code, out) =
      try route(ex.getRequestMethod, path, query, body)
      catch { case e: Throwable => ("error", 500, s"""{"error":"${e.getClass.getName}"}""") }
    val b = out.getBytes(UTF_8)
    ex.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length.toLong)
    if (b.nonEmpty) ex.getResponseBody.write(b)
    ex.close()
    val t1 = Clock.nowMs
    reqs.add(Req(endpoint, t0, t1))
    Tracer.current.foreach(_.record(s"http.$endpoint", t0, t1))
  }

  private def route(method: String, path: String, query: String,
      body: Array[Byte]): (String, Int, String) = (method, path) match {
    case ("GET", p) if p.startsWith("/bulk/") =>
      fx.bulkDocs.get(p.stripPrefix("/bulk/")) match {
        case Some(rows) =>
          val fields = param(query, "query_fields").map(_.split(",").toSeq)
            .getOrElse(EtlFixture.Fields)
          ("bulk", 200, EtlFixture.bulkJson(rows, fields))
        case None => ("bulk", 404, """{"error":"no such search"}""")
      }
    case ("GET", "/api/advisory/") => ("advisory_list", 200, fx.advisoryListJson)
    case ("GET", p) if p.startsWith("/api/advisory/") && p.endsWith("/html") =>
      val id = p.stripPrefix("/api/advisory/").stripSuffix("/html").toLong
      fx.html.get(id) match {
        case Some(h) => ("advisory_html", 200, s"""{"html":"$h"}""")
        case None => ("advisory_html", 404, """{"error":"no such advisory"}""")
      }
    case ("GET", "/api/v1/threat_model_search/") =>
      val limit = param(query, "limit").fold(1000)(_.toInt)
      val offset = param(query, "offset").fold(0)(_.toInt)
      val page = fx.stateObjects.slice(offset, offset + limit)
      ("state_search", 200, page.mkString("""{"objects":[""", ",", "]}"))
    case ("PATCH", "/api/v2/intelligence/") =>
      val s = new String(body, UTF_8)
      val objs = objectValue.findAllMatchIn(s).toSeq
      counters.addAndGet(0, objs.length.toLong)
      payloads.add(body.length)
      if (body.length > maxIntelBytes) {
        counters.incrementAndGet(2)
        ("intel_patch", 400,
          s"""{"error":"${graft.pipeline.HttpConnectors.MaxSizeMarker}"}""")
      } else {
        counters.addAndGet(1, objs.length.toLong)
        objs.foreach(m => counters.addAndGet(3,
          EtlFixture.objectHash(m.group(1), m.group(2))))
        ("intel_patch", 202, "{}")
      }
    case ("POST", "/api/v1/tipreport/") =>
      val s = new String(body, UTF_8)
      wwTag.findFirstMatchIn(s).foreach(m => posted.add(m.group(1).toLong))
      ("tip_post", 201, """{"id":1}""")
    case ("PATCH", p) if p.startsWith("/api/v1/tipreport/") =>
      patched.add(p.stripPrefix("/api/v1/tipreport/").stripSuffix("/").toLong)
      ("tip_patch", 202, "{}")
    case _ => ("unknown", 404, s"""{"error":"unhandled $path"}""")
  }
}
