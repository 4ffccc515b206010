package graft.pipeline

import java.net.{InetSocketAddress, ProxySelector, Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.security.cert.X509Certificate
import java.time.Duration
import javax.net.ssl.{SSLContext, SSLEngine, TrustManager, X509ExtendedTrustManager}

/** Shared HTTP transport for every connector (SURVEY §2.9).
  *
  * The reference configures `ssl_verify` and `proxies` but applies
  * them INCONSISTENTLY — the intelligence upload passes both
  * (`src/Datalake2Anomali.py:104-118`) while the tipreport post/patch
  * and the threat-model search pass neither (`:143-147,210-216,
  * 240-243`), so a proxied deployment half-works. Here one
  * [[Http.Conf]] builds every client, so TLS and proxy behavior is
  * uniform across all endpoints by construction.
  *
  * Executor-side use: connector objects are serialized into tasks
  * (`foreachPartition`/`mapPartitions`), and `java.net.http.HttpClient`
  * is not serializable — clients live in a JVM-static cache keyed by
  * conf, built lazily on first use per executor and reused across
  * tasks (connection pooling for [[Bulletins.enrich]]'s html fan-out).
  */
object Http {

  /** Uniform transport knobs. `tlsVerify=false` mirrors the
    * reference's `ssl_verify` escape hatch for self-signed
    * deployments; `proxy` mirrors its `proxies` map. `retries` bounds
    * re-attempts of IDEMPOTENT requests on transport errors and 5xx
    * responses (backoff = attempt × `retryBackoffMs`); 4xx never
    * retries (a client error — notably the oversize 400 that drives
    * the halving protocol — must surface immediately), and
    * non-idempotent requests (tipreport POST) never retry at the
    * transport layer because a timed-out-but-processed POST would
    * duplicate a report. The reference has no retry at all; Spark
    * task retry covers executor-side fetchers either way. */
  final case class Conf(
      connectTimeoutMs: Long = 10000L,
      requestTimeoutMs: Long = 60000L,
      tlsVerify: Boolean = true,
      proxyHost: Option[String] = None,
      proxyPort: Int = 3128,
      retries: Int = 2,
      retryBackoffMs: Long = 200L)

  object Conf {
    /** One-string form of a Conf for a boundary that carries only
      * strings (the `graft-ioc` source's `http` option): the fields in
      * declaration order, `;`-joined. `decode(encode(c)) == c`. */
    def encode(c: Conf): String = Seq(c.connectTimeoutMs, c.requestTimeoutMs,
      c.tlsVerify, c.proxyHost.getOrElse(""), c.proxyPort, c.retries,
      c.retryBackoffMs).mkString(";")

    def decode(s: String): Conf = s.split(";", -1) match {
      case Array(ct, rt, tls, host, port, retries, backoff) =>
        Conf(ct.toLong, rt.toLong, tls.toBoolean, Option(host).filter(_.nonEmpty),
          port.toInt, retries.toInt, backoff.toLong)
      case _ => throw new IllegalArgumentException(s"not an encoded Http.Conf: $s")
    }
  }

  final case class Response(code: Int, body: String)

  // JVM-static client cache: serialized connector copies on executors
  // share one client per distinct conf
  private val clients =
    new java.util.concurrent.ConcurrentHashMap[Conf, HttpClient]()

  /** Trust-all context scoped to `tlsVerify=false` clients ONLY.
    *
    * The hostname (endpoint-identification) bypass must not leak to
    * verify-enabled endpoints: java.net.http sets the HTTPS
    * endpoint-identification algorithm on its SSLParameters, and JSSE
    * then routes the WHOLE server check — chain validation AND the
    * hostname match — through `X509ExtendedTrustManager
    * .checkServerTrusted(chain, authType, socket/engine)` when the
    * installed trust manager is an extended one. A plain
    * `X509TrustManager` would instead be wrapped by JSSE's
    * AbstractTrustManagerWrapper, which performs the hostname check
    * itself regardless of what the delegate accepts. So overriding the
    * socket/engine variants as no-ops here disables both checks for
    * THIS SSLContext only — clients built with `tlsVerify=true` keep
    * the default context and full validation. (An earlier revision set
    * the JVM-global `jdk.internal.httpclient
    * .disableHostnameVerification` property, which — once the
    * internal Utils class loads — would have disabled the hostname
    * check for every java.net.http client in the process, including
    * verify-enabled endpoints. The reference scopes ssl_verify per
    * request, `src/Datalake2Anomali.py:111`; this matches that
    * scoping.) */
  private def trustAllContext(): SSLContext = {
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(null, Array[TrustManager](new X509ExtendedTrustManager {
      override def checkClientTrusted(c: Array[X509Certificate], a: String): Unit = ()
      override def checkServerTrusted(c: Array[X509Certificate], a: String): Unit = ()
      override def checkClientTrusted(c: Array[X509Certificate], a: String, s: Socket): Unit = ()
      override def checkServerTrusted(c: Array[X509Certificate], a: String, s: Socket): Unit = ()
      override def checkClientTrusted(c: Array[X509Certificate], a: String, e: SSLEngine): Unit = ()
      override def checkServerTrusted(c: Array[X509Certificate], a: String, e: SSLEngine): Unit = ()
      override def getAcceptedIssuers: Array[X509Certificate] = Array.empty
    }), new java.security.SecureRandom())
    ctx
  }

  def client(conf: Conf): HttpClient =
    clients.computeIfAbsent(conf, { c =>
      val b = HttpClient.newBuilder()
        .connectTimeout(Duration.ofMillis(c.connectTimeoutMs))
        .followRedirects(HttpClient.Redirect.NORMAL)
      c.proxyHost.foreach(h =>
        b.proxy(ProxySelector.of(new InetSocketAddress(h, c.proxyPort))))
      if (!c.tlsVerify) b.sslContext(trustAllContext())
      b.build()
    })

  /** One synchronous request (with the Conf's bounded retry when
    * `idempotent`). Body is UTF-8 JSON when present. Throws on
    * transport errors that survive the retries — callers map those to
    * their failure surface. */
  def request(conf: Conf, method: String, url: String,
      headers: Map[String, String], body: Option[String] = None,
      idempotent: Boolean = true): Response = {
    val attempts = if (idempotent) conf.retries + 1 else 1
    var attempt = 1
    while (true) {
      val last = attempt >= attempts
      try {
        val r = sendOnce(conf, method, url, headers, body)
        if (r.code / 100 != 5 || last) return r
        System.err.println(s"[graft.http] $method $url -> ${r.code}, retry $attempt/${attempts - 1}")
      } catch {
        case e: java.io.IOException if !last =>
          System.err.println(s"[graft.http] $method $url failed ($e), retry $attempt/${attempts - 1}")
      }
      Thread.sleep(conf.retryBackoffMs * attempt)
      attempt += 1
    }
    throw new IllegalStateException("unreachable")
  }

  private def sendOnce(conf: Conf, method: String, url: String,
      headers: Map[String, String], body: Option[String]): Response = {
    val rb = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofMillis(conf.requestTimeoutMs))
    headers.foreach { case (k, v) => rb.header(k, v) }
    val publisher = body match {
      case Some(b) => HttpRequest.BodyPublishers.ofString(b, java.nio.charset.StandardCharsets.UTF_8)
      case None => HttpRequest.BodyPublishers.noBody()
    }
    val resp = client(conf).send(rb.method(method, publisher).build(),
      HttpResponse.BodyHandlers.ofString())
    Response(resp.statusCode(), resp.body())
  }

  def get(conf: Conf, url: String, headers: Map[String, String]): Response =
    request(conf, "GET", url, headers)

  /** URL-encode one query parameter value. */
  def enc(v: String): String =
    java.net.URLEncoder.encode(v, java.nio.charset.StandardCharsets.UTF_8)
}
