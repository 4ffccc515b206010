package graft

import graft.pipeline._
import graft.pipeline.Model._
import graft.pipeline.Sinks._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Golden tests for the reference-parity pipeline, fixture cases per
  * FIXTURES.md §1-4: every supported atom type, an unsupported type
  * (dropped), a file row without md5 (dropped), itype override vs
  * default fallback, invalid query descriptor (skipped). */
class PipelineSpec extends SparkSpec {
  import TestSinks._

  private def fixtures: (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val rows = Seq(
      IocRow("qh1", "fqdn", "evil.example", None, Seq(70, 90)),
      IocRow("qh1", "domain", "bad.example", None, Seq(50)),
      IocRow("qh1", "ip", "203.0.113.7", None, Seq(95, 40), Seq("c2")),
      IocRow("qh1", "url", "http://evil.example/x", None, Seq(60)),
      IocRow("qh2", "email", "a@evil.example", None, Seq(10, 20, 30)),
      IocRow("qh2", "file", "report.pdf", Some("d41d8cd98f00b204e9800998ecf8427e"), Seq(99)),
      IocRow("qh2", "file", "nohash.bin", None, Seq(88)),        // F3 drop
      IocRow("qh2", "file", "emptyhash.bin", Some(""), Seq(88)), // F3 drop
      IocRow("qh1", "sha256", "deadbeef", None, Seq(77))         // F2 drop
    ).toDF()
    val queries = Seq(
      QueryDescriptor("qh1", "ds_one", "very-high", Map("srcip" -> "c2_ip")),
      QueryDescriptor("qh2", "ds_two", "medium"),
      QueryDescriptor("", "broken", "low")                       // F1 drop
    ).toDF()
    (rows, queries)
  }

  private val cfg = PipelineConfig()

  test("F1 validity filter drops incomplete query descriptors") {
    val (_, queries) = fixtures
    assert(IocTransform.validQueries(queries).count() == 2)
    assert(IocTransform.invalidQueries(queries).count() == 1)
  }

  test("indicator generation: type map, md5 filter, itype fallback") {
    val (rows, queries) = fixtures
    val ind = IocTransform.indicators(rows, IocTransform.validQueries(queries), cfg)
      .collect().map(r => r.getAs[String]("atom_value") -> r).toMap
    assert(ind.size == 6, "expected 6 surviving indicators")
    assert(!ind.contains("nohash.bin") && !ind.contains("emptyhash.bin"))
    assert(!ind.contains("deadbeef"))
    // J3: per-query override for srcip on qh1
    assert(ind("203.0.113.7").getAs[String]("anomali_itype") == "c2_ip")
    // J3 fallback: defaults elsewhere
    assert(ind("evil.example").getAs[String]("anomali_itype") == "suspicious_domain")
    assert(ind("report.pdf").getAs[String]("anomali_itype") == "mal_md5")
    // P2: md5 hash only carried for file/md5 rows
    assert(ind("report.pdf").getAs[String]("hashes_md5") == "d41d8cd98f00b204e9800998ecf8427e")
    assert(ind("evil.example").getAs[String]("hashes_md5") == null)
  }

  test("object payload golden: dynamic key, confidence, tags") {
    val (rows, queries) = fixtures
    val objs = IocTransform.run(rows, queries, cfg).collect()
      .map(_.getString(0))
    assert(objs.length == 6)
    val parsed = objs.map(j => org.json4s.jackson.JsonMethods.parse(j))
    import org.json4s._
    implicit val fmt: Formats = DefaultFormats
    val byValue = parsed.map { j =>
      val m = j.extract[Map[String, Any]]
      val key = Seq("domain", "srcip", "url", "email", "md5").filter(m.contains)
      (m, key)
    }
    // exactly one dynamic type key per object
    assert(byValue.forall(_._2.size == 1))
    val ipObj = byValue.map(_._1).find(_.get("srcip").contains("203.0.113.7")).get
    assert(ipObj("confidence") == 95)            // A1 array_max
    assert(ipObj("itype") == "c2_ip")
    assert(ipObj("severity") == "very-high")
    val tags = ipObj("tags").asInstanceOf[List[Map[String, String]]]
    assert(tags == List(Map("name" -> "ds_one", "tlp" -> "white")))
    val md5Obj = byValue.map(_._1).find(_.contains("md5")).get
    assert(md5Obj("md5") == "d41d8cd98f00b204e9800998ecf8427e")
  }

  test("add_dtl_tags appends datalake tags as structs (C5)") {
    val (rows, queries) = fixtures
    val objs = IocTransform.run(rows, queries, cfg.copy(addDtlTags = true))
      .collect().map(_.getString(0))
    val withTag = objs.find(_.contains("203.0.113.7")).get
    assert(withTag.contains(""""tags":[{"name":"ds_one","tlp":"white"},{"name":"c2","tlp":"white"}]"""))
  }

  test("meta block golden (P4) honors expiration config") {
    val now = java.time.Instant.parse("2026-01-02T03:04:05Z")
    assert(IocTransform.metaJson(cfg, now) ==
      """{"allow_update":true,"enrich":false,"classification":"private","expiration_ts":"2026-01-02T04:04:05"}""")
    assert(IocTransform.metaJson(cfg.copy(expirationHours = 2), now)
      .contains("2026-01-02T05:04:05"))
  }

  test("greedy chunking + recursive split preserve the object multiset") {
    val objs = (1 to 137).map(i => s"""{"n":$i,"pad":"${"x" * (i % 50)}"}""")
    val chunks = Sinks.chunk(objs, maxBytes = 500, overheadBytes = 90)
    assert(chunks.flatten == objs, "chunking lost or reordered objects")
    assert(chunks.forall(c =>
      c.map(_.length + 1L).sum + 90 <= 500 || c.size == 1))
    // reactive halving against a sink stricter than the chunker
    val sink = new RecordingIntelSink(maxAccepted = 220)
    chunks.foreach(c => Sinks.uploadWithSplit(sink, "{}", c))
    val uploaded = sink.accepted.flatMap(p =>
      """\{"n":(\d+)""".r.findAllMatchIn(p).map(_.group(1).toInt))
    assert(uploaded.sorted == (1 to 137).toList, "split path lost objects")
  }

  test("bulletin MERGE routes insert vs update and formats payloads") {
    val s = spark
    import s.implicits._
    val advisories = Seq(
      Advisory(1L, "New threat", Seq("apt"), "2026-01-01T00:00:00",
        "2026-01-02T10:00:00", ""),
      Advisory(2L, "Known threat", Seq("ransomware"), "2025-12-01T00:00:00",
        "2026-01-03T11:30:00", "")).toDS()
    val state = Seq(TipReportState(2L, 4242L, "2026-01-01T00:00:00")).toDF()
    val fetcher = new Bulletins.HtmlFetcher {
      def fetch(id: Long): String = s"<h1>advisory $id</h1>"
    }
    val enriched = Bulletins.enrich(advisories, fetcher).toDF()
    val sink = new RecordingTipSink
    val (ok, bad) = Bulletins.write(enriched, state, sink)
    assert(ok == 2L && bad == 0L)
    assert(sink.posts.size == 1 && sink.patches.size == 1)
    val post = sink.posts.head
    assert(post.contains(""""name":"New threat""""))
    assert(post.contains(""""body":"<h1>advisory 1</h1>""""))
    assert(post.contains(""""tags":["world_watch_1","world_watch_advisory","apt"]"""))
    assert(post.contains(""""created_ts":"2026-01-01T00:00:00""""))
    val (tipId, patch) = sink.patches.head
    assert(tipId == 4242L)
    // reference patch path leads with the generic tag (:191-195),
    // unlike the insert path (:225-229)
    assert(patch.contains(""""tags_v2":[{"name":"world_watch_advisory"},{"name":"world_watch_2"},{"name":"ransomware"}]"""))
    // C2: %Y-%m-%dT%H:%M:%S.%f%z equivalent formatting
    assert(patch.contains(""""modified_ts":"2026-01-03T11:30:00.000000+0000""""))
  }

  test("cursor: cron slides by frequency, one-shot uses sink watermark") {
    val s = spark
    import s.implicits._
    val now = java.time.Instant.parse("2026-02-01T12:00:00Z")
    val state = Seq(
      TipReportState(1, 10, "2026-01-20T00:00:00"),
      TipReportState(2, 11, "2026-01-25T06:00:00")).toDF()
    assert(Bulletins.cursor(cfg.copy(runAsCron = true), state, now) ==
      java.time.Instant.parse("2026-02-01T11:00:00Z"))
    assert(Bulletins.cursor(cfg, state, now) ==
      java.time.Instant.parse("2026-01-25T06:00:00Z"))
    val empty = spark.emptyDataset[TipReportState].toDF()
    assert(Bulletins.cursor(cfg, empty, now) == java.time.Instant.EPOCH)
  }

  /** Fixture sources whose IOC rows and advisories come from the given
    * by-name reads, so a test can make one pipeline's source throw. */
  private def sourcesWith(rows: => DataFrame,
      advs: => Dataset[Advisory]): Runner.Sources = {
    val s = spark
    import s.implicits._
    val (_, queries) = fixtures
    new Runner.Sources {
      def iocRows(sp: SparkSession) = rows
      def queryConfig(sp: SparkSession) = queries
      def advisories(sp: SparkSession) = advs
      def tipReportState(sp: SparkSession) =
        spark.emptyDataset[TipReportState].toDF()
      def htmlFetcher = new Bulletins.HtmlFetcher {
        def fetch(id: Long) = s"<p>$id</p>"
      }
    }
  }

  private def oneAdvisory: Dataset[Advisory] = {
    val s = spark
    import s.implicits._
    Seq(Advisory(7L, "T", Seq(), "2026-01-01T00:00:00",
      "2026-01-02T00:00:00", "")).toDS()
  }

  test("runOnce end-to-end with error isolation") {
    val (rows, _) = fixtures
    val intel = new RecordingIntelSink(maxAccepted = Int.MaxValue)
    val tips = new RecordingTipSink
    val report = Runner.runOnce(spark, sourcesWith(rows, oneAdvisory), cfg,
      intel, tips)
    assert(report.iocOk && report.bulletinsOk, report.toString)
    assert(intel.accepted.nonEmpty)
    assert(tips.posts.size == 1 && tips.patches.isEmpty)
    // poison source: bulletin failure must not fail the ioc pipeline
    val poison = sourcesWith(rows, throw new RuntimeException("boom"))
    val r2 = Runner.runOnce(spark, poison, cfg, intel, tips)
    assert(r2.iocOk && !r2.bulletinsOk)
    assert(r2.bulletinError.exists(_.contains("boom")))
  }

  test("runOnce: an IOC failure does not fail the overlapped bulletin pipeline") {
    val tips = new RecordingTipSink
    val r = Runner.runOnce(spark,
      sourcesWith(throw new RuntimeException("ioc boom"), oneAdvisory), cfg,
      new RecordingIntelSink(maxAccepted = Int.MaxValue), tips)
    assert(!r.iocOk && r.bulletinsOk, r.toString)
    assert(r.iocError.exists(_.contains("ioc boom")), r.toString)
    assert(r.bulletinWrites == ((1L, 0L)))
    assert(tips.posts.size == 1 && tips.patches.isEmpty)
  }

  test("runOnce rethrows an Error raised on the IOC thread") {
    val fatal = new Error("ioc fatal")
    val tips = new RecordingTipSink
    val e = intercept[Error](Runner.runOnce(spark,
      sourcesWith(throw fatal, oneAdvisory), cfg,
      new RecordingIntelSink(maxAccepted = Int.MaxValue), tips))
    assert(e eq fatal)
    // the bulletin side ran to its end before the Error came out
    assert(tips.posts.size == 1)
  }

  test("bulletin MERGE writes in one execution over defaultParallelism write tasks") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike}
    import org.apache.spark.sql.util.QueryExecutionListener
    val s = spark
    import s.implicits._
    val width = spark.sparkContext.defaultParallelism
    val n = 8 * width
    val advisories = (1 to n).map(i => Advisory(i.toLong, s"A$i", Seq("t"),
      "2026-01-01T00:00:00", "2026-01-02T00:00:00", s"<p>$i</p>")).toDF()
    // even ids already have a tipreport (patch path), odd ids are new
    val state = (2 to n by 2).map(i =>
      TipReportState(i.toLong, 1000L + i, "2026-01-01T00:00:00")).toDF()
    val execs = new ConcurrentLinkedQueue[QueryExecution]()
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = execs.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = execs.add(qe)
    }
    val sl = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo)
    }
    val sink = new RecordingTipSink
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
    val (ok, bad) =
      try Bulletins.write(advisories, state, sink)
      finally {
        org.apache.spark.graftbus.Bus.drain(spark.sparkContext)
        spark.listenerManager.unregister(qel)
        spark.sparkContext.removeSparkListener(sl)
      }
    assert(ok == n.toLong && bad == 0L)
    val nExecs = execs.size
    assert(nExecs == 1, s"$nExecs SQL executions, expected one")
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val plan = nodes(execs.peek().executedPlan)
    assert(!plan.exists(_.isInstanceOf[InMemoryTableScanExec]), "write reads a cache")
    val fanOut = plan.collect {
      case e: ShuffleExchangeLike if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }
    assert(fanOut.map(_.numPartitions) == Seq(width))
    // the write stage is the job's result stage, the last one created
    val writeStage = stages.asScala.maxBy(_.stageId)
    assert(writeStage.numTasks == width,
      s"write stage ran ${writeStage.numTasks} tasks, expected $width")
    val posted = sink.posts.map(p =>
      """"world_watch_(\d+)"""".r.findFirstMatchIn(p).get.group(1).toInt)
    assert(posted.sorted == (1 to n by 2).toList)
    assert(sink.patches.map(_._1).sorted == (2 to n by 2).map(1000L + _).toList)
  }
}

/** Recording sinks. Buffers are JVM-static (companion object): task
  * closures are serialized even in local mode, so instance fields would
  * be written on deserialized copies and lost — static state is shared
  * across the single test JVM. */
object TestSinks {
  import scala.jdk.CollectionConverters._
  private val intelBuf =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  private val postBuf =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  private val patchBuf = java.util.Collections
    .synchronizedList(new java.util.ArrayList[(Long, String)]())

  class RecordingIntelSink(maxAccepted: Int) extends IntelSink {
    intelBuf.clear()
    def upload(payloadJson: String): UploadResult =
      if (payloadJson.length > maxAccepted) TooLarge
      else { intelBuf.add(payloadJson); Accepted }
    def accepted: List[String] = intelBuf.asScala.toList
  }
  class RecordingTipSink extends TipReportSink {
    postBuf.clear(); patchBuf.clear()
    def post(json: String): UploadResult = { postBuf.add(json); Accepted }
    def patch(tipId: Long, json: String): UploadResult = {
      patchBuf.add((tipId, json)); Accepted
    }
    def posts: List[String] = postBuf.asScala.toList
    def patches: List[(Long, String)] = patchBuf.asScala.toList
  }
}

/** SURVEY §5.3 invariant: the MERGE is idempotent-shaped — a second
  * run against updated sink state routes everything to the patch path
  * and creates no duplicate inserts. */
class MergeIdempotenceSpec extends SparkSpec {
  test("second MERGE run patches instead of re-inserting") {
    val s = spark
    import s.implicits._
    import graft.pipeline.{Bulletins, Model}
    val advisories = Seq(
      Model.Advisory(1L, "A", Seq(), "2026-01-01T00:00:00", "2026-01-02T00:00:00", "<p>1</p>"),
      Model.Advisory(2L, "B", Seq(), "2026-01-01T00:00:00", "2026-01-03T00:00:00", "<p>2</p>")).toDS().toDF()
    val empty = spark.emptyDataset[Model.TipReportState].toDF()
    val sink1 = new TestSinks.RecordingTipSink
    Bulletins.write(advisories, empty, sink1)
    assert(sink1.posts.size == 2 && sink1.patches.isEmpty)
    // sink state now contains both reports (ids assigned by the sink)
    val state = Seq(
      Model.TipReportState(1L, 100L, "2026-01-02T00:00:00"),
      Model.TipReportState(2L, 101L, "2026-01-03T00:00:00")).toDF()
    val sink2 = new TestSinks.RecordingTipSink
    Bulletins.write(advisories, state, sink2)
    assert(sink2.posts.isEmpty, "re-run must not duplicate inserts")
    assert(sink2.patches.map(_._1).sorted == List(100L, 101L))
  }
}
