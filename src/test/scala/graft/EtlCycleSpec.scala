package graft

import graft.pipeline._
import graft.pipeline.Model._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types._

/** The observable semantics of the cycle's three lookups: J2/F2 (the
  * type map), J1 (the query dimension) and J5 (the MERGE probe against
  * the tipreport state). Each case states the inner or left-outer
  * join's multiplicity on an input where a lookup could get it wrong:
  * duplicated keys, null keys and misses. */
class EtlJoinSemanticsSpec extends SparkSpec {
  import TestSinks._

  private val cfg = PipelineConfig()

  private def advisoryRows(ids: Option[Long]*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(ids.map { id =>
        Row(id.map(Long.box).orNull, s"A${id.getOrElse("-")}", Seq("t"),
          "2026-01-01T00:00:00", "2026-01-02T00:00:00", s"<p>${id.getOrElse("-")}</p>")
      }: _*),
      streaming.PipelineStream.advisorySchema)

  private def stateRows(rows: (Option[Long], Long)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (ww, tip) =>
        Row(ww.map(Long.box).orNull, tip, "2026-01-01T00:00:00")
      }: _*),
      StructType(Seq(StructField("ww_id", LongType), StructField("tip_id", LongType),
        StructField("modified_ts", StringType))))

  private def postedIds(sink: RecordingTipSink): List[String] =
    sink.posts.map(p => """"world_watch_([^"]*)"""".r.findFirstMatchIn(p).get.group(1)).sorted

  test("J5: two tipreports carrying one ww_id are both patched") {
    val sink = new RecordingTipSink
    val (ok, bad) = Bulletins.write(advisoryRows(Some(1L), Some(2L)),
      stateRows(Some(2L) -> 20L, Some(2L) -> 21L), sink)
    assert((ok, bad) == ((3L, 0L)))
    assert(postedIds(sink) == List("1"))
    assert(sink.patches.map(_._1).sorted == List(20L, 21L))
    assert(sink.patches.forall(_._2.contains(""""name":"world_watch_2"""")))
  }

  test("J5: a state row with a null ww_id matches nothing, a null id is posted") {
    val sink = new RecordingTipSink
    val (ok, bad) = Bulletins.write(advisoryRows(Some(1L), None, Some(3L)),
      stateRows(None -> 90L, Some(3L) -> 30L), sink)
    assert((ok, bad) == ((3L, 0L)))
    // a null id renders no world_watch_ number: concat with null is null,
    // so the insert path's specific tag is a JSON null
    assert(sink.posts.size == 2)
    assert(sink.posts.exists(_.contains(""""tags":["world_watch_1",""")))
    assert(sink.posts.exists(_.contains(""""tags":[null,""")))
    assert(sink.patches.map(_._1) == List(30L))
  }

  test("J5: an advisory listed twice is written twice, each against every match") {
    val sink = new RecordingTipSink
    val (ok, _) = Bulletins.write(advisoryRows(Some(5L), Some(5L), Some(6L), Some(6L)),
      stateRows(Some(6L) -> 60L, Some(6L) -> 61L), sink)
    assert(ok == 6L)
    assert(postedIds(sink) == List("5", "5"))
    assert(sink.patches.map(_._1).sorted == List(60L, 60L, 61L, 61L))
  }

  test("J5: only the chosen path's payload is rendered") {
    // the patch path parses timestamp_updated; a new advisory whose
    // timestamp does not parse is still posted
    val bad = advisoryRows(Some(8L)).withColumn("timestamp_updated", lit("not a time"))
    val sink = new RecordingTipSink
    assert(Bulletins.write(bad, stateRows(Some(9L) -> 90L), sink) == ((1L, 0L)))
    assert(sink.posts.exists(_.contains(""""modified_ts":"not a time"""")))
    assert(sink.patches.isEmpty)
    // on the patch path the same timestamp fails the write
    intercept[Exception](Bulletins.write(bad, stateRows(Some(8L) -> 80L),
      new RecordingTipSink))
  }

  test("cursor: a null modified_ts is ignored, all-null state gives the epoch") {
    val now = java.time.Instant.parse("2026-02-01T12:00:00Z")
    val state = stateRows(Some(1L) -> 10L, Some(2L) -> 11L)
      .withColumn("modified_ts", when(col("ww_id") === 1L, "2026-01-20T08:00:00"))
    assert(Bulletins.cursor(cfg, state, now) == java.time.Instant.parse("2026-01-20T08:00:00Z"))
    assert(Bulletins.cursor(cfg, state.filter("ww_id = 2"), now) == java.time.Instant.EPOCH)
  }

  private def iocRows(rows: IocRow*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF()
  }

  /** (value, dataset, severity, itype) of each serialized object. */
  private def objectTuples(objs: DataFrame): List[(String, String, String, String)] = {
    import org.json4s._
    implicit val fmt: Formats = DefaultFormats
    objs.collect().map(_.getString(0)).map { j =>
      val m = org.json4s.jackson.JsonMethods.parse(j).extract[Map[String, Any]]
      val value = Seq("domain", "srcip", "url", "email", "md5").flatMap(m.get).head.toString
      val ds = m("tags").asInstanceOf[List[Map[String, String]]].head("name")
      (value, ds, m("severity").toString, m("itype").toString)
    }.toList.sorted
  }

  test("J1: a duplicated query_hash yields one object per matching descriptor") {
    val s = spark
    import s.implicits._
    val rows = iocRows(
      IocRow("qh1", "fqdn", "a.example", None, Seq(50)),
      IocRow("qh1", "ip", "10.0.0.1", None, Seq(60)),
      IocRow("qh2", "url", "http://b.example/", None, Seq(70)),
      IocRow("qh3", "email", "c@example", None, Seq(80)))   // no descriptor: dropped
    val queries = Seq(
      QueryDescriptor("qh1", "ds_a", "low"),
      QueryDescriptor("qh1", "ds_b", "high", Map("srcip" -> "c2_ip")),
      QueryDescriptor("qh2", "ds_c", "medium"),
      QueryDescriptor("qh2", "ds_c", "medium")).toDF()     // an exact duplicate
    val got = objectTuples(IocTransform.run(rows, queries, cfg))
    val want = List(
      ("10.0.0.1", "ds_a", "low", "actor_ip"),
      ("10.0.0.1", "ds_b", "high", "c2_ip"),
      ("a.example", "ds_a", "low", "suspicious_domain"),
      ("a.example", "ds_b", "high", "suspicious_domain"),
      ("http://b.example/", "ds_c", "medium", "suspicious_url"),
      ("http://b.example/", "ds_c", "medium", "suspicious_url")).sorted
    assert(got == want)
  }

  test("J2/F2: an unknown or null atom_type is dropped") {
    val s = spark
    import s.implicits._
    val rows = iocRows(
      IocRow("qh1", "sha256", "deadbeef", None, Seq(77)),
      IocRow("qh1", null, "nothing", None, Seq(77)),
      IocRow("qh1", "FQDN", "upper.example", None, Seq(77)),  // keys are case-sensitive
      IocRow("qh1", "domain", "kept.example", None, Seq(77)),
      IocRow(null, "domain", "nohash.example", None, Seq(77)))
    val queries = Seq(QueryDescriptor("qh1", "ds_a", "low")).toDF()
    val ind = IocTransform.indicators(rows, IocTransform.validQueries(queries), cfg)
    assert(ind.collect().map(_.getAs[String]("atom_value")).toList == List("kept.example"))
    assert(objectTuples(IocTransform.run(rows, queries, cfg)) ==
      List(("kept.example", "ds_a", "low", "suspicious_domain")))
  }
}

/** The shape of one `Runner.runOnce` over local fixture sources: no
  * SQL execution plans a broadcast, and the whole cycle runs in three
  * Spark jobs (the IOC write, the MERGE fan-out's map stage and the
  * MERGE write). */
class EtlCycleShapeSpec extends SparkSpec {
  import TestSinks._

  test("runOnce plans no broadcast exchange and runs at most 3 Spark jobs") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    val s = spark
    import s.implicits._
    val rows = (0 until 60).map(i => IocRow(s"qh${i % 3}",
      Seq("fqdn", "domain", "ip", "url", "email", "file", "asn")(i % 7),
      s"v$i", Some(f"$i%032x"), Seq(i % 100))).toDF()
    val queries = (0 until 3).map(i =>
      QueryDescriptor(s"qh$i", s"ds_$i", "medium")).toDF()
    val advs = (1 to 20).map(i => Advisory(i.toLong, s"A$i", Seq("t"),
      "2026-01-01T00:00:00", "2026-02-01T00:00:00", "")).toDS()
    val state = (2 to 20 by 2).map(i =>
      TipReportState(i.toLong, 1000L + i, "2026-01-15T00:00:00")).toDF()
    val src = new Runner.Sources {
      def iocRows(sp: SparkSession) = rows
      def queryConfig(sp: SparkSession) = queries
      def advisories(sp: SparkSession) = advs
      def tipReportState(sp: SparkSession) = state
      def htmlFetcher = new Bulletins.HtmlFetcher {
        def fetch(id: Long) = s"<p>$id</p>"
      }
    }
    val tips = new RecordingTipSink
    val (report, jobs, plans) = PlanShape.capture(spark) {
      Runner.runOnce(spark, src, PipelineConfig(),
        new RecordingIntelSink(maxAccepted = Int.MaxValue), tips)
    }
    assert(report.iocOk && report.bulletinsOk, report.toString)
    assert(report.bulletinWrites == ((20L, 0L)))
    assert(tips.posts.size == 10 && tips.patches.map(_._1).sorted ==
      (2 to 20 by 2).map(1000L + _).toList)
    val broadcasts = plans.collect { case b: BroadcastExchangeLike => b.nodeName }
    assert(broadcasts.isEmpty, s"cycle plans broadcast: $broadcasts")
    assert(jobs <= 3, s"cycle ran $jobs Spark jobs, expected at most 3")
  }
}
