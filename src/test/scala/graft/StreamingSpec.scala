package graft

import graft.streaming.{CapStream, DedupStream, EventStreams}
import graft.operators.EventWindows
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  /** File-stream sources need a directory; stage the events file. */
  private lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      d.resolve("events.parquet"))
    d.toFile.deleteOnExit()
    d.toString
  }

  test("streaming tumbling windows match the batch operator exactly") {
    val s = spark
    import s.implicits._
    val q = EventStreams.runToMemory(
      EventStreams.windowedCounts(EventStreams.stream(spark, eventsDir)),
      "win_counts", mode = "append")
    try {
      val streamed = spark.table("win_counts")
        .select($"window_start", $"event_type", $"n", $"total")
        .collect().map(_.toSeq).toSet
      val batch = EventWindows.w01(spark, sf)
        .collect().map(_.toSeq).toSet
      // append mode only emits windows the watermark has passed; all
      // emitted rows must agree with the batch computation and cover
      // all but the final watermark-held windows
      assert(streamed.nonEmpty)
      assert(streamed.subsetOf(batch),
        s"streamed rows disagree with batch: ${streamed.diff(batch).take(3)}")
      assert(streamed.size >= batch.size - 10)
    } finally q.stop()
  }

  test("streaming session windows complete and respect the gap") {
    val s = spark
    import s.implicits._
    val q = EventStreams.runToMemory(
      EventStreams.sessionCounts(EventStreams.stream(spark, eventsDir)),
      "sess_counts", mode = "append")
    try {
      val rows = spark.table("sess_counts").collect()
      assert(rows.nonEmpty)
      val batch = EventWindows.w03(spark, sf)
        .select($"user_id", $"session_start", $"n_events")
        .collect().map(_.toSeq).toSet
      val streamed = rows.map(_.toSeq).toSet
      assert(streamed.subsetOf(batch),
        s"streamed sessions disagree: ${streamed.diff(batch).take(3)}")
    } finally q.stop()
  }

  test("stateful TTL expiry emits snapshots and expiry markers") {
    val s = spark
    import s.implicits._
    val events = EventStreams.stream(spark, eventsDir)
      .select($"user_id", $"ts", $"value").as[EventStreams.UserEvent]
    val snaps = EventStreams.expiringCounts(events, "60 minutes").toDF()
    val q = EventStreams.runToMemory(snaps, "ttl_counts", mode = "append")
    try {
      val rows = spark.table("ttl_counts").collect()
      assert(rows.nonEmpty)
      // every user seen in the data appears in the snapshots
      val users = rows.map(_.getAs[Long]("user_id")).toSet
      val expectedUsers = Tables.load(spark, sf, "events")
        .select("user_id").distinct().collect().map(_.getLong(0)).toSet
      assert(users == expectedUsers)
      // expired snapshots carry the accumulated totals
      val expired = rows.filter(_.getAs[Boolean]("expired"))
      assert(expired.forall(_.getAs[Long]("n") > 0))
    } finally q.stop()
  }
}

class StreamJoinSpec extends SparkSpec {
  private lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-events2")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      d.resolve("events.parquet"))
    d.toFile.deleteOnExit()
    d.toString
  }

  test("stream-stream interval join matches the batch range join") {
    val s = spark
    import s.implicits._
    val q = EventStreams.runToMemory(
      EventStreams.purchaseViewJoin(EventStreams.stream(spark, eventsDir)),
      "pv_join", mode = "append")
    try {
      val streamed = spark.table("pv_join")
        .select($"p_id", $"user_id", $"v_id")
        .collect().map(_.toSeq).toSet
      val batch = graft.operators.Relational3.q32(spark, sf)
        .select($"p_id", $"user_id", $"v_id")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"stream vs batch diff: ${streamed.diff(batch).take(3)} / ${batch.diff(streamed).take(3)}")
    } finally q.stop()
  }
}

class PipelineStreamSpec extends SparkSpec {
  test("streaming MERGE upserts per micro-batch with checkpointed offsets") {
    val s = spark
    import s.implicits._
    import graft.pipeline.Model.TipReportState
    val dir = java.nio.file.Files.createTempDirectory("graft-advisories")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt")
    java.nio.file.Files.writeString(dir.resolve("batch1.json"),
      """{"id": 1, "title": "New", "tags": ["apt"], "timestamp_created": "2026-01-01T00:00:00", "timestamp_updated": "2026-01-02T00:00:00", "html": "<p>1</p>"}
        |{"id": 2, "title": "Known", "tags": [], "timestamp_created": "2025-12-01T00:00:00", "timestamp_updated": "2026-01-03T00:00:00", "html": "<p>2</p>"}""".stripMargin)
    val state = Seq(TipReportState(2L, 7L, "2026-01-01T00:00:00")).toDF()
    val sink = new TestSinks.RecordingTipSink
    val q = graft.streaming.PipelineStream.mergeStream(
      graft.streaming.PipelineStream.advisoryStream(spark, dir.toString),
      () => state, sink, ckpt.toString)
    q.awaitTermination()
    assert(sink.posts.size == 1 && sink.patches.size == 1)
    assert(sink.patches.head._1 == 7L)
    // second run with a NEW advisory file: checkpoint skips batch1
    java.nio.file.Files.writeString(dir.resolve("batch2.json"),
      """{"id": 3, "title": "Third", "tags": [], "timestamp_created": "2026-01-04T00:00:00", "timestamp_updated": "2026-01-05T00:00:00", "html": "<p>3</p>"}""")
    val sink2 = new TestSinks.RecordingTipSink
    val q2 = graft.streaming.PipelineStream.mergeStream(
      graft.streaming.PipelineStream.advisoryStream(spark, dir.toString),
      () => state, sink2, ckpt.toString)
    q2.awaitTermination()
    assert(sink2.posts.size == 1, s"checkpoint should skip batch1, got ${sink2.posts}")
    assert(sink2.posts.head.contains(""""name":"Third""""))
  }
}

/** Streaming exact dedup: bounded-state dropDuplicatesWithinWatermark
  * must emit exactly the batch-distinct fingerprint set when all data
  * fits one micro-batch (no late arrivals to miss). */
class StreamDedupSpec extends SparkSpec {
  test("streaming dedup matches batch dropDuplicates on the fingerprint") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toFile.deleteOnExit()
    val q = EventStreams.runToMemory(
      EventStreams.dedupStream(EventStreams.stream(spark, dir.toString)),
      "dedup_stream")
    try {
      val streamed = spark.table("dedup_stream")
      val batchDistinct = Tables.load(spark, sf, "events")
        .withColumn("fp", concat_ws(":", $"user_id", $"event_type", $"value"))
        .select($"fp").distinct().count()
      assert(streamed.count() == batchDistinct,
        "one surviving row per distinct fingerprint")
      // survivors' fingerprints are unique
      val fps = streamed
        .withColumn("fp", concat_ws(":", $"user_id", $"event_type", $"value"))
        .groupBy($"fp").count().filter($"count" > 1)
      assert(fps.isEmpty)
    } finally q.stop()
  }
}

/** transformWithState (the Spark 4 arbitrary-state API) with RocksDB:
  * per-user running totals must equal the batch aggregation. */
class TransformWithStateSpec extends SparkSpec {
  test("transformWithState running totals match batch groupBy") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    StreamTestIO.withRocksDB(spark) {
      val dir = java.nio.file.Files.createTempDirectory("graft-tws")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        dir.resolve("events.parquet"))
      dir.toFile.deleteOnExit()
      val typed = EventStreams.stream(spark, dir.toString)
        .select($"user_id", $"ts", $"value").as[EventStreams.UserEvent]
      // no-TTL variant (TimeMode.None): the processing-time TTL
      // variant never self-terminates under AvailableNow (see the
      // operator's doc), so the test drives the clean-terminating form
      val q = EventStreams.runToMemory(
        EventStreams.runningTotals(typed).toDF(), "tws_totals", mode = "update")
      try {
        // single micro-batch => exactly one update row per user
        val got = spark.table("tws_totals")
          .select($"user_id", $"n", $"total").collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
        val want = Tables.load(spark, sf, "events")
          .groupBy($"user_id").agg(count(lit(1)).as("n"), sum($"value").as("total"))
          .collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
        assert(got.keySet == want.keySet)
        got.foreach { case (uid, (n, total)) =>
          assert(n == want(uid)._1, s"user $uid count")
          assert(math.abs(total - want(uid)._2) <= 1e-6 * math.abs(want(uid)._2),
            s"user $uid total $total vs ${want(uid)._2}")
        }
      } finally q.stop()
    }
  }
}

/** Stream-static dimension join: every micro-batch row is enriched
  * from the static side exactly as the batch join would. */
class StreamStaticJoinSpec extends SparkSpec {
  test("streaming heavy hitters match batch x04 (sketch is exact here)") {
    val s = spark
    import s.implicits._
    // k=32 ≥ the 15 users at this SF: the sketch is exact under any
    // micro-batch split, so stream must equal batch x04's top rows
    val dir = java.nio.file.Files.createTempDirectory("graft-hh")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventStreams.runToMemory(
      EventStreams.heavyHittersStream(EventStreams.stream(spark, dir.toString)),
      "hh_stream", mode = "complete")
    try {
      val streamed = spark.table("hh_stream")
        .filter($"rank" <= 5)
        .select($"rank", $"user_id", $"est_count", $"max_err")
        .collect().map(_.toSeq).toSet
      val batch = operators.Relational6.x04(spark, sf)
        .select($"rank", $"user_id", $"est_count", $"max_err")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"stream/batch heavy hitters diverge: ${streamed.diff(batch).take(3)}")
    } finally q.stop()
  }

  test("streaming KMV distinct equals batch x05 exactly (deterministic sketch)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-kmv")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventStreams.runToMemory(
      EventStreams.kmvDistinctStream(EventStreams.stream(spark, dir.toString)),
      "kmv_stream", mode = "complete")
    try {
      val streamed = spark.table("kmv_stream")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = operators.Relational8.x05(spark, sf)
        .select($"event_type", $"n_h", $"est_distinct")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch,
        s"stream/batch KMV diverge: ${streamed.diff(batch)} | ${batch.diff(streamed)}")
    } finally q.stop()
  }

  test("streaming bottom-k quantiles equal batch x08 estimates exactly (x08 parity)") {
    val s = spark
    import s.implicits._
    // two micro-batches split by user parity: the bottom-k buffer per
    // event type merges contributions from BOTH batches; the sketch is
    // a deterministic function of the input SET, so replay equality is
    // exact, not approximate.
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-x08")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    StreamTestIO.writeChunk(raw.filter($"user_id" % 2 === 0),
      dir.resolve("even.parquet"), base)
    StreamTestIO.writeChunk(raw.filter($"user_id" % 2 === 1),
      dir.resolve("odd.parquet"), base + 1000)
    val q = EventStreams.runToMemory(
      EventStreams.bottomKQuantilesStream(
        EventStreams.stream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1"))),
      "x08_stream", mode = "complete")
    try {
      val streamed = spark.table("x08_stream")
        .collect().map(_.toSeq).toSet
      val batch = operators.Relational13.x08(spark, sf)
        .select($"event_type", $"n_sample", $"p50_est", $"p90_est", $"p99_est")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"stream/batch x08 diverge: ${streamed.diff(batch)} | ${batch.diff(streamed)}")
    } finally q.stop()
  }

  test("streaming source cap keeps exactly batch t42's doc set after replay") {
    val s = spark
    import s.implicits._
    // two micro-batches split by doc parity: each source's bottom-k
    // buffer merges candidates from BOTH batches; deterministic
    // function of the doc set => exact replay equality with batch t42.
    val raw = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-cap")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    StreamTestIO.writeChunk(raw.filter($"doc_id" % 2 === 0),
      dir.resolve("even.parquet"), base)
    StreamTestIO.writeChunk(raw.filter($"doc_id" % 2 === 1),
      dir.resolve("odd.parquet"), base + 1000)
    val q = EventStreams.runToMemory(
      CapStream.sourceCapStream(
        DedupStream.documentStream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1")),
        graft.operators.Relational14.CAP_PER_SOURCE),
      "cap_stream", mode = "complete")
    try {
      val streamed = spark.table("cap_stream")
        .select($"source", $"n_total", posexplode($"kept").as(Seq("pos", "r")))
        .select($"source", $"n_total",
          ($"pos" + 1).cast("long").as("keep_rank"),
          $"r.v".cast("long").as("doc_id"), $"r.h".as("h"))
        .collect().map(_.toSeq).toSet
      val batch = operators.Relational14.t42(spark, sf)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"stream/batch t42 diverge: sizes ${streamed.size}/${batch.size}")
    } finally q.stop()
  }

  test("streaming Count-Min counters equal the batch table exactly after replay (x06 parity)") {
    val s = spark
    import s.implicits._
    // two micro-batches split by user parity: every counter cell
    // receives increments from BOTH batches, exercising the streaming
    // state merge, and sums are arrival-order-free so equality is exact.
    // chunks are staged from the raw parquet; EventStreams.stream's
    // footer probe adapts to whatever ts type they carry
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-cms")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    StreamTestIO.writeChunk(raw.filter($"user_id" % 2 === 0),
      dir.resolve("even.parquet"), base)
    StreamTestIO.writeChunk(raw.filter($"user_id" % 2 === 1),
      dir.resolve("odd.parquet"), base + 1000)
    val events = Tables.load(spark, sf, "events")
    val q = EventStreams.runToMemory(
      EventStreams.countMinStream(EventStreams.stream(spark, dir.toString,
        Map("maxFilesPerTrigger" -> "1"))),
      "cms_stream", mode = "complete")
    try {
      val streamed = spark.table("cms_stream").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = operators.Relational10
        .cmsCounters(events.select($"user_id")).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"stream/batch CMS counters diverge: sizes ${streamed.size}/${batch.size}")
      // and the counter table is the bounded-state claim: <= D*W rows
      assert(streamed.size <= 3 * 256, s"counter table overflow: ${streamed.size}")
    } finally q.stop()
  }

  test("stream-static broadcast join matches the batch join") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-ssj")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toFile.deleteOnExit()
    val dim = Seq(("purchase", "high"), ("error", "high"), ("click", "low"))
      .toDF("event_type", "severity")
    val q = EventStreams.runToMemory(
      EventStreams.enrichStream(EventStreams.stream(spark, dir.toString), dim),
      "ssj")
    try {
      val streamed = spark.table("ssj").collect().map(_.toSeq).toSet
      val batch = Tables.load(spark, sf, "events")
        .join(dim, Seq("event_type"), "left")
        .select($"event_id", $"event_type",
          coalesce($"severity", lit("unknown")).as("severity"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }
}
