package graft

import org.apache.spark.sql.functions._
import graft.streaming.{EventStreams, FunnelStream}

/** Streaming funnel vs its batch contract: with events replayed in
  * ascending ts order, the emitted per-user stage set is exactly the
  * batch e06 per-user computation, and re-delivered events are
  * emission no-ops. */
class StreamFunnelSpec extends SparkSpec {

  test("streaming funnel stage hits equal batch e06 per-user stages") {
    val s = spark
    import s.implicits._
    // stage from the normalized loader frame with a numeric micros
    // split key (ts itself is TIMESTAMP now; quantiles need a number)
    val raw = Tables.load(spark, sf, "events")
      .withColumn("tsm", expr("unix_micros(ts)"))
    val Array(t1, t2) = raw.stat.approxQuantile("tsm", Array(0.33, 0.66), 0.0)
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    StreamTestIO.writeChunk(raw.filter($"tsm" < t1).drop("tsm"),
      dir.resolve("c1.parquet"), base)
    // c2 re-delivers a slice of c1 alongside its own window: the
    // duplicates must not re-fire stages or shift latencies
    StreamTestIO.writeChunk(
      raw.filter($"tsm" >= t1 && $"tsm" < t2)
        .union(raw.filter($"tsm" < t1).limit(500)).drop("tsm"),
      dir.resolve("c2.parquet"), base + 1000)
    StreamTestIO.writeChunk(raw.filter($"tsm" >= t2).drop("tsm"),
      dir.resolve("c3.parquet"), base + 2000)
    val q = EventStreams.runToMemory(
      FunnelStream.stages(
        EventStreams.stream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "funnel_stream", mode = "append")
    try {
      val streamed = spark.table("funnel_stream")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      // batch per-user stages over the SAME events (micros view)
      val e = Tables.load(spark, sf, "events")
      val v = e.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("tv"))
      val c = e.filter($"event_type" === "click").join(v, "user_id")
        .filter($"ts" > $"tv")
        .groupBy($"user_id").agg(min($"ts").as("tc"), min($"tv").as("tv"))
      val p = e.filter($"event_type" === "purchase").join(c, "user_id")
        .filter($"ts" > $"tc")
        .groupBy($"user_id").agg(min($"ts").as("tp"), min($"tc").as("tc"))
      val batch =
        v.select($"user_id", lit("1_view").as("stage"), lit(0L).as("lag"))
          .union(c.select($"user_id", lit("2_click"),
            $"tc".cast("long") - $"tv".cast("long")))
          .union(p.select($"user_id", lit("3_purchase"),
            $"tp".cast("long") - $"tc".cast("long")))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .toSet
      assert(streamed == batch,
        s"stream vs batch funnel: only-stream=${streamed.diff(batch).take(3)} " +
          s"only-batch=${batch.diff(streamed).take(3)} " +
          s"sizes ${streamed.size}/${batch.size}")
      // and the aggregate face matches the registered e06 counts
      val e06 = operators.Relational8.e06(spark, sf).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      Seq("1_view", "2_click", "3_purchase").foreach { st =>
        assert(streamed.count(_._2 == st).toLong == e06(st),
          s"stage $st count mismatch vs batch e06")
      }

      // the same face on the RocksDB state store emits the exact
      // same stage set
      StreamTestIO.withRocksDB(spark) {
        val q2 = EventStreams.runToMemory(
          FunnelStream.stages(
            EventStreams.stream(spark, dir.toString,
              Map("maxFilesPerTrigger" -> "1"))).toDF(),
          "funnel_stream_rocksdb", mode = "append")
        try {
          val rocks = spark.table("funnel_stream_rocksdb")
            .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
            .toSet
          assert(rocks == batch,
            s"RocksDB funnel diverged: sizes ${rocks.size}/${batch.size}")
        } finally q2.stop()
      }
    } finally q.stop()
  }
}
