package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame

/** Streaming as-of join vs batch a01 — the batch/stream parity claim:
  * split the events table into three time-ordered micro-batches (so
  * cross-batch buffering is actually exercised), push the watermark
  * past all real data with two far-future sentinel batches (the first
  * advances the watermark, the second fires the armed event-time
  * timeouts), and demand the streamed output EQUALS the batch a01
  * result row-for-row. */
class StreamAsOfSpec extends SparkSpec {

  private def writeChunk(df: DataFrame, dest: java.nio.file.Path,
      mtime: Long): Unit = StreamTestIO.writeChunk(df, dest, mtime)

  test("streaming as-of join equals batch a01 across micro-batches") {
    val s = spark
    import s.implicits._
    // normalized loader frame + numeric micros split key (ts is
    // TIMESTAMP now; quantiles need a number)
    val raw = Tables.load(spark, sf, "events")
      .withColumn("tsm", org.apache.spark.sql.functions.expr("unix_micros(ts)"))
    val Array(t1, t2) = raw.stat.approxQuantile("tsm", Array(0.33, 0.66), 0.0)
    val dir = java.nio.file.Files.createTempDirectory("graft-asof")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    writeChunk(raw.filter($"tsm" < t1).drop("tsm"),
      dir.resolve("c1.parquet"), base)
    writeChunk(raw.filter($"tsm" >= t1 && $"tsm" < t2).drop("tsm"),
      dir.resolve("c2.parquet"), base + 1000)
    writeChunk(raw.filter($"tsm" >= t2).drop("tsm"),
      dir.resolve("c3.parquet"), base + 2000)
    val maxTs = raw.agg(org.apache.spark.sql.functions.max($"tsm"))
      .head().getLong(0)
    // sentinel chunks must carry the same TIMESTAMP ts type as the
    // real chunks — a mixed-type directory breaks the footer probe
    def sentinel(id: Long, micros: Long) =
      Seq((id, micros, -1L, "view", 0.0, "{}"))
        .toDF("event_id", "tsu", "user_id", "event_type", "value", "props")
        .select($"event_id",
          org.apache.spark.sql.functions.timestamp_micros($"tsu").as("ts"),
          $"user_id", $"event_type", $"value", $"props")
    val day = 24L * 3600 * 1000000L
    writeChunk(sentinel(-1L, maxTs + day), dir.resolve("s1.parquet"), base + 3000)
    writeChunk(sentinel(-2L, maxTs + 2 * day), dir.resolve("s2.parquet"), base + 4000)

    val q = EventStreams.runToMemory(
      EventStreams.asOfStream(
        EventStreams.stream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1")),
        watermarkDelay = "1 hour").toDF(),
      "asof_stream", mode = "append")
    try {
      val streamed = spark.table("asof_stream")
        .collect().map(_.toSeq).toSet
      val batch = graft.operators.AsOfJoin.a01(spark, sf)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"stream vs batch: only-stream=${streamed.diff(batch).take(3)} " +
          s"only-batch=${batch.diff(streamed).take(3)} " +
          s"sizes ${streamed.size}/${batch.size}")
    } finally q.stop()

    // the same face over the same staged stream with state in RocksDB
    // (the at-scale store): output still equals batch a01
    StreamTestIO.withRocksDB(spark) {
      val qR = EventStreams.runToMemory(
        EventStreams.asOfStream(
          EventStreams.stream(spark, dir.toString,
            Map("maxFilesPerTrigger" -> "1"))).toDF(),
        "asof_rocksdb_stream", mode = "append")
      try {
        val streamed = spark.table("asof_rocksdb_stream")
          .collect().map(_.toSeq).toSet
        val batch = graft.operators.AsOfJoin.a01(spark, sf)
          .collect().map(_.toSeq).toSet
        assert(streamed == batch,
          s"RocksDB stream vs batch a01: sizes ${streamed.size}/${batch.size}")
      } finally qR.stop()
    }

    // tolerance variant over the same staged stream = batch a02
    val q2 = EventStreams.runToMemory(
      EventStreams.asOfToleranceStream(
        EventStreams.stream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1")),
        toleranceSeconds = 3600L).toDF(),
      "asof_tol_stream", mode = "append")
    try {
      val streamed = spark.table("asof_tol_stream")
        .collect().map(_.toSeq).toSet
      val batch = graft.operators.AsOfJoin.a02(spark, sf)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"tolerance stream vs batch a02: sizes ${streamed.size}/${batch.size}")
    } finally q2.stop()
  }
}
