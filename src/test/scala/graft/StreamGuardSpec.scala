package graft

import org.apache.spark.sql.functions._
import graft.streaming.{EventStreams, GuardStream}

/** Streaming guarded conversions (e13's live face): replay the events
  * corpus in time-ordered chunks (per-user (ts) order across
  * micro-batches — the per-key FIFO contract the face documents) and
  * assert the emitted conversion set equals batch e13 bit-for-bit on
  * the default and RocksDB state stores. All columns are exact
  * integers, so the equality is bit-level. */
class StreamGuardSpec extends SparkSpec {

  private def stagedDir(): String = {
    val s = spark
    import s.implicits._
    val raw = Tables.load(spark, sf, "events")
      .withColumn("tsm", expr("unix_micros(ts)"))
    val Array(t1, t2) = raw.stat.approxQuantile("tsm", Array(0.33, 0.66), 0.0)
    val dir = java.nio.file.Files.createTempDirectory("graft-guard")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    StreamTestIO.writeChunk(raw.filter($"tsm" < t1).drop("tsm"),
      dir.resolve("c1.parquet"), base)
    StreamTestIO.writeChunk(raw.filter($"tsm" >= t1 && $"tsm" < t2).drop("tsm"),
      dir.resolve("c2.parquet"), base + 1000)
    StreamTestIO.writeChunk(raw.filter($"tsm" >= t2).drop("tsm"),
      dir.resolve("c3.parquet"), base + 2000)
    dir.toString
  }

  private def batchRows(): Set[(Long, Long, Long)] =
    operators.Relational15.e13(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def streamedRows(table: String): Set[(Long, Long, Long)] =
    spark.table(table).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("purchase_id"),
        r.getAs[Long]("gap_us"))).toSet

  test("streamed conversions equal batch e13 exactly (fmgws)") {
    val dir = stagedDir()
    val q = EventStreams.runToMemory(
      GuardStream.conversions(EventStreams.stream(spark, dir,
        Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "guard_stream")
    try {
      val got = streamedRows("guard_stream")
      assert(got.nonEmpty, "stream must emit conversions at sf0.001")
      assert(got == batchRows())
    } finally q.stop()
  }

  test("streamed conversions equal batch e13 exactly (fmgws, RocksDB)") {
    val dir = stagedDir()
    StreamTestIO.withRocksDB(spark) {
      val q = EventStreams.runToMemory(
        GuardStream.conversions(EventStreams.stream(spark, dir,
          Map("maxFilesPerTrigger" -> "1"))).toDF(),
        "guard_stream_rocksdb")
      try {
        assert(streamedRows("guard_stream_rocksdb") == batchRows())
      } finally q.stop()
    }
  }
}
