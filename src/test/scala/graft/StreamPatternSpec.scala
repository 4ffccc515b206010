package graft

import org.apache.spark.sql.functions._
import graft.streaming.{EventStreams, PatternStream}

/** Streaming pattern matching (e15's live face): replay the events
  * corpus in time-ordered chunks and assert the FINAL per-group rule
  * counts (the max-`len` row per (user, day, pattern) — sequence
  * length grows monotonically, so it identifies the last update)
  * aggregate to exactly the batch e15 report, on the default and
  * RocksDB state stores.
  * All outputs are exact integers, so equality is bit-level. */
class StreamPatternSpec extends SparkSpec {

  private def stagedDir(): String = {
    val s = spark
    import s.implicits._
    val raw = Tables.load(spark, sf, "events")
      .withColumn("tsm", expr("unix_micros(ts)"))
    val Array(t1, t2) = raw.stat.approxQuantile("tsm", Array(0.33, 0.66), 0.0)
    val dir = java.nio.file.Files.createTempDirectory("graft-pattern")
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

  private def batchReport(): Set[(String, Long, Long)] =
    operators.Relational19.e15(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  /** Final counts from the update-mode memory table: the max-len row
    * per (user, day, pattern), rolled up to the batch report shape. */
  private def streamedReport(table: String): Set[(String, Long, Long)] = {
    val last = spark.table(table).collect()
      .map(r => ((r.getAs[Long]("user_id"), r.getAs[String]("day"),
        r.getAs[String]("pattern")),
        (r.getAs[Int]("len"), r.getAs[Long]("cnt"))))
      .groupBy(_._1).toSeq
      .map { case (k, vs) => (k._3, vs.map(_._2).maxBy(_._1)._2) }
    last.groupBy(_._1).toSeq.map { case (p, cs) =>
      (p, cs.count(_._2 > 0).toLong, cs.map(_._2).sum)
    }.toSet
  }

  test("streamed pattern counts equal batch e15 exactly (fmgws)") {
    val dir = stagedDir()
    val q = EventStreams.runToMemory(
      PatternStream.patternCounts(EventStreams.stream(spark, dir,
        Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "pattern_stream", mode = "update")
    try {
      val got = streamedReport("pattern_stream")
      assert(got.exists(_._3 > 0), "stream must count matches at sf0.001")
      assert(got == batchReport())
    } finally q.stop()
  }

  test("streamed pattern counts equal batch e15 exactly (fmgws, RocksDB)") {
    val dir = stagedDir()
    StreamTestIO.withRocksDB(spark) {
      val q = EventStreams.runToMemory(
        PatternStream.patternCounts(EventStreams.stream(spark, dir,
          Map("maxFilesPerTrigger" -> "1"))).toDF(),
        "pattern_stream_rocksdb", mode = "update")
      try {
        assert(streamedReport("pattern_stream_rocksdb") == batchReport())
      } finally q.stop()
    }
  }
}
