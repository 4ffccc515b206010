package graft

import org.apache.spark.sql.functions._
import graft.streaming.{EventStreams, TrendingStream}
import org.scalatest.funsuite.AnyFunSuite

/** Streaming windowed trending (e11's live face): after full replay,
  * the final board per day window equals batch e11 exactly — counts
  * are exact integers and the cut shares the batch tie-break, so the
  * equality is bit-level, on the default and RocksDB state stores,
  * across a micro-batch
  * split that makes every window receive rows from BOTH batches. */
class StreamTrendingSpec extends SparkSpec {

  private def lastBoards(rows: Array[org.apache.spark.sql.Row])
      : Set[(Long, Long, Long, Long)] = {
    val byDay = rows.groupBy(_.getAs[java.sql.Timestamp]("day"))
    byDay.flatMap { case (day, rs) =>
      val maxUpd = rs.map(_.getAs[Long]("upd")).max
      rs.filter(_.getAs[Long]("upd") == maxUpd).toSeq.map(r =>
        (day.getTime, r.getAs[Long]("rank"), r.getAs[Long]("user_id"),
          r.getAs[Long]("n")))
    }.toSet
  }

  private def batchBoards(): Set[(Long, Long, Long, Long)] =
    operators.Relational13.e11(spark, sf).collect().map(r =>
      (r.getAs[java.sql.Timestamp]("day").getTime, r.getAs[Long]("rank"),
        r.getAs[Long]("user_id"), r.getAs[Long]("n"))).toSet

  private def stagedDir(): String = {
    val s = spark
    import s.implicits._
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-trend")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    StreamTestIO.writeChunk(raw.filter($"user_id" % 2 === 0),
      dir.resolve("even.parquet"), base)
    StreamTestIO.writeChunk(raw.filter($"user_id" % 2 === 1),
      dir.resolve("odd.parquet"), base + 1000)
    dir.toString
  }

  test("streaming trending final board equals batch e11 exactly (fmgws)") {
    val dir = stagedDir()
    val q = EventStreams.runToMemory(
      TrendingStream.trending(EventStreams.stream(spark, dir,
        Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "trend_stream")
    try {
      val streamed = lastBoards(spark.table("trend_stream").collect())
      assert(streamed == batchBoards(),
        s"stream/batch trending diverge: ${streamed.size} vs ${batchBoards().size}")
    } finally q.stop()
  }

  test("streaming trending final board equals batch e11 exactly (fmgws, RocksDB)") {
    val dir = stagedDir()
    StreamTestIO.withRocksDB(spark) {
      val q = EventStreams.runToMemory(
        TrendingStream.trending(EventStreams.stream(spark, dir,
          Map("maxFilesPerTrigger" -> "1"))).toDF(),
        "trend_stream_rocksdb")
      try {
        val streamed = lastBoards(spark.table("trend_stream_rocksdb").collect())
        assert(streamed == batchBoards(),
          "stream/batch trending diverge on RocksDB")
      } finally q.stop()
    }
  }

  test("doubled replay doubles the board counts (state accumulates across micro-batches)") {
    // replay the SAME chunk twice via two identical files: the board
    // then reflects doubled counts — this pins that state genuinely
    // accumulates across micro-batches (not per-batch recompute), and
    // that rank order stays total under the doubling (n doubles
    // preserve the (n desc, user) order of equal-parity ties)
    val s = spark
    import s.implicits._
    val raw = spark.read.parquet(s"$sf/events.parquet").limit(500)
    val dir = java.nio.file.Files.createTempDirectory("graft-trend2")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    StreamTestIO.writeChunk(raw, dir.resolve("a.parquet"), base)
    StreamTestIO.writeChunk(raw, dir.resolve("b.parquet"), base + 1000)
    val q = EventStreams.runToMemory(
      TrendingStream.trending(EventStreams.stream(spark, dir.toString,
        Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "trend_stream_dup")
    try {
      val boards = lastBoards(spark.table("trend_stream_dup").collect())
      // single-copy board from the same 500 rows
      val single = raw
        .select(date_trunc("day", $"ts").as("day"), $"user_id")
        .groupBy($"day", $"user_id").agg(count(lit(1)).as("n"))
        .collect().groupBy(_.getAs[java.sql.Timestamp]("day"))
        .flatMap { case (day, rs) =>
          rs.toSeq.sortBy(r => (-r.getAs[Long]("n"), r.getAs[Long]("user_id")))
            .take(3).zipWithIndex.map { case (r, i) =>
              (day.getTime, i + 1L, r.getAs[Long]("user_id"),
                r.getAs[Long]("n") * 2) } // doubled counts
        }.toSet
      assert(boards == single, "doubled-replay board mismatch")
    } finally q.stop()
  }
}
