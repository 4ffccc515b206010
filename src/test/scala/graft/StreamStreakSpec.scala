package graft

import org.apache.spark.sql.functions._
import graft.streaming.{EventStreams, StreakStream}

/** Streaming streak maintenance vs its batch contract: after replay,
  * each user's last emitted (n_active_days, longest_streak) equals
  * batch e09 exactly — on the default and RocksDB state stores — and
  * a chunk that only
  * re-delivers already-seen events emits nothing. */
class StreamStreakSpec extends SparkSpec {

  private def lastPerUser(table: String): Map[Long, (Long, Long)] =
    spark.table(table).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1)
      // n_active_days grows monotonically per user, so the max IS the
      // final emission regardless of memory-sink row order
      .map { case (u, rows) => u -> rows.map(_._2).maxBy(_._1) }

  test("streaming streaks equal batch e09 after replay (default and RocksDB stores)") {
    val s = spark
    import s.implicits._
    // normalized loader frame + numeric micros split key (ts is
    // TIMESTAMP now; quantiles need a number)
    val raw = Tables.load(spark, sf, "events")
      .withColumn("tsm", expr("unix_micros(ts)"))
    val Array(t1, t2) = raw.stat.approxQuantile("tsm", Array(0.33, 0.66), 0.0)
    val dir = java.nio.file.Files.createTempDirectory("graft-streak")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    StreamTestIO.writeChunk(raw.filter($"tsm" < t1).drop("tsm"),
      dir.resolve("c1.parquet"), base)
    // c2 re-delivers part of c1 alongside its own window
    StreamTestIO.writeChunk(
      raw.filter($"tsm" >= t1 && $"tsm" < t2)
        .union(raw.filter($"tsm" < t1).limit(500)).drop("tsm"),
      dir.resolve("c2.parquet"), base + 1000)
    StreamTestIO.writeChunk(raw.filter($"tsm" >= t2).drop("tsm"),
      dir.resolve("c3.parquet"), base + 2000)

    val batch = operators.Relational11.e09(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap

    val q = EventStreams.runToMemory(
      StreakStream.streaks(
        EventStreams.stream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "streak_stream", mode = "update")
    try {
      val got = lastPerUser("streak_stream")
      assert(got == batch,
        s"stream vs batch streaks: ${got.size}/${batch.size} users, " +
          s"first diff=${(got.toSet diff batch.toSet).take(3)}")
    } finally q.stop()

    StreamTestIO.withRocksDB(spark) {
      val q2 = EventStreams.runToMemory(
        StreakStream.streaks(
          EventStreams.stream(spark, dir.toString,
            Map("maxFilesPerTrigger" -> "1"))).toDF(),
        "streak_stream_rocksdb", mode = "update")
      try {
        assert(lastPerUser("streak_stream_rocksdb") == batch,
          "RocksDB streaks diverged from batch e09")
      } finally q2.stop()
    }
  }

  test("a re-delivery-only micro-batch emits nothing") {
    val s = spark
    import s.implicits._
    val raw = Tables.load(spark, sf, "events")
      .withColumn("tsm", expr("unix_micros(ts)"))
    val Array(t1) = raw.stat.approxQuantile("tsm", Array(0.25), 0.0)
    val slice = raw.filter($"tsm" < t1).drop("tsm")
    val users = slice.select($"user_id").distinct().count()
    val dir = java.nio.file.Files.createTempDirectory("graft-streak-noop")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    StreamTestIO.writeChunk(slice, dir.resolve("c1.parquet"), base)
    StreamTestIO.writeChunk(slice, dir.resolve("c2.parquet"), base + 1000)
    val q = EventStreams.runToMemory(
      StreakStream.streaks(
        EventStreams.stream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "streak_noop", mode = "update")
    try {
      // exactly one emission per user: the duplicate chunk adds no new
      // day, so it must not re-emit
      assert(spark.table("streak_noop").count() == users,
        "duplicate-only micro-batch must be an emission no-op")
    } finally q.stop()
  }
}
