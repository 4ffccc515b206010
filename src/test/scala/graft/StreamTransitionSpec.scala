package graft

import org.apache.spark.sql.functions._
import graft.streaming.{EventStreams, TransitionStream}

/** Streaming Markov transitions (e12's live face): replay the events
  * corpus split into TIME-ordered chunks (so each user's events
  * arrive in (ts) order across micro-batches — the per-key FIFO
  * contract the face documents), aggregate the emitted transition
  * log, and assert the matrix equals batch e12 bit-for-bit on the
  * default and RocksDB state stores. Counts and ppm probabilities
  * are exact integers, so the equality is bit-level. */
class StreamTransitionSpec extends SparkSpec {

  /** (from, to, n, p_ppm) matrix from the emitted transition log —
    * the batch e12 arithmetic applied to the streamed rows. */
  private def matrixOf(table: String): Set[(String, String, Long, Long)] = {
    val counts = spark.table(table).collect()
      .groupBy(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")))
      .view.mapValues(_.length.toLong).toMap
    val tots = counts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    counts.map { case ((f, t), n) =>
      (f, t, n, n * 1000000L / tots(f))
    }.toSet
  }

  private def batchMatrix(): Set[(String, String, Long, Long)] =
    operators.Relational14.e12(spark, sf).collect().map(r =>
      (r.getAs[String]("from_type"), r.getAs[String]("to_type"),
        r.getAs[Long]("n"), r.getAs[Long]("p_ppm"))).toSet

  /** Three chunks split at event-time boundaries: ties on a split ts
    * land wholly in the later chunk, so per-user (ts, event_id) order
    * is preserved across micro-batches. */
  private def stagedDir(): String = {
    val s = spark
    import s.implicits._
    val raw = Tables.load(spark, sf, "events")
      .withColumn("tsm", expr("unix_micros(ts)"))
    val Array(t1, t2) = raw.stat.approxQuantile("tsm", Array(0.33, 0.66), 0.0)
    val dir = java.nio.file.Files.createTempDirectory("graft-trans")
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

  test("streamed transition matrix equals batch e12 exactly (fmgws)") {
    val dir = stagedDir()
    val q = EventStreams.runToMemory(
      TransitionStream.transitions(EventStreams.stream(spark, dir,
        Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "trans_stream")
    try {
      val streamed = matrixOf("trans_stream")
      val batch = batchMatrix()
      assert(streamed == batch,
        s"stream/batch transition matrices diverge: ${streamed.size} vs ${batch.size}")
    } finally q.stop()
  }

  test("streamed transition matrix equals batch e12 exactly (fmgws, RocksDB)") {
    val dir = stagedDir()
    StreamTestIO.withRocksDB(spark) {
      val q = EventStreams.runToMemory(
        TransitionStream.transitions(EventStreams.stream(spark, dir,
          Map("maxFilesPerTrigger" -> "1"))).toDF(),
        "trans_stream_rocksdb")
      try {
        assert(matrixOf("trans_stream_rocksdb") == batchMatrix(),
          "stream/batch transition matrices diverge on RocksDB")
      } finally q.stop()
    }
  }

  test("transition volume: each user emits exactly (events − 1) transitions") {
    val dir = stagedDir()
    val q = EventStreams.runToMemory(
      TransitionStream.transitions(EventStreams.stream(spark, dir,
        Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "trans_volume")
    try {
      val s = spark
      import s.implicits._
      val perUserStream = spark.table("trans_volume")
        .groupBy($"user_id").agg(count(lit(1)).as("n_trans"))
      val perUserBatch = Tables.load(spark, sf, "events")
        .groupBy($"user_id").agg((count(lit(1)) - 1).as("n_trans"))
      assert(perUserStream.except(perUserBatch).isEmpty &&
        perUserBatch.except(perUserStream).isEmpty)
    } finally q.stop()
  }
}
