package graft

import graft.streaming.{DedupStream, EventStreams}
import org.apache.spark.sql.DataFrame

/** Shared file-stream staging: write a DataFrame as ONE parquet file
  * with a chosen modification time (the file source schedules batches
  * by mtime, so tests control micro-batch order deterministically). */
object StreamTestIO {
  def writeChunk(df: DataFrame, dest: java.nio.file.Path, mtime: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-chunk")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && p.contains("part-")).head
    java.nio.file.Files.move(java.nio.file.Paths.get(part), dest)
    dest.toFile.setLastModified(mtime)
  }

  /** Run `body` with the RocksDB state-store provider — the at-scale
    * store — restoring the prior provider after. */
  def withRocksDB[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }
}

/** Streaming MinHash near-dup vs batch d03: stream the documents table
  * in two halves split by doc_id parity — planted near-dup pairs get
  * consecutive ids, so most true pairs STRADDLE the micro-batches and
  * the cross-batch state path is what's exercised. The distinct
  * emitted pair set must equal batch d03 exactly (the operator's
  * at-least-once contract allows duplicate emissions; distinctness is
  * the consumer's idempotent-apply side). */
class StreamDedupNearDupSpec extends SparkSpec {
  test("streaming near-dup pairs equal batch d03 across micro-batches") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    StreamTestIO.writeChunk(docs.filter($"doc_id" % 2 === 0),
      dir.resolve("even.parquet"), base)
    StreamTestIO.writeChunk(docs.filter($"doc_id" % 2 === 1),
      dir.resolve("odd.parquet"), base + 1000)
    val q = EventStreams.runToMemory(
      DedupStream.nearDupPairs(
        DedupStream.documentStream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "neardup_stream", mode = "append")
    try {
      val streamed = spark.table("neardup_stream")
        .dropDuplicates("a_id", "b_id")
        .collect().map(_.toSeq).toSet
      val batch = graft.operators.Dedup.d03(spark, sf)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"stream vs batch: only-stream=${streamed.diff(batch).take(3)} " +
          s"only-batch=${batch.diff(streamed).take(3)} " +
          s"sizes ${streamed.size}/${batch.size}")
      assert(streamed.nonEmpty)

      // the same face with bucket members on the RocksDB store emits
      // the same distinct pair set
      StreamTestIO.withRocksDB(spark) {
        val q2 = EventStreams.runToMemory(
          DedupStream.nearDupPairs(
            DedupStream.documentStream(spark, dir.toString,
              Map("maxFilesPerTrigger" -> "1"))).toDF(),
          "neardup_stream_rocksdb", mode = "append")
        try {
          val rocks = spark.table("neardup_stream_rocksdb")
            .dropDuplicates("a_id", "b_id")
            .collect().map(_.toSeq).toSet
          assert(rocks == batch,
            s"RocksDB near-dup diverged: sizes ${rocks.size}/${batch.size}")
        } finally q2.stop()
      }
    } finally q.stop()
  }

  test("re-delivered documents are a state and emission no-op") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(spark, sf, "documents")
    // reference run: each half delivered once
    def run(chunks: Seq[(DataFrame, Long)], table: String): Long = {
      val dir = java.nio.file.Files.createTempDirectory("graft-redeliver")
      dir.toFile.deleteOnExit()
      chunks.zipWithIndex.foreach { case ((df, mtime), i) =>
        StreamTestIO.writeChunk(df, dir.resolve(s"c$i.parquet"), mtime)
      }
      val q = EventStreams.runToMemory(
        DedupStream.nearDupPairs(
          DedupStream.documentStream(spark, dir.toString,
            Map("maxFilesPerTrigger" -> "1"))).toDF(),
        table, mode = "append")
      try spark.table(table).count() finally q.stop()
    }
    val base = System.currentTimeMillis() - 60000
    val even = docs.filter($"doc_id" % 2 === 0)
    val odd = docs.filter($"doc_id" % 2 === 1)
    val once = run(Seq(even -> base, odd -> (base + 1000)), "redeliver_once")
    // replayed run: the even half arrives AGAIN between the two — a
    // source replay. Stored-copy doubling would re-emit every matching
    // pair in the replayed buckets; the guard makes it emit nothing.
    val replayed = run(Seq(even -> base, even -> (base + 500),
      odd -> (base + 1000)), "redeliver_twice")
    assert(replayed == once,
      s"re-delivery changed emission count: $once -> $replayed")
  }
}

/** Streaming cross-corpus near-dup (the d11 admission gate live):
  * odd docs arrive as a stream in two micro-batches and are checked
  * against the frozen even-doc reference index; the emitted pair set
  * must equal batch d11 exactly. */
class StreamCrossCorpusSpec extends SparkSpec {
  test("streamed cross-corpus pairs equal batch d11") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-crosscorpus")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    val odd = docs.filter($"doc_id" % 2 === 1)
    StreamTestIO.writeChunk(odd.filter($"doc_id" < 250),
      dir.resolve("c0.parquet"), base)
    StreamTestIO.writeChunk(odd.filter($"doc_id" >= 250),
      dir.resolve("c1.parquet"), base + 1000)
    val refIdx = graft.streaming.CrossCorpusStream.referenceIndex(
      docs.filter($"doc_id" % 2 === 0))
    val q = EventStreams.runToMemory(
      graft.streaming.CrossCorpusStream.againstReference(
        DedupStream.documentStream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1")),
        refIdx).toDF(),
      "crosscorpus_stream", mode = "append")
    try {
      val streamed = spark.table("crosscorpus_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.operators.Relational7.d11(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch,
        s"stream vs batch d11: only-stream=${streamed.diff(batch).take(3)} " +
          s"only-batch=${batch.diff(streamed).take(3)} sizes ${streamed.size}/${batch.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }
}

/** Streaming z-score anomaly flags vs batch e05: a synthetic event
  * series with known spikes is replayed in three event-time-ordered
  * micro-batches; every minute that CLOSES in the stream must flag
  * exactly as the batch SQL does (each series' final minute never
  * closes and is excluded from the batch side). Synthetic because the
  * sf0.001 events table has at most one event per (type, minute) —
  * baseline variance is identically zero there, so NO knobs can make
  * the real table produce a flag; the synthetic series exercises the
  * production knobs (30/10/2.5) for real. */
class StreamAnomalySpec extends SparkSpec {
  test("streamed anomaly flags equal batch e05 on closed minutes") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // per-(type, minute) counts: noisy base with two 10x spikes
    val rows = for {
      t <- Seq("alpha", "beta", "gamma")
      m <- 0 until 120
      cnt = if (m == 37 || m == 73) 40L
            else 4L + ((m + t.length) % 5)
      i <- 0L until cnt
    } yield (m * 1000L + i, (m * 60L + (i % 60)) * 1000000000L,
      i, t, 1.0, "{}")
    val raw = rows.toDF("event_id", "ts", "user_id", "event_type",
      "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft-anomaly")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    val minuteOf = expr("ts div 60000000000")
    StreamTestIO.writeChunk(raw.filter(minuteOf < 40),
      dir.resolve("c0.parquet"), base)
    StreamTestIO.writeChunk(raw.filter(minuteOf >= 40 && minuteOf < 80),
      dir.resolve("c1.parquet"), base + 1000)
    StreamTestIO.writeChunk(raw.filter(minuteOf >= 80),
      dir.resolve("c2.parquet"), base + 2000)
    val q = EventStreams.runToMemory(
      graft.streaming.AnomalyStream.flags(
        EventStreams.stream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "anomaly_stream", mode = "append")
    try {
      val streamed = spark.table("anomaly_stream")
        .collect().map(r => (r.getString(0), r.getTimestamp(1),
          r.getLong(2), r.getDouble(3))).toSet
      // batch e05 SQL over the SAME synthetic series (micros ts view)
      val batchEvents = raw
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      batchEvents.createOrReplaceTempView("events")
      val batchAll = spark.sql(
        graft.operators.Relational7.e05SqlWith(30, 10, 2.5))
      val lastMinute = batchEvents.groupBy($"event_type")
        .agg(max(date_trunc("minute", $"ts")).as("minute"))
      val batch = batchAll.join(lastMinute, Seq("event_type", "minute"),
          "left_anti")
        .collect().map(r => (r.getString(0), r.getTimestamp(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch,
        s"stream vs batch e05: only-stream=${streamed.diff(batch).take(3)} " +
          s"only-batch=${batch.diff(streamed).take(3)} " +
          s"sizes ${streamed.size}/${batch.size}")
      // both spikes flagged in every series
      assert(streamed.count { case (_, ts, _, _) =>
        Set(37L, 73L).contains(ts.getTime / 60000L) } == 6,
        s"expected the 2 spikes x 3 series flagged: $streamed")

      // the same face with series state on RocksDB flags the same
      // minutes
      StreamTestIO.withRocksDB(spark) {
        val q2 = EventStreams.runToMemory(
          graft.streaming.AnomalyStream.flags(
            EventStreams.stream(spark, dir.toString,
              Map("maxFilesPerTrigger" -> "1"))).toDF(),
          "anomaly_stream_rocksdb", mode = "append")
        try {
          val rocks = spark.table("anomaly_stream_rocksdb")
            .collect().map(r => (r.getString(0), r.getTimestamp(1),
              r.getLong(2), r.getDouble(3))).toSet
          assert(rocks == batch,
            s"RocksDB anomaly diverged: sizes ${rocks.size}/${batch.size}")
        } finally q2.stop()
      }
    } finally q.stop()
  }
}

/** Streaming curation (quality gate + exact dedup vs all docs seen)
  * against its batch contract: with ids replayed in ascending order,
  * the admitted set is exactly "quality-passing AND the minimum doc_id
  * of its fingerprint group among quality-passers". */
class StreamCurationSpec extends SparkSpec {
  test("streaming curation admits exactly the batch keeper set") {
    val s = spark
    import s.implicits._
    import graft.functions.TextOps.{hash64, normText}
    val docs = Tables.load(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-curate-stream")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    // three id-ordered chunks — duplicates land in different batches
    StreamTestIO.writeChunk(docs.filter($"doc_id" < 150),
      dir.resolve("c0.parquet"), base)
    StreamTestIO.writeChunk(docs.filter($"doc_id" >= 150 && $"doc_id" < 300),
      dir.resolve("c1.parquet"), base + 1000)
    StreamTestIO.writeChunk(docs.filter($"doc_id" >= 300),
      dir.resolve("c2.parquet"), base + 2000)
    val q = EventStreams.runToMemory(
      graft.streaming.CorpusStream.curateStream(
        DedupStream.documentStream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1"))),
      "curate_stream", mode = "append")
    try {
      val streamed = spark.table("curate_stream")
        .select($"doc_id").as[Long].collect().toSet
      val batch = docs
        .withColumn("quality", graft.operators.TextAnalysis.qualityExpr($"text"))
        .filter($"quality" >= 0.5)
        .withColumn("fp", hash64(normText($"text")))
        .groupBy($"fp").agg(org.apache.spark.sql.functions.min($"doc_id").as("doc_id"))
        .select($"doc_id").as[Long].collect().toSet
      assert(streamed == batch,
        s"admitted sets diverge: only-stream=${streamed.diff(batch).take(3)} " +
          s"only-batch=${batch.diff(streamed).take(3)}")
      assert(streamed.nonEmpty && streamed.size < docs.count())

      // the same face with the per-fingerprint flag on RocksDB admits
      // the same set
      StreamTestIO.withRocksDB(spark) {
        val q2 = EventStreams.runToMemory(
          graft.streaming.CorpusStream.curateStream(
            DedupStream.documentStream(spark, dir.toString,
              Map("maxFilesPerTrigger" -> "1"))),
          "curate_stream_rocksdb", mode = "append")
        try {
          val rocks = spark.table("curate_stream_rocksdb")
            .select($"doc_id").as[Long].collect().toSet
          assert(rocks == batch,
            s"RocksDB curation diverged: sizes ${rocks.size}/${batch.size}")
        } finally q2.stop()
      }
    } finally q.stop()
  }

  test("intra-batch winner is min doc_id regardless of partitioning") {
    val s = spark
    import s.implicits._
    import graft.functions.TextOps.{hash64, normText}
    val docs = Tables.load(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-curate-onebatch")
    dir.toFile.deleteOnExit()
    // the WHOLE corpus in one micro-batch, shuffled across many input
    // partitions: every duplicate group collides inside a single batch,
    // so the winner is decided by the per-group minBy, not by which
    // partition the state op happens to see first
    StreamTestIO.writeChunk(docs.orderBy(org.apache.spark.sql.functions
      .hash($"doc_id")), dir.resolve("all.parquet"),
      System.currentTimeMillis() - 60000)
    val q = EventStreams.runToMemory(
      graft.streaming.CorpusStream.curateStream(
        DedupStream.documentStream(spark, dir.toString)
          .repartition(16)),
      "curate_onebatch", mode = "append")
    try {
      val streamed = spark.table("curate_onebatch")
        .select($"doc_id").as[Long].collect().toSet
      val batch = docs
        .withColumn("quality", graft.operators.TextAnalysis.qualityExpr($"text"))
        .filter($"quality" >= 0.5)
        .withColumn("fp", hash64(normText($"text")))
        .groupBy($"fp").agg(org.apache.spark.sql.functions.min($"doc_id").as("doc_id"))
        .select($"doc_id").as[Long].collect().toSet
      assert(streamed == batch,
        s"one-batch admitted set diverges: only-stream=${streamed.diff(batch).take(3)} " +
          s"only-batch=${batch.diff(streamed).take(3)}")
    } finally q.stop()
  }
}
