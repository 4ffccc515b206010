package graft

import graft.streaming.{EventStreams, GraphStream}
import graft.operators.Similarity

/** Streaming knn-graph tier vs batch s11/s12: the embeddings table
  * streams in three interleaved chunks (vec_id mod 3 — most candidate
  * pairs straddle micro-batches, exercising the cross-batch state
  * path), the accumulated distinct candidate edges must equal batch
  * candidate generation exactly, and the trigger-side refresh over
  * them must reproduce s11 and s12 row for row — on the default and
  * RocksDB state stores. */
class StreamGraphSpec extends SparkSpec {
  test("streaming candidate edges + trigger refresh equal batch s11/s12") {
    val s = spark
    import s.implicits._
    val embs = Tables.load(spark, sf, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft-graphstream")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    (0 until 3).foreach { i =>
      StreamTestIO.writeChunk(embs.filter($"vec_id" % 3 === i),
        dir.resolve(s"c$i.parquet"), base + i * 1000)
    }
    val batchSet = Similarity.s03Candidates(spark, sf)
      .select($"a_id", $"b_id").collect().map(_.toSeq).toSet

    val q = EventStreams.runToMemory(
      GraphStream.candidateEdges(
        GraphStream.embeddingStream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "graph_stream", mode = "append")
    try {
      val streamed = spark.table("graph_stream")
        .dropDuplicates("a_id", "b_id")
      val streamedSet = streamed.collect().map(_.toSeq).toSet
      assert(streamedSet == batchSet,
        s"stream vs batch candidates: " +
          s"only-stream=${streamedSet.diff(batchSet).take(3)} " +
          s"only-batch=${batchSet.diff(streamedSet).take(3)} " +
          s"sizes ${streamedSet.size}/${batchSet.size}")
      assert(streamedSet.nonEmpty)

      // trigger-side refresh from the live edge set == batch, exactly
      val knn = GraphStream.knnRefresh(embs, streamed)
        .collect().map(_.toSeq).toSeq
      val s11b = Similarity.s11(spark, sf).collect().map(_.toSeq).toSeq
      assert(knn == s11b, s"knn refresh diverged from s11: " +
        s"sizes ${knn.size}/${s11b.size}, " +
        s"first diff ${knn.zip(s11b).find(p => p._1 != p._2)}")
      val ranks = GraphStream.rankRefresh(embs, streamed)
        .collect().map(_.toSeq).toSeq
      val s12b = Similarity.s12(spark, sf).collect().map(_.toSeq).toSeq
      assert(ranks == s12b, s"rank refresh diverged from s12: " +
        s"sizes ${ranks.size}/${s12b.size}, " +
        s"first diff ${ranks.zip(s12b).find(p => p._1 != p._2)}")
      val comms = GraphStream.communityRefresh(embs, streamed)
        .collect().map(_.toSeq).toSeq
      val s16b = Similarity.s16(spark, sf).collect().map(_.toSeq).toSeq
      assert(comms == s16b, s"community refresh diverged from s16: " +
        s"sizes ${comms.size}/${s16b.size}, " +
        s"first diff ${comms.zip(s16b).find(p => p._1 != p._2)}")
    } finally q.stop()

    // the same face with bucket residents on RocksDB emits the same
    // distinct candidate set
    StreamTestIO.withRocksDB(spark) {
      val q2 = EventStreams.runToMemory(
        GraphStream.candidateEdges(
          GraphStream.embeddingStream(spark, dir.toString,
            Map("maxFilesPerTrigger" -> "1"))).toDF(),
        "graph_stream_rocksdb", mode = "append")
      try {
        val rocks = spark.table("graph_stream_rocksdb")
          .dropDuplicates("a_id", "b_id").collect().map(_.toSeq).toSet
        assert(rocks == batchSet,
          s"RocksDB candidates diverged: sizes ${rocks.size}/${batchSet.size}")
      } finally q2.stop()
    }
  }

  test("re-delivered vectors are a state and emission no-op") {
    val s = spark
    import s.implicits._
    val embs = Tables.load(spark, sf, "embeddings")
    def run(suffix: String, replay: Boolean): Long = {
      val dir = java.nio.file.Files.createTempDirectory("graft-graphredeliver")
      dir.toFile.deleteOnExit()
      val base = System.currentTimeMillis() - 60000
      val even = embs.filter($"vec_id" % 2 === 0)
      val odd = embs.filter($"vec_id" % 2 === 1)
      StreamTestIO.writeChunk(even, dir.resolve("c0.parquet"), base)
      if (replay)
        StreamTestIO.writeChunk(even, dir.resolve("c0b.parquet"), base + 500)
      StreamTestIO.writeChunk(odd, dir.resolve("c1.parquet"), base + 1000)
      val q = EventStreams.runToMemory(
        GraphStream.candidateEdges(
          GraphStream.embeddingStream(spark, dir.toString,
            Map("maxFilesPerTrigger" -> "1"))).toDF(),
        s"graph_redeliver_$suffix", mode = "append")
      try spark.table(s"graph_redeliver_$suffix").count() finally q.stop()
    }
    val once = run("once", replay = false)
    val replayed = run("twice", replay = true)
    assert(replayed == once,
      s"re-delivery changed emission count: $once -> $replayed")
  }
}
