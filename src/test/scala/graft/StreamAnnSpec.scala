package graft

import graft.streaming.{AnnStream, EventStreams}
import graft.operators.Relational13

/** Streaming ANN serving vs batch s14: queries arrive one per
  * micro-batch WITH deliberate re-deliveries (each chunk repeats the
  * previous query — the source-replay case), the replay guard must
  * admit each q_id exactly once, and the trigger-side serve over the
  * frozen IVF-PQ index must reproduce batch s14 row for row — on
  * the default and RocksDB state stores. */
class StreamAnnSpec extends SparkSpec {

  test("streaming graph-walk serve equals batch s20m") {
    // the second serving backend (r14): same replay-guarded admission,
    // trigger-side refresh through the EXACT batch greedy-walk body —
    // every query delivered TWICE across the chunks, admitted once,
    // and the served answers equal batch s20m row for row.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{pmod, lit, col}
    val embs = Tables.load(spark, sf, "embeddings")
    val queries = embs.filter(pmod(col("vec_id"), lit(25)) === 0)
    val nq = queries.count()
    val dir = java.nio.file.Files.createTempDirectory("graft-gservestream")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    (0 to 2).foreach { i =>
      val chunk = queries.filter(pmod(col("vec_id"), lit(3)) === i)
        .unionAll(queries.filter(pmod(col("vec_id"), lit(3)) === (i + 2) % 3))
      StreamTestIO.writeChunk(chunk, dir.resolve(s"c$i.parquet"),
        base + i * 1000)
    }
    val batch = operators.Similarity.s20m(spark, sf)
      .collect().map(_.toSeq).toSeq
    val q = EventStreams.runToMemory(
      AnnStream.admittedOnce(
        AnnStream.queryStream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "gserve_stream", mode = "append")
    try {
      val admitted = spark.table("gserve_stream")
      val ids = admitted.select($"q_id").collect().map(_.getLong(0))
      assert(ids.length == nq && ids.distinct.length == ids.length,
        s"replay guard must admit each of the $nq queries once, " +
          s"got ${ids.length} (${ids.distinct.length} distinct)")
      val served = AnnStream.serveGraphRefresh(spark, sf, admitted)
        .collect().map(_.toSeq).toSeq
      assert(served == batch,
        s"streamed graph serve diverged from batch s20m: sizes " +
          s"${served.size}/${batch.size}, first diff " +
          s"${served.zip(batch).find(p => p._1 != p._2)}")
      // the beam backend over the same admitted set ≡ batch s20b
      val batchBeam = operators.Similarity.s20b(spark, sf)
        .collect().map(_.toSeq).toSeq
      val servedBeam = AnnStream.serveBeamRefresh(spark, sf, admitted)
        .collect().map(_.toSeq).toSeq
      assert(servedBeam == batchBeam,
        s"streamed beam serve diverged from batch s20b: sizes " +
          s"${servedBeam.size}/${batchBeam.size}")
      // the hierarchical backend ≡ batch s20h (materialized-asset
      // path vs the fresh-build registered query — same hierPool)
      val batchHier = operators.Similarity.s20h(spark, sf)
        .collect().map(_.toSeq).toSeq
      val servedHier = AnnStream.serveHierRefresh(spark, sf, admitted)
        .collect().map(_.toSeq).toSeq
      assert(servedHier == batchHier,
        s"streamed hier serve diverged from batch s20h: sizes " +
          s"${servedHier.size}/${batchHier.size}")
    } finally q.stop()
  }
  test("streaming index ingest equals batch s21m") {
    // the WRITE face: arrival vectors stream in (re-delivered across
    // chunks — the source-replay case), the guard admits each once,
    // and the trigger-side ingest through the exact batch insert body
    // yields the SAME updated edge table as registered s21m.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{pmod, lit, col}
    val embs = Tables.load(spark, sf, "embeddings")
    val arrivals = embs.filter(
      pmod(graft.functions.TextOps.hash64Seeded(22,
        col("vec_id").cast("string")), lit(8)) === 0)
    val nArr = arrivals.count()
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    (0 to 2).foreach { i =>
      val chunk = arrivals.filter(pmod(col("vec_id"), lit(3)) === i)
        .unionAll(arrivals.filter(pmod(col("vec_id"), lit(3)) === (i + 2) % 3))
      StreamTestIO.writeChunk(chunk, dir.resolve(s"c$i.parquet"),
        base + i * 1000)
    }
    val batch = operators.Similarity.s21m(spark, sf)
      .collect().map(_.toSeq).toSeq
    val q = EventStreams.runToMemory(
      AnnStream.admittedOnce(
        AnnStream.queryStream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "ingest_stream", mode = "append")
    try {
      val admitted = spark.table("ingest_stream")
      val ids = admitted.select($"q_id").collect().map(_.getLong(0))
      assert(ids.length == nArr && ids.distinct.length == ids.length,
        s"replay guard must admit each of the $nArr arrivals once, " +
          s"got ${ids.length} (${ids.distinct.length} distinct)")
      val ingested = AnnStream.ingestRefresh(spark, sf, admitted)
        .collect().map(_.toSeq).toSeq
      assert(ingested == batch,
        s"streamed ingest diverged from batch s21m: sizes " +
          s"${ingested.size}/${batch.size}, first diff " +
          s"${ingested.zip(batch).find(p => p._1 != p._2)}")
    } finally q.stop()
  }

  test("streaming tombstones equal batch s22m") {
    // the DELETE face: tombstone ids stream in (as the vectors being
    // removed, re-delivered across chunks), the guard admits each
    // once, and the trigger-side repair through the exact batch body
    // yields the SAME post-delete edge table as registered s22m.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{pmod, lit, col}
    val embs = Tables.load(spark, sf, "embeddings")
    val tombs = embs.filter(
      pmod(graft.functions.TextOps.hash64Seeded(23,
        col("vec_id").cast("string")), lit(16)) === 0)
    val nDel = tombs.count()
    val dir = java.nio.file.Files.createTempDirectory("graft-tombstones")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    (0 to 1).foreach { i =>
      val chunk = tombs.filter(pmod(col("vec_id"), lit(2)) === i)
        .unionAll(tombs.filter(pmod(col("vec_id"), lit(2)) === 1 - i))
      StreamTestIO.writeChunk(chunk, dir.resolve(s"c$i.parquet"),
        base + i * 1000)
    }
    val batch = operators.Similarity.s22m(spark, sf)
      .collect().map(_.toSeq).toSeq
    val q = EventStreams.runToMemory(
      AnnStream.admittedOnce(
        AnnStream.queryStream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "tomb_stream", mode = "append")
    try {
      val admitted = spark.table("tomb_stream")
      val ids = admitted.select($"q_id").collect().map(_.getLong(0))
      assert(ids.length == nDel && ids.distinct.length == ids.length,
        s"replay guard must admit each of the $nDel tombstones once, " +
          s"got ${ids.length} (${ids.distinct.length} distinct)")
      val repaired = AnnStream.tombstoneRefresh(spark, sf, admitted)
        .collect().map(_.toSeq).toSeq
      assert(repaired == batch,
        s"streamed tombstone apply diverged from batch s22m: sizes " +
          s"${repaired.size}/${batch.size}")
    } finally q.stop()
  }

  test("streaming re-embedding migration equals batch s23") {
    // the UPDATE face: the registered shard's ids arrive carrying
    // their NEW vectors (the s23 stand-in transform), re-delivered
    // across chunks; the admitted batch through reembedRefresh must
    // reproduce registered s23 row for row.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{pmod, lit, col, reverse}
    val embs = Tables.load(spark, sf, "embeddings")
    val shard = embs.filter(
        pmod(graft.functions.TextOps.hash64Seeded(24,
          col("vec_id").cast("string")), lit(16)) === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
        col("label"))
    val nUpd = shard.count()
    val dir = java.nio.file.Files.createTempDirectory("graft-reembed")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    (0 to 1).foreach { i =>
      val chunk = shard.filter(pmod(col("vec_id"), lit(2)) === i)
        .unionAll(shard.filter(pmod(col("vec_id"), lit(2)) === 1 - i))
      StreamTestIO.writeChunk(chunk, dir.resolve(s"c$i.parquet"),
        base + i * 1000)
    }
    val batch = operators.Similarity.s23(spark, sf)
      .collect().map(_.toSeq).toSeq
    val q = EventStreams.runToMemory(
      AnnStream.admittedOnce(
        AnnStream.queryStream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "reembed_stream", mode = "append")
    try {
      val admitted = spark.table("reembed_stream")
      val ids = admitted.select($"q_id").collect().map(_.getLong(0))
      assert(ids.length == nUpd && ids.distinct.length == ids.length,
        s"replay guard must admit each of the $nUpd re-embeddings once, " +
          s"got ${ids.length} (${ids.distinct.length} distinct)")
      val migrated = AnnStream.reembedRefresh(spark, sf, admitted)
        .collect().map(_.toSeq).toSeq
      assert(migrated == batch,
        s"streamed migration diverged from batch s23: sizes " +
          s"${migrated.size}/${batch.size}")
    } finally q.stop()
  }

  test("streaming query admission + frozen-index serve equal batch s14") {
    val s = spark
    import s.implicits._
    val embs = Tables.load(spark, sf, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft-annstream")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    // chunk i carries query i plus a REPLAY of query i-1
    (0 until Relational13.PQ_NQ).foreach { i =>
      val chunk = embs.filter($"vec_id" === i)
        .unionAll(embs.filter($"vec_id" === i - 1))
      StreamTestIO.writeChunk(chunk, dir.resolve(s"c$i.parquet"),
        base + i * 1000)
    }
    val batch = Relational13.s14(spark, sf).collect().map(_.toSeq).toSeq

    val q = EventStreams.runToMemory(
      AnnStream.admittedOnce(
        AnnStream.queryStream(spark, dir.toString,
          Map("maxFilesPerTrigger" -> "1"))).toDF(),
      "ann_stream", mode = "append")
    try {
      val admitted = spark.table("ann_stream")
      // at-most-once: every query admitted exactly once despite the
      // re-deliveries (5 arrivals, 3 admissions)
      val ids = admitted.select($"q_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == (0L until Relational13.PQ_NQ).toSeq,
        s"replay guard must admit each query once: ${ids.toSeq}")
      val served = AnnStream.serveRefresh(spark, sf, admitted)
        .collect().map(_.toSeq).toSeq
      assert(served == batch,
        s"streamed serve diverged from batch s14: sizes " +
          s"${served.size}/${batch.size}, first diff " +
          s"${served.zip(batch).find(p => p._1 != p._2)}")
    } finally q.stop()

    // the same guard with its flags on RocksDB
    StreamTestIO.withRocksDB(spark) {
      val q2 = EventStreams.runToMemory(
        AnnStream.admittedOnce(
          AnnStream.queryStream(spark, dir.toString,
            Map("maxFilesPerTrigger" -> "1"))).toDF(),
        "ann_stream_rocksdb", mode = "append")
      try {
        val admitted = spark.table("ann_stream_rocksdb")
        val ids = admitted.select($"q_id").collect().map(_.getLong(0)).sorted
        assert(ids.toSeq == (0L until Relational13.PQ_NQ).toSeq)
        val served = AnnStream.serveRefresh(spark, sf, admitted)
          .collect().map(_.toSeq).toSeq
        assert(served == batch,
          s"RocksDB serve diverged from batch s14: sizes " +
            s"${served.size}/${batch.size}")
      } finally q2.stop()
    }
  }
}
