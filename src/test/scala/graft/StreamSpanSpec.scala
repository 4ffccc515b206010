package graft

import graft.streaming.{EventStreams, SpanStream}

/** Streaming exact-substring span dedup vs the d17/d19 batch algebra:
  * stream the documents table in two halves split by doc_id parity
  * (planted near-dups get consecutive ids, so duplicated grams
  * STRADDLE the micro-batches and the cross-batch state path is what
  * gets exercised). Prefix semantics: an even-half doc's spans come
  * from even-half counts only; an odd-half doc sees the whole corpus
  * — exactly the d19 `m_old + m_new > 1` test with the even half as
  * the frozen state. The face must match the brute-force replay on
  * the default and RocksDB state stores. */
class StreamSpanSpec extends SparkSpec {

  private val W = operators.Relational15.D17_W

  private def toks(s: String): Array[String] = {
    val t = s.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
    if (t.length == 1 && t(0).isEmpty) Array.empty else t
  }

  /** Brute-force spans of `target` docs under gram counts over
    * `visible` docs (the prefix-visibility replay). */
  private def spansFor(visible: Seq[(Long, String)],
      target: Set[Long]): Set[(Long, Long, Long, Long)] = {
    val grams = visible.flatMap { case (id, text) =>
      val tk = toks(text)
      (0 to tk.length - W).map(i =>
        (id, i.toLong, tk.slice(i, i + W).mkString(" ")))
    }
    val counts = grams.groupBy(_._3).view.mapValues(_.length).toMap
    grams.filter(g => target(g._1) && counts(g._3) > 1)
      .groupBy(_._1).flatMap { case (id, hs) =>
        val pos = hs.map(_._2).sorted
        val spans = pos.foldLeft(Vector.empty[(Long, Long)]) {
          case (acc, p) =>
            if (acc.nonEmpty && p <= acc.last._2)
              acc.init :+ (acc.last._1, math.max(acc.last._2, p + W))
            else acc :+ (p, p + W)
        }
        spans.map { case (a, b) => (id, a, b, b - a) }
      }.toSet
  }

  test("streaming span hits match the prefix-visibility replay (default and RocksDB stores)") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val (even, odd) = rows.partition(_._1 % 2 == 0)
    val expected =
      spansFor(even, even.map(_._1).toSet) ++
        spansFor(rows, odd.map(_._1).toSet)
    assert(expected.nonEmpty, "fixture must plant straddling dup grams")
    // some odd-doc span must depend on an even-half gram (the
    // cross-batch state path), or the split proves nothing
    val oddOnly = spansFor(odd, odd.map(_._1).toSet)
    assert(spansFor(rows, odd.map(_._1).toSet) != oddOnly,
      "split must create cross-batch duplicate grams")

    val dir = java.nio.file.Files.createTempDirectory("graft-spanstream")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    StreamTestIO.writeChunk(docs.filter($"doc_id" % 2 === 0),
      dir.resolve("even.parquet"), base)
    StreamTestIO.writeChunk(docs.filter($"doc_id" % 2 === 1),
      dir.resolve("odd.parquet"), base + 1000)

    def run(table: String): Set[(Long, Long, Long, Long)] = {
      val src = graft.streaming.DedupStream.documentStream(
        spark, dir.toString, Map("maxFilesPerTrigger" -> "1"))
      val q = EventStreams.runToMemory(SpanStream.dupHits(src).toDF(), table,
        mode = "append")
      try {
        SpanStream.spansOf(spark.table(table)).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
      } finally q.stop()
    }

    val got = run("span_hits_fmgws")
    assert(got == expected,
      s"stream vs replay: only-stream=${got.diff(expected).take(3)} " +
        s"only-replay=${expected.diff(got).take(3)} sizes ${got.size}/${expected.size}")

    StreamTestIO.withRocksDB(spark) {
      val gotRocks = run("span_hits_rocksdb")
      assert(gotRocks == expected,
        s"RocksDB span face diverged: sizes ${gotRocks.size}/${expected.size}")
    }
  }

  test("a single-trigger batch emits exactly the d19 symmetric semantics") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // whole corpus in ONE trigger: symmetric within-batch counts ==
    // batch d17 exactly
    val dir = java.nio.file.Files.createTempDirectory("graft-spanone")
    dir.toFile.deleteOnExit()
    StreamTestIO.writeChunk(docs, dir.resolve("all.parquet"),
      System.currentTimeMillis() - 60000)
    val src = graft.streaming.DedupStream.documentStream(spark, dir.toString)
    val q = EventStreams.runToMemory(
      SpanStream.dupHits(src).toDF(), "span_hits_one", mode = "append")
    try {
      val got = SpanStream.spansOf(spark.table("span_hits_one")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val batch = operators.Relational15.d17(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == batch, s"sizes ${got.size}/${batch.size}")
    } finally q.stop()
  }
}
