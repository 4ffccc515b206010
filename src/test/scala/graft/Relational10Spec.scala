package graft

import graft.operators.{Relational10, Similarity}
import org.apache.spark.sql.functions._

/** Quality-filter tranche (t31/t32/t33) + s09 JL projection. The
  * DuckDB oracles are the exact-value gate; these specs pin the
  * SEMANTIC claims the oracles can't state: rule discrimination,
  * tercile balance/ordering, and the measured JL distortion bound. */
class Relational10Spec extends SparkSpec {

  test("t31 gopher rules discriminate (some docs pass, some fail, metrics populated)") {
    val rows = Relational10.t31(spark, sf).collect()
    assert(rows.nonEmpty)
    val passes = rows.count(_.getAs[Long]("pass") == 1L)
    assert(passes > 0 && passes < rows.length,
      s"rule battery is vacuous: $passes/${rows.length} pass")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_words") > 0)
      val ml = r.getAs[Double]("mean_word_len")
      assert(ml > 0 && ml < 20, s"implausible mean word length $ml")
      val af = r.getAs[Double]("alpha_frac")
      assert(af >= 0.0 && af <= 1.0)
    }
  }

  test("t31 pass verdict equals the conjunction of its own reported metrics") {
    Relational10.t31(spark, sf).collect().foreach { r =>
      val expect = r.getAs[Long]("n_words") >= 3 &&
        r.getAs[Long]("n_words") <= 100000 &&
        r.getAs[Double]("mean_word_len") >= 2.0 &&
        r.getAs[Double]("mean_word_len") <= 10.0 &&
        r.getAs[Long]("stop_hits") >= 2 &&
        r.getAs[Double]("alpha_frac") >= 0.8
      assert(r.getAs[Long]("pass") == (if (expect) 1L else 0L),
        s"pass flag disagrees with metrics at doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("t32 classifier scores are bounded fixed-point means and labels split the corpus") {
    val rows = Relational10.t32(spark, sf).collect()
    val pos = rows.count(_.getAs[Long]("label") == 1L)
    assert(pos > 0 && pos < rows.length,
      s"hash-weight classifier is vacuous: $pos/${rows.length} positive")
    rows.foreach { r =>
      val ppm = r.getAs[Long]("score_ppm")
      // weights are in [-500, 499] milli -> mean in [-500000, 499000] ppm
      assert(ppm >= -500000L && ppm <= 499000L, s"score out of range: $ppm")
      val label = r.getAs[Long]("label")
      // label thresholds the exact integer sum; the floored ppm can
      // sit at 0 for a tiny positive sum but never contradicts it
      if (ppm > 0) assert(label == 1L, s"ppm $ppm but label 0")
      if (ppm < 0) assert(label == 0L, s"ppm $ppm but label 1")
    }
    // the standalone Column form (what curate's classifier gate
    // applies per-row) computes the identical score
    val s = spark
    import s.implicits._
    val mismatch = Tables.load(spark, sf, "documents")
      .select($"doc_id",
        graft.operators.Relational10.classifierScorePpm($"text").as("col_ppm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(mismatch(r.getAs[Long]("doc_id")) == r.getAs[Long]("score_ppm"),
        s"classifierScorePpm diverged from t32 at doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("t33 terciles are balanced within 1 per source and ordered by nll") {
    val rows = Relational10.t33(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("bucket"),
        r.getAs[Double]("avg_nll")))
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val byB = rs.groupBy(_._2).map { case (b, xs) => b -> xs.map(_._3) }
      val sizes = byB.view.mapValues(_.size).toMap
      assert(sizes.keySet == Set("head", "middle", "tail"), s"$src missing a bucket")
      assert(sizes.values.max - sizes.values.min <= 1,
        s"$src terciles unbalanced: $sizes")
      // head holds the LOWEST nll (best docs), tail the highest
      assert(byB("head").max <= byB("middle").min + 1e-9, s"$src head/middle overlap")
      assert(byB("middle").max <= byB("tail").min + 1e-9, s"$src middle/tail overlap")
    }
  }

  test("t31/t32 degrade safely on empty and whitespace-only documents") {
    val s = spark
    import s.implicits._
    // the shipped testdata has no empty docs, so the zero-token guard
    // paths (null ratio metrics, three-valued pass/label logic) need a
    // fixture corpus of their own
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-docs")
    Seq(
      (0L, "", "en", "src0", 0L),
      (1L, "   \t  ", "en", "src0", 6L),
      (2L, "the a fast table scan the", "en", "src1", 25L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t31 = Relational10.t31(spark, dir.toString).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(0L, 1L).foreach { id =>
      assert(t31(id).getAs[Long]("n_words") == 0L)
      assert(t31(id).isNullAt(t31(id).fieldIndex("mean_word_len")),
        s"doc $id: zero-token mean must be null")
      assert(t31(id).getAs[Long]("pass") == 0L,
        s"doc $id: empty doc must fail the battery (FALSE AND NULL = FALSE)")
    }
    assert(t31(2L).getAs[Long]("pass") == 1L, "the healthy doc must pass")
    val t32 = Relational10.t32(spark, dir.toString).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(0L, 1L).foreach { id =>
      assert(t32(id).isNullAt(t32(id).fieldIndex("score_ppm")),
        s"doc $id: zero-token score must be null")
      assert(t32(id).getAs[Long]("label") == 0L)
    }
  }

  test("gopherPass column gates a document STREAM identically to batch t31") {
    val s = spark
    import s.implicits._
    val batchPass = Relational10.t31(spark, sf).filter($"pass" === 1L)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-gopher-stream")
    try {
      val docs = Tables.load(spark, sf, "documents")
      val base = System.currentTimeMillis() - 60000
      StreamTestIO.writeChunk(docs.filter($"doc_id" % 2 === 0),
        dir.resolve("even.parquet"), base)
      StreamTestIO.writeChunk(docs.filter($"doc_id" % 2 === 1),
        dir.resolve("odd.parquet"), base + 1000)
      val admitted = graft.streaming.DedupStream
        .documentStream(spark, dir.toString, Map("maxFilesPerTrigger" -> "1"))
        .filter(Relational10.gopherPass($"text") === 1L)
        .select($"doc_id")
      val q = graft.streaming.EventStreams.runToMemory(
        admitted.toDF(), "gopher_stream", mode = "append")
      try {
        val streamed = spark.table("gopher_stream").collect()
          .map(_.getLong(0)).toSet
        assert(streamed == batchPass,
          s"stream/batch gopher gate diverged: sizes ${streamed.size}/${batchPass.size}")
      } finally q.stop()
    } finally ()
  }

  test("iterative loops free superseded localCheckpoint blocks (bounded persistent-RDD growth)") {
    val sc = spark.sparkContext
    // d09's star loop: only the FINAL round's checkpoint may survive
    // (it backs the returned frame); t34's merge loop frees everything.
    // Dataset.unpersist was a plan-cache no-op here — without
    // CheckpointOps each round leaked one persisted RDD. The other
    // round loops (d06's min-label rounds, PageRank, label-propagation
    // communities, SSSP, MMR, trained PQ) run through the same
    // CheckpointOps.rounds; the shared knn edge asset the *m forms
    // read is built first, so it is not counted as a leak.
    Similarity.materializedKnnEdgesCos(spark, sf).count()
    val before = sc.getPersistentRDDs.size
    graft.operators.Relational4.d09(spark, sf).count()
    graft.operators.Relational10.t34(spark, sf).count()
    graft.operators.Relational4.d06(spark, sf).count()
    Similarity.s12m(spark, sf).count()
    Similarity.s16m(spark, sf).count()
    graft.operators.Relational23.s24m(spark, sf).count()
    Similarity.s17(spark, sf).count()
    graft.operators.Relational13.s13t(spark, sf).count()
    System.gc() // let ContextCleaner reap frames that went unreachable
    Thread.sleep(500)
    val after = sc.getPersistentRDDs.size
    assert(after - before <= 2,
      s"superseded checkpoint rounds retained: $before -> $after persistent RDDs")
  }

  test("merge algebra chains: two successive increments equal full recompute") {
    val s = spark
    import s.implicits._
    val r4 = graft.operators.Relational4
    val r10 = graft.operators.Relational10
    // three-way deterministic split: base corpus A (folds 2-4),
    // increment B (fold 0), increment C (fold 1)
    def fold(c: org.apache.spark.sql.Column) =
      pmod(graft.functions.TextOps.hash64(concat(lit("inc2:"), c.cast("string"))), lit(5L))
    val pairs = graft.operators.Dedup.d02(spark, sf).select($"a_id", $"b_id")
      .localCheckpoint()
    val inA = (c: org.apache.spark.sql.Column) => fold(c) >= 2
    val inB = (c: org.apache.spark.sql.Column) => fold(c) === 0
    val inC = (c: org.apache.spark.sql.Column) => fold(c) === 1
    val pAA = pairs.filter(inA($"a_id") && inA($"b_id"))
    val pB = pairs.filter(
      (inB($"a_id") || inB($"b_id")) && !inC($"a_id") && !inC($"b_id"))
    val pC = pairs.filter(inC($"a_id") || inC($"b_id"))
    // both increments must route pairs or the chain test is vacuous
    assert(pB.count() > 0 && pC.count() > 0,
      "three-way split routed nothing through an increment")
    val labels0 = r4.d09(spark, sf, pairsIn = Some(pAA))
      .select($"doc_id".as("id"), $"cluster_id".as("comp"))
    val labels1 = r10.mergeIncrement(spark, pB, labels0)
    val labels2 = r10.mergeIncrement(spark, pC, labels1)
    val chained = labels2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = r4.d06(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(chained == full,
      s"chained increments diverged from full recompute: " +
        s"sizes ${chained.size}/${full.size}, " +
        s"only-chained=${chained.diff(full).take(3)}")
  }

  test("d15 keeps one best-quality member per cluster (vs d07's min-id policy)") {
    val s = spark
    import s.implicits._
    val d07kept = graft.operators.Relational4.d07(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val d15kept = graft.operators.Relational10.d15(spark, sf).collect()
      .map(_.getLong(0)).toSet
    // both policies keep exactly one member per cluster
    assert(d15kept.size == d07kept.size,
      s"keeper counts diverge: ${d15kept.size} vs ${d07kept.size}")
    // per cluster, the d15 keeper's quality is >= the min-id keeper's
    val labels = graft.operators.Relational4.materializedLabels(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = graft.operators.TextAnalysis.t02(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Double]("quality"))).toMap
    val byCluster = labels.groupBy(_._2)
    byCluster.foreach { case (comp, members) =>
      val ids = members.keys.toSeq
      val d15k = ids.filter(d15kept)
      assert(d15k.size == 1, s"cluster $comp kept ${d15k.size} members")
      val d07k = ids.filter(d07kept)
      assert(quality(d15k.head) >= quality(d07k.head) - 1e-9,
        s"cluster $comp: quality-aware keeper worse than min-id keeper")
    }
  }

  test("d14 incremental merge is bit-identical to d06 full recompute") {
    val s = spark
    import s.implicits._
    // the test is only meaningful if the fold split actually puts
    // near-dup pairs in the "new batch" path (straddling or new-new)
    def isNew(c: org.apache.spark.sql.Column) =
      pmod(graft.functions.TextOps.hash64(concat(lit("inc:"), c.cast("string"))), lit(10L)) === 0L
    val pairs = graft.operators.Dedup.d02(spark, sf)
    val newTouched = pairs.filter(isNew($"a_id") || isNew($"b_id")).count()
    assert(newTouched > 0, "fold split routed no pairs through the merge path")
    val full = graft.operators.Relational4.d06(spark, sf).collect().toSeq
    val inc = Relational10.d14(spark, sf).collect().toSeq
    assert(inc == full,
      s"incremental clustering diverged from full recompute: " +
        s"sizes ${inc.size}/${full.size}, " +
        s"first diff ${inc.zip(full).find(p => p._1 != p._2)}")
  }

  test("d16 incremental semantic merge is bit-identical to d08 full recompute") {
    val s = spark
    import s.implicits._
    // meaningful only if the fold split routes embedding pairs through
    // the merge path (straddling or new-new)
    def isNew(c: org.apache.spark.sql.Column) =
      pmod(graft.functions.TextOps.hash64(concat(lit("inc:"), c.cast("string"))), lit(10L)) === 0L
    val pairs = graft.operators.Similarity.d08Pairs(spark, sf)
    val newTouched = pairs.filter(isNew($"a_id") || isNew($"b_id")).count()
    assert(newTouched > 0, "fold split routed no embedding pairs through the merge path")
    val full = graft.operators.Similarity.d08(spark, sf).collect().toSeq
    val inc = Relational10.d16(spark, sf).collect().toSeq
    assert(inc == full,
      s"incremental semantic clustering diverged from full recompute: " +
        s"sizes ${inc.size}/${full.size}, " +
        s"first diff ${inc.zip(full).find(p => p._1 != p._2)}")
  }

  test("t34 BPE trainer: 5 distinct-pair merges; self-pair exclusion vacuous; step 1 = t19's top pair") {
    val s = spark
    import s.implicits._
    val merges = Relational10.t34(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.length == 5)
    assert(merges.forall { case (_, a, b, _) => a != b },
      "registered trainer must only emit distinct-symbol merges")
    // the a != b restriction (what makes greedy merge application
    // positionally expressible) never changed a pick on this corpus:
    // the UNRESTRICTED step-1 argmax is already a distinct pair
    val step1 = Tables.load(spark, sf, "documents")
      .select(explode(graft.functions.NativeKernels.word_tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .select(split($"w", "").as("sym"), $"freq")
      .select($"freq", explode(zip_with(
        slice($"sym", lit(1), greatest(size($"sym") - 1, lit(0))),
        slice($"sym", lit(2), greatest(size($"sym") - 1, lit(0))),
        (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .groupBy($"p.a", $"p.b").agg(sum($"freq").as("cnt"))
      .orderBy($"cnt".desc, $"p.a", $"p.b").limit(1).collect()(0)
    assert(step1.getString(0) != step1.getString(1),
      "unrestricted step-1 argmax is a self-pair — exclusion is NOT vacuous here")
    assert((step1.getString(0), step1.getString(1)) ==
      (merges(0)._2, merges(0)._3))
    // t19 ranks step-1 merge candidates; its top candidate must be
    // the trainer's first merge
    val t19top = graft.operators.Relational7.t19(spark, sf)
      .orderBy($"n".desc, $"pair").limit(1).collect()(0)
    assert(t19top.getString(0) == merges(0)._2 + merges(0)._3,
      s"t19 top candidate ${t19top} != first trained merge ${merges(0)}")
  }

  test("applyMerge equals the sequential greedy scan on randomized symbol arrays") {
    val s = spark
    import s.implicits._
    // reference implementation: the textbook left-to-right greedy scan
    def ref(sym: Seq[String], a: String, b: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      var i = 0
      while (i < sym.length) {
        if (i + 1 < sym.length && sym(i) == a && sym(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += sym(i); i += 1 }
      }
      out.result()
    }
    val rnd = new scala.util.Random(8) // fixed seed: deterministic test
    val alphabet = Vector("a", "b", "c")
    val cases = (0 until 150).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(13))(alphabet(rnd.nextInt(3))))
    }
    val df = cases.toDF("id", "sym")
    for ((a, b) <- Seq(("a", "b"), ("b", "a"), ("c", "a"))) {
      val got = df.select($"id",
        graft.operators.Relational10.applyMerge($"sym", a, b).as("m"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      cases.foreach { case (id, sym) =>
        assert(got(id) == ref(sym, a, b),
          s"merge ($a,$b) diverged on $sym: ${got(id)} vs ${ref(sym, a, b)}")
      }
    }
  }

  test("t35 compression curve: each step's symbol reduction equals its merge's pair count") {
    val merges = Relational10.t34(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val totals = Relational10.t35(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(totals.keySet == (0L to 5L).toSet)
    (1L to 5L).foreach { k =>
      assert(totals(k - 1) - totals(k) == merges(k),
        s"step $k: reduction ${totals(k - 1) - totals(k)} != pair count ${merges(k)} " +
          "(an overlap or a missed application — impossible for distinct-symbol merges)")
    }
  }

  test("x06 count-min never underestimates and its counter table is D*W-bounded") {
    val s = spark
    import s.implicits._
    val rows = Relational10.x06(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("est_count") >= r.getAs[Long]("exact_count"),
        s"CMS underestimated user ${r.getAs[Long]("user_id")}: " +
          s"${r.getAs[Long]("est_count")} < ${r.getAs[Long]("exact_count")}")
    }
    // the sketch's state is depth*width counters regardless of corpus
    val ev = Tables.load(spark, sf, "events").select($"user_id")
    val nCells = ev.select(explode(graft.operators.Relational10
      .cmsCellsForTest($"user_id")).as("jc"))
      .select($"jc.j", $"jc.cell").distinct().count()
    assert(nCells <= 3L * 256L, s"counter table exceeded D*W: $nCells")
  }

  test("s09 projects to 16 dims and preserves pairwise distance within the JL envelope") {
    val s = spark
    import s.implicits._
    val projCols = (0 until 16).map(p => col(f"p$p%02d"))
    val proj = Similarity.s09(spark, sf)
      .select($"vec_id", array(projCols: _*).as("proj"))
    assert(proj.select(size($"proj")).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(16))
    // deterministic pairs (2k, 2k+1): squared-distance ratio
    // proj/orig should concentrate around 1 (E[ratio]=1, relative
    // std ~ sqrt(2/k) ~ 0.35 at k=16)
    val emb = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .toMap
    val pm = proj.select($"vec_id", $"proj").as[(Long, Array[Double])]
      .collect().toMap
    def sq(a: Array[Double]): Double = a.map(x => x * x).sum
    val ratios = emb.keys.toSeq.sorted.grouped(2).collect {
      case Seq(a, b) if emb.contains(a) && emb.contains(b) =>
        val dOrig = sq(emb(a).zip(emb(b)).map { case (x, y) => x.toDouble - y.toDouble })
        val dProj = sq(pm(a).zip(pm(b)).map { case (x, y) => x - y })
        dProj / dOrig
    }.toSeq
    assert(ratios.nonEmpty)
    val med = ratios.sorted.apply(ratios.size / 2)
    assert(med > 0.6 && med < 1.4, s"JL median distance ratio off: $med")
    val inEnvelope = ratios.count(r => r > 0.4 && r < 1.9)
    assert(inEnvelope.toDouble / ratios.size >= 0.8,
      s"JL envelope too loose: $inEnvelope/${ratios.size} within [0.4, 1.9]")
  }
}
