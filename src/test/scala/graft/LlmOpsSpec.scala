package graft

import graft.operators._
import org.apache.spark.sql.functions._

class LlmOpsSpec extends SparkSpec {

  test("all llm-op queries run and oracles are registered") {
    val mods = Seq(
      ("text", TextAnalysis.queries, TextAnalysis.oracles),
      ("dedup", Dedup.queries, Dedup.oracles),
      ("sim", Similarity.queries, Similarity.oracles),
      ("media", Multimodal.queries, Multimodal.oracles))
    mods.foreach { case (m, qs, os) =>
      assert(os.keySet == qs.keySet, s"$m oracle coverage")
      qs.foreach { case (name, fn) =>
        val n = fn(spark, sf).count()
        assert(n >= 0, s"$name failed")
      }
    }
  }

  test("exact dedup keeps every unique document") {
    val docs = Tables.load(spark, sf, "documents").count()
    val rows = Dedup.d01(spark, sf)
    assert(rows.agg(sum("n_copies")).head.getLong(0) == docs)
  }

  test("jaccard near-dups are planted high-similarity pairs") {
    val pairs = Dedup.d02(spark, sf).collect()
    assert(pairs.nonEmpty, "expected planted near-dup pairs")
    assert(pairs.forall(_.getDouble(2) >= 0.5))
  }

  test("minhash LSH finds the jaccard pairs (est vs exact agree)") {
    val exact = Dedup.d02(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.d03(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty, "LSH found no candidate pairs")
    // planted pairs sit at jaccard ~0.99: band-collision probability is
    // 1-(1-0.99^4)^4 ≈ 0.999998, so recall over exact pairs must be
    // essentially total
    val recall = exact.intersect(lsh).size.toDouble / math.max(exact.size, 1)
    assert(recall >= 0.9, s"LSH recall too low: $recall")
  }

  test("simhash near-dups overlap jaccard near-dups") {
    val sh = Dedup.d04(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.nonEmpty, "simhash found no near-dups")
  }

  test("t14 mixture rebalancing: every source present, kept <= source size, small sources intact") {
    val rows = graft.operators.Curation.t14(spark, sf).collect()
    val nSources = Tables.load(spark, sf, "documents")
      .select("source").distinct().count()
    assert(rows.length == nSources, "a source vanished from the mixture")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_src"))
    }
    val minSrc = rows.map(_.getAs[Long]("n_src")).min
    // the smallest source keeps everything (threshold = 10000 exactly)
    assert(rows.filter(_.getAs[Long]("n_src") == minSrc)
      .forall(r => r.getAs[Long]("n_kept") == r.getAs[Long]("n_src")))
  }

  test("d08 semantic clusters: every member pairs with someone (size >= 2)") {
    val rows = graft.operators.Similarity.d08(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("cluster_size") >= 2L,
        "cluster nodes come from pairs, so no singleton clusters")
      assert(r.getAs[Long]("cluster_id") <= r.getAs[Long]("vec_id"),
        "cluster label is the min member id")
    }
  }

  test("brute-force topk returns TOPK ranked neighbors per query") {
    val rows = Similarity.s01(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 5)
    byQ.values.foreach { rs =>
      assert(rs.length == 5)
      val sims = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(sims.sliding(2).forall(p => p(0) >= p(1)), "ranks not by sim desc")
    }
  }

  test("ann lsh results are a subset-quality approximation of brute force") {
    val bf = Similarity.s01(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.s02(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.nonEmpty)
    // every ANN neighbor must be a real vector sharing the query bucket;
    // spot-check: ANN pairs score identically to brute force where present
    val annRows = Similarity.s02(spark, sf).collect()
    assert(annRows.forall(_.getLong(3) <= 5))
  }

  test("langid picks deterministic argmax") {
    val rows = TextAnalysis.t03(spark, sf).collect()
    assert(rows.length == Tables.load(spark, sf, "documents").count())
    assert(rows.forall(r => Set("en", "db", "ops").contains(r.getString(1))))
  }

  test("multimodal decode pipeline produces real features via mapPartitions") {
    val feats = Multimodal.decodeFeatures(spark, sf).collect()
    assert(feats.length == Tables.load(spark, sf, "documents").count())
    val row = feats.head
    assert(row.schema.fieldNames.toSet ==
      Set("doc_id", "mime", "n_bytes", "width", "height", "n_frames", "frame0_hash"))
    assert(feats.forall(_.getAs[String]("frame0_hash").length == 32))
  }

  test("registration consistency: oracles ⊆ queries; rows-only = the sketches") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without a query: ${o -- q}")
    // x04 (SpaceSaving) is the one remaining rows-only sketch: its
    // state is genuinely arrival-order-dependent, so no cross-engine
    // oracle exists; ScaleSpec bounds it instead. x01/x03/x05 are
    // oracle-checked via deterministic estimators or error-bound flags.
    assert((q -- o) == Set("x04_heavy_hitters"),
      s"undocumented rows-only queries: ${q -- o}")
    // no module registers a name another module already registered
    // (the merged map would silently keep only the later entry)
    val ms = SparkEntry.modules
    assert(ms.map(_.queries.size).sum == SparkEntry.queries.size)
    assert(ms.map(_.oracles.size).sum == SparkEntry.oracleSql.size)
  }

  test("t16 winnowing: strong near-dups share a fingerprint") {
    val s = spark
    import s.implicits._
    // jaccard ≥ 0.9 pairs share long token runs, far beyond the
    // w+k-1 = 7-token guarantee threshold — each must share ≥ 1
    // winnowed fingerprint
    val fps = Relational6.t16(s, sf).cache()
    try {
      val strong = Dedup.d02(s, sf).filter($"jaccard" >= 0.9)
        .select($"a_id", $"b_id")
      val shared = strong
        .join(fps.select($"doc_id".as("a_id"), $"fp"), Seq("a_id"))
        .join(fps.select($"doc_id".as("b_id"), $"fp"), Seq("b_id", "fp"))
        .select($"a_id", $"b_id").distinct()
      assert(strong.count() > 0, "fixture must contain strong near-dups")
      assert(strong.except(shared).isEmpty,
        "every strong near-dup pair must share a winnowed fingerprint")
      // and the sketch really is a sample: fewer fingerprints than grams
      val nFp = fps.count()
      val nGrams = Tables.load(s, sf, "documents")
        .select(explode(graft.functions.NativeKernels.word_shingles($"text", 4)))
        .count()
      assert(nFp < nGrams / 2, s"winnowed set ($nFp) should be ≪ gram set ($nGrams)")
    } finally fps.unpersist()
  }

  test("x04: SpaceSaving is exact when k covers the domain") {
    val s = spark
    import s.implicits._
    // sf0.001 events has 15 distinct users < k=32: never an eviction,
    // merges of non-full summaries add nothing — sketch ≡ exact
    val out = Relational6.x04(s, sf).collect()
    assert(out.length == 5)
    assert(out.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    out.foreach { r =>
      assert(r.getAs[Long]("max_err") == 0L)
      assert(r.getAs[Long]("est_count") == r.getAs[Long]("exact_count"))
    }
  }

  test("x04e: exact-threshold face surfaces exactly the items above N/k, ranked") {
    val s = spark
    import s.implicits._
    val rows = Relational6.x04e(s, sf).collect()
    assert(rows.nonEmpty, "corpus has event types above the 1/32 share")
    val nTot = Tables.load(s, sf, "events").count()
    val exact = Tables.load(s, sf, "events")
      .groupBy($"event_type").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exactly the SpaceSaving(k) guarantee set — no more, no less
    val expect = exact.filter { case (_, c) => c * 32 > nTot }.keySet
    assert(rows.map(_.getAs[String]("event_type")).toSet == expect)
    rows.foreach { r =>
      val c = r.getAs[Long]("exact_count")
      assert(c == exact(r.getAs[String]("event_type")))
      assert(c * 32 > nTot)
      assert(r.getAs[Long]("share_ppm") == c * 1000000L / nTot)
      assert(r.getAs[Long]("n_tot") == nTot)
    }
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to rows.length.toLong))
    val cs = rows.map(_.getAs[Long]("exact_count")).toSeq
    assert(cs == cs.sorted.reverse, "not ranked by descending count")
  }

  test("SpaceSaving invariants hold under eviction pressure (k << domain)") {
    val s = spark
    import s.implicits._
    // skewed stream: item 7 dominates (500), 100 tail items × 5 each;
    // k=8 counters force constant eviction across 16 partitions
    val data = Seq.fill(500)(7L) ++ (100L until 200L).flatMap(i => Seq.fill(5)(i))
    val truth = data.groupBy(identity).map { case (k2, v) => k2 -> v.size.toLong }
    val ds = data.toDF("item").repartition(16)
    val hh = udaf(graft.functions.HeavyHitters.SpaceSaving(8))
    val entries = ds.agg(hh($"item").as("e"))
      .select(explode($"e").as("x")).select($"x.*")
      .collect()
      .map(r => (r.getAs[Long]("item"), r.getAs[Long]("count"), r.getAs[Long]("err")))
    assert(entries.length == 8)
    // the guaranteed heavy hitter (true > n/k) must be present and ranked first
    assert(entries.head._1 == 7L, s"dominant item missing from ${entries.toSeq}")
    // every reported entry: est - err ≤ true ≤ est
    entries.foreach { case (item, est, err) =>
      val t = truth.getOrElse(item, 0L)
      assert(t <= est, s"item $item: true $t > estimate $est")
      assert(est - err <= t, s"item $item: est $est - err $err > true $t")
    }
  }
}
