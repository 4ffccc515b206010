package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The approximation-quality report for the bucketed/capped operators
  * (SCALING.md "Recall report"): every number the operator Scaladocs
  * quote is computed HERE, deterministically (all inputs and kernels
  * are deterministic given the parquet data), pinned by ScaleSpec at
  * sf0.01 and tabulated in SCALING.md for sf0.01 and sf0.1.
  *
  * Measured tradeoffs:
  *  - d02/d03 with the `maxBucket` skew cap (the 100 TB stop-shingle
  *    guard) vs uncapped — the cap can only LOSE pairs (ScaleSpec
  *    proves containment); this quantifies how many.
  *  - d11/d12 with the same cap vs uncapped (the round-6 operators
  *    share d02's bucket machinery, so the cap applies identically;
  *    VERDICT r6 "What's missing" #2 asked for these rows).
  *  - s03's rotation-bucket candidate stage vs the all-pairs ground
  *    truth [[Similarity.s03Exact]], at the output threshold (0.4)
  *    and at the planted-near-dup thresholds (0.8, 0.9), plus the
  *    candidate fraction (|candidates| / n(n-1)/2 — the work the LSH
  *    saves).
  *  - q51's blocked best-match vs the unblocked full-cross-product
  *    argmin ([[Relational7.q51Exact]]): match rate on answered
  *    candidates, plus the answered fraction.
  *
  * Regenerate the SCALING.md table with:
  * {{{ sbt 'runMain graft.operators.RecallReport /root/testdata/sf0.1' }}}
  */
object RecallReport {

  private def pairSet(df: DataFrame, c1: String = "a_id",
      c2: String = "b_id"): Set[(Long, Long)] =
    df.select(c1, c2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recall(got: Set[(Long, Long)], truth: Set[(Long, Long)]): Double =
    if (truth.isEmpty) 1.0
    else got.intersect(truth).size.toDouble / truth.size

  private def r4(x: Double): Double = math.rint(x * 10000) / 10000

  private val ALL_SECTIONS =
    Set("dedup", "q51", "s03", "ann", "filtered", "walk", "walk10x")

  /** The per-SF report (what ScaleSpec pins at sf0.01 and SCALING.md
    * tabulates per SF). `walk10x` is excluded: its corpus is
    * synthetic and fixed-size, so the row is SF-independent — run it
    * explicitly (`runMain ... <dir> walk10x`) and record the single
    * row (SCALING.md "Adaptive-walk extrapolation"). */
  private val DEFAULT_SECTIONS = ALL_SECTIONS - "walk10x"

  /** metric name → value, all rounded to 4 decimals. `sections`
    * restricts the (expensive) computation to named families — the
    * full set is the published table; a single section is the
    * iteration loop (`runMain ... <dir> walk`). */
  def compute(s: SparkSession, dir: String,
      sections: Set[String] = DEFAULT_SECTIONS): Map[String, Double] = {
    // a typo'd section name must FAIL, not silently yield an empty
    // report (an empty report reads as "nothing regressed")
    val unknown = sections -- ALL_SECTIONS
    require(unknown.isEmpty,
      s"unknown section(s) ${unknown.mkString(",")}; " +
        s"valid: ${ALL_SECTIONS.toSeq.sorted.mkString(",")}")
    val caps = Seq(16, 64)
    val dedup = if (!sections("dedup")) Nil else {
    val d02u = pairSet(Dedup.d02(s, dir))
    val d03u = pairSet(Dedup.d03(s, dir))
    val d11u = pairSet(Relational7.d11(s, dir), "cand_id", "ref_id")
    val d12u = pairSet(Relational7.d12(s, dir))
    // m05/m06's uncapped forms are EXACT vs all-pairs (the band
    // algebra at Multimodal.AHASH_BANDS), so they ARE the truth sets
    val m05u = pairSet(Multimodal.m05(s, dir))
    val m06u = pairSet(Multimodal.m06(s, dir))
    caps.flatMap { m =>
      Seq(
        s"d02_recall_cap$m" -> r4(recall(pairSet(Dedup.d02(s, dir, Some(m))), d02u)),
        s"d03_recall_cap$m" -> r4(recall(pairSet(Dedup.d03(s, dir, Some(m))), d03u)),
        s"d11_recall_cap$m" -> r4(recall(
          pairSet(Relational7.d11(s, dir, Some(m)), "cand_id", "ref_id"), d11u)),
        s"d12_recall_cap$m" -> r4(recall(
          pairSet(Relational7.d12(s, dir, Some(m))), d12u)),
        s"m05_recall_cap$m" -> r4(recall(
          pairSet(Multimodal.m05(s, dir, Some(m))), m05u)),
        s"m06_recall_cap$m" -> r4(recall(
          pairSet(Multimodal.m06(s, dir, Some(m))), m06u)))
    }
    }
    // q51: the blocked best-match vs the unblocked argmin over the
    // full cand × ref cross product (same prefix, same tie-break).
    // match_rate = of the candidates q51 answers, how many get the
    // globally best reference; answered_fraction = how many incoming
    // docs the blocking proposes any match for at all (the rest have
    // no shingle collision with the reference corpus — by
    // construction not near-dups, so "unanswered" is the correct
    // output for them, but the number belongs in the report).
    val q51 = if (!sections("q51")) Nil else {
    val q51Got = Relational7.q51(s, dir)
      .select("cand_id", "best_ref_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q51True = Relational7.q51Exact(s, dir)
      .select("cand_id", "best_ref_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(
      "q51_answered_fraction" -> r4(
        if (q51True.isEmpty) 1.0 else q51Got.size.toDouble / q51True.size),
      "q51_match_rate" -> r4(
        if (q51Got.isEmpty) 1.0
        else q51Got.count { case (c, r) => q51True.get(c).contains(r) }
          .toDouble / q51Got.size),
      "q51_answered" -> q51Got.size.toDouble)
    }
    // s03: exact pairs at the output threshold carry their cosine, so
    // higher thresholds are subsets of one all-pairs evaluation.
    // Truth-set SIZES are reported alongside recall: a recall of 1.0
    // over an empty truth set is vacuous, not a measurement (the r3-r4
    // comments claimed recall at cos ≥0.8/0.9 — thresholds this
    // synthetic corpus never reaches; max pair cosine ≈0.51).
    val sim = if (!sections("s03")) Nil else {
    val exactRows = Similarity.s03Exact(s, dir)
      .select("a_id", "b_id", "cos_sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val cand = pairSet(Similarity.s03Candidates(s, dir))
    val n = Similarity.embCount(s, dir).toDouble
    Seq(0.4, 0.45, 0.5).flatMap { t =>
      val truth = exactRows.collect { case (p, c) if c >= t => p }.toSet
      Seq(f"s03_recall_cos$t%.2f" -> r4(recall(cand, truth)),
        f"s03_truth_cos$t%.2f" -> truth.size.toDouble)
    } :+ ("s03_candidate_fraction" -> r4(cand.size / (n * (n - 1) / 2)))
    }
    // s13/s14: ANN recall@10 (mean over the 3 fixed queries) vs the
    // exact L2 top-10 — driver-side brute force over the collected
    // embedding table (diagnostic scale, like every ground truth
    // here). `lazy`: only the ann/filtered/walk sections read it, so
    // a dedup-only iteration run never pays the corpus collect.
    lazy val embs = Similarity.embVectors(s, dir)
    def exactTop10(q: Long): Set[Long] = {
      val qe = embs(q)
      embs.keysIterator.filter(_ != q).map { id =>
        val v = embs(id)
        var d = 0.0
        var i = 0
        while (i < qe.length) {
          val t = qe(i).toDouble - v(i).toDouble; d += t * t; i += 1
        }
        (d, id)
      }.toSeq.sorted.take(10).map(_._2).toSet
    }
    def annRecall(df: DataFrame): Double = {
      val got = df.select("q_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
      val rs = got.map { case (q, ids) =>
        ids.intersect(exactTop10(q)).size / 10.0 }
      r4(rs.sum / rs.size)
    }
    val ann = if (!sections("ann")) Nil else Seq(
      "s13_recall_at10" -> annRecall(Relational13.s13(s, dir)),
      "s13t_recall_at10" -> annRecall(Relational13.s13t(s, dir)),
      "s14_recall_at10" -> annRecall(Relational13.s14(s, dir)))
    // s26i: filtered IVF-PQ vs the exact FILTERED L2 top-10 (truth
    // restricted to the predicate's qualifying ids) — the pre-filter
    // vs in-cell comparison: s26's pre-filter scan is exact on the
    // qualifying subset BY CONSTRUCTION (recall 1.0 at selectivity×
    // scan cost); the in-cell form pays only probe-share×selectivity
    // and THESE rows price its recall loss (probed cells can be thin
    // in qualifying members).
    lazy val allowedIds = graft.Tables.load(s, dir, "documents")
      .filter(org.apache.spark.sql.functions.col("lang") ===
        Similarity.FILTER_LANG)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def exactFilteredTop10(q: Long): Set[Long] = {
      val qe = embs(q)
      embs.keysIterator.filter(id => id != q && allowedIds(id)).map { id =>
        val v = embs(id)
        var d = 0.0
        var i = 0
        while (i < qe.length) {
          val t = qe(i).toDouble - v(i).toDouble; d += t * t; i += 1
        }
        (d, id)
      }.toSeq.sorted.take(10).map(_._2).toSet
    }
    val filtered = if (!sections("filtered")) Nil else {
    val s26iGot = Relational13.s26i(s, dir)
      .select("q_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    val s26iRs = s26iGot.map { case (q, ids) =>
      ids.intersect(exactFilteredTop10(q)).size / 10.0 }
    Seq(
      "s26i_recall_at10" -> r4(s26iRs.sum / math.max(1, s26iRs.size)),
      "s26i_answered" -> s26iGot.map(_._2.size).sum.toDouble)
    }
    // s20/s20b: graph-walk serving quality vs the exact COSINE
    // nearest neighbor (self-excluded) — Relational19Spec measures
    // sf0.001; these rows pin sf0.01 and tabulate sf0.1, where the
    // FIXED 16-entry set faces a 10×/100× corpus (the r14
    // corpus-independence trade made measurable)
    def cosv(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val walk = if (!sections("walk")) Nil else {
    val wq = embs.keysIterator.filter(_ % 25 == 0).toSeq.sorted
    val greedyFound = Similarity.s20m(s, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val beamTop = Similarity.s20b(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val hierTop = Similarity.s20h(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    var g1 = 0; var g5 = 0; var b1 = 0; var b5 = 0; var nnb = 0
    var h1 = 0; var h5 = 0; var nnh = 0
    wq.foreach { q =>
      val qe = embs(q)
      val ranked = embs.iterator.collect {
        case (id, v) if id != q => (cosv(qe, v), id)
      }.toSeq.sortBy { case (c, id) => (-c, id) }.map(_._2)
      val top5 = ranked.take(5).toSet
      if (greedyFound(q) == ranked.head) g1 += 1
      if (top5(greedyFound(q))) g5 += 1
      val bt = beamTop(q)
      if (bt.head == ranked.head) b1 += 1
      if (top5(bt.head)) b5 += 1
      if (bt.contains(ranked.head)) nnb += 1
      val ht = hierTop(q)
      if (ht.head == ranked.head) h1 += 1
      if (top5(ht.head)) h5 += 1
      if (ht.contains(ranked.head)) nnh += 1
    }
    val nW = wq.size.toDouble
    Seq(
      "s20_hit_at1" -> r4(g1 / nW),
      "s20_found_in_top5" -> r4(g5 / nW),
      "s20b_hit_at1" -> r4(b1 / nW),
      "s20b_rank1_in_top5" -> r4(b5 / nW),
      "s20b_nn_in_beam" -> r4(nnb / nW),
      "s20h_hit_at1" -> r4(h1 / nW),
      "s20h_rank1_in_top5" -> r4(h5 / nW),
      "s20h_nn_in_beam" -> r4(nnh / nW))
    }
    // walk10x (r16 verdict #3): the corpus-adaptive walk knobs
    // validated ONE ×8 STEP BEYOND the largest real corpus — a
    // synthetic isotropic corpus at [[Walk10x.N]] = 20480 (10.24×
    // sf0.1's 2000 rows, the first extrapolated floorLog8 band),
    // served by the UNMODIFIED registered faces against the exact
    // cosine NN. The measurement REJECTED the r16 formulas (hit@1
    // 0.556/0.762 at the claimed-held ef=64; 0.768/0.838 with ef
    // doubled) and drove the r17 correction: ef(n) grows a step
    // earlier AND the graph degree is corpus-adaptive
    // ([[Similarity.knnK]]) — a per-miss anatomy showed the NN was
    // simply not wired into its explored neighborhood at fixed
    // degree 8 (miss_nn_linked 5/190). Walk10xSpec pins this
    // section's rows exactly; SCALING.md "Adaptive-walk
    // extrapolation" publishes them.
    val w10x = if (!sections("walk10x")) Nil else {
      val xdir = Walk10x.dir(s)
      val xembs = Similarity.embVectors(s, xdir)
      val wq = xembs.keysIterator.filter(_ % 25 == 0).toSeq.sorted
      def served(df: DataFrame): Map[Long, Seq[Long]] =
        df.select("q_id", "rank", "found_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      val beamTop = served(Similarity.s20b(s, xdir))
      val hierTop = served(Similarity.s20h(s, xdir))
      // exact cosine top-5 per query by bounded selection (a full
      // 20k sort per query would dominate the measurement)
      def top5(q: Long): Seq[Long] = {
        val qe = xembs(q)
        val bc = Array.fill(5)(-2.0)
        val bi = Array.fill(5)(-1L)
        xembs.foreach { case (id, v) =>
          if (id != q) {
            val c = cosv(qe, v)
            var k = 0
            while (k < 5 && (c < bc(k) || (c == bc(k) && id > bi(k)))) k += 1
            if (k < 5) {
              var j = 4
              while (j > k) { bc(j) = bc(j - 1); bi(j) = bi(j - 1); j -= 1 }
              bc(k) = c; bi(k) = id
            }
          }
        }
        bi.toSeq
      }
      var b1 = 0; var nnb = 0; var h1 = 0; var nnh = 0
      wq.foreach { q =>
        val t5 = top5(q)
        val nn = t5.head
        if (beamTop(q).head == nn) b1 += 1
        if (beamTop(q).contains(nn)) nnb += 1
        if (hierTop(q).head == nn) h1 += 1
        if (hierTop(q).contains(nn)) nnh += 1
      }
      val nW = wq.size.toDouble
      Seq(
        "w10x_n" -> Walk10x.N.toDouble,
        "w10x_hops" -> Similarity.walkHops(Walk10x.N.toLong).toDouble,
        "w10x_ef" -> Similarity.walkEf(Walk10x.N.toLong).toDouble,
        "w10x_queries" -> nW,
        "w10x_s20b_hit_at1" -> r4(b1 / nW),
        "w10x_s20b_nn_in_beam" -> r4(nnb / nW),
        "w10x_s20h_hit_at1" -> r4(h1 / nW),
        "w10x_s20h_nn_in_beam" -> r4(nnh / nW))
    }
    (dedup ++ sim ++ q51 ++ ann ++ filtered ++ walk ++ w10x).toMap
  }

  /** Prints the SCALING.md markdown rows for one scale factor;
    * optional second arg = comma-separated section names
    * (dedup,q51,s03,ann,filtered,walk,walk10x) for the iteration
    * loop — walk10x only runs when named. */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val sections = args.drop(1).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(DEFAULT_SECTIONS)
    val spark = graft.Session.local()
    try {
      val m = compute(spark, dir, sections)
      println(s"| metric | $dir |")
      println("|---|---|")
      m.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"| $k | $v%.4f |") }
    } finally spark.stop()
  }
}
