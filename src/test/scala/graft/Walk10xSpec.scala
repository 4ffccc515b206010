package graft

import graft.operators.{RecallReport, Similarity, Walk10x}

/** r16 verdict #3: the corpus-adaptive walk knobs validated one ×8
  * step past the largest real corpus — and CORRECTED by what the
  * measurement found.
  *
  * The real embedding tables stop at 2000 rows, so hops(n)/ef(n)
  * were calibrated at floorLog8(n) = 3 and everything beyond was
  * extrapolation. Measured at [[Walk10x]]'s 20480-vector isotropic
  * corpus (10.24×, the first extrapolated ×8 band), the r16 formulas
  * FAILED: hit@1 0.556 flat / 0.762 hierarchical (the claimed-held
  * ef=64), and doubling ef alone only reached 0.768 / 0.838. A
  * per-miss anatomy of the s20b/s20h misses showed why: with ef=128
  * every remaining flat-beam miss had the beam inside the query's
  * true top-8 while
  * the true NN had an undirected edge into almost none of the
  * explored sets (5/190) — kNN asymmetry at 64d leaves the NN
  * UNWIRED from its own neighborhood at fixed degree 8, and no beam
  * width can take a hop that doesn't exist. The corrected design
  * (r17): ef(n) grows one step earlier (128 from f=4, where EF_MAX
  * binds) AND the graph degree is corpus-adaptive
  * ([[Similarity.knnK]]: 16 from f=4, capped 32) — measured 0.9598 /
  * 0.9878, the ≥0.9 bar cleared by both faces. All real-SF corpora
  * sit at f ≤ 3 where every knob keeps its old value: gate, bench
  * and oracle prices are untouched.
  *
  * This spec pins (a) the knob arithmetic at every threshold and
  * clamp boundary, and (b) the measured recall row itself — exact
  * equality, the ScaleSpec drift-detection convention (SCALING.md
  * "Adaptive-walk extrapolation" publishes the same numbers). */
class Walk10xSpec extends SparkSpec {

  test("knob arithmetic: thresholds and clamps at every ×8 boundary") {
    // hops(n) = clamp(4, floorLog8(n)+2, 8);
    // ef(n) = min(128, 64·(1+max(0, floorLog8(n)−3)));
    // k(n) = min(32, 8·(1+max(0, floorLog8(n)−3)))
    val expect = Seq(
      //   n         hops ef   k
      500L -> (4, 64, 8),         // sf0.001/sf0.01 corpora (f=2)
      2000L -> (5, 64, 8),        // sf0.1 corpus (f=3)
      4095L -> (5, 64, 8),
      4096L -> (6, 128, 16),      // f=4: EF_MAX binds, degree doubles
      Walk10x.N.toLong -> (6, 128, 16), // the measured 10× point
      32767L -> (6, 128, 16),
      32768L -> (7, 128, 24),     // f=5: ef capped, degree keeps pace
      262143L -> (7, 128, 24),
      262144L -> (8, 128, 32),    // f=6: HOPS_MAX and KNN_DEG_MAX bind
      100000000L -> (8, 128, 32)) // all clamps pinned from here up
    expect.foreach { case (n, (hops, ef, k)) =>
      assert(Similarity.walkHops(n) == hops,
        s"hops($n): got ${Similarity.walkHops(n)}, want $hops")
      assert(Similarity.walkEf(n) == ef,
        s"ef($n): got ${Similarity.walkEf(n)}, want $ef")
      assert(Similarity.knnK(n) == k,
        s"k($n): got ${Similarity.knnK(n)}, want $k")
      assert(Similarity.knnCand(n) == 3 * k)
    }
  }

  test("corpus generation is deterministic, unit-norm, and 10x-sized") {
    val s2 = spark
    import s2.implicits._
    val dir = Walk10x.dir(spark)
    val e = Tables.load(spark, dir, "embeddings")
    assert(e.count() == Walk10x.N.toLong)
    val r = e.filter($"vec_id" === 12345L).collect()(0)
    val v = r.getSeq[Float](1)
    assert(v.length == 64)
    val nrm = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-3, s"not unit-norm: $nrm")
    assert(Walk10x.dir(spark) == dir)
  }

  test("measured recall one x8 step past the largest real corpus " +
      "(the pinned walk10x row)") {
    val m = RecallReport.compute(spark, sf, Set("walk10x"))
    // the knobs the corpus engages: one hop deeper, ef at its cap,
    // degree doubled — the corrected r17 operating point
    assert(m("w10x_n") == 20480.0 && m("w10x_hops") == 6.0 &&
      m("w10x_ef") == 128.0 && m("w10x_queries") == 820.0)
    // exact pins (drift detection, the ScaleSpec convention); the
    // r16 verdict bar is hit@1 ≥ 0.9 at ≥10× — both faces clear it
    val pinned = Map(
      "w10x_s20b_hit_at1" -> 0.9598,
      "w10x_s20b_nn_in_beam" -> 0.9598,
      "w10x_s20h_hit_at1" -> 0.9878,
      "w10x_s20h_nn_in_beam" -> 0.9878)
    pinned.foreach { case (k, v) =>
      assert(m(k) == v, s"$k: got ${m(k)}, pinned $v")
    }
    assert(m("w10x_s20b_hit_at1") >= 0.9 && m("w10x_s20h_hit_at1") >= 0.9)
  }
}
