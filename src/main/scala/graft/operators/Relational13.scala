package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.CheckpointOps
import graft.functions.TextOps.{hash64, sqlHash64}

/** Thirteenth tranche — the incremental-ingest and sketch-sampling
  * shapes a 100 TB pipeline runs on every arrival batch, each
  * oracle-checked:
  *
  *  - q57: incremental aggregate maintenance — the d14 algebra applied
  *    to rollups: yesterday's per-key partial-aggregate STATE plus the
  *    new batch's partials merge to exactly the full-recompute answer,
  *    so the daily 100 TB scan becomes a state-table-sized merge;
  *  - x08: bottom-k-by-hash sample quantiles — a mergeable O(k)
  *    uniform sample per group under a FIXED hash, so the sketch is a
  *    deterministic function of the input set and (the x05/x07 trick)
  *    hash-checkable against DuckDB exactly, with the exact full-data
  *    quantiles riding along as the error report;
  *  - s13: product-quantization ANN (Jégou et al. 2011, IEEE TPAMI
  *    33(1)) — subspace codebooks, per-vector codes, and
  *    asymmetric-distance (ADC) top-k in EXACT fixed-point micro
  *    units (the s09/VecDotQ discipline), with the exact full-dim
  *    distance riding along for the rerank/recall readout.
  *
  * The reference ships none of these (it is an IOC ETL bridge,
  * `/root/reference/src/Datalake2Anomali.py:1-449`); they extend the
  * SURVEY §7.2 LLM-pipeline surface alongside tranches 1-12.
  */
object Relational13 extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---- q57: incremental aggregate maintenance -----------------------

  /** Incremental rollup maintenance: per-supplier order statistics
    * (count, Σqty, Σprice, min/max price) maintained as a mergeable
    * partial-aggregate state table. The "old" corpus (90% of
    * lineitem, orderkey % 10 ≠ 0) is aggregated into state once; the
    * arriving batch (orderkey % 10 = 0) aggregates independently; the
    * MERGE — union + re-aggregate of two key-sized frames — equals the
    * full-corpus rollup bit-for-bit, because every measure is chosen
    * from the commutative-monoid menu: counts and sums over exact
    * integers (quantity is integral; price is exact cents, ×100 before
    * the long cast), min/max over the same. No double ever sums, so
    * the result is independent of both merge order and engine.
    *
    * This is the ingest shape that matters at 100 TB: the daily
    * rollup touches only the new batch + a key-sized state table
    * (two narrow shuffles on the grouping key), never the history.
    * The oracle aggregates the full table directly — proving
    * state ⊕ delta ≡ recompute, the d14 contract for aggregates. */
  def q57(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem").select($"l_suppkey", $"l_orderkey",
      round($"l_quantity").cast("long").as("qty"),
      round($"l_extendedprice" * 100).cast("long").as("cents"))
    def partial(df: DataFrame): DataFrame = df.groupBy($"l_suppkey").agg(
      count(lit(1)).as("n"), sum($"qty").as("sum_qty"),
      sum($"cents").as("sum_cents"),
      min($"cents").as("min_cents"), max($"cents").as("max_cents"))
    val state = partial(li.filter($"l_orderkey" % 10 =!= 0)) // yesterday
    val delta = partial(li.filter($"l_orderkey" % 10 === 0)) // new batch
    state.unionByName(delta).groupBy($"l_suppkey").agg(
        sum($"n").as("n"), sum($"sum_qty").as("sum_qty"),
        sum($"sum_cents").as("sum_cents"),
        min($"min_cents").as("min_cents"), max($"max_cents").as("max_cents"))
      .orderBy($"l_suppkey")
  }

  private val q57Oracle =
    """SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS min_cents,
      |  max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS max_cents
      |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  // ---- x08: bottom-k sample quantiles -------------------------------

  private val X08_K = 128

  /** Per-event-type value quantiles (p50/p90/p99) from a bottom-k-by-
    * hash sample — [[graft.functions.Sampling.BottomK]], the mergeable
    * O(k) uniform sample — next to the exact full-data order
    * statistics as the rider error report. The quantile convention is
    * the interpolation-free lower order statistic: sorted v₁..vₙ,
    * index ⌊(n−1)·q⌋+1 — raw data values pass through untouched, so
    * every output cell is either an exact integer or a value that
    * appears verbatim in the input, and the whole row hash-matches
    * DuckDB with no rounding gate at all.
    *
    * Scale: the estimate path shuffles ≤ k·partitions (h, value)
    * pairs per group — constant state, the x05 shape — and its
    * √(q(1−q)/k) rank error (k=128: ±4.4pp at p50, ±0.9pp at p99) is
    * what a 100 TB latency/score monitor actually buys. The exact
    * rider is the offline truth pass (one full sort per group, the
    * cost the sketch exists to avoid) — kept in the registered query
    * so the gate checks BOTH faces, dropped by a production consumer.
    * Unlike percentile_approx/t-digest, the bottom-k estimate is
    * deterministic under the fixed hash: same input set, same answer,
    * any partitioning, any engine. */
  private def sidx(n: Column, q: Double): Column =
    (floor((n - lit(1)).cast("double") * lit(q)) + lit(1)).cast("int")

  /** The estimate face of [[x08]] as a shared frame-builder over any
    * (event_type, event_id, value) frame — ONE stateful aggregation,
    * so the streaming face ([[graft.streaming.EventStreams
    * .bottomKQuantilesStream]]) delegates to this exact body (the
    * IndexStream one-body discipline) and, the sketch being a
    * deterministic mergeable function of the input SET, equals the
    * batch answer exactly after any micro-batch replay. */
  def bottomKEstimates(ev0: DataFrame): DataFrame = {
    val ev = ev0.select(col("event_type"),
      hash64(concat(lit("x08:"), col("event_id").cast("string"))).as("h"),
      col("value"))
    val bk = udaf(graft.functions.Sampling.BottomK(X08_K))
    ev.groupBy(col("event_type"))
      .agg(bk(col("h"), col("value")).as("sample"))
      .select(col("event_type"),
        array_sort(transform(col("sample"), x => x.getField("v"))).as("vals"))
      .select(col("event_type"), size(col("vals")).cast("long").as("n_sample"),
        element_at(col("vals"), sidx(size(col("vals")), 0.5)).as("p50_est"),
        element_at(col("vals"), sidx(size(col("vals")), 0.9)).as("p90_est"),
        element_at(col("vals"), sidx(size(col("vals")), 0.99)).as("p99_est"))
  }

  def x08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events").select($"event_type", $"event_id", $"value",
      hash64(concat(lit("x08:"), $"event_id".cast("string"))).as("h"))
    val samp = bottomKEstimates(ev)
    val wv = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
    val wn = Window.partitionBy($"event_type")
    val full = ev
      .withColumn("rn", row_number().over(wv))
      .withColumn("n", count(lit(1)).over(wn))
    val exact = full.groupBy($"event_type").agg(
      max($"n").cast("long").as("n_total"),
      max(when($"rn" === sidx($"n", 0.5), $"value")).as("p50_exact"),
      max(when($"rn" === sidx($"n", 0.9), $"value")).as("p90_exact"),
      max(when($"rn" === sidx($"n", 0.99), $"value")).as("p99_exact"))
    samp.join(exact, Seq("event_type")).orderBy($"event_type")
  }

  private val x08Oracle =
    s"""WITH ev AS (SELECT event_type, event_id, value,
       |    ${sqlHash64("concat('x08:', CAST(event_id AS VARCHAR))")} AS h
       |  FROM events),
       |sk AS (SELECT event_type, value,
       |  row_number() OVER (PARTITION BY event_type ORDER BY h, value) AS hrn
       |  FROM ev),
       |samp AS (SELECT event_type, list_sort(list(value)) AS vals
       |  FROM sk WHERE hrn <= $X08_K GROUP BY event_type),
       |sq AS (SELECT event_type, CAST(len(vals) AS BIGINT) AS n_sample,
       |  vals[CAST(floor((len(vals)-1)*0.5) AS INT)+1] AS p50_est,
       |  vals[CAST(floor((len(vals)-1)*0.9) AS INT)+1] AS p90_est,
       |  vals[CAST(floor((len(vals)-1)*0.99) AS INT)+1] AS p99_est FROM samp),
       |fr AS (SELECT event_type, value,
       |  row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
       |  count(*) OVER (PARTITION BY event_type) AS n FROM ev),
       |fx AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n_total,
       |  max(CASE WHEN rn = CAST(floor((n-1)*0.5) AS BIGINT)+1 THEN value END) AS p50_exact,
       |  max(CASE WHEN rn = CAST(floor((n-1)*0.9) AS BIGINT)+1 THEN value END) AS p90_exact,
       |  max(CASE WHEN rn = CAST(floor((n-1)*0.99) AS BIGINT)+1 THEN value END) AS p99_exact
       |  FROM fr GROUP BY event_type)
       |SELECT sq.event_type, n_sample, p50_est, p90_est, p99_est,
       |  n_total, p50_exact, p90_exact, p99_exact
       |FROM sq JOIN fx ON sq.event_type = fx.event_type
       |ORDER BY sq.event_type""".stripMargin

  /** [[x08]] as SQL TEXT through the [[graft.GraftExtensions]]
    * surface (VERDICT r11 #5): the same bottom-k sample + exact rider,
    * but the sketch aggregation is the registered `graft_bottomk128`
    * SQL UDAF and the salt hash is the registered `hash64` kernel —
    * so the SQL face itself is oracle-gated (same DuckDB oracle as
    * x08), not just transitively spec-matched against the DataFrame
    * face. The temp view is namespaced (`graft_events`) to keep the
    * session catalog clean. */
  def x08s(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.install(s)
    t(s, dir, "events").createOrReplaceTempView("graft_events")
    s.sql(s"""
      |WITH ev AS (
      |  SELECT event_type, event_id, value,
      |         hash64(concat('x08:', CAST(event_id AS STRING))) AS h
      |  FROM graft_events),
      |samp AS (
      |  SELECT event_type,
      |         array_sort(transform(graft_bottomk128(h, value), x -> x.v)) AS vals
      |  FROM ev GROUP BY event_type),
      |sq AS (
      |  SELECT event_type, CAST(size(vals) AS BIGINT) AS n_sample,
      |         element_at(vals, CAST(floor(CAST(size(vals) - 1 AS DOUBLE) * 0.5D) AS INT) + 1) AS p50_est,
      |         element_at(vals, CAST(floor(CAST(size(vals) - 1 AS DOUBLE) * 0.9D) AS INT) + 1) AS p90_est,
      |         element_at(vals, CAST(floor(CAST(size(vals) - 1 AS DOUBLE) * 0.99D) AS INT) + 1) AS p99_est
      |  FROM samp),
      |fr AS (
      |  SELECT event_type, value,
      |         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |         count(1) OVER (PARTITION BY event_type) AS n
      |  FROM ev),
      |fx AS (
      |  SELECT event_type, CAST(max(n) AS BIGINT) AS n_total,
      |         max(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5D) AS INT) + 1 THEN value END) AS p50_exact,
      |         max(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.9D) AS INT) + 1 THEN value END) AS p90_exact,
      |         max(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.99D) AS INT) + 1 THEN value END) AS p99_exact
      |  FROM fr GROUP BY event_type)
      |SELECT sq.event_type, n_sample, p50_est, p90_est, p99_est,
      |       n_total, p50_exact, p90_exact, p99_exact
      |FROM sq JOIN fx ON sq.event_type = fx.event_type
      |ORDER BY sq.event_type
      |""".stripMargin)
  }

  // ---- s13: product-quantization ANN (ADC) --------------------------

  private val PQ_M = 4       // subspaces
  private val PQ_SUB = 16    // dims per subspace (4 × 16 = DIM 64)
  private val DIM = PQ_M * PQ_SUB // full embedding dimension (ADVICE r17:
                                  // the IVF centroid update previously
                                  // hardcoded 64 — a dim change would have
                                  // silently nulled positions past the end)
  private val PQ_K = 8       // codes per subspace (seeds = first 8 vectors)
  private[graft] val PQ_NQ = 3      // query vectors: vec_id < 3
  private val PQ_POOL = 50   // ADC candidate pool fed to the exact rerank
  private val PQ_TOPK = 10

  /** Fold-left squared distance between two float-array slices — the
    * s04/s07 engine-portable accumulation order. */
  private def sqd(v: Column, c: Column): Column =
    graft.functions.NativeKernels.vec_sqdist(v, c)

  /** Product-quantization ANN with asymmetric distance (ADC): split
    * the 64-dim embedding into [[PQ_M]]=4 subspaces of 16 dims,
    * quantize each subspace against a [[PQ_K]]-entry codebook
    * (deterministic init — the s07 seed convention: slices of the
    * first K vectors), and score each query against the corpus by
    * table lookup: adc(q,v) = Σₘ ‖qₘ − cb[m][codeₘ(v)]‖², computed
    * once per (query, subspace, code) — M·K·NQ cells — instead of
    * once per (query, vector, dimension).
    *
    * Every per-subspace lookup distance is quantized to integer
    * MICRO units before the Σₘ (round(d·10⁶) on a double both
    * engines computed bit-identically from the same floats), so the
    * ADC score is a SUM OF LONGS — exact, order-free, no
    * cross-engine float-accumulation gate: the s09/VecDotQ fixed-
    * point discipline applied to distance tables. Two stages, the
    * s06/IVF-rerank production shape: (1) ADC keeps a [[PQ_POOL]]
    * candidate pool per query via the
    * [[graft.functions.GroupedTopK.TopDocs]] bounded buffer
    * (score = −adc, the t38 discipline — map-side state ≤ pool per
    * query, no corpus-sized rank window); (2) the exact full-dim
    * distance is computed for POOL·NQ candidates only and the final
    * top-[[PQ_TOPK]] ranks by it. The ADC estimate and its pool
    * position ride along, so recall-vs-exact is measurable from the
    * output itself (the spec pins the measured number — seed
    * codebooks on this near-isotropic synthetic corpus put 40-80% of
    * the true top-10 in a 50-pool; a trained-codebook production run
    * re-trains per corpus with lloydIterate per subspace, which the
    * oracle deliberately avoids because double-averaged centroids
    * are not cross-engine bit-stable).
    *
    * Scale: codes are M small ints per vector — the 16× scan-width
    * compression that makes billion-vector search RAM-resident; the
    * corpus is scanned once to code (broadcast codebook, no
    * shuffle), once to score (broadcast LUT, one groupBy on
    * (q, vec) sized corpus·M·NQ); rerank touches pool·NQ vectors. At
    * 100 TB the codes table IS the index — materialized once,
    * re-scored per query batch. */
  private def mExp = explode(sequence(lit(0), lit(PQ_M - 1))).as("m")

  /** PQ codebook: (m, code, cvec) — subspace slices of the first
    * [[PQ_K]] vectors (the s07 deterministic seed convention). */
  private def pqCodebook(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < PQ_K)
      .select(col("vec_id").cast("int").as("code"), mExp, col("embedding"))
      .select(col("m"), col("code"),
        slice(col("embedding"), col("m") * PQ_SUB + 1, lit(PQ_SUB)).as("cvec"))

  /** Per-vector PQ codes: (vec_id, m, code) — nearest codebook entry
    * per subspace via min(struct) argmin (an aggregate, not a rank
    * window — the s08 discipline). */
  private def pqCodes(e: DataFrame, cb: DataFrame): DataFrame =
    e.select(col("vec_id"), mExp, col("embedding"))
      .select(col("vec_id"), col("m"),
        slice(col("embedding"), col("m") * PQ_SUB + 1, lit(PQ_SUB)).as("svec"))
      .join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), col("code"),
        sqd(col("svec"), col("cvec")).as("d"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d"), col("code"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.code").as("code"))

  /** Query distance LUT: (q_id, m, code, ld2) — micro-quantized
    * subspace distances, M·K rows per query. */
  private def pqLut(e: DataFrame, cb: DataFrame): DataFrame =
    pqLutFor(e.filter(col("vec_id") < PQ_NQ)
      .select(col("vec_id").as("q_id"), col("embedding")), cb)

  /** [[pqLut]] for an arbitrary (q_id, embedding) query frame — the
    * serving-path form (streaming queries arrive outside the corpus
    * id filter). */
  private[graft] def pqLutFor(q: DataFrame, cb: DataFrame): DataFrame =
    q.select(col("q_id"), mExp, col("embedding"))
      .select(col("q_id"), col("m"),
        slice(col("embedding"), col("m") * PQ_SUB + 1, lit(PQ_SUB)).as("qvec"))
      .join(broadcast(cb), Seq("m"))
      .select(col("q_id"), col("m"), col("code"),
        round(sqd(col("qvec"), col("cvec")) * 1e6).cast("long").as("ld2"))

  def s13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings").select($"vec_id", $"embedding")
    val cb = pqCodebook(e)
    val codes = pqCodes(e, cb)
    val lut = pqLut(e, cb)
    val pool = udaf(graft.functions.GroupedTopK.TopDocs(PQ_POOL))
    val adc = codes.join(broadcast(lut), Seq("m", "code"))
      .filter($"vec_id" =!= $"q_id")
      .groupBy($"q_id", $"vec_id")
      .agg(sum($"ld2").as("adc")) // exact long sum over M subspaces
      .groupBy($"q_id")
      .agg(pool(-$"adc", $"vec_id", lit(0L), lit(0L)).as("cand"))
      .select($"q_id", posexplode($"cand").as(Seq("pos", "r")))
      .select($"q_id", $"r.doc_id".as("neighbor_id"),
        (-$"r.score_ppm").as("adc_d2_micro"),
        ($"pos" + 1).cast("long").as("adc_rank"))
    // stage 2: exact full-dim rerank over the pool·NQ candidates only;
    // the rank window partition is ≤ PQ_POOL rows by construction
    val qe = e.filter($"vec_id" < PQ_NQ)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val wR = Window.partitionBy($"q_id").orderBy($"exact_d2_micro", $"neighbor_id")
    adc.join(e.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(broadcast(qe), Seq("q_id"))
      .select($"q_id", $"neighbor_id", $"adc_rank", $"adc_d2_micro",
        round(sqd($"q_emb", $"embedding") * 1e6).cast("long").as("exact_d2_micro"))
      .withColumn("rank", row_number().over(wR).cast("long"))
      .filter($"rank" <= PQ_TOPK)
      .orderBy($"q_id", $"rank")
  }

  private val s13Oracle = {
    val sqdSql = (a: String, b: String, len: Int) =>
      s"""list_sum([(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
         |      * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
         |    for i in range(1, ${len + 1})])""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |mm AS (SELECT CAST(unnest(range(0, $PQ_M)) AS BIGINT) AS m),
       |cb AS (SELECT m, CAST(vec_id AS INT) AS code,
       |    embedding[m*$PQ_SUB+1 : m*$PQ_SUB+$PQ_SUB] AS cvec
       |  FROM e CROSS JOIN mm WHERE vec_id < $PQ_K),
       |sub AS (SELECT vec_id, m,
       |    embedding[m*$PQ_SUB+1 : m*$PQ_SUB+$PQ_SUB] AS svec
       |  FROM e CROSS JOIN mm),
       |cd AS (SELECT vec_id, sub.m AS m, code,
       |    ${sqdSql("svec", "cvec", PQ_SUB)} AS d
       |  FROM sub JOIN cb ON sub.m = cb.m),
       |codes AS (SELECT vec_id, m, code FROM (SELECT vec_id, m, code,
       |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
       |  FROM cd) WHERE rn = 1),
       |qs AS (SELECT vec_id AS q_id, m,
       |    embedding[m*$PQ_SUB+1 : m*$PQ_SUB+$PQ_SUB] AS qvec
       |  FROM e CROSS JOIN mm WHERE vec_id < $PQ_NQ),
       |lut AS (SELECT q_id, qs.m AS m, code,
       |    CAST(round(${sqdSql("qvec", "cvec", PQ_SUB)} * 1000000) AS BIGINT) AS ld2
       |  FROM qs JOIN cb ON qs.m = cb.m),
       |adc AS (SELECT q_id, vec_id, CAST(sum(ld2) AS BIGINT) AS adc
       |  FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.code
       |  WHERE vec_id <> q_id GROUP BY q_id, vec_id),
       |rk AS (SELECT q_id, vec_id AS neighbor_id, adc AS adc_d2_micro,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id)
       |      AS BIGINT) AS adc_rank
       |  FROM adc),
       |ex AS (SELECT rk.q_id, rk.neighbor_id, adc_rank, adc_d2_micro,
       |    CAST(round(${sqdSql("q.embedding", "n.embedding", 64)} * 1000000)
       |      AS BIGINT) AS exact_d2_micro
       |  FROM rk JOIN e n ON n.vec_id = rk.neighbor_id
       |    JOIN e q ON q.vec_id = rk.q_id
       |  WHERE adc_rank <= $PQ_POOL),
       |rr AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY exact_d2_micro, neighbor_id) AS BIGINT) AS rank FROM ex)
       |SELECT q_id, neighbor_id, adc_rank, adc_d2_micro, exact_d2_micro, rank
       |FROM rr WHERE rank <= $PQ_TOPK
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---- s13t: TRAINED PQ codebooks (integer Lloyd) -------------------

  private val PQ_TRAIN_ITERS = 2
  private val Q20L = 1048576L

  /** Quantized subspace rows (vec_id, m, sq): every subspace
    * coordinate snapped to the Q20 grid (round(v·2²⁰) — one IEEE
    * step, bit-identical across engines), so EVERYTHING downstream —
    * training, assignment, ADC — is exact long arithmetic. */
  private[graft] def pqSubQ(e: DataFrame): DataFrame =
    e.select(col("vec_id"), mExp, col("embedding"))
      .select(col("vec_id"), col("m"),
        transform(slice(col("embedding"), col("m") * PQ_SUB + 1, lit(PQ_SUB)),
          x => round(x.cast("double") * Q20L).cast("long")).as("sq"))

  private[graft] def isqdL(a: Column, b: Column): Column =
    graft.functions.NativeKernels.vec_sqdist_l(a, b)

  /** [[PQ_TRAIN_ITERS]] rounds of per-subspace [[lloydQ20]], seeded
    * from the first [[PQ_K]] vectors' subspace slices. This is what
    * the s13 Scaladoc calls out as the production path ("a
    * trained-codebook run re-trains per corpus") made ORACLE-ABLE by
    * the s14 fixed-point discipline — double-averaged centroids are
    * not cross-engine bit-stable, Q20-summed ones are. */
  private[graft] def pqTrainCodebook(sub: DataFrame): DataFrame =
    lloydQ20(sub, sub.filter(col("vec_id") < PQ_K)
      .select(col("m"), col("vec_id").cast("int").as("code"),
        col("sq").as("cq")), Seq("m"), "code", "sq", PQ_SUB, PQ_TRAIN_ITERS)

  /** Nearest centroid per point `(vec_id, key…, v)` against a
    * centroid table `(key…, id, cq)`: the exact-long [[isqdL]]
    * distance with a (dist, id) total tie-break, as a `min(struct)`
    * aggregate over the broadcast centroids — never a rank window.
    * `key` scopes the search (PQ: the subspace `m`); empty = every
    * point against every centroid (IVF routing). Returns
    * `(vec_id, key…, id)`. */
  private def nearest(pts: DataFrame, cent: DataFrame, key: Seq[String],
      id: String, v: String): DataFrame = {
    val by = ("vec_id" +: key).map(col)
    val pairs =
      if (key.isEmpty) pts.crossJoin(broadcast(cent))
      else pts.join(broadcast(cent), key)
    pairs.select(by :+ col(id) :+ isqdL(col(v), col("cq")).as("d"): _*)
      .groupBy(by: _*)
      .agg(min(struct(col("d"), col(id))).as("best"))
      .select(by :+ col(s"best.$id").as(id): _*)
  }

  /** `iters` rounds of integer Lloyd on the Q20 grid — the one
    * trainer behind the PQ codebook (`key` = the subspace `m`,
    * centroids `code`) and the IVF router (no key, centroids
    * `cell`): assignment is [[nearest]]; the update divides
    * per-position long sums of the `dim`-wide `v` vectors with
    * truncating integer division (`DIV` ≡ DuckDB `//` — both truncate
    * toward zero, so the "mean" lands on the same grid point on every
    * engine, ≤ one Q20 ulp ≈ 1e-6 from the true centroid — noise for
    * clustering, gold for determinism); a centroid that lost every
    * point keeps its previous value via the left-join coalesce.
    * Seeded from `seed` `(key…, id, cq)`; per-round snapshots
    * checkpointed and freed. Each round is one broadcast-centroid
    * argmin scan + one centroid-keyed aggregate — the points are
    * scanned twice per round, the state is centroids × `dim`. */
  private def lloydQ20(pts: DataFrame, seed: DataFrame, key: Seq[String],
      id: String, v: String, dim: Int, iters: Int): DataFrame = {
    val cell = (key :+ id).map(col)
    CheckpointOps.rounds(seed.localCheckpoint(), iters) { (cent, _) =>
      // centroid update in ONE aggregate: per-position long sums as
      // `dim` parallel sum() columns instead of posexplode → a
      // (cell, pos) aggregate → a second collect_list re-assembly
      // (r17, guide §2.3/§2.4: the explode multiplied the shuffle
      // rows ×dim and the two-level groupBy paid a second exchange;
      // the sums are the same exact longs, the array order explicit
      // by position)
      val upd = nearest(pts, cent, key, id, v).join(pts, "vec_id" +: key)
        .groupBy(cell: _*)
        .agg(count(lit(1)).as("n"),
          array((0 until dim).map(i =>
            sum(element_at(col(v), i + 1))): _*).as("svs"))
        .select(cell :+ transform(col("svs"),
          sv => call_function("div", sv, col("n"))).as("ncq"): _*)
      cent.join(upd, key :+ id, "left")
        .select(cell :+ coalesce(col("ncq"), col("cq")).as("cq"): _*)
    }
  }

  /** s13's two-stage ADC retrieval with TRAINED codebooks: identical
    * machinery, but the codebook is [[pqTrainCodebook]]'s integer
    * Lloyd output instead of raw seed slices, and every distance is
    * already a long on the Q20 grid (`adc_d2q` is in Q40 area units
    * — the consumer rescales by 2⁻⁴⁰; no float, no round, no
    * cross-engine gate anywhere). The point of the variant is
    * MEASURED: Relational13Spec pins recall@10 of trained-vs-seed on
    * this corpus, the lift a production PQ deployment pays two
    * vocabulary-sized training rounds for. */
  def s13t(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings").select($"vec_id", $"embedding")
    val sub = pqSubQ(e).localCheckpoint()
    val cb = pqTrainCodebook(sub)
    s13tServe(e, sub, cb)
  }

  private val pqCache = Materialized[(DataFrame, DataFrame)]()

  /** Frozen trained-PQ state — (quantized subspaces, trained
    * codebook), trained ONCE; the d06m/s12m materialization
    * convention applied to the ANN index lifecycle, so [[s13tm]]
    * prices SERVING separately from the training run (VERDICT r11
    * #6). Both frames are localCheckpoints: corpus-sized `sub` and
    * the K·M-row codebook. */
  def materializedTrainedPQ(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    pqCache(s, dir) {
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val sub = pqSubQ(e).localCheckpoint()
      (sub, pqTrainCodebook(sub))
    }

  /** [[s13t]] from the frozen codebook: only codes/LUT/ADC/rerank run
    * per call — the serving cost a deployed PQ index pays per query
    * batch, with training amortized into the one-time materialization
    * (the q51m/t29m convention). Output is identical to [[s13t]]
    * (same oracle) because training is deterministic: same corpus,
    * same integer Lloyd, same codebook. */
  def s13tm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings").select($"vec_id", $"embedding")
    val (sub, cb) = materializedTrainedPQ(s, dir)
    s13tServe(e, sub, cb)
  }

  /** The serving tail shared by [[s13t]] and [[s13tm]]: PQ codes +
    * query LUT from a given codebook, integer ADC pool, exact
    * rerank. */
  private def s13tServe(e: DataFrame, sub: DataFrame, cb: DataFrame)
      : DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val codes = nearest(sub, cb, Seq("m"), "code", "sq")
    val lut = sub.filter($"vec_id" < PQ_NQ)
      .select($"vec_id".as("q_id"), $"m", $"sq")
      .join(broadcast(cb), Seq("m"))
      .select($"q_id", $"m", $"code", isqdL($"sq", $"cq").as("ld2"))
    val pool = udaf(graft.functions.GroupedTopK.TopDocs(PQ_POOL))
    val adc = codes.join(broadcast(lut), Seq("m", "code"))
      .filter($"vec_id" =!= $"q_id")
      .groupBy($"q_id", $"vec_id")
      .agg(sum($"ld2").as("adc"))
      .groupBy($"q_id")
      .agg(pool(-$"adc", $"vec_id", lit(0L), lit(0L)).as("cand"))
      .select($"q_id", posexplode($"cand").as(Seq("pos", "r")))
      .select($"q_id", $"r.doc_id".as("neighbor_id"),
        (-$"r.score_ppm").as("adc_d2q"),
        ($"pos" + 1).cast("long").as("adc_rank"))
    val qe = e.filter($"vec_id" < PQ_NQ)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val wR = Window.partitionBy($"q_id").orderBy($"exact_d2_micro", $"neighbor_id")
    val out = adc.join(e.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(broadcast(qe), Seq("q_id"))
      .select($"q_id", $"neighbor_id", $"adc_rank", $"adc_d2q",
        round(sqd($"q_emb", $"embedding") * 1e6).cast("long").as("exact_d2_micro"))
      .withColumn("rank", row_number().over(wR).cast("long"))
      .filter($"rank" <= PQ_TOPK)
      .orderBy($"q_id", $"rank")
    // `sub` stays checkpointed: the RETURNED frame still reads it
    // (codes + lut), so freeing here would pull blocks out from under
    // a lazy consumer (unlike s12, whose pageRankOver output is
    // itself checkpointed). One corpus-sized snapshot, session-scoped;
    // the per-round training snapshots above ARE freed.
    out
  }

  /** The trained-PQ CTE chain SHARED by the s13t and s14/s26i/s26d
    * oracles (r15 verdict #2 moved s14's fine stage onto the trained
    * codebook, so the replay is one chain — the suffix-chain
    * convention): expects an `e(vec_id, embedding, ...)` CTE; defines
    * the Q20 subspace rows (`sub`), the unrolled integer-Lloyd rounds
    * (`cb0`..`cbN`), the per-vector codes (`pqc`) and the integer
    * query LUT (`lut`, vec_id < [[PQ_NQ]]). */
  private lazy val sqlTrainedPqChain: String = {
    val isq = (a: String, b: String) =>
      s"CAST(list_sum([($a[j] - $b[j]) * ($a[j] - $b[j]) for j in range(1, ${PQ_SUB + 1})]) AS BIGINT)"
    val iters = (1 to PQ_TRAIN_ITERS).map { i =>
      s"""d$i AS (SELECT vec_id, sub.m AS m, code, ${isq("sq", "cq")} AS d
         |  FROM sub JOIN cb${i - 1} ON sub.m = cb${i - 1}.m),
         |a$i AS (SELECT vec_id, m, code FROM (SELECT vec_id, m, code,
         |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
         |  FROM d$i) WHERE rn = 1),
         |u$i AS (SELECT a.m AS m, code, pos,
         |    CAST(sum(sq[pos]) AS BIGINT) AS sv, CAST(count(*) AS BIGINT) AS n
         |  FROM a$i a JOIN sub ON sub.vec_id = a.vec_id AND sub.m = a.m
         |  CROSS JOIN pp GROUP BY 1, 2, 3),
         |n$i AS (SELECT m, code, list(sv // n ORDER BY pos) AS ncq
         |  FROM u$i GROUP BY m, code),
         |cb$i AS (SELECT p.m, p.code, coalesce(ncq, cq) AS cq
         |  FROM cb${i - 1} p LEFT JOIN n$i ON n$i.m = p.m AND n$i.code = p.code)"""
        .stripMargin
    }.mkString(",\n")
    val cbN = s"cb$PQ_TRAIN_ITERS"
    s"""mm AS (SELECT CAST(unnest(range(0, $PQ_M)) AS BIGINT) AS m),
       |pp AS (SELECT CAST(unnest(range(1, ${PQ_SUB + 1})) AS BIGINT) AS pos),
       |sub AS (SELECT vec_id, m,
       |  [CAST(round(CAST(embedding[m*$PQ_SUB+i] AS DOUBLE) * $Q20L) AS BIGINT)
       |    for i in range(1, ${PQ_SUB + 1})] AS sq
       |  FROM e CROSS JOIN mm),
       |cb0 AS (SELECT m, CAST(vec_id AS INT) AS code, sq AS cq
       |  FROM sub WHERE vec_id < $PQ_K),
       |$iters,
       |cd AS (SELECT vec_id, sub.m AS m, code, ${isq("sq", "cq")} AS d
       |  FROM sub JOIN $cbN ON sub.m = $cbN.m),
       |pqc AS (SELECT vec_id, m, code FROM (SELECT vec_id, m, code,
       |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
       |  FROM cd) WHERE rn = 1),
       |lut AS (SELECT q.vec_id AS q_id, q.m AS m, code, ${isq("q.sq", "cq")} AS ld2
       |  FROM sub q JOIN $cbN ON q.m = $cbN.m WHERE q.vec_id < $PQ_NQ)"""
      .stripMargin
  }

  private lazy val s13tOracle: String = {
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |$sqlTrainedPqChain,
       |adc AS (SELECT q_id, vec_id, CAST(sum(ld2) AS BIGINT) AS adc
       |  FROM pqc JOIN lut ON pqc.m = lut.m AND pqc.code = lut.code
       |  WHERE vec_id <> q_id GROUP BY q_id, vec_id),
       |rk AS (SELECT q_id, vec_id AS neighbor_id, adc AS adc_d2q,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id)
       |      AS BIGINT) AS adc_rank
       |  FROM adc),
       |ex AS (SELECT rk.q_id, rk.neighbor_id, adc_rank, adc_d2q,
       |    CAST(round(list_sum([(CAST(q.embedding[i] AS DOUBLE) - CAST(n.embedding[i] AS DOUBLE))
       |        * (CAST(q.embedding[i] AS DOUBLE) - CAST(n.embedding[i] AS DOUBLE))
       |      for i in range(1, 65)]) * 1000000) AS BIGINT) AS exact_d2_micro
       |  FROM rk JOIN e n ON n.vec_id = rk.neighbor_id
       |    JOIN e q ON q.vec_id = rk.q_id
       |  WHERE adc_rank <= $PQ_POOL),
       |rr AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY exact_d2_micro, neighbor_id) AS BIGINT) AS rank FROM ex)
       |SELECT q_id, neighbor_id, adc_rank, adc_d2q, exact_d2_micro, rank
       |FROM rr WHERE rank <= $PQ_TOPK
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---- e11: windowed trending top-k ---------------------------------

  private val E11_K = 3

  /** Trending entities: the top-[[E11_K]] users by event count per
    * tumbling day window — the "what's hot this hour" readout every
    * event platform serves, and the canonical composition of a
    * windowed aggregate with the grouped-top-k cut. The cut rides the
    * [[graft.functions.GroupedTopK.TopDocs]] bounded buffer keyed by
    * WINDOW (the t38/q34 discipline): a viral window's partition
    * never materializes a full ranking — every map partition
    * contributes ≤ k (count, user) pairs per window, so the
    * second-stage shuffle carries k·windows·partitions rows no matter
    * how hot the window. Counts are exact integers with a total
    * (n desc, user) tie-break — oracle-exact, no estimator.
    *
    * Scale: stage 1 is the one data-sized shuffle (window, user) —
    * the same key any per-entity windowed metric pays; stage 2 is
    * k-bounded. A 100 TB day with a single viral window costs the
    * same top-k state as a quiet one. */
  def e11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val topk = udaf(graft.functions.GroupedTopK.TopDocs(E11_K))
    t(s, dir, "events")
      .select(date_trunc("day", $"ts").as("day"), $"user_id")
      .groupBy($"day", $"user_id").agg(count(lit(1)).as("n"))
      .groupBy($"day")
      .agg(topk($"n", $"user_id", lit(0L), lit(0L)).as("top"))
      .select($"day", posexplode($"top").as(Seq("pos", "r")))
      .select($"day", ($"pos" + 1).cast("long").as("rank"),
        $"r.doc_id".as("user_id"), $"r.score_ppm".as("n"))
      .orderBy($"day", $"rank")
  }

  private val e11Oracle =
    s"""WITH c AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |    user_id, CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |r AS (SELECT day, user_id, n,
       |  CAST(row_number() OVER (PARTITION BY day ORDER BY n DESC, user_id)
       |    AS BIGINT) AS rank FROM c)
       |SELECT day, rank, user_id, n FROM r WHERE rank <= $E11_K
       |ORDER BY day, rank""".stripMargin

  // ---- s14: IVF-PQ (cell-probed ADC + exact rerank) -----------------

  private val IVF_CELLS = 32  // inverted-file cells (r16: the 10 label
                              // cells were the measured router bottleneck —
                              // finer Voronoi cells raise coverage at a
                              // LOWER probe share: 8/32 = 25% vs 4/10 = 40%)
  private val IVF_PROBE = 8   // cells probed per query (BASE cut — see
                              // [[adaptiveProbe]] for the filtered form)
  private val IVF_POOL = 50   // ADC pool within the probed cells (= PQ_POOL:
                              // r15 verdict #2 — the 30-pool gave away
                              // pool recall the probe cut hadn't already cost)
  private val IVF_TRAIN_ITERS = 2 // coarse-centroid Lloyd rounds (r15 #2)
  private val Q20 = 1048576.0 // fixed-point scale for centroid routing

  /** IVF-PQ — the composition a billion-vector serving system
    * actually runs (Jégou et al. 2011 §V: inverted file for the
    * coarse cut, product codes for the fine distance): route each
    * query to its [[IVF_PROBE]] nearest cells, ADC-score ONLY the
    * probed cells' members, pool, and exact-rerank the pool. Both
    * quantizers are TRAINED (r15 verdict #2 — the static label-mean
    * router + seed codebook capped recall@10 at 0.333 at sf0.1):
    * the coarse centroids seed from the first [[IVF_CELLS]] quantized
    * vectors (the s07/PQ_K deterministic convention — the oracle's
    * ct0 CTE replays `vec_id < IVF_CELLS`) and take
    * [[IVF_TRAIN_ITERS]] integer-Lloyd rounds on the full-dim Q20
    * grid ([[lloydQ20]]); the fine distances use the s13t
    * trained per-subspace codebook ([[materializedTrainedPQ]] —
    * measured +10pp over seed slices). MEMBERSHIP is geometric —
    * every vector assigns to its nearest trained centroid, the
    * actual IVF inverted-file build (a label is metadata; a cell is
    * a Voronoi region).
    *
    * Training, routing, assignment, and ADC are exact integer
    * arithmetic end to end: centroids AND vectors quantize to Q20
    * fixed point (round(v·2²⁰) — ~1e-6 grid against a ~1e-16
    * cross-engine avg wobble), Lloyd updates divide long sums with
    * truncating `DIV` ≡ `//`, so every decision is a sum of LONGS
    * with a total tie-break — deterministic on any engine, no
    * double-ranking gate anywhere (the s09/VecDotQ discipline;
    * `adc_d2q` is in Q40 area units, the s13t convention).
    *
    * Scale: the probe cut means the ADC stage touches
    * nProbe/nCells of the corpus (8/32 here; 1/1000s in production)
    * — the knob that makes exhaustive-scan ANN a per-cell scan; the
    * centroid table is nCells·DIM longs broadcast; training adds
    * [[IVF_TRAIN_ITERS]] × (one broadcast-argmin scan + one
    * (cell, pos) aggregate) to the BUILD, nothing to the query.
    * Recall decomposes as router recall × PQ-pool recall, both
    * measured in the spec and the Recall report. */
  /** The FROZEN serving index for [[s14]] and the streaming face
    * ([[graft.streaming.AnnStream]]): corpus embeddings, Q20 cell
    * centroids, PQ codebook, and the cell-joined PQ codes — built
    * once per corpus; queries only read it. */
  private[graft] case class IvfIndex(
      e: DataFrame, cent: DataFrame, cb: DataFrame, codes: DataFrame)

  private def q20(v: Column): Column =
    transform(v, x => round(x.cast("double") * Q20).cast("long"))

  private[graft] def ivfIndex(s: SparkSession, dir: String): IvfIndex = {
    import s.implicits._
    val e = t(s, dir, "embeddings").select($"vec_id", $"embedding")
    // fine distances: the TRAINED per-subspace codebook (s13t's
    // integer Lloyd — measured +10pp over seed slices at sf0.1), so
    // every downstream distance is exact long arithmetic on the grid
    val (sub, cb) = materializedTrainedPQ(s, dir)
    ivfIndexFrom(e, sub, cb)
  }

  /** The index build over an arbitrary (corpus, quantized-subspaces,
    * codebook) triple — shared by the full-corpus [[ivfIndex]] and
    * the non-arrival [[ivfBaseIndex]] the s27 insert face builds
    * against. */
  private def ivfIndexFrom(e: DataFrame, sub: DataFrame,
      cb: DataFrame): IvfIndex = {
    val s = e.sparkSession
    import s.implicits._
    val vq = e.select($"vec_id", q20($"embedding").as("qq")).localCheckpoint()
    // the first [[IVF_CELLS]] quantized vectors SEED the centroids
    // (the s07/PQ_K deterministic convention), then integer Lloyd
    // (r15 verdict #2 / r16: the 10 static label-mean cells were the
    // measured router bottleneck — labels are metadata, Voronoi
    // regions are geometry, and 32 trained cells cover a query's
    // neighborhood at a lower probe share). On a restricted corpus
    // the rule stays `vec_id < IVF_CELLS` — arrivals among the first
    // 32 ids just leave fewer seed cells, and every downstream read
    // derives the cell count from the trained table itself.
    val seed = vq.filter($"vec_id" < IVF_CELLS)
      .select($"vec_id".cast("int").as("cell"), $"qq".as("cq"))
    // the router trains by the same integer Lloyd as the PQ codebook
    // (r15 verdict #2), over the full-dim grid with no subspace key
    val cent = lloydQ20(vq, seed, Nil, "cell", "qq", DIM, IVF_TRAIN_ITERS)
    // inverted-file build: every vector to its nearest TRAINED
    // centroid — min(struct) argmin (an aggregate, not a rank window)
    val asn = nearest(vq, cent, Nil, "cell", "qq")
    val codes = nearest(sub, cb, Seq("m"), "code", "sq")
      .join(asn, Seq("vec_id"))
      .localCheckpoint()
    CheckpointOps.freeLocalCheckpoint(vq)
    IvfIndex(e, cent, cb, codes)
  }

  /** The s27 BASE index: both quantizers trained on the NON-ARRIVAL
    * subset only (the s21 pinned-base convention — [[Similarity
    * .arrivalRule]]'s hash split, shared with the graph insert face
    * so s25's churn statistics describe both indexes), codes for the
    * base corpus. Arrivals are strictly unseen by training. */
  private[graft] def ivfBaseIndex(s: SparkSession, dir: String): IvfIndex = {
    import s.implicits._
    // checkpoint the hash-split base (the s21 baseE convention):
    // without it the md5 membership chain substitutes into every
    // downstream plan site (train, assign, codes, serve) — the t37
    // bug class PlanAuditSpec's kernel sweep bounds
    val e = t(s, dir, "embeddings").select($"vec_id", $"embedding")
      .filter(!Similarity.arrivalRule($"vec_id")).localCheckpoint()
    val sub = pqSubQ(e).localCheckpoint()
    val cb = pqTrainCodebook(sub)
    ivfIndexFrom(e, sub, cb)
  }

  private val ivfBaseCache = Materialized[IvfIndex]()

  /** [[ivfBaseIndex]] trained once — the serving asset behind
    * [[s27m]], mirroring [[materializedIvfIndex]]. */
  private[graft] def materializedIvfBaseIndex(s: SparkSession,
      dir: String): IvfIndex =
    ivfBaseCache(s, dir)(ivfBaseIndex(s, dir))

  /** Integer-routed probe cut for a (q_id, embedding) query frame:
    * each query's `nProbe` nearest cells by exact long arithmetic on
    * the Q20 grid (default [[IVF_PROBE]] — the unfiltered serving
    * cut). */
  private[graft] def ivfRoute(cent: DataFrame, q: DataFrame,
      nProbe: Int = IVF_PROBE): DataFrame = {
    val wP = Window.partitionBy(col("q_id")).orderBy(col("rdist"), col("cell"))
    q.select(col("q_id"), q20(col("embedding")).as("qq"))
      .crossJoin(broadcast(cent))
      .select(col("q_id"), col("cell"), isqdL(col("qq"), col("cq")).as("rdist"))
      .withColumn("prn", row_number().over(wP))
      .filter(col("prn") <= nProbe)
      .select(col("q_id"), col("cell"))
  }

  /** SELECTIVITY-ADAPTIVE nProbe (r15 verdict #2, the fix the s26i
    * docstring named): under a predicate that qualifies only a
    * `qualifying / total` share of the corpus, the probe cut must
    * widen to keep the EXPECTED number of qualifying candidates
    * scanned constant — nProbe = min(nCells, ⌈[[IVF_PROBE]] ·
    * total / qualifying⌉), integer-exact ceiling division on both
    * engines. At selectivity 1 this is exactly [[IVF_PROBE]]; at the
    * production <1% selectivities it saturates at nCells, where the
    * ADC stage still touches only selectivity× the corpus (the
    * inverted file is pre-filtered) — probe-share economics preserved
    * at constant recall instead of constant cell count. The counts
    * are two metadata-sized aggregates (one per side), the q71/q77
    * driver-read convention. */
  private[graft] def adaptiveProbe(nCells: Long, total: Long,
      qualifying: Long): Int = {
    // the s25 zero-denominator discipline: an empty qualifying set
    // means the caller's predicate matches nothing — raise with the
    // real cause instead of an ArithmeticException three frames down
    require(qualifying > 0,
      s"adaptiveProbe: predicate qualifies 0 of $total rows - " +
        "an empty filtered search has no probe cut to size")
    math.min(nCells,
      (IVF_PROBE.toLong * total + qualifying - 1L) / qualifying).toInt
  }

  /** ADC over the probed cells + exact full-dim rerank — the s14
    * tail for an arbitrary query frame against a frozen index. The
    * streaming face calls exactly this per refresh, which is what
    * makes stream ≡ batch parity bit-exact. */
  private[graft] def ivfServe(ix: IvfIndex, q: DataFrame,
      probes: DataFrame): DataFrame = {
    val s = ix.e.sparkSession
    import s.implicits._
    // integer query LUT against the TRAINED codebook: query subspaces
    // snapped to the same Q20 grid, distances exact longs (Q40 area
    // units, `adc_d2q` — the s13t discipline; no float, no round)
    val lut = pqSubQ(q.select(col("q_id").as("vec_id"), col("embedding")))
      .select(col("vec_id").as("q_id"), col("m"), col("sq"))
      .join(broadcast(ix.cb), Seq("m"))
      .select($"q_id", $"m", $"code", isqdL($"sq", $"cq").as("ld2"))
    val pool = udaf(graft.functions.GroupedTopK.TopDocs(IVF_POOL))
    val adc = ix.codes.join(broadcast(probes), Seq("cell"))
      .join(broadcast(lut), Seq("q_id", "m", "code"))
      .filter($"vec_id" =!= $"q_id")
      .groupBy($"q_id", $"vec_id", $"cell")
      .agg(sum($"ld2").as("adc"))
      .groupBy($"q_id")
      .agg(pool(-$"adc", $"vec_id", $"cell".cast("long"), lit(0L)).as("cand"))
      .select($"q_id", posexplode($"cand").as(Seq("pos", "r")))
      .select($"q_id", $"r.doc_id".as("neighbor_id"),
        (-$"r.score_ppm").as("adc_d2q"), $"r.tf".cast("int").as("cell"))
    val qe = q.select($"q_id", $"embedding".as("q_emb"))
    val wR = Window.partitionBy($"q_id").orderBy($"exact_d2_micro", $"neighbor_id")
    adc.join(ix.e.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(broadcast(qe), Seq("q_id"))
      .select($"q_id", $"neighbor_id", $"cell", $"adc_d2q",
        round(sqd($"q_emb", $"embedding") * 1e6).cast("long").as("exact_d2_micro"))
      .withColumn("rank", row_number().over(wR).cast("long"))
      .filter($"rank" <= PQ_TOPK)
      .orderBy($"q_id", $"rank")
  }

  def s14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ix = ivfIndex(s, dir)
    val q = ix.e.filter($"vec_id" < PQ_NQ)
      .select($"vec_id".as("q_id"), $"embedding")
    ivfServe(ix, q, ivfRoute(ix.cent, q))
  }

  private val ivfCache = Materialized[IvfIndex]()

  /** The frozen [[IvfIndex]] trained ONCE — the
    * [[materializedTrainedPQ]]/s13tm convention applied to the WHOLE
    * trained-IVF asset set (r16 verdict #2: s14/s26i re-trained both
    * quantizers per execution — 3-4 s of pure build cost per bench
    * rep that a production deployment pays once). `cent` (nCells·DIM
    * longs), `codes` (the inverted file), and the PQ codebook are
    * already localCheckpoints from [[ivfIndex]]/[[materializedTrainedPQ]];
    * this just pins the trained instance so every serving call reads
    * the same frozen index. */
  private[graft] def materializedIvfIndex(s: SparkSession,
      dir: String): IvfIndex =
    ivfCache(s, dir)(ivfIndex(s, dir))

  /** [[s14]] from the frozen index: only route → probe semi-join →
    * integer ADC → exact rerank run per call — the serving cost a
    * deployed IVF-PQ index pays per query batch, training amortized
    * into the one-time materialization (the s13tm/s20m convention).
    * Output ≡ [[s14]] (same oracle): training is deterministic, so
    * fresh and frozen indexes are the same index. */
  def s14m(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ix = materializedIvfIndex(s, dir)
    val q = ix.e.filter($"vec_id" < PQ_NQ)
      .select($"vec_id".as("q_id"), $"embedding")
    ivfServe(ix, q, ivfRoute(ix.cent, q))
  }

  /** [[s26i]] from the frozen index — filtered serving at serving
    * cost: the qualifying semi-join, adaptive probe cut, ADC and
    * rerank run per call against the materialized inverted file.
    * Output ≡ [[s26i]] (same oracle). */
  def s26im(s: SparkSession, dir: String): DataFrame =
    s26iOver(materializedIvfIndex(s, dir), s, dir,
      col("lang") === Similarity.FILTER_LANG)

  // ---- s27: IVF index write faces (insert / delete) -----------------

  /** Encode NEW vectors against a FROZEN index: assign each to its
    * nearest trained cell and PQ-code it against the trained
    * codebook — two broadcast argmins over exact Q20 longs, ZERO
    * retraining (Jégou et al. 2011 §V's `add`: the quantizers are
    * corpus statistics, membership is per-row geometry). Per row the
    * result depends only on (vector, frozen quantizers), so inserts
    * are order-independent and micro-batch ≡ bulk BY CONSTRUCTION
    * (IvfWriteSpec proves it on data) — the property that makes the
    * face exactly-once-replayable under redelivery, the s21
    * mergeability argument with the top-k lemma replaced by plain
    * per-row purity.
    *
    * At 100 TB: one broadcast of nCells·DIM + K·M codebook longs;
    * each arrival costs nCells + M·K long distances — no corpus
    * scan, no shuffle beyond the arrivals' own partitioning. */
  private[graft] def ivfEncode(ix: IvfIndex, arrivals: DataFrame): DataFrame = {
    val s = ix.e.sparkSession
    import s.implicits._
    val vq = arrivals.select($"vec_id", q20($"embedding").as("qq"))
    val asn = nearest(vq, ix.cent, Nil, "cell", "qq")
    nearest(pqSubQ(arrivals), ix.cb, Seq("m"), "code", "sq")
      .join(asn, Seq("vec_id"))
      .select($"vec_id", $"cell", $"m", $"code")
  }

  /** INCREMENTAL IVF INSERT (s27) — the lifecycle face the graph
    * index already had (s21) applied to the trained-IVF tier (r16
    * verdict #4): the index is trained on the PINNED non-arrival
    * base ([[ivfBaseIndex]]), arrivals are [[ivfEncode]]d against
    * the frozen quantizers and UNIONed into the inverted file, and
    * the standard serving tail runs over the updated index — base
    * queries can now retrieve arrival neighbors. The DuckDB oracle
    * replays training over the base subset and the arrival encode
    * as two more argmin CTEs (frozen-codebook arithmetic is exactly
    * replayable — the reason insert needs no weaker gate). Fresh
    * build per call (the s21 pricing convention); [[s27m]] is the
    * serving twin. */
  def s27(s: SparkSession, dir: String): DataFrame =
    s27Serve(s, dir, ivfBaseIndex(s, dir))

  /** [[s27]] over the once-trained base index — per call only the
    * arrivals' two argmins, the union, and the serving tail run (the
    * s21m convention): the per-micro-batch ingest cost. */
  def s27m(s: SparkSession, dir: String): DataFrame =
    s27Serve(s, dir, materializedIvfBaseIndex(s, dir))

  private def s27Serve(s: SparkSession, dir: String,
      ix: IvfIndex): DataFrame = {
    import s.implicits._
    val full = t(s, dir, "embeddings").select($"vec_id", $"embedding")
    // the arrival batch and its encoded codes are both checkpointed:
    // arrivals feed ivfEncode TWICE (route + subspaces), and the
    // union would otherwise replay the md5 split per serving branch
    val arrivals = full.filter(Similarity.arrivalRule($"vec_id"))
      .localCheckpoint()
    val upd = ix.copy(e = full,
      codes = ix.codes.unionByName(ivfEncode(ix, arrivals).localCheckpoint()))
    val q = ix.e.filter($"vec_id" < PQ_NQ)
      .select($"vec_id".as("q_id"), $"embedding")
    ivfServe(upd, q, ivfRoute(ix.cent, q))
  }

  /** IVF DELETE (s27d) — tombstone + inverted-file filter (the q64
    * merge-on-read convention applied to the index tier): the
    * trained quantizers are untouched (they are corpus STATISTICS —
    * deleting a member doesn't move a centroid any more than it
    * un-trains a model), the deleted ids ([[Similarity
    * .tombstoneRule]]'s hash split, shared with s22 so s25 prices
    * one churn reality) are filtered out of the inverted file, and
    * serving runs the standard tail — a deleted vector can never be
    * returned, at METADATA cost: no rebuild, no repair pass (an IVF
    * cell list, unlike a graph neighborhood, has no connectivity to
    * restore — the structural reason this face is cheap where s22
    * needs local repair). Runs against the frozen full-corpus index
    * ([[materializedIvfIndex]]): delete IS a serving-time operation,
    * so it is priced at serving cost by construction. Codebook
    * staleness from accumulated churn is s25's `codebook_staleness`
    * row. */
  def s27d(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ix = materializedIvfIndex(s, dir)
    val live = ix.copy(codes =
      ix.codes.filter(!Similarity.tombstoneRule($"vec_id")))
    val q = ix.e.filter($"vec_id" < PQ_NQ)
      .select($"vec_id".as("q_id"), $"embedding")
    ivfServe(live, q, ivfRoute(ix.cent, q))
  }

  /** FILTERED IVF-PQ ANN (s26i) — s26's metadata predicate composed
    * INSIDE [[s14]]'s probed cells, registered as its own query (r14
    * verdict #4: the s26 docstring stated this composition; now the
    * gate checks it). The qualifying-id semi-join applies to the
    * INVERTED FILE (the per-cell code lists) before the ADC stage, so
    * a query pays probe-share × selectivity of the corpus — the
    * billion-vector filtered-serving shape: routing still sees every
    * cell (centroids are corpus statistics, not per-predicate
    * assets), ADC and rerank touch only qualifying members of probed
    * cells. vs s26's exact pre-filter scan: same predicate semantics,
    * probe-share economics. The thin-cell loss mode (a probed cell
    * with no qualifying member contributes nothing — the standard
    * filtered-IVF loss) is countered the way production deployments
    * counter it (r15 verdict #2): the probe cut WIDENS with the
    * predicate's selectivity ([[adaptiveProbe]] — constant expected
    * qualifying candidates scanned), and the Recall report measures
    * the result against the exact filtered ranking. The crossover to
    * s26's pre-filter-exact scan at low selectivity is dispatched by
    * [[s26d]]. */
  def s26i(s: SparkSession, dir: String): DataFrame =
    s26iOver(ivfIndex(s, dir), s, dir, col("lang") === Similarity.FILTER_LANG)

  /** The s26i body over a given (fresh or materialized) index and an
    * arbitrary documents-table predicate (r16 verdict #1/#2). An
    * EMPTY qualifying set returns an empty top-k — the
    * production-shaped answer (r16 verdict #7): the probe cut is
    * moot, so we probe every cell of an inverted file the semi-join
    * has emptied; [[adaptiveProbe]]'s zero-guard stays the internal
    * contract for callers that DO claim a non-empty subset. */
  private[graft] def s26iOver(ix: IvfIndex, s: SparkSession, dir: String,
      pred: Column): DataFrame = {
    import s.implicits._
    val allowed = t(s, dir, "documents")
      .filter(pred)
      .select($"doc_id".as("vec_id"))
    val fIx = ix.copy(codes = ix.codes.join(allowed, Seq("vec_id"), "left_semi"))
    val q = ix.e.filter($"vec_id" < PQ_NQ)
      .select($"vec_id".as("q_id"), $"embedding")
    // r15 verdict #2: the probe cut widens with predicate selectivity
    // (two metadata aggregates + the cell count — driver reads)
    val nQual = allowed.count()
    val nP = if (nQual == 0L) IVF_CELLS
      else adaptiveProbe(ix.cent.count(), ix.e.count(), nQual)
    ivfServe(fIx, q, ivfRoute(ix.cent, q, nP))
  }

  /** SELECTIVITY-DISPATCHED FILTERED ANN (s26d — r15 verdict #4): the
    * production crossover rule the s26/s26i docstrings describe, as a
    * registered operator. One metadata aggregate estimates the
    * predicate's selectivity; below [[S26D_CROSSOVER_PPM]] the
    * dispatcher runs the PRE-FILTER-EXACT body
    * ([[Similarity.s26serve]] semantics — at low selectivity the
    * qualifying subset is small enough to scan exactly, and thin
    * probed cells would cost real recall), at or above it the
    * IN-CELL body ([[s26i]] — the probe-share × selectivity
    * economics win once the subset is large). The branch is
    * driver-side on integer-exact counted scalars (ppm by truncating
    * division), so it is deterministic per dataset and the DuckDB
    * oracle replays it as two selectivity-gated subqueries UNIONed —
    * exactly one side is ever non-empty. Output is the common
    * serving projection (q_id, rank, neighbor_id) plus the chosen
    * `path`, which makes the DISPATCH itself hash-gated, not just
    * the winning body. */
  def s26d(s: SparkSession, dir: String): DataFrame =
    s26dFor(s, dir, col("lang") === Similarity.FILTER_LANG)

  /** [[s26d]] with the rare predicate ([[Similarity.RARE_PRED]] —
    * <5% of the corpus at every SF), so the PREFILTER branch is
    * gate-exercised too (r16 verdict #1: it had never executed under
    * any test or oracle). Registered with the same selectivity-gated
    * UNION oracle, predicate templated. */
  def s26dr(s: SparkSession, dir: String): DataFrame =
    s26dFor(s, dir, Similarity.RARE_PRED)

  /** The dispatcher body, parameterized by the documents predicate
    * (r16 verdict #1). The branch choice is driver-side on
    * integer-exact counted scalars (ppm by truncating division); the
    * un-chosen branch's DataFrame is never constructed, so the
    * prefilter path never pays index training. */
  private[graft] def s26dFor(s: SparkSession, dir: String,
      pred: Column): DataFrame = {
    import s.implicits._
    val total = t(s, dir, "embeddings").count()
    val qualifying = t(s, dir, "documents").filter(pred).count()
    val selPpm = qualifying * 1000000L / total
    if (selPpm < S26D_CROSSOVER_PPM)
      Similarity.s26For(s, dir, pred)
        .select($"q_id", $"rank", $"neighbor_id",
          lit("prefilter").as("path"))
        .orderBy($"q_id", $"rank")
    else
      s26iOver(ivfIndex(s, dir), s, dir, pred)
        .select($"q_id", $"rank", $"neighbor_id", lit("incell").as("path"))
        .orderBy($"q_id", $"rank")
  }

  /** Dispatch crossover: 5% selectivity. Below it the pre-filter
    * scan touches ≤ 1/20 of the corpus — cheaper than any probe
    * machinery AND exact; above it the in-cell form's probe-share ×
    * selectivity wins. The synthetic corpus' `lang = 'fr'` predicate
    * sits at ~13-37% at every SF, so the s26d gate row exercises the
    * in-cell branch; the registered [[s26dr]] row (short German
    * documents, <5% at every SF) exercises the prefilter branch, and
    * Relational13Spec asserts each branch's `path` column plus
    * row-equality with its standalone body. */
  private val S26D_CROSSOVER_PPM = 50000L

  /** The s14 replay, parameterized by an inverted-file predicate, an
    * optional extra CTE, and the probe-cut expression, so the
    * filtered compositions (s26i adaptive-nProbe, s26d) share every
    * other CTE byte for byte — the suffix-chain convention applied to
    * IVF. Replays the COARSE integer-Lloyd rounds (ct0..ctN — r15
    * verdict #2) and chains [[sqlTrainedPqChain]] for the fine
    * stage. The r17 write-face params: `eWhere` restricts the
    * TRAINING corpus (s27 trains on the non-arrival base),
    * `postChainCtes` slots the arrival encode CTEs (they reference
    * `mm`/cbN, so they must follow the chain), `codesUnion` appends
    * the arrival codes to the inverted file, and `neighborSrc` is
    * the rerank table (arrival neighbors live outside the base `e`). */
  private def s14OracleFor(codesWhere: String, extraCtes: String,
      probeCut: String, eWhere: String = "", postChainCtes: String = "",
      codesUnion: String = "", neighborSrc: String = "e"): String = {
    val sqdSql = (a: String, b: String, len: Int) =>
      s"""list_sum([(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
         |      * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
         |    for i in range(1, ${len + 1})])""".stripMargin
    val routeD =
      s"list_sum([(qq[i] - cq[i]) * (qq[i] - cq[i]) for i in range(1, 65)])"
    val citers = (1 to IVF_TRAIN_ITERS).map { i =>
      s"""ca$i AS (SELECT vec_id, cell FROM
         |  (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |     ORDER BY $routeD, cell) AS rn
         |   FROM vq CROSS JOIN ct${i - 1}) WHERE rn = 1),
         |cu$i AS (SELECT cell, pos, CAST(sum(qq[pos]) AS BIGINT) AS sv,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM ca$i a JOIN vq ON vq.vec_id = a.vec_id
         |  CROSS JOIN dp GROUP BY 1, 2),
         |cn$i AS (SELECT cell, list(sv // n ORDER BY pos) AS ncq
         |  FROM cu$i GROUP BY cell),
         |ct$i AS MATERIALIZED (SELECT p.cell, coalesce(ncq, cq) AS cq
         |  FROM ct${i - 1} p LEFT JOIN cn$i ON cn$i.cell = p.cell)"""
        .stripMargin
    }.mkString(",\n")
    val ctN = s"ct$IVF_TRAIN_ITERS"
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings$eWhere),
       |dp AS (SELECT CAST(unnest(range(1, 65)) AS BIGINT) AS pos),
       |vq AS MATERIALIZED (SELECT vec_id,
       |    [CAST(round(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
       |      for i in range(1, 65)] AS qq
       |  FROM e),
       |ct0 AS (SELECT CAST(vec_id AS INT) AS cell, qq AS cq
       |  FROM vq WHERE vec_id < $IVF_CELLS),
       |$citers,
       |asn AS (SELECT vec_id, cell FROM
       |  (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |     ORDER BY $routeD, cell) AS rn
       |   FROM vq CROSS JOIN $ctN) WHERE rn = 1),$extraCtes
       |probes AS (SELECT q_id, cell FROM
       |  (SELECT vec_id AS q_id, cell, row_number() OVER (PARTITION BY vec_id
       |     ORDER BY $routeD, cell) AS prn
       |   FROM vq CROSS JOIN $ctN WHERE vec_id < $PQ_NQ)
       |  WHERE $probeCut),
       |$sqlTrainedPqChain,$postChainCtes
       |codes AS (SELECT pqc.vec_id AS vec_id, asn.cell AS cell, m, code
       |  FROM pqc
       |  JOIN asn ON asn.vec_id = pqc.vec_id$codesWhere$codesUnion),
       |adc AS (SELECT lut.q_id AS q_id, vec_id, codes.cell AS cell,
       |    CAST(sum(ld2) AS BIGINT) AS adc
       |  FROM codes
       |  JOIN probes ON codes.cell = probes.cell
       |  JOIN lut ON lut.q_id = probes.q_id AND codes.m = lut.m
       |    AND codes.code = lut.code
       |  WHERE vec_id <> lut.q_id GROUP BY 1, 2, 3),
       |rk AS (SELECT q_id, vec_id AS neighbor_id, cell, adc AS adc_d2q,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS arn
       |  FROM adc),
       |ex AS (SELECT rk.q_id, rk.neighbor_id, rk.cell AS cell, adc_d2q,
       |    CAST(round(${sqdSql("q.embedding", "n.embedding", 64)} * 1000000)
       |      AS BIGINT) AS exact_d2_micro
       |  FROM rk JOIN $neighborSrc n ON n.vec_id = rk.neighbor_id
       |    JOIN e q ON q.vec_id = rk.q_id
       |  WHERE arn <= $IVF_POOL),
       |rr AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY exact_d2_micro, neighbor_id) AS BIGINT) AS rank FROM ex)
       |SELECT q_id, neighbor_id, cell, adc_d2q, exact_d2_micro, rank
       |FROM rr WHERE rank <= $PQ_TOPK
       |ORDER BY q_id, rank""".stripMargin
  }

  private lazy val s14Oracle = s14OracleFor("", "", s"prn <= $IVF_PROBE")

  /** s26i: inverted-file predicate + the [[adaptiveProbe]] cut — the
    * npc CTE computes min(nCells, ⌈IVF_PROBE · total / qualifying⌉)
    * with the same integer ceiling division as the Scala side.
    * Predicate templated (r16 verdict #1 — the dispatcher oracle
    * reuses the replay at any selectivity). */
  private def s26iOracleFor(predSql: String): String = s14OracleFor(
    s"""
       |  WHERE pqc.vec_id IN (SELECT doc_id FROM documents
       |    WHERE $predSql)""".stripMargin,
    s"""
       |npc AS (SELECT LEAST(
       |    (SELECT CAST(count(*) AS BIGINT) FROM ct$IVF_TRAIN_ITERS),
       |    ($IVF_PROBE * (SELECT CAST(count(*) AS BIGINT) FROM e) + qn - 1)
       |      // qn) AS np
       |  FROM (SELECT CAST(count(*) AS BIGINT) AS qn FROM documents
       |    WHERE $predSql)),""".stripMargin,
    "prn <= (SELECT np FROM npc)")

  private lazy val s26iOracle =
    s26iOracleFor(s"lang = '${Similarity.FILTER_LANG}'")

  /** s26d: both proven bodies as selectivity-gated subqueries — the
    * ppm expression is the Scala dispatcher's truncating division,
    * so exactly one branch is non-empty per (dataset, predicate):
    * `lang = 'fr'` lands in-cell at every SF, [[Similarity
    * .RARE_PRED_SQL]] lands prefilter at every SF. */
  private def s26dOracleFor(predSql: String): String = {
    val ppm =
      s"""((SELECT CAST(count(*) AS BIGINT) FROM documents
         |    WHERE $predSql) * 1000000)
         |  // (SELECT CAST(count(*) AS BIGINT) FROM embeddings)""".stripMargin
    s"""SELECT q_id, rank, neighbor_id, path FROM (
       |  SELECT q_id, rank, neighbor_id, 'incell' AS path
       |  FROM (${s26iOracleFor(predSql)})
       |  WHERE $ppm >= $S26D_CROSSOVER_PPM
       |  UNION ALL
       |  SELECT q_id, rank, neighbor_id, 'prefilter' AS path
       |  FROM (${Similarity.s26OracleFor(predSql)})
       |  WHERE $ppm < $S26D_CROSSOVER_PPM)
       |ORDER BY q_id, rank""".stripMargin
  }

  private lazy val s26dOracle =
    s26dOracleFor(s"lang = '${Similarity.FILTER_LANG}'")

  /** s27: the base-trained chain (eWhere excludes arrivals) + the
    * arrival encode as two more argmin CTEs against the FROZEN
    * ctN/cbN tables + the inverted-file union; rerank reads the full
    * table (arrival neighbors live outside the base `e`). */
  private lazy val s27Oracle: String = {
    val arrPred = Similarity.sqlArrivalPred("vec_id")
    val isqSub = s"CAST(list_sum([(sq[j] - cq[j]) * (sq[j] - cq[j]) " +
      s"for j in range(1, ${PQ_SUB + 1})]) AS BIGINT)"
    val routeD =
      s"list_sum([(qq[i] - cq[i]) * (qq[i] - cq[i]) for i in range(1, 65)])"
    val ctN = s"ct$IVF_TRAIN_ITERS"
    val cbN = s"cb$PQ_TRAIN_ITERS"
    s14OracleFor("", "", s"prn <= $IVF_PROBE",
      eWhere = s" WHERE NOT ($arrPred)",
      postChainCtes = s"""
         |ae AS (SELECT vec_id, embedding FROM embeddings WHERE $arrPred),
         |avq AS (SELECT vec_id,
         |    [CAST(round(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)
         |      for i in range(1, 65)] AS qq
         |  FROM ae),
         |aasn AS (SELECT vec_id, cell FROM
         |  (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |     ORDER BY $routeD, cell) AS rn
         |   FROM avq CROSS JOIN $ctN) WHERE rn = 1),
         |asub AS (SELECT vec_id, m,
         |  [CAST(round(CAST(embedding[m*$PQ_SUB+i] AS DOUBLE) * $Q20L) AS BIGINT)
         |    for i in range(1, ${PQ_SUB + 1})] AS sq
         |  FROM ae CROSS JOIN mm),
         |acd AS (SELECT vec_id, asub.m AS m, code, $isqSub AS d
         |  FROM asub JOIN $cbN ON asub.m = $cbN.m),
         |apqc AS (SELECT vec_id, m, code FROM (SELECT vec_id, m, code,
         |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
         |  FROM acd) WHERE rn = 1),
         |acodes AS (SELECT apqc.vec_id AS vec_id, aasn.cell AS cell, m, code
         |  FROM apqc JOIN aasn ON aasn.vec_id = apqc.vec_id),
         |allv AS (SELECT vec_id, embedding FROM embeddings),""".stripMargin,
      codesUnion = """
         |  UNION ALL SELECT vec_id, cell, m, code FROM acodes""".stripMargin,
      neighborSrc = "allv")
  }

  /** s27d: the full-corpus s14 replay with the tombstoned ids
    * filtered out of the inverted file — one WHERE clause, the whole
    * algorithm. */
  private lazy val s27dOracle: String = s14OracleFor(
    s"""
       |  WHERE NOT (${Similarity.sqlTombstonePred("pqc.vec_id")})""".stripMargin,
    "", s"prn <= $IVF_PROBE")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q57_incremental_rollup" -> (q57 _),
    "x08_bottomk_quantiles" -> (x08 _),
    "x08s_bottomk_sql" -> (x08s _),
    "s13_pq_adc_topk" -> (s13 _),
    "s14_ivf_pq" -> (s14 _),
    "s14m_ivf_serving" -> (s14m _),
    "s26i_filtered_ivf" -> (s26i _),
    "s26im_filtered_serving" -> (s26im _),
    "s26d_filtered_dispatch" -> (s26d _),
    "s26dr_dispatch_rare" -> (s26dr _),
    "s27_ivf_insert" -> (s27 _),
    "s27m_ivf_insert_serving" -> (s27m _),
    "s27d_ivf_delete" -> (s27d _),
    "s13t_pq_trained" -> (s13t _),
    "s13tm_pq_trained_serving" -> (s13tm _),
    "e11_window_topk" -> (e11 _))

  val oracles: Map[String, String] = Map(
    "q57_incremental_rollup" -> q57Oracle,
    "x08_bottomk_quantiles" -> x08Oracle,
    "x08s_bottomk_sql" -> x08Oracle,
    "s13_pq_adc_topk" -> s13Oracle,
    "s14_ivf_pq" -> s14Oracle,
    "s14m_ivf_serving" -> s14Oracle,
    "s26i_filtered_ivf" -> s26iOracle,
    "s26im_filtered_serving" -> s26iOracle,
    "s26d_filtered_dispatch" -> s26dOracle,
    "s26dr_dispatch_rare" -> s26dOracleFor(Similarity.RARE_PRED_SQL),
    "s27_ivf_insert" -> s27Oracle,
    "s27m_ivf_insert_serving" -> s27Oracle,
    "s27d_ivf_delete" -> s27dOracle,
    "s13t_pq_trained" -> s13tOracle,
    "s13tm_pq_trained_serving" -> s13tOracle,
    "e11_window_topk" -> e11Oracle)
}
