package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.NativeKernels.gram_hash_seq
import graft.functions.TextOps.{sqlHash64, sqlTokens}

/** Fifteenth tranche — three shapes a 100 TB curation/warehouse stack
  * runs daily, each oracle-checked:
  *
  *  - d17: EXACT-SUBSTRING span dedup (Lee et al. 2021, "Deduplicating
  *    Training Data Makes Language Models Better", §4.1) at n-gram
  *    granularity — not "is this doc a dup" (d01-d05) or "how many
  *    n-grams repeat" (t15), but WHERE: maximal token spans covered by
  *    n-grams that occur more than once corpus-wide, the positional
  *    output an exact-substring cutter consumes;
  *  - q60: dynamic partition pruning — the partition-layout lever
  *    (q56 proved file-level stats pruning; this proves Catalyst's
  *    runtime DPP subquery against a date/dim-partitioned fact, the
  *    mechanism that turns a 100 TB fact scan into a 3-partition
  *    read when the dim filter is only known at run time);
  *  - e13: complex-event pattern with a NEGATION guard
  *    (`click (NOT error)* purchase WITHIN lookback`) — the
  *    MATCH_RECOGNIZE-class semantics the funnel/interval-join
  *    family can't express;
  *  - d18: the apply form of d17 (cut the spans, emit clean text).
  *
  * The reference ships none of these (it is an IOC ETL bridge,
  * `/root/reference/src/Datalake2Anomali.py:1-449`); they extend the
  * SURVEY §7.2 LLM-pipeline/relational surface alongside tranches
  * 1-14.
  */
object Relational15 extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---- d17: exact-substring duplicated spans ------------------------

  /** Gram width in tokens. Lee et al. use a 50-token threshold at
    * character granularity on web-scale corpora; the synthetic docs
    * are short, so 8 keeps the operator non-vacuous at every SF while
    * the algebra (and the plan) is width-independent. */
  private[graft] val D17_W = 8

  /** Maximal duplicated token spans per document. Three stages:
    *
    *  1. positional n-gram hashes via the fused [[gram_hash_seq]]
    *     kernel (one md5 pass per gram, NON-distinct — positions are
    *     the point), `posexplode` to (doc_id, pos, gh);
    *  2. global duplicate grams: count per 60-bit gram hash, keep
    *     count > 1 (within-doc repeats count — Lee et al. remove
    *     those too), join the positions back on the hash;
    *  3. per-doc interval merge: hit i covers [pos, pos+W); a hit
    *     starts a new span iff pos > max(end) over all earlier hits
    *     (window in (doc_id, pos) order — positions are unique per
    *     doc, so the frame is deterministic), span_id = running count
    *     of span starts, then min/max per (doc, span).
    *
    * Scale: stage 2 is ONE data-sized shuffle on the gram hash (the
    * t15 shape) plus the join back — the duplicated-gram side is the
    * filtered minority and AQE picks the join strategy; stage 3's
    * window partitions per document (doc-sized state, never
    * corpus-sized). No collect, no cross join; the gram table is
    * ~tokens-per-doc rows wide and 16 bytes narrow, which at 100 TB
    * is the same scan-shaped pass every shingle operator (d02/t15)
    * already survives. The fresh-build form evaluates the kernel
    * once per plan branch (count side + join side); [[d17m]] reads
    * the materialized span table instead.
    *
    * Positional gram rows (doc_id, pos, gh) — one fused kernel pass. */
  private def posGrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", posexplode(gram_hash_seq($"text", D17_W)))
      .select($"doc_id", $"pos".cast("long").as("pos"), $"col".as("gh"))
  }

  /** Stage 3 shared by d17/d19: per-doc interval merge of hit
    * positions into maximal spans. */
  private[graft] def mergeSpans(hits: DataFrame): DataFrame = {
    val s = hits.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val prevEnd = max($"pos" + D17_W)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("new_span",
        when(prevEnd.isNull || $"pos" > prevEnd, 1L).otherwise(0L))
      .withColumn("span_id",
        sum($"new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"doc_id", $"span_id")
      .agg(min($"pos").as("span_start"),
        (max($"pos") + D17_W).as("span_end"))
      .select($"doc_id", $"span_start", $"span_end",
        ($"span_end" - $"span_start").as("span_toks"))
      .orderBy($"doc_id", $"span_start")
  }

  def d17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = posGrams(s, dir)
    val dup = g.groupBy($"gh").agg(count(lit(1)).as("m")).filter($"m" > 1)
    mergeSpans(g.join(dup.select($"gh"), Seq("gh")))
  }

  /** Full-recompute span oracle; `restrict` filters the HIT rows to a
    * doc subset AFTER the (always-global) dup-gram count — d17 passes
    * none, d19 passes the new-batch fold (its incremental contract IS
    * "full recompute restricted to the new batch", the d14 oracle
    * discipline). */
  private def spanOracle(restrict: Option[String]): String = {
    val gram = (0 until D17_W).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    val where = restrict.fold("")(r => s" WHERE $r")
    s"""WITH docs AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
       |g0 AS (SELECT doc_id, t,
       |  unnest(range(1, greatest(len(t) - ${D17_W - 2}, 1))) AS i FROM docs),
       |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |  ${sqlHash64(s"($gram)")} AS gh FROM g0),
       |cnt AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 1),
       |h AS (SELECT doc_id, pos FROM g JOIN cnt USING (gh)$where),
       |m AS (SELECT doc_id, pos, CASE WHEN
       |    max(pos + $D17_W) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |    OR pos > max(pos + $D17_W) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |  THEN 1 ELSE 0 END AS new_span FROM h),
       |sp AS (SELECT doc_id, pos, sum(new_span) OVER (
       |    PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
       |  FROM m)
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(pos) + $D17_W AS BIGINT) AS span_end,
       |  CAST(max(pos) + $D17_W - min(pos) AS BIGINT) AS span_toks
       |FROM sp GROUP BY doc_id, span_id
       |ORDER BY doc_id, span_start""".stripMargin
  }

  private val d17Oracle = spanOracle(None)

  // ---- d19: incremental substring spans (ingest shape) --------------

  private val gramCountCache = Materialized[DataFrame]()

  /** Round-(N−1) state of the incremental substring-dedup pipeline:
    * gram-hash occurrence counts of the OLD (already-ingested) corpus
    * — the inverted count table a 100 TB pipeline materializes
    * alongside its corpus. Built once; counts form a commutative
    * monoid, so state ⊕ new-batch counts ≡ full recompute (the
    * q57/d14 merge-algebra discipline, property-checked in
    * Relational15Spec). */
  def materializedGramCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gramCountCache(s, dir)(
      posGrams(s, dir).filter(!Relational10.isNewDoc($"doc_id"))
        .groupBy($"gh").agg(count(lit(1)).as("m_old"))
        .localCheckpoint())
  }

  /** Incremental d17 — the 100 TB ingest shape: the d14 fold marks a
    * deterministic ~10% of docs as the newly ingested batch; the gram
    * KERNEL touches ONLY that batch, the batch's counts join the
    * materialized old-corpus count state, and a gram is duplicated
    * iff `m_old + m_new > 1` — exactly the global count, so the new
    * docs' spans are BIT-IDENTICAL to a full d17 recompute restricted
    * to the batch (the oracle IS that restriction of the
    * full-recompute SQL — any drift in the incremental algebra breaks
    * the hash). The increment therefore costs one new-batch kernel
    * pass + a batch-grams × state join, never a corpus re-scan; state
    * update is count addition (associative, chainable). `stateIn`
    * lets a spec feed explicit round-(N−1) state. */
  def d19(s: SparkSession, dir: String,
      stateIn: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val gNew = posGrams(s, dir).filter(Relational10.isNewDoc($"doc_id"))
    val oldCounts = stateIn.getOrElse(materializedGramCounts(s, dir))
    val dup = gNew.groupBy($"gh").agg(count(lit(1)).as("m_new"))
      .join(oldCounts, Seq("gh"), "left")
      .filter(coalesce($"m_old", lit(0L)) + $"m_new" > 1)
    mergeSpans(gNew.join(dup.select($"gh"), Seq("gh")))
  }

  private val d19Oracle = spanOracle(Some(
    s"${sqlHash64("concat('inc:', CAST(doc_id AS VARCHAR))")} % 10 = 0"))

  // ---- d18: apply the span cut --------------------------------------

  /** The apply form of [[d17]] (the d05/d07 convention: detection
    * query → apply query): cut every duplicated span out of every
    * document. Policy: ALL occurrences are cut (the aggressive
    * variant; Lee et al. keep one occurrence — keeping a canonical
    * copy is a one-line change of the dup threshold side, but "cut
    * all" is deterministic without electing a winner and is what
    * boilerplate removal wants).
    *
    * Shape: d17's spans collapse to ≤ spans-per-doc rows, the join
    * back to `documents` is doc-keyed, and the cut itself is pure
    * per-row ARRAY algebra — `filter` with a positional lambda over
    * the token array against the (small) span list, no explode, no
    * second corpus shuffle. Docs without spans pass through whole. */
  def d18(s: SparkSession, dir: String,
      spansIn: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val spans = spansIn.getOrElse(d17(s, dir)).groupBy($"doc_id")
      .agg(collect_list(struct($"span_start", $"span_end")).as("spans"))
    t(s, dir, "documents")
      .join(spans, Seq("doc_id"), "left")
      .select($"doc_id", graft.functions.TextOps.tokens($"text").as("toks"),
        coalesce($"spans", array().cast("array<struct<span_start:bigint,span_end:bigint>>"))
          .as("spans"))
      .select($"doc_id",
        filter($"toks", (tok, i) =>
          !exists($"spans", sp =>
            i.cast("long") >= sp("span_start") && i.cast("long") < sp("span_end")))
          .as("kept"),
        size($"toks").cast("long").as("n_toks"))
      .select($"doc_id",
        concat_ws(" ", $"kept").as("clean_text"),
        size($"kept").cast("long").as("n_kept"),
        ($"n_toks" - size($"kept")).as("n_removed"))
      .orderBy($"doc_id")
  }

  private val spanCache = Materialized[DataFrame]()

  /** Materialized d17 span table — detection (gram kernel, dup-gram
    * count, join-back, merge) paid ONCE, the d06m/t29m convention;
    * the fresh-build d17/d18 entries price the detection, these price
    * the pipeline. */
  def materializedSpans(s: SparkSession, dir: String): DataFrame =
    spanCache(s, dir)(d17(s, dir).localCheckpoint())

  /** d17 from the span cache — serving cost only. */
  def d17m(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    materializedSpans(s, dir).orderBy($"doc_id", $"span_start")
  }

  /** d18 from the span cache — one doc-keyed join + per-row cut. */
  def d18m(s: SparkSession, dir: String): DataFrame =
    d18(s, dir, Some(materializedSpans(s, dir)))

  /** The d18 cut applied to an arbitrary `(doc_id, …, text)` frame
    * against the materialized span table — the capstone-stage form
    * ([[CorpusPipeline.curate]]`(spanCut = true)`): `text` is
    * replaced by the span-cut token stream (normalized whitespace,
    * the dedup family's canonical form) and docs whose every token
    * sat in a duplicated span are DROPPED (nothing left to train
    * on). Pure per-row array algebra after one doc-keyed left join —
    * the d18 plan shape. */
  def applySpanCut(s: SparkSession, dir: String, docs: DataFrame): DataFrame = {
    import s.implicits._
    val spans = materializedSpans(s, dir).groupBy($"doc_id")
      .agg(collect_list(struct($"span_start", $"span_end")).as("spans"))
    val others = docs.columns.filter(c => c != "doc_id" && c != "text")
      .map(col).toSeq
    docs.join(spans, Seq("doc_id"), "left")
      .select((Seq($"doc_id",
        graft.functions.TextOps.tokens($"text").as("toks"),
        coalesce($"spans", array().cast("array<struct<span_start:bigint,span_end:bigint>>"))
          .as("spans")) ++ others): _*)
      .select((Seq($"doc_id",
        filter($"toks", (tok, i) =>
          !exists($"spans", sp =>
            i.cast("long") >= sp("span_start") && i.cast("long") < sp("span_end")))
          .as("kept")) ++ others): _*)
      .filter(size($"kept") > 0)
      .select((Seq($"doc_id", concat_ws(" ", $"kept").as("text")) ++ others): _*)
  }

  private val d18Oracle = {
    val gram = (0 until D17_W).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    s"""WITH docs AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
       |g0 AS (SELECT doc_id, t,
       |  unnest(range(1, greatest(len(t) - ${D17_W - 2}, 1))) AS i FROM docs),
       |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |  ${sqlHash64(s"($gram)")} AS gh FROM g0),
       |cnt AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 1),
       |h AS (SELECT doc_id, pos FROM g JOIN cnt USING (gh)),
       |m AS (SELECT doc_id, pos, CASE WHEN
       |    max(pos + $D17_W) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |    OR pos > max(pos + $D17_W) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |  THEN 1 ELSE 0 END AS new_span FROM h),
       |sp AS (SELECT doc_id, pos, sum(new_span) OVER (
       |    PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
       |  FROM m),
       |spans AS (SELECT doc_id, min(pos) AS a, max(pos) + $D17_W AS b
       |  FROM sp GROUP BY doc_id, span_id),
       |u AS (SELECT doc_id, unnest(t) AS tok,
       |  generate_subscripts(t, 1) AS i FROM docs),
       |kept AS (SELECT u.doc_id, u.i, u.tok
       |  FROM u LEFT JOIN spans s
       |    ON u.doc_id = s.doc_id AND u.i - 1 >= s.a AND u.i - 1 < s.b
       |  WHERE s.doc_id IS NULL),
       |ka AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
       |    CAST(count(*) AS BIGINT) AS n_kept
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(ka.clean_text, '') AS clean_text,
       |  coalesce(ka.n_kept, 0) AS n_kept,
       |  CAST(len(d.t) AS BIGINT) - coalesce(ka.n_kept, 0) AS n_removed
       |FROM docs d LEFT JOIN ka USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- q60: dynamic partition pruning -------------------------------

  private val Q60_NATIONS = Seq("NATION_3", "NATION_7", "NATION_19")

  private val dppCache = Materialized[String]()

  /** Orders denormalized with the customer's nation key and written
    * HIVE-PARTITIONED by it — the date/region-partitioned fact layout
    * every 100 TB warehouse uses, materialized like q56's Z-ordered
    * fixture. `repartition` on the partition column keeps it to one
    * file per partition directory at these SFs. */
  def dppOrdersPath(s: SparkSession, dir: String): String =
    dppCache(s, dir) {
      import s.implicits._
      val out = Materialized.tempDir("graft-dpp")
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
          .select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey")
        .drop("c_custkey")
        .repartition($"c_nationkey")
        .write.partitionBy("c_nationkey")
        .parquet(out.resolve("orders_by_nation").toString)
      out.resolve("orders_by_nation").toString
    }

  /** Fact ⋈ filtered dim over the partitioned layout. The dim filter
    * (`n_name IN …`) is NOT a predicate on the fact's columns, so
    * static pruning can't touch the scan — Catalyst's
    * DynamicPartitionPruning rule injects a `dynamicpruning#`
    * subquery that reuses the broadcast of the filtered dim to prune
    * fact PARTITIONS at run time (asserted in Relational15Spec: the
    * scan's PartitionFilters carry the dynamic expression and only
    * the matching partition directories are read). The RESULT is
    * layout-invariant, so the oracle is the plain three-table join.
    * At 100 TB this is the difference between scanning the whole
    * fact and scanning |matching partitions| of it — the single
    * biggest lever a partitioned warehouse has after the layout
    * itself. */
  def q60(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.parquet(dppOrdersPath(s, dir))
      .join(broadcast(t(s, dir, "nation")
        .filter($"n_name".isin(Q60_NATIONS: _*))),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("total_price"),
        min($"o_orderkey").as("min_orderkey"),
        max($"o_orderkey").as("max_orderkey"))
      .orderBy($"n_name")
  }

  private val q60Oracle =
    s"""SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
       |  round(sum(o_totalprice), 2) AS total_price,
       |  min(o_orderkey) AS min_orderkey, max(o_orderkey) AS max_orderkey
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE n_name IN (${Q60_NATIONS.map(n => s"'$n'").mkString(", ")})
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---- e13: CEP pattern with a negation guard -----------------------

  /** Conversion lookback. 120 min keeps the pattern non-vacuous at
    * sf0.001 (8 conversions) without trivializing larger SFs. */
  private[graft] val E13_LOOKBACK_MIN = 120

  private val E13_LOOKBACK_US = E13_LOOKBACK_MIN * 60L * 1000000L

  /** Guarded conversions — the MATCH_RECOGNIZE-class pattern
    * `click (NOT error)* purchase WITHIN lookback` per user. This is
    * the complex-event shape the funnel (e06) and interval-join
    * (q32/q49, streaming `purchaseViewJoin`) operators CANNOT
    * express: a NEGATION guard ("no error between the click and the
    * purchase") over the event sequence, not just co-occurrence
    * within a window.
    *
    * Derivation: one per-user window in total (ts, event_id) order
    * carries two running maxima over the STRICTLY PRECEDING frame —
    * the last click time and the last error time. A purchase
    * converts iff a click precedes it inside the lookback and the
    * last error (if any) is older than that click. The guard is pure
    * value arithmetic on the two maxima, so the result is
    * deterministic under timestamp ties regardless of scan order
    * (ties at the SAME microsecond break by event_id in the frame
    * bound, identically in the oracle).
    *
    * Scale: ONE data-sized shuffle (the user window — the w04/e12
    * sessionize discipline); state per row is two longs, never a
    * buffered sequence; gap is exact integer microseconds, nothing
    * rounded gates the hash. A streaming face needs only per-user
    * (last_click, last_error) state — the TransitionStream pattern —
    * which is exactly how a CEP engine holds this NFA's state. */
  def e13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tsm", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "events")
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts").as("tsm"))
      .withColumn("lc", max(when($"event_type" === "click", $"tsm")).over(w))
      .withColumn("le", max(when($"event_type" === "error", $"tsm")).over(w))
      .filter($"event_type" === "purchase" && $"lc".isNotNull &&
        ($"le".isNull || $"le" < $"lc") &&
        $"tsm" - $"lc" <= E13_LOOKBACK_US)
      .select($"user_id", $"event_id".as("purchase_id"),
        ($"tsm" - $"lc").as("gap_us"))
      .orderBy($"purchase_id")
  }

  private val e13Oracle =
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsm
       |  FROM events),
       |w AS (SELECT user_id, event_id, event_type, tsm,
       |  max(CASE WHEN event_type = 'click' THEN tsm END) OVER (
       |    PARTITION BY user_id ORDER BY tsm, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lc,
       |  max(CASE WHEN event_type = 'error' THEN tsm END) OVER (
       |    PARTITION BY user_id ORDER BY tsm, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS le
       |  FROM e)
       |SELECT user_id, event_id AS purchase_id, tsm - lc AS gap_us
       |FROM w
       |WHERE event_type = 'purchase' AND lc IS NOT NULL
       |  AND (le IS NULL OR le < lc)
       |  AND tsm - lc <= $E13_LOOKBACK_US
       |ORDER BY purchase_id""".stripMargin

  // ---- registry ----------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d17_dup_spans" -> (d17 _),
    "d17m_spans_materialized" -> ((s, d) => d17m(s, d)),
    "d18_span_cut" -> ((s, d) => d18(s, d)),
    "d18m_cut_materialized" -> ((s, d) => d18m(s, d)),
    "d19_incremental_spans" -> ((s, d) => d19(s, d)),
    "q60_dpp_join" -> (q60 _),
    "e13_guarded_conversion" -> (e13 _),
  )

  val oracles: Map[String, String] = Map(
    "d17_dup_spans" -> d17Oracle,
    "d17m_spans_materialized" -> d17Oracle,
    "d18_span_cut" -> d18Oracle,
    "d18m_cut_materialized" -> d18Oracle,
    "d19_incremental_spans" -> d19Oracle,
    "q60_dpp_join" -> q60Oracle,
    "e13_guarded_conversion" -> e13Oracle,
  )
}
