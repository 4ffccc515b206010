package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextOps.{sqlHash64, sqlTokens}
import graft.functions.NativeKernels.word_tokens

/** Twelfth tranche — retrieval and corpus-statistics operators a
  * training-data pipeline runs next to the dedup/curation families,
  * each oracle-checked:
  *
  *  - t38: BM25 term retrieval (top-k docs per query term) with the
  *    tf-saturation part computed in EXACT integer arithmetic — the
  *    t32/s09 fixed-point discipline applied to ranking, so the gate
  *    never meets a cross-engine float rounding edge;
  *  - t39: PMI collocations (statistically-bound bigrams) — the
  *    phrase-mining signal tokenizer/vocab designers read before
  *    merging multi-word units;
  *  - t40: per-source quantile normalization of the t32 classifier
  *    score — the cross-source score calibration every
  *    mixture-weighted quality filter needs (a raw classifier
  *    threshold keeps different fractions of different sources; the
  *    percentile is the comparable unit).
  *
  * The reference ships none of these (it is an IOC ETL bridge,
  * `/root/reference/src/Datalake2Anomali.py:1-449`); they extend the
  * SURVEY §7.2 LLM-pipeline surface alongside tranches 1-11.
  */
object Relational12 extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---- t38: BM25 term retrieval -------------------------------------

  private val QDOCS = 3  // query terms = vocabulary of doc_id < QDOCS
  private val TOPD = 5   // docs kept per term

  /** The inverted index's tf table — ONE tokenize pass per corpus
    * scan (shared by t38 and t45's conjunctive search). */
  private[operators] def docTf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", explode(word_tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
  }

  /** Document lengths from the tf aggregate (no second corpus scan). */
  private[operators] def docDl(tf: DataFrame): DataFrame =
    tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))

  /** The guarded (tl, n_docs) corpus totals.
    * ⌊Long.MaxValue / 22e6⌋: largest tf·TL whose ppm numerator fits
    * int64. tf ≤ max(dl), so max(dl)·TL bounds every row's tf·TL;
    * the tl > 3·10⁹ disjunct keeps the guard product itself from
    * wrapping (tl ≤ 3·10⁹ ∧ max_dl ≤ tl ⇒ max_dl·tl ≤ 9·10¹⁸ < 2⁶³).
    * The guard lives in the `tl` column expression itself so Catalyst
    * cannot prune it. */
  private[operators] def guardedTot(dl: DataFrame, tag: String): DataFrame =
    dl.agg(sum(col("dl")).as("tl"), count(lit(1)).as("n_docs"),
        max(col("dl")).as("max_dl"))
      .select(
        when(col("tl") > lit(3000000000L) ||
            col("max_dl") * col("tl") > lit(419244183493L),
          raise_error(concat(
            lit(s"$tag: BM25 score_ppm numerator would overflow int64 "),
            lit("(max_dl*tl = "), (col("max_dl") * col("tl")).cast("string"),
            lit(" > 419244183493); shard the corpus statistics or "),
            lit("widen the numerator to DECIMAL(38,0)"))))
          .otherwise(col("tl")).as("tl"),
        col("n_docs"))

  /** The exact-integer BM25 tf-saturation score (k1 = 1.2, b = 0.75
    * multiplied through to the rational form — see [[t38]]'s
    * derivation), in ppm via floor division; identical text runs in
    * DuckDB with `div` → `//`. */
  private[operators] val BM25_PPM_EXPR =
    "(22 * tf * tl * 1000000) div (10 * tf * tl + 3 * tl + 9 * dl * n_docs)"

  /** BM25 (k1 = 1.2, b = 0.75) top-[[TOPD]] documents per query term.
    * Per term, the BM25 idf factor is a positive per-term CONSTANT, so
    * the within-term ranking is fully determined by the tf-saturation
    * part tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) — and with
    * k1 = 6/5, b = 3/4, avgdl = TL/N, multiplying through by 10·TL
    * makes it the exact integer rational
    *
    *   score = 22·tf·TL / (10·tf·TL + 3·TL + 9·dl·N)
    *
    * emitted as `score_ppm` via integer floor division (`div` / `//`)
    * — zero float ops, so Spark and DuckDB agree bit-for-bit (the
    * t32/s09 fixed-point discipline; a float BM25 plus round() would
    * be exposed to the HALF_UP-vs-scaled rounding split near ties).
    * N and TL count docs with ≥ 1 token (zero-token docs can match no
    * term, so excluding them changes no ranking, only the constants —
    * stated identically in the oracle). Numerator bound: 22·tf·TL·10⁶
    * must fit int64 — fine to tf·TL < 4.19·10¹¹ (sf0.1 ≈ 5·10⁷); at
    * corpus scale shard the statistics or widen to DECIMAL. The bound
    * is ENFORCED at runtime (ADVICE r10): the `tot` frame raises if
    * max(dl)·TL (≥ the largest tf·TL any row can reach) exceeds
    * ⌊2⁶³/22·10⁶⌋ — past it the non-ANSI multiply would wrap silently
    * and corrupt rankings with no error. The guard lives in the `tl`
    * column expression itself so Catalyst cannot prune it.
    *
    * Plan: ONE tokenize pass feeds tf; dl, TL and N all derive from
    * the tf aggregate (no second corpus scan); the query-term
    * vocabulary is a scan of [[QDOCS]] docs with the doc_id filter
    * pushed to parquet. Both small sides broadcast. The top-k cut is
    * the [[graft.functions.GroupedTopK.TopDocs]] bounded-buffer
    * aggregator, NOT a rank window: a stop-term's window partition is
    * corpus-sized (every doc containing "the" on one reducer), while
    * the aggregator's map side bounds each partition at k docs per
    * term — the q34 discipline applied where skew actually bites. At
    * 100 TB the only data-sized shuffle is the (doc, term) tf groupBy
    * — the inverted-index build every retrieval system pays once. */
  def t38(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = docTf(s, dir)
    val dl = docDl(tf)
    val tot = guardedTot(dl, "t38")
    val qterms = t(s, dir, "documents").filter($"doc_id" < QDOCS)
      .select(explode(word_tokens($"text")).as("term")).distinct()
    val scored = tf.join(broadcast(qterms), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(tot))
      .select($"term", $"doc_id", $"tf", $"dl",
        expr(BM25_PPM_EXPR).as("score_ppm"))
    val topk = udaf(graft.functions.GroupedTopK.TopDocs(TOPD))
    scored.groupBy($"term")
      .agg(topk($"score_ppm", $"doc_id", $"tf", $"dl").as("top"))
      .select($"term", posexplode($"top").as(Seq("pos", "r")))
      .select($"term", $"r.doc_id".as("doc_id"), $"r.tf".as("tf"),
        $"r.dl".as("dl"), $"r.score_ppm".as("score_ppm"),
        ($"pos" + 1).cast("long").as("rank"))
      .orderBy($"term", $"rank")
  }

  private[operators] val t38Oracle =
    s"""WITH d AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |terms AS (SELECT doc_id, unnest(tk) AS term FROM d),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM terms GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS tl,
       |  CAST(count(*) AS BIGINT) AS n_docs FROM dl),
       |q AS (SELECT DISTINCT term FROM terms WHERE doc_id < $QDOCS),
       |scored AS (SELECT term, doc_id, tf, dl,
       |  CAST((22 * tf * tl * 1000000) // (10 * tf * tl + 3 * tl + 9 * dl * n_docs)
       |    AS BIGINT) AS score_ppm
       |  FROM tf JOIN q USING (term) JOIN dl USING (doc_id) CROSS JOIN tot),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY term
       |    ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rank FROM scored)
       |SELECT term, doc_id, tf, dl, score_ppm, rank
       |FROM ranked WHERE rank <= $TOPD ORDER BY term, rank""".stripMargin

  // ---- t39: PMI collocations ----------------------------------------

  private val PMI_MIN_SUPPORT = 5L
  private val PMI_TOP = 30

  /** Top-[[PMI_TOP]] collocations by pointwise mutual information:
    * pmi(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p(ab) = n_ab/B over
    * non-distinct corpus bigrams and p(w) = n_w/T over tokens,
    * support-filtered at n_ab ≥ [[PMI_MIN_SUPPORT]] (unsmoothed PMI
    * promotes hapax pairs without it). The output is DELIBERATELY all
    * exact integers (ADVICE r10 — the earlier round(ln(...), 4)
    * double was portable only while no value sat near a 5e-5
    * boundary, fragile under data regeneration): since T and B are
    * global constants, pmi ranks identically to n_ab/(n_a·n_b), which
    * is emitted as the fixed point `r_ppt` = ⌊10¹²·n_ab/(n_a·n_b)⌋ —
    * integer floor division, bit-identical across engines. The
    * consumer derives pmi = ln(r_ppt·T²/(B·10¹²)) (or exactly from
    * the count columns); ties in the quantized key break by (a, b).
    * Overflow is guarded at runtime in the `r_ppt` expression itself
    * (the t38 discipline): n_ab ≤ ⌊2⁶³/10¹²⌋ and T ≤ 3·10⁹ keep both
    * int64 products exact; past that shard or widen to DECIMAL. At a
    * corpus scale where n_a·n_b > 10¹²·n_ab the key floors to 0 —
    * those pairs have pmi ≪ 0 and never reach a top-30 cut.
    *
    * Plan: ONE corpus scan and ONE explode feed everything — the
    * unigram and bigram streams ride the same generator as tagged
    * structs (k = 'u'/'b'), so the (k, a, b) count aggregate is the
    * single data-sized exchange and uni/big/T/B all derive from it
    * (the t18 exchange-reuse discipline; a naive two-explode form
    * measured 4 corpus scans with tokenize substituted into scan
    * filters 17× — the t37 bug class, caught by the PlanAuditSpec
    * kernel sweep). explode_OUTER + an explicit `p IS NOT NULL`
    * filter defeats InferFiltersFromGenerate for the same reason as
    * t37: the inferred `size(...) > 0` filter would re-run tokenize
    * per row at the scan. The count table then materializes via
    * `localCheckpoint` (the d09 convention) because its five
    * consumers (uni ×2, big, T, B) filter on the k grouping column —
    * predicate pushdown legally sinks those filters BELOW the
    * aggregate, making each consumer's exchange subtree distinct, so
    * ReusedExchange can never fire and the un-checkpointed plan
    * re-scanned the corpus five times (measured; the sweep caught
    * it). The checkpointed frame is vocabulary-sized — exactly the
    * count dictionary a 100 TB pipeline materializes once anyway.
    * The support filter runs before the joins so only frequent pairs
    * ride them. */
  def t39(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n1 = greatest(size($"tk") - 1, lit(0))
    val units = transform($"tk",
      w => struct(lit("u").as("k"), w.as("a"), lit("").as("b")))
    val bis = zip_with(slice($"tk", lit(1), n1), slice($"tk", lit(2), n1),
      (x, y) => struct(lit("b").as("k"), x.as("a"), y.as("b")))
    val kt = t(s, dir, "documents")
      .select(word_tokens($"text").as("tk"))
      .select(concat(units, bis).as("us"))
      .select(explode_outer($"us").as("p"))
      .filter($"p".isNotNull)
      .groupBy($"p.k".as("k"), $"p.a".as("a"), $"p.b".as("b"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val uni = kt.filter($"k" === "u").select($"a".as("w"), $"n".as("n_w"))
    val big = kt.filter($"k" === "b").select($"a", $"b", $"n".as("n_ab"))
    val tTok = uni.agg(sum($"n_w").as("t_tok"))
    val bTok = big.agg(sum($"n_ab").as("b_tok"))
    big.filter($"n_ab" >= PMI_MIN_SUPPORT)
      .join(uni.select($"w".as("a"), $"n_w".as("n_a")), Seq("a"))
      .join(uni.select($"w".as("b"), $"n_w".as("n_b")), Seq("b"))
      .crossJoin(broadcast(tTok)).crossJoin(broadcast(bTok))
      .select($"a", $"b", $"n_ab", $"n_a", $"n_b", $"t_tok", $"b_tok",
        when($"n_ab" > lit(9223372L) || $"t_tok" > lit(3000000000L),
          raise_error(lit("t39: r_ppt int64 bound exceeded " +
            "(n_ab > 9223372 or t_tok > 3e9); shard the counts or " +
            "widen the key to DECIMAL(38,0)")))
          .otherwise(expr("(n_ab * 1000000000000) div (n_a * n_b)"))
          .as("r_ppt"))
      .orderBy($"r_ppt".desc, $"a", $"b")
      .limit(PMI_TOP)
  }

  private val t39Oracle =
    s"""WITH d AS (SELECT ${sqlTokens("text")} AS tk FROM documents),
       |kt AS (SELECT p.k AS k, p.a AS a, p.b AS b, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(list_concat(
       |      list_transform(tk, w -> {'k': 'u', 'a': w, 'b': ''}),
       |      [{'k': 'b', 'a': tk[i], 'b': tk[i+1]}
       |        for i in range(1, len(tk))])) AS p FROM d)
       |  GROUP BY 1, 2, 3),
       |uni AS (SELECT a AS w, n AS n_w FROM kt WHERE k = 'u'),
       |big AS (SELECT a, b, n AS n_ab FROM kt WHERE k = 'b'),
       |tt AS (SELECT CAST(sum(n_w) AS BIGINT) AS t_tok FROM uni),
       |bt AS (SELECT CAST(sum(n_ab) AS BIGINT) AS b_tok FROM big)
       |SELECT big.a, big.b, n_ab, ua.n_w AS n_a, ub.n_w AS n_b,
       |  t_tok, b_tok,
       |  CAST((n_ab * 1000000000000) // (ua.n_w * ub.n_w) AS BIGINT) AS r_ppt
       |FROM big JOIN uni ua ON ua.w = big.a JOIN uni ub ON ub.w = big.b
       |CROSS JOIN tt CROSS JOIN bt
       |WHERE n_ab >= $PMI_MIN_SUPPORT
       |ORDER BY r_ppt DESC, big.a, big.b LIMIT $PMI_TOP""".stripMargin

  // ---- t40: per-source score quantile normalization -----------------

  /** Per-source percentile of the t32 classifier score, in exact ppm:
    * pct = (rank−1)·10⁶ div (n_source−1), rank by (score_ppm, doc_id)
    * ascending within source. This is the calibration step between a
    * quality classifier and a mixture-aware filter — "keep the top 30%
    * OF EACH SOURCE" is a percentile cut, not a raw-score cut, because
    * sources have different score distributions (compare t14/t23).
    * All arithmetic is integer (the score is t32's fixed-point ppm,
    * the percentile an integer floor division), so the gate is exact.
    * Zero-token docs score null in t32; here they pin to score 0
    * explicitly because Spark (NULLS FIRST) and DuckDB (NULLS LAST)
    * default-order nulls differently — the one cross-engine ranking
    * trap in this operator.
    *
    * Plan: one tokenize scan, one rank window per source. The window
    * partitions by source (20 partitions here — skew-prone at corpus
    * scale; the q52s sharded-rank construction is the documented
    * 100 TB path, trading the exact global rank for per-shard ranks
    * merged through cut points). */
  def t40(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = t(s, dir, "documents")
      .select($"doc_id", $"source",
        coalesce(Relational10.classifierScorePpm($"text"), lit(0L))
          .as("score_ppm"))
    val w = Window.partitionBy($"source").orderBy($"score_ppm", $"doc_id")
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("n_src",
        count(lit(1)).over(Window.partitionBy($"source")).cast("long"))
      .select($"doc_id", $"source", $"score_ppm",
        expr("CASE WHEN n_src > 1 THEN ((rank - 1) * 1000000) div (n_src - 1) ELSE 0 END")
          .as("pct_ppm"))
      .orderBy($"doc_id")
  }

  private val t40Oracle =
    s"""WITH d AS (SELECT doc_id, source, ${sqlTokens("text")} AS tk FROM documents),
       |m AS (SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_tok,
       |  list_sum(list_transform(tk,
       |    x -> ${sqlHash64("concat('w:', x)")} % 1000 - 500)) AS ws
       |  FROM d),
       |sc AS (SELECT doc_id, source,
       |  CAST(coalesce(CASE WHEN n_tok > 0 THEN
       |    ((ws + 500 * n_tok) * 1000) // n_tok - 500000 END, 0) AS BIGINT)
       |    AS score_ppm
       |  FROM m),
       |r AS (SELECT doc_id, source, score_ppm,
       |  CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY score_ppm, doc_id) AS BIGINT) AS rank,
       |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
       |  FROM sc)
       |SELECT doc_id, source, score_ppm,
       |  CAST(CASE WHEN n_src > 1 THEN ((rank - 1) * 1000000) // (n_src - 1)
       |    ELSE 0 END AS BIGINT) AS pct_ppm
       |FROM r ORDER BY doc_id""".stripMargin

  // ---- t41: TextRank keywords ---------------------------------------

  private val TR_TOP = 20

  /** TextRank keyword extraction: PageRank over the word
    * co-occurrence graph — nodes are words, edges the support-filtered
    * corpus bigrams of t39 in BOTH directions (co-occurrence is
    * symmetric), ranks from [[Similarity.pageRankOver]]'s damped power
    * iteration, top [[TR_TOP]] words emitted. The composition IS the
    * published algorithm (Mihalcea & Tarau 2004, unweighted variant):
    * a word matters when it co-occurs with words that matter — the
    * graph-centrality upgrade over raw frequency (t05) and PMI pair
    * scores (t39).
    *
    * Symmetric edges mean every node has out-degree ≥ 1, so the
    * no-dangling-mass precondition of the shared PageRank holds by
    * construction. Determinism is s12's argument (identical IEEE
    * steps, final round(6)), and the top-k cut orders by the ROUNDED
    * rank with the word as tie-break. The oracle chains t39's bigram
    * SQL into the shared unrolled-iteration CTEs.
    *
    * At 100 TB: the graph is VOCABULARY-sized (nodes = words, edges =
    * distinct frequent bigrams) no matter the corpus size — the one
    * corpus-scale pass is t39's bigram count, after which the
    * iteration runs on the dictionary (the t34/BPE-trainer
    * economics). */
  def t41(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n1 = greatest(size($"tk") - 1, lit(0))
    val big = t(s, dir, "documents")
      .select(word_tokens($"text").as("tk"))
      .select(explode_outer(zip_with(
        slice($"tk", lit(1), n1), slice($"tk", lit(2), n1),
        (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      .filter($"p".isNotNull)
      .groupBy($"p.a".as("a"), $"p.b".as("b")).agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= PMI_MIN_SUPPORT)
      .select($"a", $"b")
      .localCheckpoint()
    val edges = big.select($"a".as("src"), $"b".as("dst"))
      .union(big.select($"b".as("src"), $"a".as("dst")))
    Similarity.pageRankOver(edges)
      .select($"vec_id".as("word"), $"pr".as("rank_score"))
      .orderBy($"rank_score".desc, $"word")
      .limit(TR_TOP)
  }

  private lazy val t41Oracle =
    s"""WITH d AS (SELECT ${sqlTokens("text")} AS tk FROM documents),
       |big AS (SELECT p.a AS a, p.b AS b, CAST(count(*) AS BIGINT) AS n_ab
       |  FROM (SELECT unnest([{'a': tk[i], 'b': tk[i+1]}
       |      for i in range(1, len(tk))]) AS p FROM d)
       |  GROUP BY p.a, p.b),
       |fb AS (SELECT a, b FROM big WHERE n_ab >= $PMI_MIN_SUPPORT),
       |ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM fb
       |  UNION ALL SELECT b AS src, a AS dst FROM fb),
       |${Similarity.sqlPageRankCtes}
       |SELECT id AS word, round(r, 6) AS rank_score
       |FROM ${Similarity.prFinalCte}
       |ORDER BY rank_score DESC, word LIMIT $TR_TOP""".stripMargin

  // ---- q55: correlated scalar subquery, decorrelated ----------------

  /** TPC-H Q17 shape: per brand, the revenue sitting in "small"
    * lineitems — quantity below 0.2× that PART's average quantity (a
    * correlated scalar subquery in textbook SQL). The Spark side is
    * written in the DECORRELATED form every optimizer rewrites to —
    * one per-part average aggregate hash-joined back to lineitem — and
    * the oracle states the correlated subquery verbatim, so the gate
    * certifies the decorrelation equivalence itself.
    *
    * Determinism: l_quantity is integer-valued, so per-part double
    * sums are EXACT under any order (integers < 2⁵³) and the 0.2·avg
    * threshold is one deterministic multiply — no boundary row can
    * flip between engines. The revenue sum rounds at 2 (the
    * q01/q39 summation-order convention).
    *
    * At 100 TB: the threshold table is one row per part (dimension-
    * sized, broadcast-or-hash-joined on the fact's own key — no
    * per-row subquery execution anywhere); part is broadcast. */
  def q55(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem")
      .select($"l_partkey", $"l_quantity", $"l_extendedprice")
    val thr = li.groupBy($"l_partkey")
      .agg((avg($"l_quantity") * 0.2).as("q_thr"))
    val part = t(s, dir, "part").select($"p_partkey", $"p_brand")
    li.join(thr, Seq("l_partkey"))
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .filter($"l_quantity" < $"q_thr")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_small"),
        round(sum($"l_extendedprice") / 7.0, 2).as("avg_yearly"))
      .orderBy($"p_brand")
  }

  private val q55Oracle =
    """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_small,
      |  round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
      |  FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---- registration -------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t38_bm25_retrieval" -> (t38 _),
    "t39_pmi_collocations" -> (t39 _),
    "t40_score_quantile_norm" -> (t40 _),
    "t41_textrank_keywords" -> (t41 _),
    "q55_small_qty_revenue" -> (q55 _),
  )

  val oracles: Map[String, String] = Map(
    "t38_bm25_retrieval" -> t38Oracle,
    "t39_pmi_collocations" -> t39Oracle,
    "t40_score_quantile_norm" -> t40Oracle,
    "t41_textrank_keywords" -> t41Oracle,
    "q55_small_qty_revenue" -> q55Oracle,
  )
}
