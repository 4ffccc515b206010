package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.CheckpointOps
import graft.functions.TextOps.{sqlHash64, sqlHash64Seeded, sqlTokens}
import graft.functions.NativeKernels.word_tokens

/** Tenth tranche — the published quality-filter stages of large-scale
  * web-corpus curation, each oracle-checked:
  *
  *  - t31: Gopher-style rule filter (Rae et al. 2021 §A1.1 shape):
  *    per-doc word count, mean word length, stopword hits, and
  *    alphabetic-word fraction, each against a fixed threshold, plus
  *    the conjunctive pass verdict — the rule battery every
  *    rule-based web filter (Gopher, RefinedWeb, FineWeb) runs before
  *    any model-based scoring;
  *  - t32: hash-featured linear quality classifier — the fasttext-
  *    shaped inference path (bag-of-words → per-token weight lookup →
  *    mean → threshold) with weights that are a pure hash of the
  *    token, so the exact scores are engine-portable and the oracle
  *    checks them bit-for-bit (a learned model swaps the weight
  *    table, not the plan);
  *  - t33: CCNet perplexity buckets (Wenzek et al. 2020): per-doc
  *    unigram NLL (t18's arithmetic), bucketed head/middle/tail by
  *    per-source NLL terciles — the standard "keep the head, drop
  *    the tail" curation signal.
  *
  * The reference ships no text analytics (it is an IOC ETL bridge,
  * `/root/reference/src/Datalake2Anomali.py:1-449`); these extend the
  * §7.2 LLM-pipeline surface alongside t01-t30.
  */
object Relational10 extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---- t31: Gopher-style rule battery -------------------------------

  /** Stopword list (intersects the synthetic vocabulary so the rule
    * is non-vacuous at every SF; the real Gopher list is longer but
    * the plan shape is identical — a broadcast `isin`). */
  private val STOPWORDS = Seq("the", "a", "of", "to", "and", "in")
  private val MIN_WORDS = 3
  private val MAX_WORDS = 100000
  private val MIN_MEAN_LEN = 2.0
  private val MAX_MEAN_LEN = 10.0
  private val MIN_STOP_HITS = 2
  private val MIN_ALPHA_FRAC = 0.8

  /** The t31 pass verdict as a standalone Column over a text column —
    * pure per-row arithmetic, so the STREAMING curation face applies
    * the identical expression to arriving documents (the
    * [[graft.streaming.CorpusStream]] shared-expression convention:
    * batch/stream parity by construction, asserted in
    * Relational10Spec). */
  def gopherPass(text: Column): Column = {
    val toks = word_tokens(text)
    val nW = size(toks).cast("long")
    val meanLen = when(nW > 0,
      aggregate(transform(toks, tk => length(tk).cast("long")),
        lit(0L), (acc, x) => acc + x).cast("double") / nW)
    val stopHits = size(filter(toks, tk => tk.isin(STOPWORDS: _*))).cast("long")
    val alphaFrac = when(nW > 0,
      size(filter(toks, tk => tk.rlike("[a-z]"))).cast("double") / nW)
    (nW >= MIN_WORDS && nW <= MAX_WORDS &&
      round(meanLen, 4) >= MIN_MEAN_LEN && round(meanLen, 4) <= MAX_MEAN_LEN &&
      stopHits >= MIN_STOP_HITS &&
      round(alphaFrac, 4) >= MIN_ALPHA_FRAC).cast("long")
  }

  /** Gopher-style quality rules, one row per document. All four rule
    * metrics come out of ONE token-array scan (no explode, no
    * shuffle): `filter`/`aggregate` higher-order functions over the
    * native tokenizer's array, so the plan is scan → project → the
    * deterministic output sort, and the only exchange is the final
    * order-by. Empty docs (zero tokens) get null ratio metrics and
    * `pass` = 0 via SQL three-valued logic — `n_words >= 3` is FALSE,
    * and FALSE AND NULL = FALSE (both engines).
    *
    * At 100 TB: per-row arithmetic with no shuffle scales linearly;
    * the rule thresholds are literals (constant-folded), and the
    * pass verdict feeds the t09-style keep-join downstream
    * ([[CorpusPipeline.curate]]'s `gopher` gate); [[gopherPass]] is
    * the same verdict as a streaming-safe Column. */
  def t31(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = word_tokens($"text")
    val nW = size(toks).cast("long")
    // integer char total, divided once at the end: order-independent
    val charSum = aggregate(transform(toks, tk => length(tk).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val stopHits = size(filter(toks, tk => tk.isin(STOPWORDS: _*))).cast("long")
    val alphaN = size(filter(toks, tk => tk.rlike("[a-z]"))).cast("long")
    t(s, dir, "documents")
      .select($"doc_id", nW.as("n_words"), charSum.as("cs"),
        stopHits.as("stop_hits"), alphaN.as("an"))
      .select($"doc_id", $"n_words",
        round(when($"n_words" > 0, $"cs".cast("double") / $"n_words"), 4)
          .as("mean_word_len"),
        $"stop_hits",
        round(when($"n_words" > 0, $"an".cast("double") / $"n_words"), 4)
          .as("alpha_frac"))
      .withColumn("pass",
        ($"n_words" >= MIN_WORDS && $"n_words" <= MAX_WORDS &&
          $"mean_word_len" >= MIN_MEAN_LEN && $"mean_word_len" <= MAX_MEAN_LEN &&
          $"stop_hits" >= MIN_STOP_HITS &&
          $"alpha_frac" >= MIN_ALPHA_FRAC).cast("long"))
      .orderBy($"doc_id")
  }

  private val t31Oracle = {
    val stopList = STOPWORDS.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH d AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |m AS (SELECT doc_id,
       |  CAST(len(tk) AS BIGINT) AS n_words,
       |  round(CASE WHEN len(tk) > 0 THEN
       |    list_sum(list_transform(tk, x -> len(x))) * 1.0 / len(tk) END, 4)
       |    AS mean_word_len,
       |  CAST(len(list_filter(tk, x -> list_contains($stopList, x))) AS BIGINT)
       |    AS stop_hits,
       |  round(CASE WHEN len(tk) > 0 THEN
       |    len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) * 1.0 / len(tk)
       |    END, 4) AS alpha_frac
       |  FROM d)
       |SELECT doc_id, n_words, mean_word_len, stop_hits, alpha_frac,
       |  CAST(coalesce(n_words >= $MIN_WORDS AND n_words <= $MAX_WORDS
       |    AND mean_word_len >= $MIN_MEAN_LEN AND mean_word_len <= $MAX_MEAN_LEN
       |    AND stop_hits >= $MIN_STOP_HITS
       |    AND alpha_frac >= $MIN_ALPHA_FRAC, FALSE) AS BIGINT) AS pass
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // ---- t32: hash-featured linear classifier -------------------------

  /** Per-token pseudo-weight in [-0.500, 0.499]: a pure hash of the
    * token, so both engines derive the identical weight table from
    * nothing but the token bytes. A trained model replaces this with
    * a broadcast lookup; the plan (and the oracle discipline) is
    * unchanged. */
  private def tokWeightMilli(tk: Column): Column =
    pmod(graft.functions.TextOps.hash64(concat(lit("w:"), tk)), lit(1000L)) - lit(500L)

  /** The t32 fixed-point score as a standalone Column over a text
    * column (null for zero-token docs) — the per-row form
    * [[CorpusPipeline.curate]]'s classifier gate applies to rows
    * already in hand, instead of re-scanning the corpus for a
    * verdict join (the [[gopherPass]] convention). */
  def classifierScorePpm(text: Column): Column = {
    val toks = word_tokens(text)
    val nW = size(toks).cast("long")
    val wSum = aggregate(transform(toks, tokWeightMilli(_)), lit(0L),
      (acc, x) => acc + x)
    when(nW > 0,
      floor(((wSum + lit(500L) * nW) * lit(1000L)).cast("double") / nW)
        .cast("long") - 500000L)
  }

  /** Linear bag-of-words quality classifier, fasttext-inference
    * shape: score(doc) = mean over tokens of w(token), label =
    * score > 0. ALL arithmetic is integer: milli-unit weights summed
    * as longs, and the mean reported in fixed-point parts-per-million
    * — a rounded float quotient of two small integers can land
    * EXACTLY on a decimal rounding tie (measured: ws=-781, n=44 →
    * -0.01775, which HALF_UP and DuckDB's decimal round split), so
    * the quotient is computed as a non-negative integer floor
    * division instead (offset by the weight range so truncation ≡
    * floor identically in both engines), then shifted back.
    *
    * Single scan, no shuffle: weights and the sum are higher-order
    * functions over the token array; the only exchange is the output
    * sort. At 100 TB this is the cheapest model-based filter there
    * is — and the same plan serves a real learned weight table via
    * broadcast join on token. */
  def t32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = word_tokens($"text")
    val nW = size(toks).cast("long")
    val wSum = aggregate(transform(toks, tokWeightMilli(_)), lit(0L),
      (acc, x) => acc + x)
    t(s, dir, "documents")
      .select($"doc_id", nW.as("n_tok"), wSum.as("ws"))
      .select($"doc_id", $"n_tok",
        // mean weight in ppm: (ws + 500·n)·1000 ≥ 0, so floor of the
        // double quotient (exact: |numerator| < 2^53) is plain
        // truncation — no rounding mode in play at all
        when($"n_tok" > 0,
          floor((($"ws" + lit(500L) * $"n_tok") * lit(1000L)).cast("double") / $"n_tok")
            .cast("long") - 500000L).as("score_ppm"),
        ($"ws" > 0).cast("long").as("label"))
      .orderBy($"doc_id")
  }

  // list_sum yields HUGEINT in DuckDB; without the BIGINT cast the
  // comparator materializes score_ppm as float64 against Spark's int64
  // and the value hash diverges on dtype alone.
  private val t32Oracle =
    s"""WITH d AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |m AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
       |  list_sum(list_transform(tk,
       |    x -> ${sqlHash64("concat('w:', x)")} % 1000 - 500)) AS ws
       |  FROM d)
       |SELECT doc_id, n_tok,
       |  CAST(CASE WHEN n_tok > 0 THEN
       |    ((ws + 500 * n_tok) * 1000) // n_tok - 500000 END AS BIGINT)
       |    AS score_ppm,
       |  CAST(coalesce(ws, 0) > 0 AS BIGINT) AS label
       |FROM m ORDER BY doc_id""".stripMargin

  // ---- t33: CCNet perplexity buckets --------------------------------

  /** CCNet head/middle/tail: per-doc unigram NLL (exactly t18's
    * arithmetic — corpus vocabulary counts, avg −log p per token),
    * then tercile assignment WITHIN each source by rounded NLL with
    * doc_id tie-break. The window orders by the ROUNDED nll both
    * sides, so sub-rounding float drift can never flip a tercile
    * boundary between engines.
    *
    * Scale: the vocab join is the t18 plan (token-keyed partial
    * aggregation; the vocabulary frame is corpus-bounded, not
    * row-bounded); the tercile window sorts per SOURCE — at 100 TB
    * with few sources, replace the exact ntile with the q52s
    * cut-point machinery (approx_percentile thirds per source +
    * map-side bucket assignment), which CCNet itself does by
    * computing percentile cut-points on a sample. */
  def t33(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dt = t(s, dir, "documents")
      .select($"doc_id", $"source", explode(word_tokens($"text")).as("tok"))
      .groupBy($"doc_id", $"source", $"tok").agg(count(lit(1)).as("m"))
    val vocab = dt.groupBy($"tok").agg(sum($"m").as("c"))
    val total = vocab.agg(sum($"c").as("tt"))
    val nll = dt.join(vocab, Seq("tok"))
      .crossJoin(total)
      .groupBy($"doc_id", $"source")
      .agg(round(sum($"m" * (log($"tt") - log($"c"))) / sum($"m"), 4).as("avg_nll"))
    val w = Window.partitionBy($"source").orderBy($"avg_nll", $"doc_id")
    nll.withColumn("b", ntile(3).over(w).cast("long"))
      .select($"doc_id", $"source", $"avg_nll",
        when($"b" === 1, "head").when($"b" === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy($"doc_id")
  }

  private val t33Oracle =
    s"""WITH docs AS (SELECT doc_id, source, ${sqlTokens("text")} AS tk
       |  FROM documents),
       |tok AS (SELECT doc_id, source, unnest(tk) AS tok FROM docs),
       |dt AS (SELECT doc_id, source, tok, count(*) AS m FROM tok GROUP BY 1, 2, 3),
       |vocab AS (SELECT tok, sum(m) AS c FROM dt GROUP BY tok),
       |total AS (SELECT sum(c) AS tt FROM vocab),
       |nll AS (SELECT doc_id, source,
       |    round(sum(m * (ln(tt) - ln(c))) / sum(m), 4) AS avg_nll
       |  FROM dt JOIN vocab USING (tok) CROSS JOIN total GROUP BY 1, 2),
       |b AS (SELECT doc_id, source, avg_nll,
       |    ntile(3) OVER (PARTITION BY source ORDER BY avg_nll, doc_id) AS b
       |  FROM nll)
       |SELECT doc_id, source, avg_nll,
       |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
       |    AS bucket
       |FROM b ORDER BY doc_id""".stripMargin

  // ---- d14: incremental cluster maintenance -------------------------

  private val INC_FOLDS = 10L // "new batch" = salted fold 0 (~10%)

  private[operators] def isNewDoc(c: Column): Column =
    pmod(graft.functions.TextOps.hash64(
      concat(lit("inc:"), c.cast("string"))), lit(INC_FOLDS)) === 0L

  /** Incremental near-dup cluster maintenance: treat a deterministic
    * ~10% of the corpus as a NEWLY INGESTED batch, cluster the old
    * 90% first, then merge the new batch in WITHOUT re-clustering the
    * old corpus — contract every new-batch pair through the old
    * cluster labels (old endpoint → its cluster rep), run connected
    * components on that contracted graph only (nodes = touched old
    * reps + new docs), and stitch the final labels. Min-id labeling
    * is ASSOCIATIVE — the min of a merged component is the min over
    * its old cluster mins and raw new ids — so the incremental result
    * is bit-identical to a full recompute, and the oracle IS d06's
    * full-recompute SQL, verbatim: any error in the merge logic
    * breaks the hash.
    *
    * Scale: this is the 100 TB ingest shape — the increment costs
    * pair generation for the NEW batch plus CC on a graph bounded by
    * (new docs + touched clusters), never the 100 TB corpus. The
    * registered form reads the materialized pair table (the
    * t29m/q51m pipeline-state precedent) so its bench cost is the
    * MERGE cost; `pairsIn = None` recomputes detection inline (the
    * d06/d09 harness convention). A real pipeline also keeps the
    * shingle→doc index materialized so new-batch pair probes touch
    * only the new docs' shingle buckets ([[Relational7.d11]]'s
    * straddle shape). */
  /** One ingest increment of the merge algebra: fold `newPairs` (the
    * pairs with at least one endpoint outside the already-clustered
    * corpus) into `oldLabels` (`(id, comp)`, the true min-id labeling
    * of the old corpus), returning the `(id, comp)` labeling of the
    * grown corpus. Chainable — labels out feed the next increment in
    * — because min-id labeling is associative; Relational10Spec
    * proves a TWO-increment chain equals full recompute. */
  private[graft] def mergeIncrement(s: SparkSession,
      newPairs: DataFrame, oldLabels: DataFrame): DataFrame = {
    import s.implicits._
    val old = oldLabels.select($"id".as("x"), $"comp".as("lx"))
      .localCheckpoint()
    // contract new-batch pairs through the old labels
    val la = old.select($"x".as("a_id"), $"lx".as("la"))
    val lb = old.select($"x".as("b_id"), $"lx".as("lb"))
    val contracted = newPairs
      .join(la, Seq("a_id"), "left")
      .join(lb, Seq("b_id"), "left")
      .select(coalesce($"la", $"a_id").as("a_id"),
        coalesce($"lb", $"b_id").as("b_id"))
      .filter($"a_id" =!= $"b_id")
    // CC on the contracted graph only (touched reps + new docs)
    val comp = Relational4.d09(s, "", pairsIn = Some(contracted))
      .select($"doc_id".as("node"), $"cluster_id".as("c"))
      .localCheckpoint()
    // stitch: old docs map through (their rep's) component; nodes not
    // in the old label table (new docs, old docs whose only pairs are
    // new) take their component label directly
    val oldFinal = old
      .join(comp.withColumnRenamed("node", "lx"), Seq("lx"), "left")
      .select($"x".as("id"), coalesce($"c", $"lx").as("comp"))
    val directFinal = comp
      .join(old.select($"x".as("node")), Seq("node"), "left_anti")
      .select($"node".as("id"), $"c".as("comp"))
    oldFinal.union(directFinal)
  }

  def d14(s: SparkSession, dir: String,
      pairsIn: Option[DataFrame] = None): DataFrame =
    incrementalClusters(s, dir, pairsIn.getOrElse(Dedup.d02(s, dir)), "doc_id")

  /** The d14/d16 body over a near-dup pair source, labelled by `idCol`:
    * the old corpus is clustered first (frozen round-N−1 state, what
    * a real pipeline reads), then the new batch merges in through
    * [[mergeIncrement]]. */
  private def incrementalClusters(s: SparkSession, dir: String,
      pairsAll: DataFrame, idCol: String): DataFrame = {
    import s.implicits._
    val pairs = pairsAll.select($"a_id", $"b_id")
    val oldPairs = pairs.filter(!isNewDoc($"a_id") && !isNewDoc($"b_id"))
    val newPairs = pairs.filter(isNewDoc($"a_id") || isNewDoc($"b_id"))
    val oldLabels = Relational4.d09(s, dir, pairsIn = Some(oldPairs))
      .select($"doc_id".as("id"), $"cluster_id".as("comp"))
    val labels = mergeIncrement(s, newPairs, oldLabels)
      .select($"id".as(idCol), $"comp".as("cluster_id"))
    val sizes = labels.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col(idCol), $"cluster_id", $"cluster_size")
      .orderBy(col(idCol))
  }

  // ---- d16: incremental SEMANTIC cluster maintenance ----------------

  /** d14's contract-through-old-labels algebra applied to the
    * embedding pipeline (VERDICT r10 #5 — d08's clusters previously
    * recomputed from scratch per batch): the same deterministic ~10%
    * of vectors is the newly ingested batch, the old 90% is clustered
    * first (frozen round-N−1 state), and the new batch merges in by
    * contracting its pairs through the old labels — CC runs only on
    * (touched old reps + new vectors), never the corpus. Min-id
    * labeling is associative, so the result is BIT-IDENTICAL to d08's
    * full recompute, and the oracle IS d08's full-recompute SQL
    * verbatim; SimilaritySpec additionally asserts Spark-side
    * equality with d08 row for row.
    *
    * Scale: with the rotation-bucket index materialized, a real
    * increment generates candidate pairs only for buckets the new
    * vectors touch ([[graft.operators.Relational7.d11]]'s straddle
    * shape); the merge itself is bounded by the increment, which is
    * what makes embedding-dedup maintainable at 100 TB ingest rates.
    * The registered form reads the slot-cached pair table (the d14
    * precedent) so its bench cost is the merge cost. */
  def d16(s: SparkSession, dir: String,
      pairsIn: Option[DataFrame] = None): DataFrame =
    incrementalClusters(s, dir,
      pairsIn.getOrElse(Similarity.d08Pairs(s, dir)), "vec_id")

  private val embPairCache = Materialized[DataFrame]()

  /** Materialized d08 pair table (the materializedPairs analog for
    * the embedding pipeline) — shared by the registered d16 form. */
  private[operators] def materializedEmbPairs(s: SparkSession,
      dir: String): DataFrame =
    embPairCache(s, dir)(
      Similarity.d08Pairs(s, dir).localCheckpoint())

  // ---- d15: quality-aware dedup apply -------------------------------

  /** Quality-aware near-dup apply: keep the BEST-QUALITY member of
    * each duplicate cluster (tie → min doc_id) instead of d07's
    * min-id member — the keeper policy a real curation pipeline wants
    * (the duplicate with the cleanest text survives; which copy was
    * crawled first is irrelevant). Composes two already-oracle-proven
    * frames: the materialized d06 cluster labels and t02's rounded
    * quality score; the keeper choice is one row_number window over
    * the label table (cluster-sized partitions, tiny), and the corpus
    * is assembled by the same anti-join shape as d07.
    *
    * The tie-break orders by the ROUNDED quality both sides (the t33
    * convention), so float drift below the round can never flip a
    * keeper between engines. */
  def d15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = Relational4.materializedLabels(s, dir) // (id, comp)
    val quality = TextAnalysis.t02(s, dir).select($"doc_id", $"quality")
    val clustered = labels
      .join(quality, labels("id") === quality("doc_id"))
      .select(labels("id").as("doc_id"), $"comp", $"quality")
    val w = Window.partitionBy($"comp").orderBy($"quality".desc, $"doc_id")
    val drops = clustered.withColumn("rn", row_number().over(w))
      .filter($"rn" =!= 1).select($"doc_id")
    t(s, dir, "documents")
      .join(drops, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"n_chars")
      .orderBy($"doc_id")
  }

  private val d15Oracle =
    s"""${Relational4.ccOraclePrefix},
       |q AS (SELECT doc_id, quality FROM
       |  (${TextAnalysis.oracles("t02_quality_score")})),
       |ranked AS (SELECT c.id AS doc_id,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY q.quality DESC, c.id) AS rn
       |  FROM comp c JOIN q ON q.doc_id = c.id),
       |drops AS (SELECT doc_id FROM ranked WHERE rn <> 1)
       |SELECT d.doc_id, d.n_chars FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
       |ORDER BY doc_id""".stripMargin

  // ---- t34: BPE trainer loop ----------------------------------------

  private val BPE_STEPS = 5

  /** Adjacent symbol pairs of a symbol array (the t28 slice/zip_with
    * shape — no posexplode self-join, length-0/1 arrays safe). */
  private def symPairs(sym: Column): Column =
    zip_with(
      slice(sym, lit(1), greatest(size(sym) - 1, lit(0))),
      slice(sym, lit(2), greatest(size(sym) - 1, lit(0))),
      (a, b) => struct(a.as("a"), b.as("b")))

  /** Greedy left-to-right application of merge (a, b) → ab over a
    * symbol array, positional (no sequential fold): position i takes
    * the merged symbol iff (sym[i], sym[i+1]) = (a, b), and drops iff
    * position i−1 matched. With a ≠ b (the registered tie-break skips
    * self-pairs) two matches can never overlap, so the positional
    * rule IS the greedy scan. `get` (0-based, null out-of-bounds) keeps
    * the boundary arithmetic ANSI-safe. */
  private[graft] def applyMerge(sym: Column, a: String, b: String): Column = {
    def matchedAt(i: Column): Column = coalesce(
      get(sym, i - 1) === a && get(sym, i) === b, lit(false))
    transform(
      filter(
        transform(sequence(lit(1), greatest(size(sym), lit(1))), i =>
          struct(
            when(matchedAt(i), lit(a + b))
              .otherwise(get(sym, i - 1)).as("v"),
            matchedAt(i - 1).as("dropped"),
            (i <= size(sym)).as("real"))),
        st => st("real") && !st("dropped")),
      st => st("v"))
  }

  /** Byte-pair-encoding TRAINER: the first [[BPE_STEPS]] merges over
    * the corpus, each step picking the most frequent adjacent symbol
    * pair (count desc, then pair asc — and self-pairs (a = a)
    * excluded, which keeps greedy merge application overlap-free and
    * therefore positionally expressible in BOTH engines; the spec
    * asserts the exclusion never changed a pick at this corpus) and
    * rewriting the vocabulary. t19 ranks the FIRST step's candidates;
    * this runs the actual training loop and returns one row per
    * merge: (step, lhs, rhs, pair_count).
    *
    * Scale (real BPE-trainer economics): the corpus collapses to the
    * word-frequency table before the loop — every step iterates over
    * DISTINCT words (vocabulary-sized, bounded by the language, not
    * the corpus), localCheckpoint per step (the lloydIterate/d09
    * iterative pattern), pair counts weighted by word frequency. The
    * per-step argmax is a 1-row driver action on a K-row aggregate —
    * the isStarForest-style loop control, not a data collect. */
  /** The shared trainer loop: k merge picks plus the corpus-symbol
    * total after each step (step 0 = untrained). One extra 1-row
    * aggregate per step — loop control, not a data collect. */
  private def bpeRun(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], Seq[(Long, Long)]) = {
    import s.implicits._
    val words0 = t(s, dir, "documents")
      .select(explode(word_tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .select(split($"w", "").as("sym"), $"freq")
      .localCheckpoint()
    def totalSymbols(words: DataFrame): Long = words
      .agg(sum($"freq" * size($"sym"))).head().getLong(0)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    val totals = Seq.newBuilder[(Long, Long)]
    // each step records the total of the vocabulary it starts from
    // (step 1: the untrained one), the final total after the loop
    val words = CheckpointOps.rounds(words0, BPE_STEPS) { (words, step) =>
      totals += ((step - 1L, totalSymbols(words)))
      val top = words
        .select($"freq", explode(symPairs($"sym")).as("p"))
        .filter($"p.a" =!= $"p.b")
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"a", $"b")
        .limit(1).collect()(0)
      val (a, b, cnt) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((step, a, b, cnt))
      words.select(applyMerge($"sym", a, b).as("sym"), $"freq")
    }
    totals += ((BPE_STEPS.toLong, totalSymbols(words)))
    CheckpointOps.freeLocalCheckpoint(words)
    (merges.result(), totals.result())
  }

  def t34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeRun(s, dir)._1.toDF("step", "lhs", "rhs", "pair_count")
      .select($"step".cast("long"), $"lhs", $"rhs", $"pair_count")
      .orderBy($"step")
  }

  /** BPE APPLICATION curve: corpus symbol totals (Σ freq·|sym|) after
    * each trained merge, step 0 = character baseline. Because a ≠ b
    * merges can never overlap, EVERY counted pair occurrence is
    * applied, so total(k) = total(k−1) − pair_count(k) exactly — the
    * spec asserts that identity against t34, and the oracle aggregates
    * the same unrolled CTE chain. This is the tokenizer-compression
    * report a training team reads off a trainer run (symbols ≈ tokens
    * the model will see). */
  def t35(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeRun(s, dir)._2.toDF("step", "total_symbols")
      .orderBy($"step")
  }

  private val t35Oracle = {
    val stages = (1 to BPE_STEPS).map(i => {
      val prev = s"sym${i - 1}"
      s"""p$i AS (SELECT u.p.a AS a, u.p.b AS b, sum(freq) AS cnt
         |  FROM (SELECT freq, unnest([{a: sym[k], b: sym[k+1]} FOR k IN range(1, len(sym))]) AS p
         |        FROM $prev) u
         |  WHERE u.p.a <> u.p.b GROUP BY 1, 2),
         |m$i AS (SELECT a, b FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |sym$i AS (SELECT
         |    [CASE WHEN coalesce(sym[k] = m$i.a AND sym[k+1] = m$i.b, FALSE)
         |       THEN m$i.a || m$i.b ELSE sym[k] END
         |     FOR k IN range(1, len(sym)+1)
         |     IF NOT coalesce(sym[k-1] = m$i.a AND sym[k] = m$i.b, FALSE)] AS sym,
         |    freq
         |  FROM $prev CROSS JOIN m$i)""".stripMargin
    }).mkString(",\n")
    val out = (0 to BPE_STEPS)
      .map(i => s"SELECT CAST($i AS BIGINT) AS step, CAST(sum(freq * len(sym)) AS BIGINT) AS total_symbols FROM sym$i")
      .mkString("\nUNION ALL ")
    s"""WITH d AS (SELECT ${sqlTokens("text")} AS tk FROM documents),
       |w AS (SELECT unnest(tk) AS w FROM d),
       |wf AS (SELECT w, count(*) AS freq FROM w GROUP BY w),
       |sym0 AS (SELECT string_split(w, '') AS sym, freq FROM wf),
       |$stages
       |$out
       |ORDER BY step""".stripMargin
  }

  private val t34Oracle = {
    def stage(i: Int): String = {
      val prev = s"sym${i - 1}"
      s"""p$i AS (SELECT u.p.a AS a, u.p.b AS b, sum(freq) AS cnt
         |  FROM (SELECT freq, unnest([{a: sym[k], b: sym[k+1]} FOR k IN range(1, len(sym))]) AS p
         |        FROM $prev) u
         |  WHERE u.p.a <> u.p.b GROUP BY 1, 2),
         |m$i AS (SELECT a, b, CAST(cnt AS BIGINT) AS cnt FROM p$i
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |sym$i AS (SELECT
         |    [CASE WHEN coalesce(sym[k] = m$i.a AND sym[k+1] = m$i.b, FALSE)
         |       THEN m$i.a || m$i.b ELSE sym[k] END
         |     FOR k IN range(1, len(sym)+1)
         |     IF NOT coalesce(sym[k-1] = m$i.a AND sym[k] = m$i.b, FALSE)] AS sym,
         |    freq
         |  FROM $prev CROSS JOIN m$i)""".stripMargin
    }
    val stages = (1 to BPE_STEPS).map(stage).mkString(",\n")
    val out = (1 to BPE_STEPS)
      .map(i => s"SELECT CAST($i AS BIGINT) AS step, a AS lhs, b AS rhs, cnt AS pair_count FROM m$i")
      .mkString("\nUNION ALL ")
    s"""WITH d AS (SELECT ${sqlTokens("text")} AS tk FROM documents),
       |w AS (SELECT unnest(tk) AS w FROM d),
       |wf AS (SELECT w, count(*) AS freq FROM w GROUP BY w),
       |sym0 AS (SELECT string_split(w, '') AS sym, freq FROM wf),
       |$stages
       |$out
       |ORDER BY step""".stripMargin
  }

  // ---- x06: Count-Min sketch ----------------------------------------

  private val CMS_D = 3     // depth (independent hash rows)
  private val CMS_W = 256L  // width (counters per row)
  private val CMS_NQ = 20L  // query keys: user ids < 20

  private def cmsCells(c: Column): Column = array((0 until CMS_D).map(j =>
    struct(lit(j).as("j"),
      pmod(graft.functions.TextOps.hash64Seeded(j, c.cast("string")),
        lit(CMS_W)).as("cell"))): _*)

  /** Test seam: the cell mapping, for the D·W state-bound assert. */
  private[graft] def cmsCellsForTest(c: Column): Column = cmsCells(c)

  /** The D·W counter table of a user_id frame — ONE definition serving
    * batch [[x06]] and the streaming face
    * ([[graft.streaming.EventStreams.countMinStream]]), so their
    * parity is by construction: counters are sums, and sums are the
    * same in any arrival order. */
  private[graft] def cmsCounters(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    ev.select(explode(cmsCells($"user_id")).as("jc"))
      .groupBy($"jc.j".as("j"), $"jc.cell".as("cell"))
      .agg(count(lit(1)).as("total"))
  }

  /** Count-Min sketch point queries, exactly oracle-checked: the CMS
    * estimate (min over depth rows of the hashed counter cells) is a
    * DETERMINISTIC function of the input multiset — counters are
    * sums, so unlike order-dependent sketches (x04) the estimate
    * itself hash-matches an oracle that rebuilds the same counters in
    * SQL. This extends the x05 KMV trick to the second classic
    * mergeable sketch; the overestimate-only guarantee
    * (est ≥ exact, Cormode & Muthukrishnan 2005) is spec-asserted.
    *
    * Scale: the counter table is D·W rows REGARDLESS of corpus size,
    * built by one map-side-combining aggregate over the event stream
    * (each event contributes D increments); cells merge across
    * partitions, machines, and days by addition — the
    * streaming/cross-engine count infrastructure a 100 TB pipeline
    * actually ships. Point queries broadcast-join the D·W frame. */
  def x06(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events").select($"user_id")
    val cells = cmsCounters(ev)
    val q = ev.filter($"user_id" < CMS_NQ).distinct()
    val est = q
      .select($"user_id", explode(cmsCells($"user_id")).as("jc"))
      .select($"user_id", $"jc.j".as("j"), $"jc.cell".as("cell"))
      .join(broadcast(cells), Seq("j", "cell"))
      .groupBy($"user_id").agg(min($"total").as("est_count"))
    val exact = ev.filter($"user_id" < CMS_NQ)
      .groupBy($"user_id").agg(count(lit(1)).as("exact_count"))
    est.join(exact, Seq("user_id"))
      .select($"user_id", $"est_count", $"exact_count")
      .orderBy($"user_id")
  }

  private val x06Oracle = {
    def cellSql(j: Int) =
      s"${sqlHash64Seeded(j, "CAST(user_id AS VARCHAR)")} % $CMS_W"
    val cellsUnion = (0 until CMS_D).map(j =>
      s"SELECT $j AS j, ${cellSql(j)} AS cell, CAST(count(*) AS BIGINT) AS total FROM events GROUP BY 2")
      .mkString("\n  UNION ALL ")
    val qCells = (0 until CMS_D).map(j =>
      s"SELECT user_id, $j AS j, ${cellSql(j)} AS cell FROM q")
      .mkString("\n  UNION ALL ")
    s"""WITH cells AS ($cellsUnion),
       |q AS (SELECT DISTINCT user_id FROM events WHERE user_id < $CMS_NQ),
       |qc AS ($qCells),
       |est AS (SELECT user_id, min(total) AS est_count
       |  FROM qc JOIN cells USING (j, cell) GROUP BY user_id),
       |ex AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_count
       |  FROM events WHERE user_id < $CMS_NQ GROUP BY user_id)
       |SELECT user_id, est_count, exact_count
       |FROM est JOIN ex USING (user_id) ORDER BY user_id""".stripMargin
  }

  // ---- registration -------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t31_gopher_rules" -> (t31 _),
    "t32_quality_classifier" -> (t32 _),
    "t33_nll_buckets" -> (t33 _),
    "d14_incremental_clusters" -> ((s: SparkSession, d: String) =>
      d14(s, d, Some(Relational4.materializedPairs(s, d)))),
    "d16_incremental_semantic_clusters" -> ((s: SparkSession, d: String) =>
      d16(s, d, Some(materializedEmbPairs(s, d)))),
    "x06_countmin" -> (x06 _),
    "t34_bpe_train" -> (t34 _),
    "t35_bpe_apply" -> (t35 _),
    "d15_quality_dedup_apply" -> (d15 _),
  )

  val oracles: Map[String, String] = Map(
    "t31_gopher_rules" -> t31Oracle,
    "t32_quality_classifier" -> t32Oracle,
    "t33_nll_buckets" -> t33Oracle,
    // the oracle is d06's FULL-RECOMPUTE clustering SQL, verbatim:
    // incremental maintenance must be indistinguishable from it
    "d14_incremental_clusters" -> Relational4.oracles("d06_dup_clusters"),
    // same discipline over the embedding pipeline: d08's full
    // recompute SQL is the oracle for the incremental merge
    "d16_incremental_semantic_clusters" -> Similarity.oracles("d08_semantic_clusters"),
    "x06_countmin" -> x06Oracle,
    "t34_bpe_train" -> t34Oracle,
    "t35_bpe_apply" -> t35Oracle,
    "d15_quality_dedup_apply" -> d15Oracle,
  )
}
