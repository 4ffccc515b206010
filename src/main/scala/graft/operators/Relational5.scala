package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.NativeKernels.word_tokens
import graft.functions.TextOps.sqlTokens

/** Fifth tranche — the remaining corpus-quality and packing operators
  * of a training-data pipeline, plus IGNORE NULLS window navigation:
  *
  *  - t11: repetition signals (top-unigram token fraction, top-bigram
  *    character fraction) — the Gopher-style "repetitious text" quality
  *    filters;
  *  - t12: sequence packing — concat-then-chunk assignment of docs
  *    into fixed token-budget chunks via one running-sum window, the
  *    deterministic packing step before LLM pre-training;
  *  - q38: first/last/nth_value with IGNORE NULLS over event streams.
  *
  * Emitted fractions are single int/int divisions (bit-identical
  * across engines, no rounding needed).
  */
object Relational5 extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Non-distinct word bigrams of the token array `t` (the shingle
    * kernel dedups, which is right for Jaccard but wrong for counting
    * repetition — here every occurrence votes). */
  private def bigrams(toks: org.apache.spark.sql.Column) =
    zip_with(slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))

  /** Repetition signals per doc: fraction of tokens that are the most
    * common token, and fraction of characters covered by the most
    * common bigram (count × bigram length / n_chars). Ties break on
    * the lexicographically smallest n-gram so both engines pick the
    * same winner.
    *
    * ONE corpus scan (r10 rewrite; the original three-branch form —
    * docs/unigram/bigram each re-tokenizing — carried a kernel-sweep
    * allowance): unigrams and bigrams ride a single tagged explode
    * (the t39 shape), one (doc, kind, gram) count aggregate, then one
    * per-doc aggregate with `when(kind=...)` CONDITIONAL aggregates —
    * not filtered branches (a filter on kind would push below the
    * count aggregate and split the exchange per consumer, the t39
    * pushdown lesson) and not windows (a first draft windowed over
    * doc_id and paid a needless corpus-sized partition sort — 3×
    * slower at sf0.1). The bigram argmax is `min(struct(-c, gram))`:
    * highest count, then lexicographically smallest gram, in one
    * order-agnostic aggregate. n_chars joins back from a
    * column-pruned documents scan that never tokenizes. */
  def t11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val units = transform($"toks",
      w => struct(lit("u").as("kind"), w.as("gram")))
    val bis = transform(bigrams($"toks"),
      b => struct(lit("b").as("kind"), b.as("gram")))
    val stats = t(s, dir, "documents")
      .select($"doc_id", word_tokens($"text").as("toks"))
      .select($"doc_id", explode_outer(concat(units, bis)).as("p"))
      .filter($"p".isNotNull)
      .groupBy($"doc_id", $"p.kind".as("kind"), $"p.gram".as("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(
        sum(when($"kind" === "u", $"c")).cast("long").as("n_tokens"),
        max(when($"kind" === "u", $"c")).as("top_tok"),
        min(when($"kind" === "b", struct((-$"c").as("nc"), $"gram")))
          .as("best_bi"))
      .select($"doc_id", $"n_tokens", $"top_tok",
        (-$"best_bi.nc" * length($"best_bi.gram")).as("bg_chars"))
    t(s, dir, "documents").select($"doc_id", $"n_chars")
      .join(stats, Seq("doc_id"))
      .select($"doc_id", $"n_tokens",
        ($"top_tok" / $"n_tokens").as("top_token_frac"),
        (coalesce($"bg_chars", lit(0L)) / $"n_chars").as("rep_bigram_frac"))
      .orderBy($"doc_id")
  }

  private val PACK_BUDGET = 512L
  private val PACK_SHARDS = 8L

  /** Sequence packing: documents in doc_id order are concatenated and
    * cut into PACK_BUDGET-token chunks; each doc gets its chunk id and
    * token offset within the chunk.
    *
    * `nShards = None` is the single-stream form — one GLOBAL
    * running-sum window, i.e. a single-partition sort: fine for one
    * shard's worth of data, a scale-stopper for a whole corpus.
    * `nShards = Some(k)` is the 100 TB form: docs are sharded by
    * `doc_id % k` and packed independently per shard, so the window is
    * `partitionBy(shard)` and the sort parallelizes k-ways (chunk ids
    * are then per-shard, as in any sharded pre-training layout). Both
    * forms are registered and oracle-checked (t12 global, t13
    * sharded). */
  def pack(s: SparkSession, dir: String, nShards: Option[Long]): DataFrame = {
    import s.implicits._
    val sized = t(s, dir, "documents")
      .select($"doc_id", size(word_tokens($"text")).cast("long").as("n_tokens"))
    val (withShard, w, outCols) = nShards match {
      case Some(k) =>
        (sized.withColumn("shard", $"doc_id" % k),
          Window.partitionBy($"shard").orderBy($"doc_id"),
          Seq($"doc_id", $"shard", $"n_tokens"))
      case None =>
        (sized, Window.orderBy($"doc_id"), Seq($"doc_id", $"n_tokens"))
    }
    withShard
      .withColumn("cum_before", coalesce(
        sum($"n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(outCols :+
        floor($"cum_before" / PACK_BUDGET).as("chunk_id") :+
        ($"cum_before" % PACK_BUDGET).as("chunk_offset"): _*)
      .orderBy($"doc_id")
  }

  def t12(s: SparkSession, dir: String): DataFrame = pack(s, dir, None)

  def t13(s: SparkSession, dir: String): DataFrame =
    pack(s, dir, Some(PACK_SHARDS))

  /** Window navigation with IGNORE NULLS: per user (ordered by event
    * time), the first/last/2nd non-null purchase value over the whole
    * partition — nulls injected for every non-purchase event. */
  def q38(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "events")
      .withColumn("pval",
        when($"event_type" === "purchase", $"value"))
      .select($"event_id", $"user_id",
        first($"pval", ignoreNulls = true).over(w).as("first_purchase"),
        last($"pval", ignoreNulls = true).over(w).as("last_purchase"),
        nth_value($"pval", 2, ignoreNulls = true).over(w).as("second_purchase"))
      .orderBy($"event_id")
  }

  /** Full outer join (the one join type the suite didn't yet cover):
    * customers ⋈ their order stats, keeping both customer-less orders
    * and order-less customers, with coalesced keys. Shuffles both
    * sides on the key once; AQE handles any skew split. */
  def q39(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = t(s, dir, "customer").select($"c_custkey", $"c_acctbal")
    val o = t(s, dir, "orders")
      .groupBy($"o_custkey").agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("spend"))
    c.join(o, $"c_custkey" === $"o_custkey", "full_outer")
      .select(coalesce($"c_custkey", $"o_custkey").as("custkey"),
        $"c_custkey".isNotNull.as("is_customer"),
        coalesce($"n_orders", lit(0L)).as("n_orders"),
        coalesce($"spend", lit(0.0)).as("spend"))
      .orderBy($"custkey")
  }

  /** SCD2-style history build: each customer's order stream becomes
    * versioned rows with [valid_from, valid_to) intervals (valid_to =
    * next change, null while current) and a running spend — the
    * slowly-changing-dimension construction a warehouse MERGE
    * maintains incrementally, built here in one window pass. */
  def q40(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .select($"o_custkey".as("custkey"),
        row_number().over(w).cast("long").as("version"),
        $"o_orderdate".as("valid_from"),
        lead($"o_orderdate", 1).over(w).as("valid_to"),
        round(sum($"o_totalprice").over(run), 2).as("cum_spend"),
        lead($"o_orderdate", 1).over(w).isNull.as("is_current"))
      .orderBy($"custkey", $"version")
  }

  /** VARIANT (Spark 4's semi-structured type): props parsed once into
    * a variant, fields typed out with `variant_get` — the
    * shredding-friendly path that replaces per-field JSON string
    * re-parses (q17's form). The oracle computes the same RESULT via
    * DuckDB's JSON functions (dialects differ; values don't). */
  def q42(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql("""SELECT event_id,
      | variant_get(v, '$.k', 'bigint') AS k,
      | CAST(variant_get(v, '$.k', 'bigint') % 10 AS BIGINT) AS k_mod
      |FROM (SELECT event_id, parse_json(props) AS v FROM events)
      |ORDER BY event_id""".stripMargin)
  }

  /** LATERAL correlated subquery with ORDER BY + LIMIT: each
    * customer's single largest order — the "top-1 per key via
    * lateral" idiom. IDENTICAL SQL text runs on DuckDB (both engines
    * speak `, LATERAL (...)`); Spark plans it as a rewritten
    * aggregate/join, not a per-row loop. Inner-join semantics drop
    * order-less customers; (price, orderkey) tie-break keeps it
    * total. */
  private val q43Sql =
    """SELECT c.c_custkey, l.o_orderkey, l.total
      |FROM customer c,
      | LATERAL (SELECT o_orderkey, round(o_totalprice, 2) AS total
      |          FROM orders o WHERE o.o_custkey = c.c_custkey
      |          ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) l
      |ORDER BY c.c_custkey""".stripMargin

  def q43(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(q43Sql)
  }

  /** UNPIVOT (wide→long, the inverse of q30's pivot): lineitem's three
    * money columns melted into (metric, val) rows. Values are raw
    * 2-decimal source data — pure passthrough, no arithmetic, so no
    * rounding concerns. DuckDB's `UNPIVOT ... ON ... INTO` spells the
    * same reshape. */
  def q44(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      | metric, val
      |FROM (SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_tax
      |      FROM lineitem)
      |UNPIVOT (val FOR metric IN (l_extendedprice, l_discount, l_tax))
      |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t11_repetition" -> (t11 _),
    "t12_seq_packing" -> (t12 _),
    "t13_seq_packing_sharded" -> (t13 _),
    "q38_ignore_nulls" -> (q38 _),
    "q39_full_outer" -> (q39 _),
    "q40_scd2_history" -> (q40 _),
    "q42_variant_json" -> (q42 _),
    "q43_lateral_topk" -> (q43 _),
    "q44_unpivot" -> (q44 _),
  )

  val oracles: Map[String, String] = Map(
    "t11_repetition" ->
      s"""WITH docs AS (SELECT doc_id, n_chars, ${sqlTokens("text")} AS t FROM documents),
         |sized AS (SELECT doc_id, n_chars, t, CAST(len(t) AS BIGINT) AS n_tokens FROM docs),
         |toks AS (SELECT doc_id, unnest(t) AS tok FROM docs),
         |uni AS (SELECT doc_id, max(c) AS top_tok FROM (
         |  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2) GROUP BY doc_id),
         |bgs AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg FROM docs),
         |bi AS (SELECT doc_id, c * length(bg) AS bg_chars FROM (
         |  SELECT doc_id, bg, count(*) AS c,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, bg) AS rn
         |  FROM bgs GROUP BY doc_id, bg) WHERE rn = 1)
         |SELECT s.doc_id, s.n_tokens,
         | uni.top_tok / s.n_tokens AS top_token_frac,
         | coalesce(bi.bg_chars, 0) / s.n_chars AS rep_bigram_frac
         |FROM sized s JOIN uni USING (doc_id) LEFT JOIN bi USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "t12_seq_packing" ->
      s"""WITH d AS (SELECT doc_id,
         |  CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM d)
         |SELECT doc_id, n_tokens,
         | CAST(floor(cum_before / $PACK_BUDGET) AS BIGINT) AS chunk_id,
         | CAST(cum_before % $PACK_BUDGET AS BIGINT) AS chunk_offset
         |FROM c ORDER BY doc_id""".stripMargin,
    "t13_seq_packing_sharded" ->
      s"""WITH d AS (SELECT doc_id, doc_id % $PACK_SHARDS AS shard,
         |  CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, shard, n_tokens,
         |  coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM d)
         |SELECT doc_id, shard, n_tokens,
         | CAST(floor(cum_before / $PACK_BUDGET) AS BIGINT) AS chunk_id,
         | CAST(cum_before % $PACK_BUDGET AS BIGINT) AS chunk_offset
         |FROM c ORDER BY doc_id""".stripMargin,
    "q38_ignore_nulls" ->
      """SELECT event_id, user_id,
        | first_value(pval IGNORE NULLS) OVER w AS first_purchase,
        | last_value(pval IGNORE NULLS) OVER w AS last_purchase,
        | nth_value(pval, 2 IGNORE NULLS) OVER w AS second_purchase
        |FROM (SELECT *, CASE WHEN event_type = 'purchase' THEN value END AS pval
        |      FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,
    "q39_full_outer" ->
      """SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
        | c.c_custkey IS NOT NULL AS is_customer,
        | coalesce(o.n_orders, 0) AS n_orders,
        | coalesce(o.spend, 0.0) AS spend
        |FROM (SELECT c_custkey, c_acctbal FROM customer) c
        |FULL OUTER JOIN (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    round(sum(o_totalprice), 2) AS spend
        |  FROM orders GROUP BY o_custkey) o
        |ON c.c_custkey = o.o_custkey
        |ORDER BY custkey""".stripMargin,
    "q40_scd2_history" ->
      """SELECT o_custkey AS custkey,
        | CAST(row_number() OVER w AS BIGINT) AS version,
        | CAST(o_orderdate AS TIMESTAMP) AS valid_from,
        | CAST(lead(o_orderdate, 1) OVER w AS TIMESTAMP) AS valid_to,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_spend,
        | lead(o_orderdate, 1) OVER w IS NULL AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY custkey, version""".stripMargin,
    "q42_variant_json" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS BIGINT) AS k_mod
        |FROM events ORDER BY event_id""".stripMargin,
    "q43_lateral_topk" -> q43Sql,
    "q44_unpivot" ->
      """UNPIVOT (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |         l_extendedprice, l_discount, l_tax FROM lineitem)
        |ON l_extendedprice, l_discount, l_tax INTO NAME metric VALUE val
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
  )
}
