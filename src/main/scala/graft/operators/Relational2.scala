package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.NativeKernels.{word_shingles, word_tokens}

/** Second tranche of operator coverage: exact distinct counts,
  * continuous percentiles, arg-max aggregates, n-gram frequency
  * (text), and near-dup application (the "make the corpus unique"
  * step a training-data pipeline actually runs after detection). */
object Relational2 extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Exact COUNT(DISTINCT) per group (shuffle-dedup then count). */
  def q26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_orderkey").as("n_orders"),
        countDistinct($"l_partkey").as("n_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  /** Continuous percentiles (exact, interpolated — Spark `percentile`
    * ≡ DuckDB `quantile_cont`; sort-based, no accumulation-order
    * nondeterminism). */
  def q27(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"))
      .orderBy($"o_orderpriority")
  }

  /** arg-max with a deterministic ordering key: (totalprice, orderkey)
    * packed into one BIGINT — cents (exact for 2-decimal prices,
    * < 2^30) shifted past a 2^34 orderkey field (covers TPC-H
    * orderkeys beyond sf1000 without overflowing 2^63; DuckDB's
    * arg_max has no composite-key overload). */
  def q28(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val key = round($"o_totalprice" * 100).cast("long") * 17179869184L + $"o_orderkey"
    t(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(max_by($"o_orderkey", key).as("best_order"),
        round(max($"o_totalprice"), 2).as("best_price"))
      .orderBy($"o_custkey")
  }

  /** Corpus n-gram frequency: top 20 trigrams by document frequency
    * (shingles are per-doc distinct, so count = doc frequency). */
  def t05(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select(explode(word_shingles($"text", 3)).as("ngram"))
      .groupBy($"ngram").agg(count(lit(1)).as("df"))
      .orderBy($"df".desc, $"ngram")
      .limit(20)
  }

  /** Apply near-dup dedup: drop the higher-id member of every pair
    * with Jaccard ≥ 0.5 (the detection operator is d02; this is the
    * keep-lowest-id policy as an anti join). No broadcast hint on the
    * drop set: a static hint forces the whole multi-stage d02 subplan
    * through a driver-side broadcast build, which measured 10x slower
    * tails here — AQE converts the tiny built side to broadcast at
    * runtime anyway. */
  def d05(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val drops = Dedup.d02(s, dir).select($"b_id".as("doc_id")).distinct()
    t(s, dir, "documents")
      .join(drops, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"n_chars")
      .orderBy($"doc_id")
  }

  /** TF-IDF: top-3 weighted terms per document. tf = in-doc term
    * count, idf = ln((N+1)/(df+1)) + 1 (smoothed); log/division are
    * per-value (no accumulation order), so weights are bit-equal
    * across engines.
    *
    * Top-terms selection stays a window row_number: the typed
    * [[graft.functions.GroupedTopK.TopTerms]] aggregator form was
    * measured SLOWER here (2.3 s → 3.0 s at sf0.1) — per-row
    * object-encoder serde into the UDAF dominates below ~1M scored
    * rows; the bounded-shuffle win only pays when shuffle volume, not
    * serde, is the bottleneck (q34 demonstrates the aggregator). */
  def t06(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val terms = docs.select($"doc_id", explode(word_tokens($"text")).as("term"))
    val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    // df AND the corpus size N both derive from tf (one row per
    // doc-term): no second tokenize pass, no distinct shuffle, and —
    // unlike the r3 form's driver-side docs.count() — no extra full
    // corpus scan for one scalar (VERDICT r3 #6). N = docs with ≥1
    // token (the docs that can carry weight; equals count(documents)
    // unless a doc tokenizes to nothing), computed in-plan as a 1-row
    // frame that AQE broadcasts into the join.
    //
    // The `tf >= 1` filter (a tautology: every grouped count is ≥1) is
    // load-bearing: without a reference to tf's count column, Catalyst
    // prunes it from the df/n branches, their partial aggregates no
    // longer canonically match tf's, and ReuseExchange can't fire —
    // the plan silently re-scans and re-tokenizes documents three
    // times (observed in the r4 plan dump). With it, all three
    // consumers share ONE scan + tokenize + (doc_id, term) shuffle.
    val df = tf.filter($"tf" >= 1).groupBy($"term").agg(count(lit(1)).as("df"))
    val n = tf.filter($"tf" >= 1)
      .agg(countDistinct($"doc_id").cast("double").as("n"))
    val w = Window.partitionBy($"doc_id").orderBy($"weight".desc, $"term")
    tf.join(df, Seq("term")).crossJoin(n)
      .withColumn("weight",
        round($"tf" * (log(($"n" + lit(1.0)) / ($"df" + lit(1.0))) + lit(1.0)), 4))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"doc_id", $"term", $"weight", $"rk")
      .orderBy($"doc_id", $"rk")
  }

  /** Per-label embedding centroids (per-dimension mean over the label's
    * vectors), long-form output. The scale path for building IVF
    * coarse quantizers: one shuffle on (label, dim). */
  def e01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "embeddings")
      .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", ($"pos" + 1).cast("long").as("dim"))
      .agg(round(avg($"v".cast("double")), 4).as("centroid"),
        count(lit(1)).as("n_vecs"))
      .orderBy($"label", $"dim")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q26_count_distinct" -> (q26 _),
    "q27_percentile" -> (q27 _),
    "q28_argmax" -> (q28 _),
    "t05_top_ngrams" -> (t05 _),
    "d05_dedup_apply" -> (d05 _),
    "t06_tfidf" -> (t06 _),
    "e01_label_centroids" -> (e01 _),
  )

  import graft.functions.TextOps.{sqlTokens, sqlShinglesOfT}

  val oracles: Map[String, String] = Map(
    "q26_count_distinct" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_orderkey) AS n_orders,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q27_percentile" ->
      """SELECT o_orderpriority,
        | round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        | round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        | round(quantile_cont(o_totalprice, 0.99), 4) AS p99
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q28_argmax" ->
      """SELECT o_custkey,
        | arg_max(o_orderkey, CAST(round(o_totalprice*100) AS BIGINT)*17179869184 + o_orderkey) AS best_order,
        | round(max(o_totalprice), 2) AS best_price
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "t05_top_ngrams" ->
      s"""WITH docs AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
         |sh AS (SELECT doc_id, unnest(${sqlShinglesOfT(3)}) AS ngram FROM docs)
         |SELECT ngram, count(*) AS df FROM sh
         |GROUP BY ngram ORDER BY df DESC, ngram LIMIT 20""".stripMargin,
    "t06_tfidf" ->
      s"""WITH docs AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
         |terms AS (SELECT doc_id, unnest(t) AS term FROM docs),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df
         |  FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
         |n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM tf),
         |scored AS (SELECT doc_id, term,
         |  round(tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0), 4) AS weight
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |ranked AS (SELECT doc_id, term, weight,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY weight DESC, term) AS BIGINT) AS rk FROM scored)
         |SELECT doc_id, term, weight, rk FROM ranked
         |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "e01_label_centroids" ->
      s"""SELECT label, CAST(i AS BIGINT) AS dim,
         | round(avg(CAST(embedding[i] AS DOUBLE)), 4) AS centroid,
         | count(*) AS n_vecs
         |FROM embeddings, range(1, 65) r(i)
         |GROUP BY label, i ORDER BY label, dim""".stripMargin,
    "d05_dedup_apply" ->
      s"""WITH docs AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
         |sh AS (SELECT doc_id, unnest(${sqlShinglesOfT(3)}) AS s FROM docs),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |drops AS (SELECT DISTINCT b_id FROM pairs
         |  JOIN sizes na ON na.doc_id = a_id
         |  JOIN sizes nb ON nb.doc_id = b_id
         |  WHERE round(inter / (na.n + nb.n - inter), 4) >= 0.5)
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT b_id FROM drops)
         |ORDER BY doc_id""".stripMargin,
  )
}
