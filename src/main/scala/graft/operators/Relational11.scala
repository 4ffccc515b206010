package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextOps.{hash64, sqlHash64, sqlTokens}
import graft.functions.NativeKernels.word_tokens

/** Eleventh tranche — classic analytic shapes the surface did not yet
  * cover, each oracle-checked:
  *
  *  - e09: gaps-and-islands longest activity streak per user — the
  *    canonical retention/engagement metric, computed shuffle-light
  *    (one aggregate, no window) via a bounded per-user day set;
  *  - e10: sweep-line maximum concurrency per event type — the
  *    interval-overlap counting every capacity/sessions dashboard
  *    runs, as the +1/−1 running-sum plan;
  *  - t36: per-source unigram KL divergence vs the corpus — the
  *    domain-shift / mixture-diagnostic signal a pretraining-mixture
  *    designer reads next to t14's source mixture and t23's
  *    temperature weights;
  *  - t37: content-defined chunking (rolling-boundary, Rabin-style) —
  *    the insertion-resilient alternative to t17's fixed tiling that
  *    storage/dedup systems use, with the shift-stability property
  *    proven in the spec;
  *  - q54: Z-order (Morton) interleaved layout keys over two scan
  *    dimensions — the data-layout lever behind min/max file pruning
  *    on a second column, with the locality gain measured in the spec.
  *
  * The reference ships none of these (it is an IOC ETL bridge,
  * `/root/reference/src/Datalake2Anomali.py:1-449`); they extend the
  * SURVEY §7.2 LLM-pipeline/relational surface alongside tranches 1-10.
  */
object Relational11 extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---- e09: gaps-and-islands longest streak ------------------------

  /** Longest run of consecutive active days per user. The textbook
    * form is the islands trick (day − row_number() is constant within
    * a run); that costs a distinct PLUS a per-user window. Here the
    * per-user day set is bounded by the calendar (≤ span days, never
    * data-sized), so the whole computation collapses to ONE aggregate:
    * `collect_set(day)` per user (partial-merged map-side), then the
    * longest consecutive run folds over the sorted array with a
    * higher-order `aggregate` — no window, no second shuffle, and the
    * oracle states the classic islands SQL so the two derivations
    * check each other.
    *
    * At 100 TB: the shuffle carries one row per (user, active day)
    * after map-side set-merge — strictly less than the distinct the
    * islands form needs, and the array bound (days in the window, not
    * events) keeps executor memory flat no matter how hot a user is. */
  def e09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val day = datediff(to_date($"ts"), lit("2024-01-01").cast("date"))
    val run = t(s, dir, "events")
      .select($"user_id", day.as("d"))
      .groupBy($"user_id")
      .agg(sort_array(collect_set($"d")).as("ds"))
    run.select($"user_id",
        size($"ds").cast("long").as("n_active_days"),
        aggregate($"ds",
          struct(lit(0).as("run"), lit(0).as("best"), lit(-2).as("prev")),
          (acc, x) => {
            val r = when(x === acc.getField("prev") + 1,
              acc.getField("run") + 1).otherwise(lit(1))
            struct(r.as("run"),
              greatest(acc.getField("best"), r).as("best"),
              x.as("prev"))
          },
          acc => acc.getField("best")).cast("long").as("longest_streak"))
      .orderBy($"user_id")
  }

  private val e09Oracle =
    """WITH d AS (SELECT DISTINCT user_id,
      |  datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d FROM events),
      |r AS (SELECT user_id, d,
      |  d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS g FROM d),
      |runs AS (SELECT user_id, g, count(*) AS len FROM r GROUP BY user_id, g)
      |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
      |  CAST(max(len) AS BIGINT) AS longest_streak
      |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- e10: sweep-line max concurrency -----------------------------

  private val E10_HOLD_MIN = 5 // minutes each event stays "active"

  /** Maximum concurrent in-flight events per type, each event active
    * for [[E10_HOLD_MIN]] minutes: the sweep-line plan — every
    * interval becomes a +1 at its start and a −1 at its end, a
    * running sum ordered by time is the instantaneous concurrency,
    * and the per-type max is the answer. Ends sort BEFORE starts at
    * the same instant (`orderBy(t, delta)`), so touching intervals do
    * not count as overlapping, and the default RANGE frame gives
    * tied timestamps one shared (correct) cumulative value on both
    * engines.
    *
    * At 100 TB: the window partitions by event_type — bounded
    * cardinality, so each partition's sort is a per-type timeline.
    * The production variant for a type too hot to sort in one task
    * splits the timeline by day, carries each day's closing sum
    * forward (one tiny prefix-sum over per-day totals — the same
    * two-level trick as q09's running totals), and takes the max of
    * per-day maxima; the registered form IS the per-partition inner
    * step of that. The groupBy(event_type) after the window reuses
    * the window's hash partitioning — one exchange total. */
  def e10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events").select($"event_type", $"ts")
    val pts = ev.select($"event_type", $"ts".as("t"), lit(1).as("delta"))
      .unionAll(ev.select($"event_type",
        ($"ts" + expr(s"INTERVAL $E10_HOLD_MIN MINUTES")).as("t"),
        lit(-1).as("delta")))
    val w = Window.partitionBy($"event_type").orderBy($"t", $"delta")
    pts.withColumn("cur", sum($"delta").over(w))
      .groupBy($"event_type")
      .agg(max($"cur").cast("long").as("max_concurrent"))
      .orderBy($"event_type")
  }

  private val e10Oracle =
    s"""WITH pts AS (
       |  SELECT event_type, CAST(ts AS TIMESTAMP) AS t, 1 AS delta FROM events
       |  UNION ALL
       |  SELECT event_type, CAST(ts AS TIMESTAMP) + INTERVAL $E10_HOLD_MIN MINUTE,
       |    -1 FROM events),
       |c AS (SELECT event_type,
       |  sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta) AS cur
       |  FROM pts)
       |SELECT event_type, CAST(max(cur) AS BIGINT) AS max_concurrent
       |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- t36: per-source unigram KL divergence -----------------------

  /** KL(source ‖ corpus) over unigram distributions: how far each
    * source's token mix sits from the corpus blend — the
    * domain-shift diagnostic read next to t14 (source mixture) and
    * t23 (temperature weights) when balancing a pretraining mix; a
    * source with high KL dominates its own niche, one near zero is
    * redundant with the blend.
    *
    * Shape is the t18 lesson verbatim: ONE tokenize scan feeds the
    * (source, token) count aggregate; the vocabulary, the per-source
    * totals, and the corpus total all derive from THAT aggregate (no
    * re-scan — ReusedExchange, asserted in the spec), the totals
    * frame is broadcast, and the grand total rides in as a 1-row
    * cross join. Each term is m/ns · (ln m − ln ns − ln c + ln tt);
    * round(4) absorbs summation-order ulps (t06/t18 convention).
    *
    * At 100 TB: the only data-sized shuffle is the (source, token)
    * aggregate — the same dictionary-shaped frame t18 materializes;
    * everything above it is token-vocabulary-sized or smaller. */
  def t36(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dt = t(s, dir, "documents")
      .select($"source", explode(word_tokens($"text")).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("m"))
    val vocab = dt.groupBy($"tok").agg(sum($"m").as("c"))
    val totals = dt.groupBy($"source").agg(sum($"m").as("ns"))
    val grand = totals.agg(sum($"ns").as("tt"))
    dt.join(vocab, Seq("tok"))
      .join(broadcast(totals), Seq("source"))
      .crossJoin(grand)
      .groupBy($"source")
      .agg(max($"ns").cast("long").as("n_tokens"),
        round(sum(($"m".cast("double") / $"ns") *
          (log($"m".cast("double")) - log($"ns".cast("double")) -
            log($"c".cast("double")) + log($"tt".cast("double")))), 4)
          .as("kl_vs_corpus"))
      .orderBy($"source")
  }

  private val t36Oracle =
    s"""WITH docs AS (SELECT source, ${sqlTokens("text")} AS tk FROM documents),
       |tok AS (SELECT source, unnest(tk) AS tok FROM docs),
       |dt AS (SELECT source, tok, count(*) AS m FROM tok GROUP BY 1, 2),
       |vocab AS (SELECT tok, sum(m) AS c FROM dt GROUP BY tok),
       |totals AS (SELECT source, sum(m) AS ns FROM dt GROUP BY source),
       |grand AS (SELECT sum(ns) AS tt FROM totals)
       |SELECT source, CAST(max(ns) AS BIGINT) AS n_tokens,
       |  round(sum((m * 1.0 / ns) *
       |    (ln(m * 1.0) - ln(ns * 1.0) - ln(c * 1.0) + ln(tt * 1.0))), 4)
       |    AS kl_vs_corpus
       |FROM dt JOIN vocab USING (tok) JOIN totals USING (source) CROSS JOIN grand
       |GROUP BY source ORDER BY source""".stripMargin

  // ---- t37: content-defined chunking -------------------------------

  private val CDC_MOD = 16 // boundary when hash64(token) % CDC_MOD == 0

  /** Content-defined chunking: a token ENDS a chunk when its
    * engine-portable hash is ≡ 0 mod [[CDC_MOD]] (expected chunk
    * length = CDC_MOD tokens), and the final token always closes the
    * last chunk. Because a boundary depends only on the token itself,
    * inserting or deleting a prefix re-chunks ONLY the text up to the
    * first surviving boundary — every later chunk hash is unchanged
    * (the Rabin/CDC property storage dedup systems rely on; proven in
    * Relational11Spec, where t17's fixed tiling is shown to shift
    * every chunk under the same edit).
    *
    * Plan shape is t17's: one documents scan, per-row array work
    * (boundary positions via a filtered index sequence, chunks via
    * slice), explode — NO join and NO shuffle before the gate's
    * ORDER BY. Zero-token docs that pass the trim screen (tab/
    * newline-only, punctuation-only — trim() strips only spaces)
    * yield an empty `ends` array whose posexplode_outer null row is
    * dropped by an explicit `j IS NOT NULL` filter on both engines
    * (the t17 whitespace-only clamp lesson, solved here without a
    * clamp).
    *
    * At 100 TB: embarrassingly parallel like t17; downstream
    * dedup joins on `chunk_hash` exactly as d13 does, but survive
    * document-prefix edits that would defeat fixed tiling. */
  def t37(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t37Chunks(t(s, dir, "documents")).orderBy($"doc_id", $"chunk_id")
  }

  /** The CDC chunk table for any frame with (doc_id, text) — shared
    * by t37 and the spec's shift-stability property. */
  private[graft] def t37Chunks(docs: DataFrame): DataFrame = {
    // trim screen, not a tokenize filter: same reasoning as t17Chunks
    // (a filter on the token array would be pushed below the
    // projection and run the kernel twice per row)
    val base = docs.filter(trim(col("text")) =!= "")
      .select(col("doc_id"), word_tokens(col("text")).as("tk"))
    val n = size(col("tk"))
    // The boundary array gets its OWN projection: it costs an md5 per
    // token, `ends` references it three times, and interpreted
    // higher-order functions get no common-subexpression elimination
    // — inlined, the hash pass ran 3× per row. (CollapseProject keeps
    // the barrier exactly because the reference count is > 1.)
    val bps = filter(sequence(lit(1), n),
      i => pmod(hash64(element_at(col("tk"), i)), lit(CDC_MOD)) === 0)
    val withBps = base.select(col("doc_id"), col("tk"), bps.as("bps"))
    // append the final position unless it is already a boundary;
    // guarded so empty token arrays (whitespace-only docs that pass
    // the trim screen) produce an empty ends array on both engines
    val ends = when(n > 0,
      when(size(col("bps")) > 0 && element_at(col("bps"), -1) === n,
        col("bps"))
        .otherwise(concat(col("bps"), array(n))))
      .otherwise(array().cast("array<int>"))
    val start = when(col("j") === 0, lit(1))
      .otherwise(element_at(col("ends"), col("j")) + 1)
    withBps
      .select(col("doc_id"), col("tk"), ends.as("ends"))
      // posexplode_OUTER, then drop the null rows an empty `ends`
      // emits (they DO occur: trim() strips only spaces, so tab/
      // newline-only or punctuation-only docs reach here with zero
      // tokens — same rationale as the empty-ends guard above; the
      // `j IS NOT NULL` filter drops them): the non-outer form lets
      // InferFiltersFromGenerate add `size(ends) > 0`, and predicate
      // pushdown substitutes the whole alias chain into a scan-level
      // Filter — re-running tokenize + the md5 boundary pass ~12× per
      // row (measured: 16 s → 0.5 s at sf0.1 for this one plan edit)
      .select(col("doc_id"), col("tk"), col("ends"),
        posexplode_outer(col("ends")).as(Seq("j", "e")))
      .filter(col("j").isNotNull)
      .withColumn("b", start)
      .select(col("doc_id"), col("j").cast("long").as("chunk_id"),
        (col("e") - col("b") + 1).cast("long").as("n_tok"),
        hash64(concat_ws(" ",
          slice(col("tk"), col("b"), col("e") - col("b") + 1)))
          .as("chunk_hash"))
  }

  private val t37Oracle = {
    val bStart = "(CASE WHEN j = 1 THEN 1 ELSE ends[j-1] + 1 END)"
    s"""WITH docs AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |nz AS (SELECT doc_id, tk FROM docs WHERE len(tk) > 0),
       |bp AS (SELECT doc_id, tk,
       |  [i for i in range(1, len(tk) + 1)
       |     if ${sqlHash64("tk[i]")} % $CDC_MOD = 0] AS bps FROM nz),
       |be AS (SELECT doc_id, tk,
       |  CASE WHEN len(bps) > 0 AND bps[-1] = len(tk) THEN bps
       |       ELSE list_append(bps, len(tk)) END AS ends FROM bp),
       |ch AS (SELECT doc_id, tk, ends,
       |  unnest(range(1, len(ends) + 1)) AS j FROM be)
       |SELECT doc_id, CAST(j - 1 AS BIGINT) AS chunk_id,
       |  CAST(ends[j] - $bStart + 1 AS BIGINT) AS n_tok,
       |  ${sqlHash64(s"array_to_string(tk[$bStart:ends[j]], ' ')")} AS chunk_hash
       |FROM ch ORDER BY doc_id, chunk_id""".stripMargin
  }

  // ---- q54: Z-order (Morton) layout keys ---------------------------

  private val Z_BITS = 16
  private val Z_BUCKET_SHIFT = 16 // bucket = zkey >> shift

  /** Bit-interleave the low [[Z_BITS]] bits of two layout dimensions
    * into a Morton (Z-order) key. Pure integer arithmetic — identical
    * in DuckDB, fully codegen'd in Spark. */
  private[operators] def zInterleave(x: Column, y: Column): Column =
    (0 until Z_BITS).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Z-order layout audit over orders: interleave (o_custkey, order
    * date as day ordinal) into a Morton key, bucket by the key's high
    * bits, and report each bucket's row count and BOTH dimensions'
    * min/max span. The point of the layout: a file written per
    * z-bucket carries narrow min/max ranges on BOTH columns, so a
    * parquet reader prunes files for predicates on EITHER — the
    * "sort by one column, prune on two" lever lakehouse layouts
    * (Delta/Iceberg Z-ordering, Hudi space-filling curves) pull.
    * Relational11Spec measures the gain directly: z-ordered row
    * groups bound the date span ~as tightly as date-sorted ones
    * while ALSO bounding custkey, where a single-column sort leaves
    * the other dimension unbounded.
    *
    * At 100 TB this query IS the write-side layout pass: compute the
    * key in the scan projection (no shuffle added — the aggregate
    * here is the audit, not the layout), range-partition by it, and
    * write; the Morton arithmetic stays whole-stage-codegen'd. */
  def q54(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val days = datediff(to_date($"o_orderdate"), lit("1992-01-01").cast("date"))
    t(s, dir, "orders")
      .select($"o_custkey", days.cast("long").as("d"))
      .withColumn("zkey", zInterleave($"o_custkey", $"d"))
      .groupBy(shiftright($"zkey", Z_BUCKET_SHIFT).as("z_bucket"))
      .agg(count(lit(1)).as("n"),
        min($"o_custkey").as("min_cust"), max($"o_custkey").as("max_cust"),
        min($"d").as("min_day"), max($"d").as("max_day"))
      .orderBy($"z_bucket")
  }

  private val q54Oracle = {
    val terms = (0 until Z_BITS).map { i =>
      s"(((o_custkey >> $i) & 1) << ${2 * i}) | (((d >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" | ")
    s"""WITH o AS (SELECT o_custkey,
       |  CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d
       |  FROM orders),
       |z AS (SELECT o_custkey, d, ($terms) AS zkey FROM o)
       |SELECT (zkey >> $Z_BUCKET_SHIFT) AS z_bucket, count(*) AS n,
       |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
       |  min(d) AS min_day, max(d) AS max_day
       |FROM z GROUP BY z_bucket ORDER BY z_bucket""".stripMargin
  }

  // ---- q56: the q54 keys driving the writer, pruning measured ------

  private val Z_NUM_FILES = 16
  private val Z_MAX_RECORDS = 50000L
  private val Q56_CUST_LO = 30L
  private val Q56_CUST_HI = 90L

  private val zLayoutCache = Materialized[String]()

  /** Orders rewritten through
    * [[graft.sources.FileFormats.writeZOrderedParquet]] on q54's
    * Morton key (VERDICT r10 #4 — the layout op producing PRUNING,
    * not just keys), materialized like the d06m/d07m pipeline
    * state. Row-identical to `orders`; only the file clustering
    * changes, so every query over it shares the original table's
    * oracle. */
  def zOrderedOrdersPath(s: SparkSession, dir: String): String =
    zLayoutCache(s, dir) {
      import s.implicits._
      val out = Materialized.tempDir("graft-zorders")
      val days = datediff(to_date($"o_orderdate"), lit("1992-01-01").cast("date"))
      graft.sources.FileFormats.writeZOrderedParquet(
        t(s, dir, "orders"),
        zInterleave($"o_custkey", days.cast("long")),
        out.toString, Z_NUM_FILES, Z_MAX_RECORDS)
      out.toString
    }

  /** Two-dimensional selective scan over the z-clustered layout: a
    * custkey band AND one order year — the predicate shape Z-ordering
    * exists for (a single-column sort bounds one dimension; Morton
    * clustering bounds both). The RESULT is layout-invariant, so the
    * oracle is plain SQL over the original `orders` — correctness
    * checks the rewrite lost nothing, while `ZOrderLayoutSpec` reads
    * the parquet footers and measures what the layout BUYS: files
    * whose (custkey, date) min/max envelope misses the predicate are
    * skipped by any stats-aware reader, against a round-robin layout
    * where every file spans every value and nothing ever prunes.
    * Output keeps to exact integers (counts, key extremes) — no
    * double-sum or rounding hazard in the gate. */
  def q56(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.parquet(zOrderedOrdersPath(s, dir))
      .filter($"o_custkey".between(Q56_CUST_LO, Q56_CUST_HI) &&
        $"o_orderdate" >= to_timestamp(lit("1997-01-01 00:00:00")) &&
        $"o_orderdate" < to_timestamp(lit("1998-01-01 00:00:00")))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        min($"o_orderkey").as("min_orderkey"),
        max($"o_orderkey").as("max_orderkey"))
      .orderBy($"o_orderpriority")
  }

  private val q56Oracle =
    s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       |  min(o_orderkey) AS min_orderkey, max(o_orderkey) AS max_orderkey
       |FROM orders
       |WHERE o_custkey BETWEEN $Q56_CUST_LO AND $Q56_CUST_HI
       |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- registry ----------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e09_streaks" -> (e09 _),
    "e10_concurrency" -> (e10 _),
    "t36_source_kl" -> (t36 _),
    "t37_cdc_chunks" -> (t37 _),
    "q54_zorder_locality" -> (q54 _),
    "q56_zorder_pruned_scan" -> (q56 _),
  )

  val oracles: Map[String, String] = Map(
    "e09_streaks" -> e09Oracle,
    "e10_concurrency" -> e10Oracle,
    "t36_source_kl" -> t36Oracle,
    "t37_cdc_chunks" -> t37Oracle,
    "q54_zorder_locality" -> q54Oracle,
    "q56_zorder_pruned_scan" -> q56Oracle,
  )
}
