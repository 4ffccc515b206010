package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.NativeKernels.word_shingles
import graft.functions.TextOps.{sqlTokens, sqlShinglesOfT}

/** Sixth tranche — remaining SQL surface (FILTER-clause aggregates,
  * GROUPING SETS) plus two pipeline signals:
  *
  *  - e04: exponentially-decayed moving average over the per-minute
  *    event series — the smoothing step a monitoring/feature pipeline
  *    applies before thresholding. Weights are exact powers of two so
  *    the arithmetic is bit-identical across engines (products by
  *    2^-j are exact in binary floating point; the sum is a fixed
  *    left-to-right expression, not an order-free aggregate).
  *  - t15: duplicated-n-gram statistics per document — the
  *    "what fraction of this doc is copied from elsewhere in the
  *    corpus" signal behind exact-substring dedup (Lee et al. 2022,
  *    "Deduplicating Training Data Makes Language Models Better"):
  *    an 8-token window that appears in more than one document marks
  *    both as carrying duplicated text.
  *
  * q45/q46/e04 run IDENTICAL SQL on both engines (the q41/q43
  * convention): the oracle string is the query string.
  */
object Relational6 extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Aggregate FILTER clause: per-priority order stats with three
    * differently-filtered aggregates in one grouping pass — the
    * one-scan replacement for three self-joined subqueries. Spark
    * compiles FILTER into the same partial/final hash aggregate as
    * the `sum(when(...))` DataFrame form — one scan, map-side
    * combine. Deliberately sum+count, not a filtered avg: rounding a
    * QUOTIENT invites engine-ulp boundary flips (the w02 lesson);
    * sums of 2-decimal data round safely. */
  private val q45Sql =
    """SELECT o_orderpriority,
      |  count(*) AS n,
      |  count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
      |  round(coalesce(sum(o_totalprice) FILTER (WHERE month(o_orderdate) <= 6), 0), 2) AS h1_total,
      |  round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 0), 2) AS f_total,
      |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  def q45(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(q45Sql)
  }

  /** GROUPING SETS — the explicit-set sibling of q33's CUBE / q20's
    * ROLLUP: only the three groupings a report actually needs, not
    * the full 2^k lattice (at 100 TB the saved groupings are saved
    * shuffle volume; Spark expands the sets in ONE Expand+HashAggregate
    * pass, not one scan per set). */
  private val q46Sql =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
      |                        (o_orderstatus, o_orderpriority))
      |ORDER BY gid, status, priority""".stripMargin

  def q46(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(q46Sql)
  }

  /** e04 EWMA window depth (rows) and its 2^-j weights. */
  private val EWMA_DEPTH = 8

  /** Exponentially-weighted moving average of per-minute event counts
    * per event_type: ewma_i = Σ_j c_{i-j}·2^-j / Σ_j 2^-j over the
    * last 8 observed minutes (missing lags drop out of BOTH sums, so
    * early rows are properly normalized, not damped toward zero).
    *
    * Determinism: counts are integers; 2^-j scaling is exact; the
    * numerator/denominator are fixed left-fold expressions evaluated
    * in identical order by both engines; one division then round(4).
    * One shuffle for the minute aggregate, one for the per-type
    * window — and the window is partitioned by event_type, so the
    * sort parallelizes across types (no global sort). */
  private val e04Sql: String = {
    val lags = (1 until EWMA_DEPTH).map { j =>
      s"lag(c, $j) OVER (PARTITION BY event_type ORDER BY minute) AS c$j"
    }.mkString(",\n  ")
    val num = "c" + (1 until EWMA_DEPTH).map { j =>
      val w = java.math.BigDecimal.valueOf(math.pow(2.0, -j)).toPlainString
      s" + coalesce(c$j, 0) * $w"
    }.mkString
    val den = "1.0" + (1 until EWMA_DEPTH).map { j =>
      val w = java.math.BigDecimal.valueOf(math.pow(2.0, -j)).toPlainString
      s" + (CASE WHEN c$j IS NULL THEN 0 ELSE $w END)"
    }.mkString
    s"""WITH m AS (
       |  SELECT CAST(date_trunc('minute', ts) AS TIMESTAMP) AS minute,
       |         event_type, CAST(count(*) AS DOUBLE) AS c
       |  FROM events GROUP BY 1, 2),
       |l AS (
       |  SELECT minute, event_type, c,
       |  $lags
       |  FROM m)
       |SELECT minute, event_type, CAST(c AS BIGINT) AS n,
       |  round(($num) / ($den), 4) AS ewma
       |FROM l
       |ORDER BY event_type, minute""".stripMargin
  }

  def e04(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(e04Sql)
  }

  private val T15_W = 8 // duplicated-span window width (tokens)

  /** Per-document duplicated-n-gram stats: of a doc's distinct 8-token
    * windows, how many also appear in ANOTHER document — the signal
    * exact-substring dedup thresholds on. Docs shorter than 8 tokens
    * have no windows and are absent (both engines).
    *
    * Shape: ONE documents scan + shingle-kernel pass and NO join —
    * the shingle groupBy tags each bucket duplicated (>1 member),
    * the members explode back out carrying the tag, and one per-doc
    * aggregate counts total and duplicated windows together (a
    * two-branch total/dup formulation would re-scan and re-run the
    * kernel: different groupBy keys never reuse an exchange). The
    * full-width shuffle is the shingle groupBy — the same one d02
    * pays, keyed by effectively-random text so it's skew-free up to
    * true stop-phrases, and a stop-phrase here just counts as
    * duplicated, which is the correct signal. The second shuffle
    * moves only (bool, doc_id) pairs. */
  def t15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", explode(word_shingles($"text", T15_W)).as("sh"))
      // shingles are distinct within a doc, so members = docs sharing it
      .groupBy($"sh").agg(collect_list($"doc_id").as("members"))
      .select((size($"members") > 1).as("dup"), explode($"members").as("doc_id"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when($"dup", 1L).otherwise(0L)).as("dup_ngrams"))
      .select($"doc_id", $"n_ngrams", $"dup_ngrams",
        round($"dup_ngrams" / $"n_ngrams", 4).as("dup_frac"))
      .orderBy($"doc_id")
  }

  private val t15Oracle =
    s"""WITH docs AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
       |sh AS (SELECT doc_id, unnest(${sqlShinglesOfT(T15_W)}) AS s FROM docs),
       |base AS (SELECT doc_id, count(*) AS n_ngrams FROM sh GROUP BY doc_id),
       |cnt AS (SELECT s, count(*) AS m FROM sh GROUP BY s),
       |dup AS (SELECT doc_id, count(*) AS dup_ngrams
       |  FROM sh JOIN cnt USING (s) WHERE m > 1 GROUP BY doc_id)
       |SELECT b.doc_id, b.n_ngrams,
       |  coalesce(d.dup_ngrams, 0) AS dup_ngrams,
       |  round(coalesce(d.dup_ngrams, 0) / b.n_ngrams, 4) AS dup_frac
       |FROM base b LEFT JOIN dup d USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  private val T16_K = 4 // winnowing gram width (tokens)
  private val T16_W = 4 // winnowing window (grams)

  /** Winnowing document fingerprints (Schleimer et al. 2003 — the
    * rolling-hash fingerprint family, as used by MOSS): the distinct
    * window-minima of the positional k-gram hash sequence, one fused
    * kernel pass per document
    * ([[graft.functions.NativeKernels.WinnowedFingerprints]]).
    * Any two documents sharing ≥ w+k-1 consecutive tokens share a
    * fingerprint, and the sketch is ~1/w the size of the full gram
    * set — the bandwidth knob for substring-level matching at 100 TB
    * (t15 ships every duplicated gram; this ships the winnowed
    * sample with a detection guarantee). Oracle mirrors the exact
    * selection with DuckDB list comprehensions over the same
    * engine-portable hash. */
  def t16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id",
        explode(graft.functions.NativeKernels.winnowed_fingerprints(
          $"text", T16_K, T16_W)).as("fp"))
      .orderBy($"doc_id", $"fp")
  }

  private val t16Oracle: String = {
    val gram = (0 until T16_K).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH docs AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
       |g AS (SELECT doc_id,
       |  [${graft.functions.TextOps.sqlHash64(s"($gram)")}
       |   for i in range(1, len(t) - ${T16_K - 2})] AS gh
       |  FROM docs),
       |fps AS (SELECT doc_id,
       |  unnest(list_distinct([list_min(gh[i:least(i + ${T16_W - 1}, len(gh))])
       |    for i in range(1, greatest(len(gh) - ${T16_W - 1}, 1) + 1)])) AS fp
       |  FROM g WHERE len(gh) >= 1)
       |SELECT doc_id, fp FROM fps ORDER BY doc_id, fp""".stripMargin
  }

  /** q49 bin width = the window length (5 min), in microseconds. */
  private val Q49_BIN_US = 300000000L

  /** Interval join with NO equality key — "for each purchase, how
    * many views (any user) in the preceding 5 minutes" — the shape
    * that naively plans as a BroadcastNestedLoopJoin (O(n·m) with a
    * broadcast of a whole side; q32 dodges this because user_id gives
    * it an equi-key). The scale form BINS time: with bin = window
    * length, a matching view lies in the purchase's bin or the one
    * before, so each view registers two (bin, view) candidate rows
    * and the join runs as a plain hash equi-join on bin — each true
    * pair produced exactly once (the two copies carry distinct keys).
    * `PlanAuditSpec` asserts no nested-loop/cartesian operator. The
    * oracle states the same join as the plain inequality predicate —
    * declarative ground truth, engine-native evaluation. */
  def q49(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"ts".as("p_ts"),
        floor(unix_micros($"ts") / Q49_BIN_US).as("bin"))
    val v = ev.filter($"event_type" === "view")
      .select($"ts".as("v_ts"),
        explode(array(floor(unix_micros($"ts") / Q49_BIN_US),
          floor(unix_micros($"ts") / Q49_BIN_US) + 1)).as("bin"))
    val matched = p.join(v, Seq("bin"))
      .filter($"v_ts" <= $"p_ts" && $"v_ts" > $"p_ts" - expr("INTERVAL 5 MINUTES"))
      .groupBy($"p_id").agg(count(lit(1)).as("n_views_5m"))
    p.select($"p_id").join(matched, Seq("p_id"), "left")
      .select($"p_id", coalesce($"n_views_5m", lit(0L)).as("n_views_5m"))
      .orderBy($"p_id")
  }

  private val q49Oracle =
    """SELECT p.event_id AS p_id, count(v.event_id) AS n_views_5m
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON v.ts <= p.ts AND v.ts > p.ts - INTERVAL 5 MINUTE
      |GROUP BY p.event_id
      |ORDER BY p_id""".stripMargin

  /** Ordered string aggregation — Spark 4 `listagg(...) WITHIN GROUP`
    * vs DuckDB `string_agg(... ORDER BY ...)`: same semantics, two
    * dialects (the one new-surface query here whose oracle CANNOT be
    * the identical string). Deterministic: DISTINCT + an ORDER BY on
    * the aggregated expression itself gives one canonical rendering
    * per group on both engines. */
  private val q47SparkSql =
    """SELECT o_orderpriority,
      |  listagg(DISTINCT o_orderstatus, '|') WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
      |  count(*) AS n
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  private val q47Oracle =
    """SELECT o_orderpriority,
      |  string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus) AS statuses,
      |  count(*) AS n
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  def q47(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(q47SparkSql)
  }

  /** Edit-distance verification of near-dup candidates — the
    * character-level second opinion a dedup pipeline runs on
    * token-level matches (catches e.g. token-preserving reorderings
    * that n-gram Jaccard over-scores). levenshtein() is a native
    * integer function in BOTH engines — deterministic, no rounding.
    * Scale note: edit distance is O(len²) per pair — affordable
    * precisely because it runs on the CANDIDATE pairs (d02's bucketed
    * output), never the corpus cross-product; the 64-char prefix
    * bounds the cost per pair. */
  private val Q48_PREFIX = 64

  def q48(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select($"doc_id",
        substring(graft.functions.TextOps.normText($"text"), 1, Q48_PREFIX).as("p"))
    val pairs = Dedup.d02(s, dir).filter($"jaccard" >= 0.5)
      .select($"a_id", $"b_id", $"jaccard")
    pairs
      .join(docs.select($"doc_id".as("a_id"), $"p".as("pa")), Seq("a_id"))
      .join(docs.select($"doc_id".as("b_id"), $"p".as("pb")), Seq("b_id"))
      .select($"a_id", $"b_id", $"jaccard",
        levenshtein($"pa", $"pb").cast("long").as("prefix_edit_dist"))
      .orderBy($"a_id", $"b_id")
  }

  private val q48Oracle: String = {
    import graft.functions.TextOps.{sqlNorm, sqlTokens}
    s"""WITH docs AS (SELECT doc_id,
       |  substr(${sqlNorm("text")}, 1, $Q48_PREFIX) AS p FROM documents),
       |pairs AS (SELECT a_id, b_id, jaccard
       |  FROM (${Dedup.oracles("d02_ngram_jaccard")})
       |  WHERE jaccard >= 0.5)
       |SELECT a_id, b_id, jaccard,
       |  CAST(levenshtein(da.p, db.p) AS BIGINT) AS prefix_edit_dist
       |FROM pairs
       |JOIN docs da ON da.doc_id = a_id
       |JOIN docs db ON db.doc_id = b_id
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Heavy hitters: top-5 users by event count via the SpaceSaving
    * sketch ([[graft.functions.HeavyHitters]]) with k=32 counters,
    * exact counts alongside (the x01 convention). Rows-only like
    * x01/x03: sketch content is merge-order- and engine-specific;
    * `LlmOpsSpec` asserts the order-free guarantees (exactness when
    * k ≥ domain, `est-err ≤ true ≤ est` always). The tier's THREE
    * faces: this demo row (content, rows-only by design), [[x04e]]
    * (the exact-threshold twin, hash-exact) and [[x04b]] (r16 — the
    * sketch's deterministic GUARANTEES as a hash-gated row). At
    * 100 TB the sketch's map-side partials shuffle ≤ k triples per
    * partition versus the exact groupBy's every-distinct-item
    * exchange — here the exact join-back exists only to expose the
    * error bound. */
  def x04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hh = udaf(graft.functions.HeavyHitters.SpaceSaving(32))
    val top = t(s, dir, "events")
      .agg(hh($"user_id").as("entries"))
      .select(posexplode($"entries").as(Seq("idx", "e")))
      .filter($"idx" < 5)
      .select(($"idx" + 1).cast("long").as("rank"), $"e.item".as("user_id"),
        $"e.count".as("est_count"), $"e.err".as("max_err"))
    val exact = t(s, dir, "events")
      .groupBy($"user_id").agg(count(lit(1)).as("exact_count"))
    top.join(exact, Seq("user_id"))
      .select($"rank", $"user_id", $"est_count", $"max_err", $"exact_count")
      .orderBy($"rank")
  }

  /** HASHED GUARANTEE ROW for the SpaceSaving sketch (x04b — r15
    * verdict #7): x04's CONTENT is merge-order-dependent by nature
    * (every bounded-size sketch's borderline tail is), but its
    * GUARANTEES are deterministic, so this query states them as
    * columns the DuckDB oracle can hash:
    *
    *  - `n_entries` = min(k, |distinct|) — the summary is full
    *    exactly when the domain exceeds k (truncation only ever cuts
    *    a >k union back to k);
    *  - `n_hitters_in_sketch` = `n_true_hitters` — every item with
    *    true frequency > n/k IS in the summary (Metwally 2005;
    *    preserved by the mergeable-summaries union);
    *  - `bounds_hold` — for every reported entry,
    *    count − err ≤ true ≤ count (the sandwich LlmOpsSpec asserts,
    *    here hash-gated against the exact counts in-plan).
    *
    * The oracle computes n_tot / n_entries / n_true_hitters exactly
    * from the base table and states the other two as the guarantee's
    * constants; the Spark side computes ALL of them from the actual
    * sketch — any implementation regression (a dropped hitter, a
    * broken merge bound) flips a value and breaks the hash. The
    * sketch runs where x04's does (user_id, whose domain ≫ k, so the
    * summary is genuinely lossy — the bounds are load-bearing, not
    * vacuous); every assembled side is a 1-row aggregate crossJoin
    * (the justified class). */
  def x04b(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hh = udaf(graft.functions.HeavyHitters.SpaceSaving(32))
    val ev = t(s, dir, "events")
    val tot = ev.agg(count(lit(1)).as("n_tot"))
    val exact = ev.groupBy($"user_id").agg(count(lit(1)).as("exact_count"))
      .localCheckpoint()
    val ent = ev.agg(hh($"user_id").as("es"))
      .select(explode($"es").as("e"))
      .select($"e.item".as("user_id"), $"e.count".as("est"),
        $"e.err".as("err"))
      .localCheckpoint()
    val entStats = ent.join(exact, Seq("user_id"))
      .agg(count(lit(1)).as("n_entries"),
        expr("bool_and(est - err <= exact_count AND exact_count <= est)")
          .as("bounds_hold"))
    val hit = exact.crossJoin(broadcast(tot))
      .filter($"exact_count" * 32 > $"n_tot")
      .localCheckpoint()
    val nHit = hit.agg(count(lit(1)).as("n_true_hitters"))
    val nHitIn = hit.join(ent.select($"user_id"), Seq("user_id"), "left_semi")
      .agg(count(lit(1)).as("n_hitters_in_sketch"))
    tot.crossJoin(entStats).crossJoin(nHit).crossJoin(nHitIn)
      .select(lit(32L).as("k"), $"n_tot", $"n_entries",
        $"n_true_hitters", $"n_hitters_in_sketch", $"bounds_hold")
  }

  private val x04bOracle =
    s"""WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM events),
       |d AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nd
       |  FROM events),
       |h AS (SELECT CAST(count(*) AS BIGINT) AS n_true_hitters FROM
       |  (SELECT user_id FROM events GROUP BY user_id
       |   HAVING count(*) * 32 > (SELECT n_tot FROM tot)))
       |SELECT CAST(32 AS BIGINT) AS k, n_tot,
       |  LEAST(CAST(32 AS BIGINT), nd) AS n_entries,
       |  n_true_hitters, n_true_hitters AS n_hitters_in_sketch,
       |  TRUE AS bounds_hold
       |FROM tot CROSS JOIN d CROSS JOIN h""".stripMargin

  private val X04E_K = 32

  /** Deterministic face of the heavy-hitter tier (VERDICT r10 #7 —
    * x04's SpaceSaving content is genuinely merge-order-dependent, so
    * it stays the one rows-only row by documented decision; THIS
    * query closes the oracle gap with the exact-threshold semantics
    * the sketch guarantees): every item whose true count exceeds
    * N/[[X04E_K]] — precisely the set SpaceSaving(k=[[X04E_K]]) can
    * never drop — with its exact count, rank, and integer ppm share.
    * Runs on event_type, the dimension of this corpus that HAS
    * hitters at every SF (user_id's max share falls below 1/k past
    * sf0.001 — a threshold face over it would be vacuously empty).
    *
    * Fully mergeable (counts are sums) and deterministic, so the
    * DuckDB oracle hash-matches bit-for-bit — this is the
    * verification pass a production heavy-hitter pipeline runs next
    * to its sketch. Scale: one map-side-combined groupBy on a
    * bounded-cardinality column; the rank window sees only the ≤ k
    * surviving rows. */
  def x04e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
    val tot = ev.agg(count(lit(1)).as("n_tot"))
    val hot = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("exact_count"))
      .crossJoin(broadcast(tot))
      .filter($"exact_count" * X04E_K > $"n_tot")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"exact_count".desc, $"event_type")
    hot.withColumn("rank", row_number().over(w).cast("long"))
      .select($"rank", $"event_type", $"exact_count",
        expr("(exact_count * 1000000) div n_tot").as("share_ppm"), $"n_tot")
      .orderBy($"rank")
  }

  private val x04eOracle =
    s"""WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM events),
       |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS exact_count
       |  FROM events GROUP BY event_type),
       |hot AS (SELECT event_type, exact_count, n_tot
       |  FROM c CROSS JOIN tot WHERE exact_count * $X04E_K > n_tot)
       |SELECT CAST(row_number() OVER (ORDER BY exact_count DESC, event_type)
       |    AS BIGINT) AS rank,
       |  event_type, exact_count,
       |  CAST((exact_count * 1000000) // n_tot AS BIGINT) AS share_ppm, n_tot
       |FROM hot ORDER BY rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q45_filter_agg" -> (q45 _),
    "q46_grouping_sets" -> (q46 _),
    "e04_ewma" -> (e04 _),
    "t15_dup_ngram_stats" -> (t15 _),
    "x04_heavy_hitters" -> (x04 _),
    "x04b_heavy_hitters_bounds" -> (x04b _),
    "x04e_heavy_hitters_exact" -> (x04e _),
    "q47_listagg" -> (q47 _),
    "t16_winnowing" -> (t16 _),
    "q48_edit_distance" -> (q48 _),
    "q49_binned_range_join" -> (q49 _),
  )

  val oracles: Map[String, String] = Map(
    "x04e_heavy_hitters_exact" -> x04eOracle,
    "x04b_heavy_hitters_bounds" -> x04bOracle,
    "q45_filter_agg" -> q45Sql,
    "q46_grouping_sets" -> q46Sql,
    "e04_ewma" -> e04Sql,
    "t15_dup_ngram_stats" -> t15Oracle,
    "q47_listagg" -> q47Oracle,
    "t16_winnowing" -> t16Oracle,
    "q48_edit_distance" -> q48Oracle,
    "q49_binned_range_join" -> q49Oracle,
  )
}
