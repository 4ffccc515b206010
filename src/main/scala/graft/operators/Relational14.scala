package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.NativeKernels.word_shingles
import graft.functions.TextOps.sqlTokens

/** Fourteenth tranche — the serving-and-layout shapes that round out
  * the engine's 100 TB story, each oracle-checked:
  *
  *  - e12: Markov transition matrix over per-user event sequences —
  *    the behavioral-model readout (what follows what, with exact
  *    fixed-point probabilities) product analytics and sessionized
  *    training-data curricula both consume;
  *  - q58: bucketed co-located join — the LAYOUT lever for the
  *    fact-fact join: both sides written `bucketBy` the join key, so
  *    the shuffle that dominates every orders⋈lineitem in q04/q05
  *    VANISHES from the plan (asserted in BucketedJoinSpec), the way
  *    a 100 TB warehouse actually runs its daily fact joins;
  *  - s15: hybrid retrieval by reciprocal-rank fusion (Cormack et
  *    al. 2009, SIGIR) — a lexical leg (shingle Jaccard) and a dense
  *    leg (embedding distance) each keep a bounded top-K, then fuse
  *    by Σ 1/(C+rank) in exact integer arithmetic; the
  *    query-by-example related-document shape every curation /
  *    retrieval stack serves.
  *
  * The reference ships none of these (it is an IOC ETL bridge,
  * `/root/reference/src/Datalake2Anomali.py:1-449`); they extend the
  * SURVEY §7.2 LLM-pipeline/relational surface alongside tranches
  * 1-13.
  */
object Relational14 extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---- e12: Markov transition matrix --------------------------------

  /** Event-type transition matrix: for each user's time-ordered event
    * sequence, count (previous type → current type) transitions, then
    * normalize per source type to an exact fixed-point probability
    * `p_ppm` = ⌊10⁶·n/rowtotal⌋ (integer floor division — engine-
    * portable, the x07 j_ppm discipline; the consumer divides, no
    * rounded double ever gates the hash).
    *
    * Shape: ONE data-sized shuffle (the per-user lag window — order
    * (ts, event_id), a total order, so the previous event is
    * deterministic under timestamp ties), collapsing immediately to a
    * #types² frame; the row-normalization window partitions that tiny
    * frame per source type (≤ #types rows — bounded, never
    * data-sized).
    *
    * At 100 TB: user timelines sort per-user inside the one exchange
    * (the w04 sessionize discipline); everything after the first
    * groupBy is O(#types²). A streaming ingest keeps last-event-per-
    * user state and emits transitions incrementally —
    * [[graft.streaming.TransitionStream]] is that face, exact-parity
    * checked. */
  def e12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wt = Window.partitionBy($"from_type")
    t(s, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(w))
      .filter($"prev".isNotNull)
      .groupBy($"prev".as("from_type"), $"event_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum($"n").over(wt))
      .select($"from_type", $"to_type", $"n",
        expr("(n * 1000000L) DIV tot").as("p_ppm"))
      .orderBy($"from_type", $"to_type")
  }

  private val e12Oracle =
    """WITH o AS (SELECT user_id, event_type,
      |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |c AS (SELECT prev AS from_type, event_type AS to_type,
      |  CAST(count(*) AS BIGINT) AS n
      |  FROM o WHERE prev IS NOT NULL GROUP BY 1, 2),
      |w AS (SELECT from_type, to_type, n,
      |  sum(n) OVER (PARTITION BY from_type) AS tot FROM c)
      |SELECT from_type, to_type, n,
      |  CAST((n * 1000000) // tot AS BIGINT) AS p_ppm
      |FROM w ORDER BY from_type, to_type""".stripMargin

  // ---- q58: bucketed co-located join --------------------------------

  private[graft] val Q58_BUCKETS = 8
  private[graft] val Q58_INGEST_TASKS = 4

  private val bktCache = Materialized[(String, String)]()

  /** Orders + lineitem rewritten as BUCKETED tables on the join key
    * (`bucketBy(8, orderkey)`, sorted within buckets), materialized
    * like q56's Z-ordered layout. Bucketing is THE
    * layout lever for the repeated fact-fact join: both sides hash-
    * partition into the same 8 buckets at WRITE time, so every later
    * join on orderkey reads bucket i against bucket i and the
    * data-sized `ShuffleExchange` disappears from the plan entirely
    * (BucketedJoinSpec asserts zero exchanges under the join) — paid
    * once at ingest, amortized over every downstream join/aggregate
    * on the key, exactly how a 100 TB warehouse lays out its largest
    * facts. The ingest is the production MULTI-TASK form: each of
    * [[Q58_INGEST_TASKS]] round-robin write tasks emits one file per
    * bucket it holds rows for (so a bucket is [tasks] files, written
    * in parallel — at 100 TB the write parallelism IS the cluster,
    * never a `repartition(1)` funnel). Consequence, asserted in
    * Relational14Spec: the exchange elimination (the dominant,
    * data-sized win) is layout-metadata and survives any task count,
    * while the within-bucket sort is only PER FILE — Spark declares
    * a read-side ordering solely in the one-file-per-bucket case, so
    * the join plans a (bucket-local, memory-sized) Sort and ZERO
    * exchanges. Tables are EXTERNAL at a temp path; metadata lives in
    * the session catalog. */
  def bucketedTablePair(s: SparkSession, dir: String): (String, String) =
    bktCache(s, dir) {
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val out = Materialized.tempDir("graft-bucketed")
      val oTbl = s"graft_bkt_orders_$tag"
      val lTbl = s"graft_bkt_lineitem_$tag"
      // round-robin (NOT hash-by-key) across the ingest tasks: key
      // hashing would route bucket b's rows to task b % tasks and
      // collapse back to one file per bucket — round-robin is the
      // shape a real parallel ingest has, every task holding rows of
      // every bucket
      t(s, dir, "orders").repartition(Q58_INGEST_TASKS)
        .write.format("parquet").option("path", s"$out/orders")
        .bucketBy(Q58_BUCKETS, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(oTbl)
      t(s, dir, "lineitem").repartition(Q58_INGEST_TASKS)
        .write.format("parquet").option("path", s"$out/lineitem")
        .bucketBy(Q58_BUCKETS, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(lTbl)
      (oTbl, lTbl)
    }

  /** Per-priority order economics over the BUCKETED layout: the
    * orders⋈lineitem join runs bucket-local (no data-sized shuffle —
    * the plan shape is the point; BucketedJoinSpec pins it), then
    * collapses to a 5-row priority frame. The RESULT is
    * layout-invariant, so the oracle is plain SQL over the original
    * tables — correctness proves the bucketed rewrite lost nothing,
    * the q56 discipline applied to joins instead of scans. Measures
    * are exact integers (counts, integral quantities, prices in
    * cents), so no float-sum ordering hazard crosses engines. */
  def q58(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (oTbl, lTbl) = bucketedTablePair(s, dir)
    val o = s.table(oTbl)
    val l = s.table(lTbl)
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(round($"l_quantity").cast("long")).as("sum_qty"),
        sum(round($"l_extendedprice" * 100).cast("long")).as("sum_cents"))
      .orderBy($"o_orderpriority")
  }

  private val q58Oracle =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- s15: hybrid retrieval (reciprocal-rank fusion) ---------------

  private[graft] val RRF_NQ = 3      // exemplar docs: doc_id < 3
  private[graft] val RRF_LEG_K = 20  // per-leg bounded depth
  private[graft] val RRF_C = 60L     // the standard RRF constant
  private[graft] val RRF_TOPK = 10
  private val SHINGLE_N = 3          // the d02 shingle width

  /** Hybrid query-by-example retrieval: given [[RRF_NQ]] exemplar
    * documents, find related documents by fusing a LEXICAL ranking
    * (3-word-shingle Jaccard against the exemplar — the d02 kernel)
    * with a DENSE ranking (embedding squared distance in exact micro
    * units — the s13 discipline; `documents.doc_id` and
    * `embeddings.vec_id` share the id space) via reciprocal-rank
    * fusion: rrf = Σ_legs ⌊10⁹/(C+rank)⌋ with C=[[RRF_C]], absent
    * legs contributing 0. RRF is the standard way to combine rankers
    * whose scores are incomparable (Cormack et al. 2009) — lexical
    * catches near-verbatim overlap the embedding smooths away, dense
    * catches paraphrase the shingles miss.
    *
    * Every quantity that gates the cross-engine hash is an exact
    * integer: Jaccard as `j_ppm` = ⌊10⁶·inter/union⌋, dense distance
    * as round(d²·10⁶) summed as longs, RRF as integer floor
    * divisions. Both legs rank with a total (score, doc_id)
    * tie-break.
    *
    * Shape and 100 TB stance: the lexical leg joins corpus shingle
    * rows to the ≤ NQ·doclen exemplar shingle rows — keyed on
    * shingle, only docs sharing ≥1 shingle ever surface, one corpus
    * scan; the dense leg broadcasts NQ query vectors over one
    * embeddings scan. EACH leg keeps its top-[[RRF_LEG_K]] per query
    * through the [[graft.functions.GroupedTopK.TopDocs]] bounded
    * buffer (map-side state ≤ K per query — no corpus-sized rank
    * window anywhere); fusion then touches ≤ NQ·2K rows. At a
    * billion docs the legs are the two index scans a serving stack
    * already runs (t38's inverted index, s14's IVF-PQ); the fusion
    * cost is unchanged — it only ever sees the bounded leg heads. */
  def s15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val topk = udaf(graft.functions.GroupedTopK.TopDocs(RRF_LEG_K))

    // lexical leg: shingle-set Jaccard vs each exemplar, top-K per q.
    // The corpus shingles once; the exemplar side is its own pruned
    // scan (doc_id < NQ reaches the parquet footer — 3 docs read),
    // broadcast into the shingle-keyed join.
    // explode_OUTER + null filter on the GENERATED column, not the
    // array: the non-outer form lets InferFiltersFromGenerate add
    // `size(arr) > 0`, and predicate pushdown inlines the alias into a
    // scan-level Filter that re-runs the shingle kernel 3× per row
    // (the t37Chunks lesson, Relational11.scala:253-263)
    val sh = t(s, dir, "documents")
      .select($"doc_id", word_shingles($"text", SHINGLE_N).as("arr"))
      .select($"doc_id", size($"arr").cast("long").as("n"),
        explode_outer($"arr").as("s"))
      .filter($"s".isNotNull)
    val qsh = t(s, dir, "documents").filter($"doc_id" < RRF_NQ)
      .select($"doc_id".as("q_id"), word_shingles($"text", SHINGLE_N).as("arr"))
      .select($"q_id", size($"arr").cast("long").as("qn"),
        explode_outer($"arr").as("s"))
      .filter($"s".isNotNull)
    val lex = sh.join(broadcast(qsh), Seq("s"))
      .filter($"doc_id" =!= $"q_id")
      .groupBy($"q_id", $"doc_id")
      .agg(count(lit(1)).as("inter"), first($"n").as("n"), first($"qn").as("qn"))
      .withColumn("j_ppm", expr("(inter * 1000000L) DIV (n + qn - inter)"))
      .groupBy($"q_id")
      .agg(topk($"j_ppm", $"doc_id", lit(0L), lit(0L)).as("top"))
      .select($"q_id", posexplode($"top").as(Seq("pos", "r")))
      .select($"q_id", $"r.doc_id".as("doc_id"),
        ($"pos" + 1).cast("long").as("lex_rank"))

    // dense leg: exact micro-unit squared distance, top-K per q
    val e = t(s, dir, "embeddings").select($"vec_id", $"embedding")
    val q = e.filter($"vec_id" < RRF_NQ)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val d2 = aggregate(zip_with($"q_emb", $"embedding",
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, d) => acc + d)
    val den = e.join(broadcast(q), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("doc_id"),
        round(d2 * 1e6).cast("long").as("d2_micro"))
      .groupBy($"q_id")
      .agg(topk(-$"d2_micro", $"doc_id", lit(0L), lit(0L)).as("top"))
      .select($"q_id", posexplode($"top").as(Seq("pos", "r")))
      .select($"q_id", $"r.doc_id".as("doc_id"),
        ($"pos" + 1).cast("long").as("dense_rank"))

    // fusion: integer RRF over the bounded leg heads
    val fused = lex.join(den, Seq("q_id", "doc_id"), "full_outer")
      .select($"q_id", $"doc_id",
        coalesce($"lex_rank", lit(0L)).as("lex_rank"),
        coalesce($"dense_rank", lit(0L)).as("dense_rank"))
      .withColumn("rrf",
        when($"lex_rank" > 0, expr(s"1000000000L DIV ($RRF_C + lex_rank)"))
          .otherwise(lit(0L)) +
        when($"dense_rank" > 0, expr(s"1000000000L DIV ($RRF_C + dense_rank)"))
          .otherwise(lit(0L)))
    val wf = Window.partitionBy($"q_id").orderBy($"rrf".desc, $"doc_id")
    fused.withColumn("fused_rank", row_number().over(wf).cast("long"))
      .filter($"fused_rank" <= RRF_TOPK)
      .select($"q_id", $"doc_id", $"lex_rank", $"dense_rank", $"rrf", $"fused_rank")
      .orderBy($"q_id", $"fused_rank")
  }

  private val s15Oracle = {
    val sqdSql =
      s"""list_sum([(CAST(q.embedding[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))
         |      * (CAST(q.embedding[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))
         |    for i in range(1, 65)])""".stripMargin
    s"""WITH ${Dedup.sqlShingleRows},
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
       |qsh AS (SELECT doc_id AS q_id, s FROM sh WHERE doc_id < $RRF_NQ),
       |qn AS (SELECT doc_id AS q_id, n AS qn FROM sizes WHERE doc_id < $RRF_NQ),
       |li AS (SELECT q_id, sh.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS inter
       |  FROM sh JOIN qsh ON sh.s = qsh.s AND sh.doc_id <> qsh.q_id
       |  GROUP BY 1, 2),
       |lj AS (SELECT li.q_id AS q_id, li.doc_id AS doc_id,
       |    CAST((inter * 1000000) // (n + qn - inter) AS BIGINT) AS j_ppm
       |  FROM li JOIN sizes ON sizes.doc_id = li.doc_id
       |    JOIN qn ON qn.q_id = li.q_id),
       |lex AS (SELECT q_id, doc_id,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY j_ppm DESC, doc_id)
       |      AS BIGINT) AS lex_rank
       |  FROM lj QUALIFY lex_rank <= $RRF_LEG_K),
       |dd AS (SELECT q.vec_id AS q_id, e.vec_id AS doc_id,
       |    CAST(round($sqdSql * 1000000) AS BIGINT) AS d2_micro
       |  FROM embeddings q JOIN embeddings e ON q.vec_id < $RRF_NQ
       |    AND e.vec_id <> q.vec_id),
       |den AS (SELECT q_id, doc_id,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2_micro, doc_id)
       |      AS BIGINT) AS dense_rank
       |  FROM dd QUALIFY dense_rank <= $RRF_LEG_K),
       |fused AS (SELECT coalesce(lex.q_id, den.q_id) AS q_id,
       |    coalesce(lex.doc_id, den.doc_id) AS doc_id,
       |    coalesce(lex_rank, 0) AS lex_rank,
       |    coalesce(dense_rank, 0) AS dense_rank,
       |    (CASE WHEN coalesce(lex_rank, 0) > 0
       |       THEN 1000000000 // ($RRF_C + lex_rank) ELSE 0 END)
       |    + (CASE WHEN coalesce(dense_rank, 0) > 0
       |       THEN 1000000000 // ($RRF_C + dense_rank) ELSE 0 END) AS rrf
       |  FROM lex FULL OUTER JOIN den
       |    ON lex.q_id = den.q_id AND lex.doc_id = den.doc_id),
       |f2 AS (SELECT q_id, doc_id, lex_rank, dense_rank,
       |    CAST(rrf AS BIGINT) AS rrf FROM fused)
       |SELECT q_id, doc_id, lex_rank, dense_rank, rrf,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id)
       |    AS BIGINT) AS fused_rank
       |FROM f2 QUALIFY fused_rank <= $RRF_TOPK
       |ORDER BY q_id, fused_rank""".stripMargin
  }

  // ---- t42: per-source cap sampling ---------------------------------

  private[graft] val CAP_PER_SOURCE = 10

  /** Per-source document cap: keep at most [[CAP_PER_SOURCE]] docs
    * per source as a deterministic uniform sample — the per-domain
    * cap every web-crawl curation pipeline applies so no single
    * domain dominates the training mixture (the policy knob next to
    * t10's stratified FRACTIONS: a cap bounds the absolute
    * contribution, a fraction only the relative one).
    *
    * Selection is bottom-k by a fixed salted hash of doc_id
    * ([[graft.functions.Sampling.BottomK]] — the x08 sketch): a
    * uniform sample that is a deterministic FUNCTION of the doc set,
    * so it is bit-reproducible under task retry / engine change (the
    * t20 no-RNG-state argument) and STABLE under ingest — a doc's
    * keep/drop flips only when a new doc hashes below the current
    * k-th, never because arrival order changed.
    *
    * Shape: one groupBy(source) whose aggregate state is ≤ k
    * (hash, doc) pairs per source per partition — map-side bounded,
    * so a million-doc domain shuffles k rows, not a domain-sized
    * window partition (the t33/t40 per-source-window trade solved by
    * the bounded buffer instead of cut-point approximation). The
    * kept list explodes back to rows with the selection rank and the
    * source's total riding along. */
  def t42(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bk = udaf(graft.functions.Sampling.BottomK(CAP_PER_SOURCE))
    t(s, dir, "documents")
      .select($"source", $"doc_id",
        graft.functions.TextOps.hash64(
          concat(lit("cap:"), $"doc_id".cast("string"))).as("h"))
      .groupBy($"source")
      .agg(bk($"h", $"doc_id".cast("double")).as("kept"),
        count(lit(1)).as("n_total"))
      .select($"source", $"n_total", posexplode($"kept").as(Seq("pos", "r")))
      .select($"source", $"n_total",
        ($"pos" + 1).cast("long").as("keep_rank"),
        $"r.v".cast("long").as("doc_id"), $"r.h".as("h"))
      .orderBy($"source", $"keep_rank")
  }

  private val t42Oracle = {
    import graft.functions.TextOps.sqlHash64
    s"""WITH d AS (SELECT source, doc_id,
       |    ${sqlHash64("concat('cap:', CAST(doc_id AS VARCHAR))")} AS h
       |  FROM documents),
       |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_total
       |  FROM d GROUP BY source),
       |r AS (SELECT source, doc_id, h,
       |  CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
       |    AS BIGINT) AS keep_rank FROM d)
       |SELECT r.source AS source, n_total, keep_rank, doc_id, h
       |FROM r JOIN n ON n.source = r.source
       |WHERE keep_rank <= $CAP_PER_SOURCE
       |ORDER BY r.source, keep_rank""".stripMargin
  }

  // ---- q59: copy-on-write upsert layout -----------------------------

  private[graft] val Q59_MONTH = "1995-03"

  private val cowCache = Materialized[String]()

  /** Orders laid out hive-partitioned by order month, then upserted
    * copy-on-write: the delta re-prices every [[Q59_MONTH]] order
    * (+1), and [[graft.sources.FileFormats.cowUpsertByPartition]]
    * rewrites exactly that ONE month directory — the other ~80 month
    * partitions stay byte-identical on disk (FileFormatsSpec hashes
    * them). Materialized by the q56/q58 layout convention. */
  def upsertedOrdersPath(s: SparkSession, dir: String): String =
    cowCache(s, dir) {
      import s.implicits._
      val out = Materialized.tempDir("graft-cow")
      val om = date_format($"o_orderdate", "yyyy-MM")
      t(s, dir, "orders").withColumn("om", om)
        .write.mode("overwrite").partitionBy("om").parquet(out.toString)
      val delta = t(s, dir, "orders").filter(om === Q59_MONTH)
        .withColumn("o_totalprice", $"o_totalprice" + 1.0)
        .withColumn("om", om)
      graft.sources.FileFormats.cowUpsertByPartition(
        s, out.toString, delta, "om", "o_orderkey")
      out.toString
    }

  /** Monthly order economics over the COW-upserted layout: the
    * result must equal applying the re-price IN SQL to the original
    * table — proving the partition-surgical rewrite produced exactly
    * the full-table-merge semantics (the q56/q58 layout-invariance
    * discipline: correctness checks content, the spec checks which
    * bytes moved). Measures are exact integers; the +1 re-price and
    * the ×100 cents cast are the SAME IEEE steps on both engines, so
    * no rounding gate. */
  def q59(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.parquet(upsertedOrdersPath(s, dir))
      .groupBy($"om".cast("string").as("om"))
      .agg(count(lit(1)).as("n"),
        sum(round($"o_totalprice" * 100).cast("long")).as("sum_cents"))
      .orderBy($"om")
  }

  private val q59Oracle =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS om,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(round((o_totalprice + CASE
       |    WHEN strftime(o_orderdate, '%Y-%m') = '$Q59_MONTH' THEN 1 ELSE 0
       |    END) * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- registry ----------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e12_markov_transitions" -> (e12 _),
    "q58_bucketed_join" -> (q58 _),
    "s15_hybrid_rrf" -> (s15 _),
    "t42_source_cap" -> (t42 _),
    "q59_cow_upsert" -> (q59 _),
  )

  val oracles: Map[String, String] = Map(
    "e12_markov_transitions" -> e12Oracle,
    "q58_bucketed_join" -> q58Oracle,
    "s15_hybrid_rrf" -> s15Oracle,
    "t42_source_cap" -> t42Oracle,
    "q59_cow_upsert" -> q59Oracle,
  )
}
