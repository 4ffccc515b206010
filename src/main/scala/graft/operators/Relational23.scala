package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.CheckpointOps
import graft.functions.TextOps.sqlTokens
import graft.functions.NativeKernels.word_tokens

/** Twenty-third tranche — two serving-side primitives over indexes
  * the engine already builds:
  *
  *  - t45: CONJUNCTIVE keyword search (AND-of-terms) served by
  *    posting-list intersection over the t38 inverted index, ranked
  *    by the same exact-integer BM25 — the "find training documents
  *    mentioning all of X, Y, Z" query a corpus owner runs daily,
  *    and the classical demonstration that an index serves
  *    multi-term queries by intersecting delta-sized postings, never
  *    by scanning the corpus;
  *  - s24/s24m: WEIGHTED shortest paths (bounded-round min-plus
  *    relaxation) over the s11 knn graph with exact integer
  *    cosine-distance weights — s19's hop-count BFS upgraded to real
  *    edge costs, the "semantic distance from a contaminated seed"
  *    audit where two short hops through near-duplicates should
  *    count less than one long hop across a topic boundary.
  *
  * The reference ships neither (IOC ETL only,
  * `/root/reference/src/Datalake2Anomali.py`); both extend SURVEY
  * §7.2's retrieval and graph tiers.
  */
object Relational23 extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---- t45: conjunctive keyword search over the inverted index ------

  private val CONJ_QDOCS = 5  // one query per doc_id < CONJ_QDOCS
  private val CONJ_TERMS = 3  // terms per query (lexicographically
                              // smallest distinct tokens of the doc —
                              // deterministic in both engines)
  private val CONJ_TOPK = 10

  /** Conjunctive (AND) keyword search: for each query — the
    * [[CONJ_TERMS]] lexicographically-smallest distinct tokens of
    * documents doc_id < [[CONJ_QDOCS]] — return the top-[[CONJ_TOPK]]
    * documents containing EVERY term, ranked by summed exact-integer
    * BM25 ([[Relational12.BM25_PPM_EXPR]], the t38 fixed-point
    * discipline; ties on doc_id).
    *
    * Plan: ONE tokenize pass builds the (doc, term, tf) postings (the
    * inverted-index shuffle every retrieval system pays once —
    * shared construction with t38: [[Relational12.docTf]]); the
    * query-term table is ≤ QDOCS·TERMS rows → broadcast, so only the
    * QUERY TERMS' postings survive the semi-join — the corpus is
    * never scanned per query. The AND is `count(matched terms) =
    * n_terms(query)` on the (query, doc) aggregate; the top-k cut is
    * a bounded-buffer aggregator ([[graft.functions.GroupedTopK.TopIds]]),
    * NOT a rank window — a stopword query's candidate set is
    * corpus-sized and would otherwise land on one reducer (the t38
    * skew argument verbatim).
    *
    * At 100 TB: per-query cost is the query terms' posting lists —
    * document-frequency-sized, never corpus-sized; the only
    * corpus-sized work is the index build, amortized over every
    * query in the batch (and maintained live by
    * [[graft.streaming.IndexStream]]). */
  def t45(s: SparkSession, dir: String): DataFrame =
    conjunctiveServe(s, dir,
      t45QueryArrays(s, dir)
        .select(col("q_id"), size(col("terms")).cast("long").as("n_terms"),
          explode(col("terms")).as("term")))

  /** The registered query set as (q_id, terms) arrays — per qdoc, the
    * [[CONJ_TERMS]] smallest distinct tokens (also the streaming
    * fixture's feed, so stream ≡ batch parity compares like for
    * like). */
  private[graft] def t45QueryArrays(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").filter($"doc_id" < CONJ_QDOCS)
      .select($"doc_id".as("q_id"),
        explode(word_tokens($"text")).as("term")).distinct()
      .groupBy($"q_id")
      .agg(slice(array_sort(collect_set($"term")), 1, CONJ_TERMS)
        .as("terms"))
  }

  /** The conjunctive serve BODY over an external query-term frame
    * (q_id, n_terms, term) — shared verbatim by the registered [[t45]]
    * and the streaming face
    * ([[graft.streaming.SearchStream.serveRefresh]]), so stream ≡
    * batch parity is structural (the AnnStream convention: one
    * scoring body, never a reimplementation that could drift). */
  private[graft] def conjunctiveServe(s: SparkSession, dir: String,
      qt: DataFrame): DataFrame = {
    import s.implicits._
    val tf = Relational12.docTf(s, dir)
    val dl = Relational12.docDl(tf)
    val tot = Relational12.guardedTot(dl, "t45")
    val matched = tf.join(broadcast(qt), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(tot))
      .select($"q_id", $"n_terms", $"doc_id",
        expr(Relational12.BM25_PPM_EXPR).as("score_ppm"))
    // AND: tf rows are unique per (doc, term), so count = matched terms
    val conj = matched.groupBy($"q_id", $"n_terms", $"doc_id")
      .agg(count(lit(1)).as("n_matched"), sum($"score_ppm").as("score_ppm"))
      .filter($"n_matched" === $"n_terms")
    val topk = udaf(graft.functions.GroupedTopK.TopIds(CONJ_TOPK))
    conj.groupBy($"q_id")
      .agg(topk($"score_ppm", $"doc_id").as("top"))
      .select($"q_id", posexplode($"top").as(Seq("pos", "r")))
      .select($"q_id", ($"pos" + 1).cast("long").as("rank"),
        $"r.id".as("doc_id"), $"r.score".as("score_ppm"))
      .orderBy($"q_id", $"rank")
  }

  private val t45Oracle =
    s"""WITH d AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |terms AS (SELECT doc_id, unnest(tk) AS term FROM d),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM terms GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
       |  FROM tf GROUP BY doc_id),
       |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS tl,
       |  CAST(count(*) AS BIGINT) AS n_docs FROM dl),
       |qt AS (SELECT doc_id AS q_id,
       |    unnest(list_sort(list_distinct(tk))[1:$CONJ_TERMS]) AS term
       |  FROM d WHERE doc_id < $CONJ_QDOCS),
       |qn AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_terms
       |  FROM qt GROUP BY q_id),
       |m AS (SELECT qt.q_id, tf.doc_id,
       |  CAST((22 * tf * tl * 1000000) // (10 * tf * tl + 3 * tl + 9 * dl * n_docs)
       |    AS BIGINT) AS score_ppm
       |  FROM tf JOIN qt USING (term) JOIN dl USING (doc_id) CROSS JOIN tot),
       |c AS (SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS n_matched,
       |    CAST(sum(score_ppm) AS BIGINT) AS score_ppm
       |  FROM m GROUP BY q_id, doc_id),
       |conj AS (SELECT c.q_id, c.doc_id, c.score_ppm FROM c
       |  JOIN qn USING (q_id) WHERE c.n_matched = qn.n_terms),
       |ranked AS (SELECT q_id, doc_id, score_ppm,
       |  CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rank FROM conj)
       |SELECT q_id, rank, doc_id, score_ppm
       |FROM ranked WHERE rank <= $CONJ_TOPK ORDER BY q_id, rank""".stripMargin

  // ---- s24: weighted shortest paths over the knn graph --------------

  private[graft] val SSSP_SEED_MOD = 50L
  private[graft] val SSSP_ROUNDS = 3

  /** Bounded min-plus relaxation (the matrix "min-plus product"
    * form of Bellman-Ford, unrolled [[SSSP_ROUNDS]] rounds —
    * deterministic, so the oracle replays it as chained CTEs): from
    * the vec_id ≡ 0 (mod [[SSSP_SEED_MOD]]) seeds, the cheapest
    * ≤ 3-edge path cost to every reachable node, on
    * [[Similarity.weightedKnnEdges]]'s exact integer grid — every
    * candidate path cost is a long SUM, every relaxation a long MIN,
    * so there is nothing float for the cross-engine gate to trip on.
    *
    * Shape: the s19 BFS discipline verbatim — edges localCheckpoint
    * once, each round is one frontier⋈edges equi-join plus a min
    * aggregate over ≤ |V| rows, checkpointed and freed per round;
    * out-degree ≤ k bounds the join fan-out structurally. At 100 TB
    * rounds shuffle reached-set-sized frames on node keys; the
    * corpus-sized cost is the one-time graph build (s24 prices it
    * fresh; [[s24m]] reads the materialized weighted edge asset and
    * prices only the relaxation — the serving truth). */
  private[operators] def ssspOver(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // r18 (VERDICT r17 #1): the relaxation loop now runs the
    // pageRankOver/d06 round discipline. Before, the edge snapshot
    // was checkpointed UNPARTITIONED, so every round re-exchanged the
    // edge side AND the frontier and planned a SortMergeJoin
    // (measured: 3 hash exchanges + 1 SMJ + a per-round broadcast
    // build in plans/r18/s24_weighted_sssp_before.txt). Now:
    //  - the loop-invariant edge snapshot pins hash(src, p) once
    //    (explicit p from spark.sql.shuffle.partitions — scale-
    //    adaptive via conf, exempt from AQE coalescing);
    //  - the per-round distance snapshot pins hash(id, p) — the
    //    explicit repartition BEFORE the min-aggregate both feeds the
    //    aggregate (ClusteredDistribution(id) is satisfied, so no
    //    second exchange) and is what the checkpoint captures;
    //  - the relax join is SHUFFLE_HASH-hinted: e (hash src) ⋈ dist
    //    (hash id) arrive co-partitioned — zero exchanges, no sort,
    //    no broadcast of an unbounded frontier (the reached set
    //    approaches |V| at scale — §3.1's NOT-bounded side).
    // Round shape after: ONE exchange (the union's realign onto
    // hash(id, p)), 0 SMJ — the VERDICT r17 "done" bar. The realign
    // carries relaxation candidates un-preaggregated (≤ frontier × k
    // rows of 16 B); the min then folds them and the carried state in
    // one pass on the pinned layout.
    val e = CheckpointOps.pin(edges.select($"src", $"dst", $"w"), "src")
    val seeds = e.select($"src".as("id")).distinct()
      .filter(pmod($"id", lit(SSSP_SEED_MOD)) === 0)
      .select($"id", lit(0L).as("dist_w"))
      .localCheckpoint()
    val dist = CheckpointOps.rounds(seeds, SSSP_ROUNDS) { (prev, _) =>
      CheckpointOps.hashLayout(prev.unionByName(
          e.join(prev.hint("shuffle_hash"), $"src" === $"id")
            .select($"dst".as("id"), ($"dist_w" + $"w").as("dist_w"))), "id")
        .groupBy($"id").agg(min($"dist_w").as("dist_w"))
    }
    CheckpointOps.freeLocalCheckpoint(e)
    dist.select($"id".as("vec_id"), $"dist_w").orderBy($"vec_id")
  }

  def s24(s: SparkSession, dir: String): DataFrame =
    ssspOver(Similarity.weightedKnnEdges(s, dir))

  /** [[s24]] over the once-materialized weighted edge asset (the
    * s12m/s19m serving form). */
  def s24m(s: SparkSession, dir: String): DataFrame =
    ssspOver(Similarity.materializedWeightedKnnEdges(s, dir))

  private lazy val s24Oracle: String = {
    val rounds = (1 to SSSP_ROUNDS).map { i =>
      s"""w$i AS (SELECT id, CAST(min(dw) AS BIGINT) AS dw FROM (
         |    SELECT id, dw FROM w${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, h.dw + e.w AS dw
         |    FROM edw e JOIN w${i - 1} h ON h.id = e.src)
         |  GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Similarity.sqlKnnWeightedEdgeCtes},
       |w0 AS (SELECT DISTINCT src AS id, CAST(0 AS BIGINT) AS dw
       |  FROM edw WHERE src % $SSSP_SEED_MOD = 0),
       |$rounds
       |SELECT id AS vec_id, dw AS dist_w FROM w$SSSP_ROUNDS
       |ORDER BY vec_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t45_conjunctive_search" -> (t45 _),
    "s24_weighted_sssp" -> (s24 _),
    "s24m_sssp_materialized" -> (s24m _))

  val oracles: Map[String, String] = Map(
    "t45_conjunctive_search" -> t45Oracle,
    "s24_weighted_sssp" -> s24Oracle,
    "s24m_sssp_materialized" -> s24Oracle)
}
