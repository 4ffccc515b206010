package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextOps.sqlTokens
import graft.functions.NativeKernels.word_tokens

/** Twenty-fifth tranche — EXACT PHRASE search (t46): the positional
  * face of the retrieval tier next to t45's conjunctive AND (terms
  * anywhere) and t38's per-term ranking: find every document
  * containing the query's tokens CONSECUTIVELY, with occurrence
  * counts — the "exact quote" query, and the primitive behind
  * quotation-contamination audits (t08 matches whole normalized
  * texts; a phrase finds the lifted sentence inside a larger
  * document).
  *
  * The reference has no text retrieval at all
  * (`/root/reference/src/Datalake2Anomali.py`); this extends SURVEY
  * §7.2's retrieval tier.
  */
object Relational25 extends graft.QueryModule {

  private val PH_QDOCS = 5 // one phrase per doc_id < PH_QDOCS
  private val PH_LEN = 3   // phrase = the doc's first PH_LEN tokens

  /** Exact-phrase occurrence counts: for each query phrase — the
    * first [[PH_LEN]] tokens of documents doc_id < [[PH_QDOCS]] —
    * every document containing the phrase consecutively, with its
    * occurrence count.
    *
    * Plan: phrase matching is PER-ROW ARRAY ALGEBRA, not a positional
    * self-join — the tokens array is already in hand from the ONE
    * tokenize pass, so each (doc, phrase) pair costs one
    * higher-order-function sweep over the doc's positions
    * (codegen'd, zero shuffle), where the classical positional-index
    * plan (posexplode → three (doc, pos)-keyed self-joins) would
    * shuffle corpus-sized posting tables twice and re-run the
    * tokenize kernel per join leg. The phrase table is ≤ [[PH_QDOCS]]
    * rows → broadcast; the `size(tk) >= PH_LEN` guard keeps
    * `sequence` ascending (the t17 clamp lesson — `sequence(1, 0)`
    * DESCENDS). At 100 TB: one corpus scan × NQ phrases, map-only,
    * embarrassingly parallel; the only shuffle is the final
    * deterministic ORDER BY. */
  def t46(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents")
      .select($"doc_id", word_tokens($"text").as("tk"))
    val ph = d.filter($"doc_id" < PH_QDOCS && size($"tk") >= PH_LEN)
      .select($"doc_id".as("q_id"),
        $"tk".getItem(0).as("t1"), $"tk".getItem(1).as("t2"),
        $"tk".getItem(2).as("t3"))
    phraseServe(s, dir, ph)
  }

  /** Phrase length of the serving face, shared with
    * [[graft.streaming.SearchStream]]. */
  private[graft] val PHRASE_LEN: Int = PH_LEN

  /** t46's phrase queries as `(q_id, terms)` array rows — the
    * arriving-query fixture for the streaming face's parity spec
    * (the t45QueryArrays convention). */
  private[graft] def t46QueryArrays(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", word_tokens($"text").as("tk"))
      .filter($"doc_id" < PH_QDOCS && size($"tk") >= PH_LEN)
      .select($"doc_id".as("q_id"), slice($"tk", 1, PH_LEN).as("terms"))
  }

  /** The phrase-match body over an EXPLICIT phrase frame `(q_id, t1,
    * t2, t3)` — the shared tail of batch [[t46]] and the streaming
    * serving face ([[graft.streaming.SearchStream.phraseRefresh]]):
    * one serving body, so stream ≡ batch parity is structural (the
    * conjunctiveServe convention). The phrase side is query-sized →
    * broadcast; the corpus side is one tokenize pass. */
  private[graft] def phraseServe(s: SparkSession, dir: String,
      ph: DataFrame): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents")
      .select($"doc_id", word_tokens($"text").as("tk"))
    d.crossJoin(broadcast(ph))
      .select($"q_id", $"doc_id",
        when(size($"tk") >= PH_LEN,
          expr("""size(filter(sequence(1, size(tk) - 2),
                 i -> tk[i-1] = t1 AND tk[i] = t2 AND tk[i+1] = t3))"""))
          .otherwise(0).cast("long").as("n_occ"))
      .filter($"n_occ" > 0)
      .orderBy($"q_id", $"doc_id")
  }

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val t46Oracle =
    s"""WITH d AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |ph AS (SELECT doc_id AS q_id, tk[1] AS t1, tk[2] AS t2, tk[3] AS t3
       |  FROM d WHERE doc_id < $PH_QDOCS AND len(tk) >= $PH_LEN),
       |occ AS (SELECT q_id, doc_id,
       |  CAST(CASE WHEN len(tk) >= $PH_LEN THEN
       |    len([i for i in range(1, len(tk) - 1)
       |         if tk[i] = t1 AND tk[i+1] = t2 AND tk[i+2] = t3])
       |    ELSE 0 END AS BIGINT) AS n_occ
       |  FROM d CROSS JOIN ph)
       |SELECT q_id, doc_id, n_occ FROM occ WHERE n_occ > 0
       |ORDER BY q_id, doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t46_phrase_search" -> (t46 _))

  val oracles: Map[String, String] = Map(
    "t46_phrase_search" -> t46Oracle)
}
