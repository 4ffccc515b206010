package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Relational13

/** Streaming face of the ANN-serving tier (VERDICT r11 #4 — s13/s14
  * was the one family without one): a FROZEN IVF-PQ index (cell
  * centroids + PQ codebook + cell-joined codes, built once by
  * [[Relational13.ivfIndex]]) serves query vectors as they arrive,
  * and the per-refresh answer equals batch [[Relational13.s14]] for
  * the same queries row for row.
  *
  * Shape, the GraphStream split: one stateful operator keyed by
  * `q_id` is the REPLAY GUARD — it admits each query exactly once
  * (state is a presence flag, 8 B of keyed state per served query;
  * the vector itself passes through the emission and is never
  * stored, the ID-only state convention). The trigger-side refresh
  * then runs the admitted queries through the EXACT batch serving
  * path — [[Relational13.ivfRoute]] (integer Q20 routing) +
  * [[Relational13.ivfServe]] (integer ADC + exact rerank) — which is
  * what makes stream ≡ batch parity bit-exact: there is one scoring
  * body, not a streaming reimplementation that could drift by an ulp
  * and flip a rank.
  *
  * Delivery contract: AT-MOST-ONCE admission per q_id (the inverse
  * of DedupStream's at-least-once pairs — a re-delivered or
  * duplicated query is a state and emission no-op), so a source
  * replay cannot double-serve a query.
  *
  * At 100 TB: the index is the billion-vector layout batch s14
  * argues for (centroids broadcast, codes table partitioned by
  * cell); per-query serving cost is nProbe/nCells of the corpus; the
  * replay-guard state is one long per query ever served — a day of
  * 10⁹ queries is 8 GB of RocksDB state, and admitted queries leave
  * the operator immediately. */
object AnnStream {

  case class QueryVec(q_id: Long, embedding: Seq[Float])

  /** Arriving query vectors: the embeddings file schema with the
    * query-side column names. */
  def queryStream(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.schema(GraphStream.embeddingsSchema)
      .options(options).parquet(dir)
      .select(col("vec_id").as("q_id"), col("embedding"))

  /** The replay guard: admit each q_id once. Intra-batch duplicates
    * admit the first arrival (rows iterate in arrival order; ids
    * tie-break nothing — equal ids ARE the duplicate case). */
  def admittedOnce(q: DataFrame): Dataset[QueryVec] = {
    val spark = q.sparkSession
    import spark.implicits._
    q.as[QueryVec].groupByKey(_.q_id)
      .flatMapGroupsWithState[Boolean, QueryVec](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[QueryVec], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.take(1)
          }
      }
  }

  /** Trigger-side serving: the admitted queries through the frozen
    * index — literally the batch s14 route+serve body, so the output
    * for query set Q equals `s14` restricted to Q. */
  def serveRefresh(spark: SparkSession, dir: String,
      admitted: DataFrame): DataFrame = {
    val ix = Relational13.ivfIndex(spark, dir)
    // snapshot the admitted set: the serve body reads it three times
    // (routing, LUT, rerank), and a streaming-sink leaf cannot be
    // re-instantiated by DeduplicateRelations the way a file scan can
    // — the checkpoint gives all three reads one LogicalRDD leaf
    val q = admitted.select(col("q_id"), col("embedding")).localCheckpoint()
    val out = Relational13.ivfServe(ix, q, Relational13.ivfRoute(ix.cent, q))
    out
  }

  /** Trigger-side GRAPH-WALK serving — the second serving backend
    * (r14): the admitted queries through the EXACT batch greedy-walk
    * body (`Similarity.greedyServe` → the same `greedyWalk` the
    * registered s20/s20m run) over the once-materialized knn edge
    * table, so the output for query set Q equals batch s20m
    * restricted to Q row for row. Where the IVF backend prices
    * nProbe/nCells of the corpus per query, the walk prices a
    * CONSTANT (entries × hops × out-degree) — the navigable-graph
    * serving economics, now available behind the same replay guard. */
  def serveGraphRefresh(spark: SparkSession, dir: String,
      admitted: DataFrame): DataFrame =
    graft.operators.Similarity.greedyServe(spark, dir,
      admitted.select(col("q_id"), col("embedding")).localCheckpoint())

  /** [[serveGraphRefresh]]'s top-k sibling: the beam walk
    * (`Similarity.beamServe` → the same `beamPoolWalk` as the registered
    * s20b), returning a ranked top-k per admitted query — output for
    * query set Q equals batch s20b restricted to Q. */
  def serveBeamRefresh(spark: SparkSession, dir: String,
      admitted: DataFrame): DataFrame =
    graft.operators.Similarity.beamServe(spark, dir,
      admitted.select(col("q_id"), col("embedding")).localCheckpoint())

  /** The hierarchical backend (`Similarity.hierServe` → the same
    * two-layer `hierPool` as the registered s20h) — the
    * best-measured serving quality (Recall report: hit@1 4× the flat
    * beam at sf0.1) over once-materialized assets only (base edges,
    * coarse edges, norms): zero corpus-sized work per refresh.
    * Output for query set Q equals batch s20h restricted to Q. */
  def serveHierRefresh(spark: SparkSession, dir: String,
      admitted: DataFrame): DataFrame =
    graft.operators.Similarity.hierServe(spark, dir,
      admitted.select(col("q_id"), col("embedding")).localCheckpoint())

  /** Trigger-side INDEX INGEST — the write face of the ANN tier: the
    * admitted ARRIVAL vectors wired into the once-built base graph
    * through the EXACT batch insert body (`Similarity.insertServe` →
    * the same `insertIntoGraph` the registered s21/s21m run), so the
    * updated edge table for arrival set A equals batch s21m
    * restricted to A row for row. The same replay guard
    * ([[admittedOnce]]) makes re-delivered arrivals no-ops, and the
    * insert's pinned-base mergeability (top-k shrink — see the
    * s21 docstring, proven on data in AnnInsertSpec) means
    * micro-batched arrivals produce the SAME index as one bulk
    * insert: admission order cannot change the result. Per refresh
    * the cost is one constant beam per newly-admitted arrival plus a
    * ≤ k-row shrink per touched base node — never corpus-sized. */
  def ingestRefresh(spark: SparkSession, dir: String,
      admitted: DataFrame): DataFrame =
    graft.operators.Similarity.insertServe(spark, dir,
      admitted.select(col("q_id"), col("embedding")).localCheckpoint())

  /** Trigger-side TOMBSTONE application — the delete face: the
    * admitted deletion ids through the EXACT batch repair body
    * (`Similarity.deleteServe` → the same `deleteFromGraph` the
    * registered s22/s22m run), so the post-delete edge table for
    * tombstone set D equals batch s22m with D substituted. Replay-
    * guarded like every face — a re-delivered tombstone is a no-op
    * (the set is deduped before it broadcasts). Per refresh the cost
    * is the damaged rows' local repair (in-degree of D × k candidate
    * scorings), never corpus-sized. */
  def tombstoneRefresh(spark: SparkSession, dir: String,
      admitted: DataFrame): DataFrame =
    graft.operators.Similarity.deleteServe(spark, dir,
      admitted.select(col("q_id").as("vec_id")).localCheckpoint())

  /** Trigger-side RE-EMBEDDING migration — the update face: the
    * admitted `(q_id, embedding)` rows are ids re-embedded by a new
    * encoder, applied through the EXACT batch composition
    * (`Similarity.reembedServe` → the same deleteFromGraph +
    * insertIntoGraph the registered s23 runs): tombstone + repair the
    * ids, then one constant beam each to re-wire the new vectors —
    * so the migrated edge table for shard U equals batch s23 with U
    * substituted. Replay-guarded like every face. */
  def reembedRefresh(spark: SparkSession, dir: String,
      admitted: DataFrame): DataFrame =
    graft.operators.Similarity.reembedServe(spark, dir,
      admitted.select(col("q_id"), col("embedding")).localCheckpoint())
}
