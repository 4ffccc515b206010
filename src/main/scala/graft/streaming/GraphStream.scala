package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.operators.Similarity

/** Streaming face of the s11/s12 knn-graph tier (VERDICT r10 #6 —
  * the one r10 family without a streaming counterpart): as embedding
  * vectors arrive, maintain the CANDIDATE EDGE set incrementally, and
  * refresh the knn cut + PageRank on a trigger from the accumulated
  * edges — matching the materialized-s12m semantics exactly.
  *
  * Shape: each arriving vector is projected onto the SAME rotation
  * sign-pattern buckets as batch ([[Similarity.rotBucketKeys]] — one
  * shared definition, so sharding is bit-identical), and one stateful
  * operator per (rot, key) bucket holds the vector ids seen so far. A
  * new arrival emits a candidate pair against each stored resident —
  * the union over arrivals is exactly the within-bucket pair set
  * batch candidate generation expands, so the accumulated distinct
  * pair set EQUALS the batch one (parity-asserted on the default and
  * RocksDB state stores). The processor deliberately stores only
  * IDS, not vectors: scoring happens trigger-side with the SAME
  * codegen'd cosine kernel as batch
  * ([[Similarity.knnFromCandidates]]), which is what makes
  * stream≡batch parity exact — a Scala-side dot-product
  * reimplementation could drift by an ulp and flip a rank.
  *
  * Delivery contract: a pair sharing several rotation buckets is
  * emitted by each — AT-LEAST-ONCE per pair, exactly like batch
  * before its dedup groupBy (the DedupStream contract); the refresh
  * consumer runs `.dropDuplicates("a_id","b_id")`. Re-delivered
  * vectors are a state and emission no-op (the source-replay guard).
  *
  * At 100 TB: per-bucket state is a vector-ID list (8 B/vec/rot) —
  * the 16-rotation total is 128 B per corpus vector, ~100× lighter
  * than storing embeddings in state; each micro-batch shuffles only
  * its own bucket rows; and the trigger-side refresh costs what s12m
  * costs — a knn window over candidate edges plus a graph-sized
  * iteration, never a corpus rescan. */
object GraphStream {

  case class BucketVec(rot: Int, key: Long, vec_id: Long)
  case class BucketIds(ids: Seq[Long])
  case class CandEdge(a_id: Long, b_id: Long)

  /** embeddings schema for readStream (file sources declare schemas). */
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def embeddingStream(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.schema(embeddingsSchema).options(options).parquet(dir)

  /** Per-arrival (rot, key, vec_id) bucket rows — the stateless
    * projection in front of the single stateful operator. */
  private def bucketRows(embs: DataFrame): Dataset[BucketVec] = {
    val spark = embs.sparkSession
    import spark.implicits._
    embs.select($"vec_id",
        explode(Similarity.rotBucketKeys($"embedding")).as("u"))
      .select($"u.rot".as("rot"), $"u.key".as("key"), $"vec_id")
      .as[BucketVec]
  }

  /** Incremental candidate edges via flatMapGroupsWithState: one
    * bucket-resident id list per (rot, key); each new vector pairs
    * against the residents. Arrivals process in vec_id order so
    * intra-batch pairs get a < b deterministically. */
  def candidateEdges(embs: DataFrame): Dataset[CandEdge] = {
    val spark = embs.sparkSession
    import spark.implicits._
    bucketRows(embs).groupByKey(r => (r.rot, r.key))
      .flatMapGroupsWithState[BucketIds, CandEdge](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), rows: Iterator[BucketVec],
            state: GroupState[BucketIds]) =>
          var ids = state.getOption.fold(Seq.empty[Long])(_.ids)
          val out = Seq.newBuilder[CandEdge]
          rows.toSeq.sortBy(_.vec_id).foreach { r =>
            if (!ids.contains(r.vec_id)) {
              ids.foreach { seen =>
                out += CandEdge(math.min(seen, r.vec_id),
                  math.max(seen, r.vec_id))
              }
              ids :+= r.vec_id
            }
          }
          state.update(BucketIds(ids))
          out.result().iterator
      }
  }

  /** Trigger-side knn refresh: the accumulated (deduped) candidate
    * pairs through the SAME directed-top-k tail as batch s11. */
  def knnRefresh(embs: DataFrame, candPairs: DataFrame): DataFrame =
    Similarity.knnFromCandidates(embs, candPairs.select("a_id", "b_id"))

  /** Trigger-side rank refresh — the materialized-s12m semantics over
    * the live edge set: knn cut, then the fixed power iteration. The
    * edge snapshot is checkpointed for the iteration and freed after
    * (the s12 discipline). */
  def rankRefresh(embs: DataFrame, candPairs: DataFrame): DataFrame = {
    val edges = knnRefresh(embs, candPairs)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint()
    val out = Similarity.pageRankOver(edges)
    graft.functions.CheckpointOps.freeLocalCheckpoint(edges)
    out
  }

  /** Trigger-side community refresh — batch s16's fixed-round LPA
    * over the live edge set (the [[rankRefresh]] pattern): knn cut,
    * then the deterministic label-propagation rounds, so the
    * streamed community view after any replay equals
    * [[graft.operators.Similarity.s16]] exactly. */
  def communityRefresh(embs: DataFrame, candPairs: DataFrame): DataFrame = {
    val edges = knnRefresh(embs, candPairs)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint()
    val out = Similarity.labelPropOver(edges)
    graft.functions.CheckpointOps.freeLocalCheckpoint(edges)
    out
  }
}
