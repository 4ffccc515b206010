package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.functions.NativeKernels.{minhash_signature, word_shingles}
import graft.operators.Dedup

/** Streaming near-duplicate detection — the live face of batch
  * MinHash+LSH (`Dedup.d03`): dedupe an incoming document stream
  * against EVERYTHING seen so far, the primitive a continuously-fed
  * training-data pipeline needs (a crawler never hands you the corpus
  * at once).
  *
  * Shape: the signature kernel runs where the document arrives (one
  * pass, as in batch), band keys shard the stream into LSH buckets
  * ([[Dedup.minhashBandKeys]] — bit-identical bucketing to batch),
  * and one `flatMapGroupsWithState` per (band, key) bucket holds the
  * members seen so far. A new arrival pairs against the stored
  * members, the similarity estimate is computed right there (both
  * signatures in hand — the batch plan's pair-aggregate + join-back
  * collapses into the processor), and only pairs at `est_sim ≥ 0.5`
  * are emitted.
  *
  * Delivery contract: a pair sharing several band buckets is emitted
  * by each — AT-LEAST-ONCE per pair, exactly like batch d03 before
  * its dedup groupBy. Streaming can't dedup here without a second
  * stateful shuffle, and doesn't need to: the downstream consumer of
  * near-dup pairs is an idempotent apply/upsert (d05/d07, K1-style
  * sink), for which duplicate reports are free. Consumers that need
  * the distinct pair set run `.dropDuplicates("a_id","b_id")` (the
  * test does).
  *
  * State: one (doc_id, signature) per document per band — 4×
  * (8+16×8) B/doc ≈ 550 B/doc. Documents carry no event time, so
  * nothing is evicted here; a production deployment keys eviction to
  * INGEST time (withColumn current_timestamp + event-time timeout,
  * the [[EventStreams.expiringCounts]] choreography) and accepts the
  * same miss-after-expiry window as every watermarked dedup
  * (`dedupStream`). */
object DedupStream {

  case class BandRow(band: Int, key: String, doc_id: Long, sig: Seq[Long])
  case class BucketMembers(members: Seq[(Long, Seq[Long])])
  case class NearDupPair(a_id: Long, b_id: Long, est_sim: Double)

  /** documents schema for readStream (file sources declare schemas). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def documentStream(spark: org.apache.spark.sql.SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.schema(documentsSchema).options(options).parquet(dir)

  /** est_sim exactly as batch d03 computes it: fraction of agreeing
    * signature positions, rounded to 4 decimals (an exact rational —
    * bit-stable across engines and arrival orders). */
  private def estSim(a: Seq[Long], b: Seq[Long]): Double = {
    var agree = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) agree += 1; i += 1 }
    math.rint(agree.toDouble / a.length * 10000) / 10000
  }

  /** Signature + band-key build — bit-identical bucketing to batch
    * d03. */
  private def bandRows(docs: DataFrame): Dataset[BandRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = docs.select($"doc_id",
      minhash_signature(word_shingles($"text", Dedup.N), Dedup.K).as("sig"))
    sig.select($"doc_id", $"sig",
      explode(array(Dedup.minhashBandKeys($"sig").zipWithIndex.map {
        case (k, b) => struct(lit(b).as("band"), k.as("key"))
      }: _*)).as("u"))
      .select($"u.band".as("band"), $"u.key".as("key"), $"doc_id", $"sig")
      .as[BandRow]
  }

  def nearDupPairs(docs: DataFrame, threshold: Double = 0.5)
      : Dataset[NearDupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    bandRows(docs).groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState[BucketMembers, NearDupPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, String), rows: Iterator[BandRow],
            state: GroupState[BucketMembers]) =>
          var members = state.getOption.fold(
            Seq.empty[(Long, Seq[Long])])(_.members)
          val out = Seq.newBuilder[NearDupPair]
          // arrivals in doc_id order so intra-batch pairs get a < b
          // deterministically regardless of partition iteration order.
          // A doc_id already in state is a RE-DELIVERY (source replay,
          // overlapping feeds): its pairs were emitted on first
          // delivery and its signature is a pure function of the text,
          // so the whole row is a no-op — storing a second copy would
          // grow state unboundedly under replay and double-emit every
          // future match in the bucket.
          rows.toSeq.sortBy(_.doc_id).foreach { r =>
            if (!members.exists(_._1 == r.doc_id)) {
              members.foreach { case (seenId, seenSig) =>
                val sim = estSim(seenSig, r.sig)
                if (sim >= threshold) out += NearDupPair(
                  math.min(seenId, r.doc_id), math.max(seenId, r.doc_id), sim)
              }
              members :+= (r.doc_id, r.sig)
            }
          }
          state.update(BucketMembers(members))
          out.result().iterator
      }
  }
}
