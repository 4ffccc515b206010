package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.NativeKernels.gram_hash_seq
import graft.operators.Relational15

/** Streaming exact-substring span dedup — the live face of d17/d19
  * (`Relational15`): as documents arrive, mark the token positions
  * whose 8-gram has been seen ANYWHERE before (earlier stream
  * history, or elsewhere in the same micro-batch — the d19 symmetric
  * count test `m_old + m_new > 1`, generalized to a running state).
  *
  * Shape: the fused [[gram_hash_seq]] kernel runs where the document
  * arrives (one pass, as in batch), and ONE stateful stage keyed by
  * the 60-bit gram hash holds a running occurrence count — 8 bytes
  * of state per distinct gram, the smallest state any exact-substring
  * detector can carry. A micro-batch's rows for a gram are all hits
  * iff `state + batchCount > 1`; within a batch the test is symmetric
  * across documents, exactly d19's batch×state semantics, so a batch
  * arriving as one trigger emits bit-identically to the d19 batch
  * operator (StreamSpanSpec proves it).
  *
  * The span MERGE is deliberately NOT a second stateful stage: a
  * document arrives whole in one micro-batch, so merging its hit
  * positions into maximal spans is per-batch-local work —
  * [[spansOf]] applies the batch interval-merge inside `foreachBatch`
  * (or on the collected sink, as the spec does). Structured Streaming
  * would otherwise demand a watermark for an aggregation after a
  * stateful operator, and there is nothing to wait for.
  *
  * Delivery contract: hit rows are emitted exactly once per (doc,
  * pos); earlier documents are NOT retroactively re-emitted when a
  * later copy makes their grams duplicated (prefix semantics — the
  * DedupStream convention: the stream answers "is this NEW arrival
  * covered by anything seen so far", which is the ingest-time
  * question; the retroactive global answer is batch d17's job).
  *
  * State: 8 B per distinct gram, append-only counts. A production
  * deployment bounds it the d19 way — freeze the old-corpus counts as
  * a static table joined per batch, keep only the stream's own grams
  * in state — or evicts by ingest-time TTL (the EventStreams
  * choreography). */
object SpanStream {

  case class GramRow(gh: Long, doc_id: Long, pos: Long)
  case class Hit(doc_id: Long, pos: Long)
  case class GramCount(n: Long)

  /** Positional gram rows from a (streaming or batch) documents
    * frame — the d17 kernel pass, bit-identical hashing. */
  def gramRows(docs: DataFrame): Dataset[GramRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id",
        posexplode(gram_hash_seq($"text", Relational15.D17_W)))
      .select($"col".as("gh"), $"doc_id", $"pos".cast("long").as("pos"))
      .as[GramRow]
  }

  /** Duplicated-gram hit positions over the stream (see object doc). */
  def dupHits(docs: DataFrame): Dataset[Hit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    gramRows(docs).groupByKey(_.gh)
      .flatMapGroupsWithState[GramCount, Hit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[GramRow], state: GroupState[GramCount]) =>
          val batch = rows.toSeq
          val before = state.getOption.fold(0L)(_.n)
          state.update(GramCount(before + batch.size))
          if (before + batch.size > 1)
            batch.iterator.map(r => Hit(r.doc_id, r.pos))
          else Iterator.empty
      }
  }

  /** Merge hit positions into maximal per-document spans — the batch
    * d17 interval merge, applied per micro-batch (inside
    * `foreachBatch` in production; on the collected sink in tests).
    * Output: (doc_id, span_start, span_end, span_toks). */
  def spansOf(hits: DataFrame): DataFrame =
    Relational15.mergeSpans(
      hits.select(col("doc_id"), col("pos")))
}
