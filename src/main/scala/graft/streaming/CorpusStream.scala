package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import graft.functions.TextOps.{hash64, normText}
import graft.operators.TextAnalysis

/** Streaming corpus curation — the live front half of
  * [[graft.operators.CorpusPipeline]]: score quality, gate, and
  * exact-dedup each arriving document against everything seen so far.
  * A crawler feed never hands you the corpus at once; this face admits
  * a document the moment it arrives or never.
  *
  * Semantics: quality is the t02 expression (bit-identical to batch —
  * shared code); dedup state is one flag per distinct fingerprint seen,
  * FIRST BATCH wins, and within a batch the MINIMUM doc_id wins. The
  * intra-batch tiebreak matters: `dropDuplicates` (the obvious
  * formulation) keeps an arbitrary partition-order-dependent row when
  * two docs with the same fingerprint land in the same micro-batch, so
  * batch/stream parity would flake under repartitioning. Here the
  * dedup is one `flatMapGroupsWithState` keyed on fingerprint: the
  * per-group iterator sees every same-fp row of the batch at once, so
  * picking `minBy(doc_id)` is deterministic regardless of partitioning,
  * and the same state handles the seen-forever check (no second
  * stateful operator, so the query stays a single-state append
  * stream). Replayed in ingest order (ids ascending, the replay
  * convention), the admitted set is exactly batch d01's
  * min-doc_id-per-fingerprint keeper set, which the spec asserts.
  *
  * State is one boolean per distinct fingerprint, kept forever — the
  * always-correct choice when "seen before" must mean EVER; a
  * deployment that can tolerate re-admittance after a horizon bounds
  * state with event-time timeouts or the
  * [[EventStreams.dedupStream]] watermark choreography instead. */
object CorpusStream {

  final case class CuratedDoc(doc_id: Long, quality: Double, fp: Long)

  /** Scoring/gating/fingerprint projection — the t02 quality
    * expression and d01 fingerprint, so admission semantics match
    * batch by construction. */
  private def scored(docs: DataFrame, minQuality: Double)
      : org.apache.spark.sql.Dataset[CuratedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withColumn("quality", TextAnalysis.qualityExpr(col("text")))
      .filter(col("quality") >= minQuality)
      .withColumn("fp", hash64(normText(col("text"))))
      .select($"doc_id".cast("long").as("doc_id"),
        $"quality".cast("double").as("quality"), $"fp".cast("long").as("fp"))
      .as[CuratedDoc]
  }

  def curateStream(docs: DataFrame, minQuality: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    scored(docs, minQuality)
      .groupByKey(_.fp)
      .flatMapGroupsWithState[Boolean, CuratedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (_, rows, state) =>
        if (state.exists) Iterator.empty
        else { state.update(true); Iterator.single(rows.minBy(_.doc_id)) }
      }
      .toDF()
  }
}
