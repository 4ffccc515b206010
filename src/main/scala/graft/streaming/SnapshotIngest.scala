package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.SnapshotTable

/** Streaming ingest INTO the snapshot table — the write-side live
  * face of the lakehouse tier (q62-q69 read it; this is how rows
  * arrive at 100 TB). Each micro-batch lands as one
  * [[SnapshotTable.ingestCommit]]: the batch id rides IN the
  * manifest, so the commit and its dedup token are a single atomic
  * rename and a foreachBatch crash-and-retry — Structured Streaming's
  * at-least-once contract for sinks — collapses to exactly-once
  * table state (the Delta `txn` / Iceberg WAP idempotence pattern;
  * the spec replays a committed batch and proves the manifest chain
  * does not move).
  *
  * `foreachBatch` is the right seam (the PipelineStream argument):
  * an upsert against a moving table must re-plan per batch, and the
  * commit protocol is driver-side metadata work bracketing the
  * table's four-job partition rewrite per batch (partition set, keyed
  * merge's map stage, write, stats pass). An empty batch is an empty
  * partition set and commits nothing. New partitions append;
  * existing ones merge-on-write with the version's schema (so
  * schema-evolving producers compose — q68's rules apply per
  * commit). */
object SnapshotIngest {

  /** Start ingesting `stream` into the snapshot table at `path`
    * (which must have an initial commit). One commit per non-empty
    * micro-batch, exactly-once under replay. */
  def start(stream: DataFrame, path: String, partCol: String,
      keyCol: String, statsCol: String, checkpointDir: String,
      bloomCol: Option[String] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        SnapshotTable.ingestCommit(batch.sparkSession, path, batch,
          partCol, keyCol, statsCol, id, bloomCol): Unit
      }
      .start()

  /** Start applying a CHANGELOG stream (op-tagged rows: `"D"` deletes
    * the key, anything else upserts — the q78/[[SnapshotTable
    * .mergeCommit]] feed shape) to the snapshot table. One atomic
    * MERGE commit per non-empty micro-batch, exactly-once under
    * replay via the same manifest-resident batch-id token as
    * [[start]] — this is the CDC-apply loop: an upstream table's
    * change feed (q65's shape) keeps a downstream replica
    * transactionally in sync, deletes included. */
  def startMerge(changes: DataFrame, path: String, opCol: String,
      partCol: String, keyCol: String, statsCol: String,
      checkpointDir: String,
      bloomCol: Option[String] = None): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        SnapshotTable.mergeCommit(batch.sparkSession, path, batch,
          opCol, partCol, keyCol, statsCol, bloomCol,
          batchId = Some(id)): Unit
      }
      .start()

  /** [[start]] with the maintenance loop IN the loop: after each
    * ingest commit, one [[graft.sources.TableMaintenance.runOnce]]
    * pass compacts what the batch fragmented and expires history past
    * the policy's retention — the live OPTIMIZE scheduler. Replay
    * safety composes: a re-delivered batch's ingest is a manifest
    * no-op (the batch-id token) and maintenance on the already-
    * converged table plans zero actions, so the pair is idempotent.
    * Under a second independent writer both verbs rebase through the
    * OCC loop. */
  def startMaintained(stream: DataFrame, path: String, partCol: String,
      keyCol: String, statsCol: String, checkpointDir: String,
      policy: graft.sources.TableMaintenance.Policy =
        graft.sources.TableMaintenance.Policy(),
      bloomCol: Option[String] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // None = an empty batch: no commit, so no maintenance
        SnapshotTable.ingestBatch(path, batch, partCol, keyCol, statsCol,
          id, bloomCol).foreach { _ =>
          graft.sources.TableMaintenance.runOnce(batch.sparkSession, path,
            partCol, keyCol, statsCol, policy, bloomCol): Unit
        }
      }
      .start()
}
