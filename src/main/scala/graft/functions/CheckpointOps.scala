package graft.functions

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of iterative operator state: the round loop, the
  * pinned hash layout of its loop invariants, and the release of
  * superseded `localCheckpoint()` blocks.
  *
  * `Dataset.unpersist` is a CacheManager operation — it drops
  * plan-cache entries (`df.cache()`), and does NOTHING for a local
  * checkpoint, whose blocks are persisted on the materialized RDD
  * itself (verified empirically on Spark 4.1: persistent-RDD count is
  * unchanged by `Dataset.unpersist` after `localCheckpoint()`). The
  * blocks otherwise live until the driver GCs the RDD object and
  * ContextCleaner notices — unbounded retained generations inside an
  * iterative loop. The checkpointed RDD is reachable as the
  * `LogicalRDD` leaf of the checkpointed Dataset's plan; unpersisting
  * THAT frees the blocks now.
  *
  * Only ever free a SUPERSEDED frame: a local checkpoint has no
  * lineage to recompute from, so a freed one is gone (any later
  * action on it fails).
  */
object CheckpointOps {

  /** Unpersist the RDD blocks behind a `localCheckpoint()`ed
    * DataFrame. No-op on plans without a LogicalRDD leaf — but a lazy
    * view over checkpoints frees EVERY checkpoint it reads. */
  def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** True when `df` IS a checkpoint (its analyzed plan is one
    * `LogicalRDD`), not a lazy view that merely reads some. */
  private def isCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  /** `df` laid out on hash(key, p), p the session's shuffle width:
    * REPARTITION_BY_NUM is exempt from AQE coalescing, so a
    * checkpoint captures the layout and every later join or
    * aggregate keyed the same way plans exchange-free against it. */
  def hashLayout(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      col(key))

  /** A loop invariant materialized once on [[hashLayout]]. */
  def pin(df: DataFrame, key: String): DataFrame =
    hashLayout(df, key).localCheckpoint()

  /** The round loop: runs `step` (given the current frame and the
    * 1-based round number) at most `n` times from `init`,
    * stopping early once `until` holds — tested before each round
    * when `testFirst`, else on each round's materialized result (one
    * action fewer when the result can carry its own stop flag). Each
    * round's result is checkpointed (unless `step` already returned
    * a checkpoint), then the round it supersedes is freed — if that
    * round is itself a checkpoint: a lazy `init` is a view over its
    * inputs, and freeing it would free them under the next round.
    * The returned frame is the last round's checkpoint (or `init`
    * untouched after zero rounds); the caller owns it. */
  def rounds(init: DataFrame, n: Int = Int.MaxValue,
      until: DataFrame => Boolean = _ => false, testFirst: Boolean = false)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    @tailrec def go(cur: DataFrame, i: Int): DataFrame =
      if (i == n || (testFirst && until(cur))) cur
      else {
        val r = step(cur, i + 1)
        val next = if (isCheckpoint(r)) r else r.localCheckpoint()
        if (isCheckpoint(cur)) freeLocalCheckpoint(cur)
        if (!testFirst && until(next)) next else go(next, i + 1)
      }
    go(init, 0)
  }
}
