package graft

import scala.collection.mutable.ArrayBuffer

import graft.functions.CheckpointOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The round loop's release discipline, read straight off the
  * context's persistent-RDD table right after the loop (no GC, no
  * ContextCleaner): every superseded round that was itself a
  * checkpoint is freed, the last round survives, and nothing a lazy
  * `init` merely reads is ever freed. */
class CheckpointOpsSpec extends SparkSpec {

  /** Ids of the RDDs a frame's plan reads (a checkpoint reads one). */
  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRDD => l.rdd.id
    }.toSet

  private def persisted(df: DataFrame): Boolean =
    rddIds(df).forall(spark.sparkContext.getPersistentRDDs.contains)

  private def base(): DataFrame = spark.range(10).toDF("x").localCheckpoint()

  /** Runs the loop recording every frame a round starts from. */
  private def run(init: DataFrame, n: Int = Int.MaxValue,
      until: DataFrame => Boolean = _ => false, testFirst: Boolean = false)
      : (DataFrame, Seq[DataFrame]) = {
    val seen = ArrayBuffer.empty[DataFrame]
    val out = CheckpointOps.rounds(init, n, until, testFirst) { (cur, i) =>
      assert(i == seen.size + 1, "rounds are numbered from 1")
      seen += cur
      cur.select((col("x") + 1).as("x"))
    }
    (out, seen.toSeq)
  }

  private def maxX(df: DataFrame): Long = df.agg(max(col("x"))).head().getLong(0)

  /** Only `out` of all the loop's frames is still persisted. */
  private def onlyLastSurvives(out: DataFrame, frames: Seq[DataFrame]): Unit = {
    val live = frames.filterNot(_ eq out).filter(persisted)
    assert(live.isEmpty, s"${live.size} superseded rounds still persisted")
    assert(persisted(out), "the last round was freed")
  }

  test("a fixed count runs n rounds and frees every superseded checkpoint") {
    val (out, seen) = run(base(), n = 3)
    assert(seen.size == 3)
    onlyLastSurvives(out, seen :+ out)
    assert(maxX(out) == 12)
  }

  test("a stop test after each round sees each materialized round") {
    var tests = 0
    val (out, seen) = run(base(), until = df => { tests += 1; maxX(df) >= 12 })
    assert(seen.size == 3 && tests == 3,
      s"${seen.size} rounds, $tests tests: the test runs once per round, after it")
    onlyLastSurvives(out, seen :+ out)
    assert(maxX(out) == 12)
  }

  test("a stop test before each round also checks init, and one more time at the end") {
    var tests = 0
    val (out, seen) = run(base(), testFirst = true,
      until = df => { tests += 1; maxX(df) >= 12 })
    assert(seen.size == 3 && tests == 4,
      s"${seen.size} rounds, $tests tests: the test runs before every round and once to stop")
    onlyLastSurvives(out, seen :+ out)
    assert(maxX(out) == 12)
  }

  test("zero rounds return init untouched") {
    val init = base()
    val (out0, seen0) = run(init, n = 0)
    val (outT, seenT) = run(init, testFirst = true, until = _ => true)
    assert(seen0.isEmpty && seenT.isEmpty)
    assert((out0 eq init) && (outT eq init))
    assert(persisted(init))
  }

  test("a lazy init over another checkpoint is not freed, nor what it reads") {
    val b = base()
    val init = b.select((col("x") * 2).as("x"))
    val (out, seen) = run(init, n = 2)
    assert(seen.head eq init)
    onlyLastSurvives(out, seen.tail :+ out)
    assert(persisted(b), "freeing the lazy init would free the checkpoint it reads")
    assert(b.count() == 10 && maxX(out) == 20)
  }

  test("a step that returns a checkpoint is not checkpointed again") {
    val init = base()
    val rounds = ArrayBuffer.empty[DataFrame]
    val out = CheckpointOps.rounds(init, 2) { (cur, _) =>
      val r = cur.select((col("x") + 1).as("x")).localCheckpoint()
      rounds += r
      r
    }
    assert(out eq rounds.last)
    onlyLastSurvives(out, init +: rounds.toSeq)
  }

  test("pin lays a frame out on hash(key, p) at the session's shuffle width") {
    val p = spark.sessionState.conf.numShufflePartitions
    val pinned = CheckpointOps.pin(spark.range(100).toDF("k"), "k")
    assert(pinned.rdd.getNumPartitions == p)
    assert(pinned.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(pinned.count() == 100)
  }
}
