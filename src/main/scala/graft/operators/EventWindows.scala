package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Event-time windowing over `events` (SURVEY.md §7.2: the batch face
  * of the streaming operators — identical window semantics run under
  * Structured Streaming in graft.streaming; these batch forms are the
  * oracle-checkable versions).
  *
  * Scale: event-time windows aggregate after one shuffle on (window,
  * key); sliding windows fan each row out `window/slide` times before
  * the shuffle (Spark's own expansion strategy) — at 100 TB pick
  * slide ratios small enough that the expansion stays bounded.
  */
object EventWindows extends graft.QueryModule {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** Tumbling 5-minute window per event_type. */
  def w01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ev(s, dir)
      .groupBy(window($"ts", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"))
      .select($"w.start".as("window_start"), $"event_type", $"n", $"total")
      .orderBy($"window_start", $"event_type")
  }

  /** Sliding 10-minute window, 5-minute slide (each event lands in
    * exactly two windows). */
  def w02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ev(s, dir)
      .groupBy(window($"ts", "10 minutes", "5 minutes").as("w"))
      // sum, not avg: the source values are 2-decimal, so a rounded sum
      // can never sit on a rounding boundary — an avg (sum/count) can,
      // and did, flip the last digit between engines
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
      .select($"w.start".as("window_start"), $"n", $"total_value")
      .orderBy($"window_start")
  }

  /** Session windows per user, 30-minute gap: session_window merges
    * events closer than the gap; a new session starts at ts >= prev +
    * gap (reproduced in the oracle via lag + running break-count).
    *
    * Role (r7): the STREAMING-PARITY cross-check, not the canonical
    * batch path — a Structured Streaming sessionization shares
    * `session_window`'s state semantics, so keeping this form
    * registered pins batch/stream agreement. For batch jobs use
    * [[w04]] (sort-based, no state store); ScaleSpec asserts the two
    * produce identical rows against one oracle. */
  def w03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ev(s, dir)
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("total"))
      .select($"user_id", $"w.start".as("session_start"), $"n_events", $"total")
      .orderBy($"user_id", $"session_start")
  }

  /** Batch sessionization via lag + running break-count — the same
    * session definition as w03 (new session at ts >= prev + 30 min)
    * expressed as one shuffle + one per-user sort, no session-window
    * state store. This is the batch scale path SCALING.md prescribes:
    * at 100 TB the state-store pass of session_window pays per-key
    * state management that a sort-based pass doesn't need. Output is
    * identical to w03 (both check against the same oracle — the two
    * formulations cross-validate). */
  def w04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val runSum = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir)
      .withColumn("brk",
        when(lag($"ts", 1).over(byUser).isNull ||
          $"ts" >= lag($"ts", 1).over(byUser) + expr("INTERVAL 30 MINUTES"), 1L)
          .otherwise(0L))
      .withColumn("sess", sum($"brk").over(runSum))
      .groupBy($"user_id", $"sess")
      .agg(min($"ts").as("session_start"),
        count(lit(1)).as("n_events"), round(sum($"value"), 2).as("total"))
      .select($"user_id", $"session_start", $"n_events", $"total")
      .orderBy($"user_id", $"session_start")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "w01_tumbling_window" -> (w01 _),
    "w02_sliding_window" -> (w02 _),
    "w03_session_window" -> (w03 _),
    "w04_sessionize_sort" -> (w04 _),
  )

  /** Shared by w03 and w04: both compute the same sessions, so both
    * check against the same oracle (cross-validating the state-store
    * and sort-based formulations against each other). */
  private val sessionOracle: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |f AS (SELECT user_id, ts, value,
      |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |       >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk FROM e),
      |s AS (SELECT user_id, ts, value,
      |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM f)
      |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
      | round(sum(value),2) AS total
      |FROM s GROUP BY user_id, sess ORDER BY user_id, session_start""".stripMargin

  val oracles: Map[String, String] = Map(
    "w01_tumbling_window" ->
      """SELECT CAST(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
        |   AS window_start,
        | event_type, count(*) AS n, round(sum(value),2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "w02_sliding_window" ->
      """WITH b AS (SELECT CAST(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS s,
        |   value FROM events),
        |x AS (SELECT unnest([s, s - INTERVAL 5 MINUTE]) AS window_start, value FROM b)
        |SELECT window_start, count(*) AS n, round(sum(value),2) AS total_value
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "w03_session_window" -> sessionOracle,
    "w04_sessionize_sort" -> sessionOracle,
  )
}
