package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** As-of (point-in-time) join — the feature-store primitive Spark has
  * no built-in operator for. Per the custom-operator preference order
  * (compose > custom Expression > custom Strategy), this composes from
  * existing operators: tag both sides, union, one window sorted by
  * (key, time, side), and `last(_, ignoreNulls)` carries the most
  * recent left-side attributes forward to each right-side row. One
  * shuffle on the key, one sort — exactly what a dedicated SortMerge
  * as-of physical operator would do, so a custom `SparkPlan` buys
  * nothing here. The DuckDB oracle uses its native ASOF JOIN, so the
  * composition is validated against a real as-of implementation.
  *
  * Demo semantics: attribute each purchase event to the user's most
  * recent prior view event (ties impossible — event times are
  * microsecond-distinct).
  */
object AsOfJoin extends graft.QueryModule {

  /** Generic as-of: for each row of `right`, attach the latest `left`
    * row with the same `key` and `leftTime <= rightTime` — or, with
    * `forward = true`, the EARLIEST left row with `leftTime >=
    * rightTime` (the follow-up/next-observation direction DuckDB
    * spells `ASOF ... ON r.t <= l.t`). `carry` are the left columns
    * to bring along. Both directions are the same one-shuffle
    * union-window plan; only the frame and null-skipping pick
    * (last-behind vs first-ahead) flip. */
  def asOf(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, carry: Seq[String],
      forward: Boolean = false,
      tieBreak: Seq[String] = Seq.empty): DataFrame = {
    require(tieBreak.forall(carry.contains),
      "tieBreak columns must be among the carried left columns")
    require(right.columns.intersect(carry).isEmpty,
      "carry column names must not collide with right-side columns")
    val rightCols = right.columns.toSeq
    // both sides widened to the union schema (typed nulls for the
    // columns the other side owns); right columns ride along so no
    // join-back is needed afterwards
    val l = left.select(
      Seq(col(key).as("__k"), col(leftTime).as("__t"), lit(0).as("__side")) ++
        carry.map(col) ++
        rightCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
    val r = right.select(
      Seq(col(key).as("__k"), col(rightTime).as("__t"), lit(1).as("__side")) ++
        carry.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightCols.map(col): _*)
    // at identical timestamps, left rows sort on the INCLUSIVE side of
    // the right row's frame: before it (asc __side) for backward,
    // after it (desc __side) for forward. `tieBreak` then totally
    // orders left rows that ALSO share __t (null on right rows, so it
    // never reorders across sides): backward picks the tie-break MAX
    // (last over asc), forward the MIN (first over asc) — without it
    // the pick among duplicate-(key, time) left rows is whatever sort
    // order the shuffle produced, and an oracle compare can flap.
    val tb = tieBreak.map(col)
    val w =
      if (forward)
        Window.partitionBy(col("__k"))
          .orderBy(col("__t") +: col("__side").desc +: tb: _*)
          .rowsBetween(0, Window.unboundedFollowing)
      else
        Window.partitionBy(col("__k"))
          .orderBy(col("__t") +: col("__side") +: tb: _*)
          .rowsBetween(Window.unboundedPreceding, 0)
    val pick: Column => Column =
      if (forward) first(_, ignoreNulls = true).over(w)
      else last(_, ignoreNulls = true).over(w)
    val carried = carry.foldLeft(l.unionByName(r))((df, c) =>
      df.withColumn(s"asof_$c", pick(col(c))))
    carried.filter(col("__side") === 1)
      .select(rightCols.map(col) ++ carry.map(c => col(s"asof_$c")): _*)
  }

  /** Purchase→view attribution over events (oracle: DuckDB ASOF JOIN). */
  def a01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts".as("v_ts"), $"event_id".as("v_id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    asOf(views, purchases, key = "user_id",
      leftTime = "v_ts", rightTime = "ts", carry = Seq("v_id", "v_ts"),
      tieBreak = Seq("v_id"))
      .select($"event_id", $"user_id", $"asof_v_id".as("v_id"),
        expr("(unix_micros(ts) - unix_micros(asof_v_ts)) div 1000000").as("gap_s"))
      .orderBy($"event_id")
  }

  /** As-of with a staleness tolerance (the feature-store guard: a
    * feature older than the bound must NOT be joined). Since as-of
    * already picks the latest left row ≤ t, a match outside the
    * tolerance means no in-tolerance match exists — so the bound is a
    * pure post-predicate that nulls the carried columns, composing on
    * [[asOf]] with no extra shuffle. Tolerance here: 1 hour. */
  def a02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts".as("v_ts"), $"event_id".as("v_id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val gap = expr("(unix_micros(ts) - unix_micros(asof_v_ts)) div 1000000")
    asOf(views, purchases, key = "user_id",
      leftTime = "v_ts", rightTime = "ts", carry = Seq("v_id", "v_ts"),
      tieBreak = Seq("v_id"))
      .select($"event_id", $"user_id",
        when(gap <= 3600, $"asof_v_id").as("v_id"),
        when(gap <= 3600, gap).as("gap_s"))
      .orderBy($"event_id")
  }

  /** FORWARD as-of: attribute each purchase to the user's next view
    * AT OR AFTER it — the post-conversion-behavior direction (what
    * did they look at next), and the "next observation" primitive a
    * forward-fill/event-study pipeline needs. Same composed plan as
    * a01 with the direction flag. */
  def a03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts".as("v_ts"), $"event_id".as("v_id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    asOf(views, purchases, key = "user_id",
      leftTime = "v_ts", rightTime = "ts", carry = Seq("v_id", "v_ts"),
      forward = true, tieBreak = Seq("v_id"))
      .select($"event_id", $"user_id", $"asof_v_id".as("v_id"),
        expr("(unix_micros(asof_v_ts) - unix_micros(ts)) div 1000000").as("gap_s"))
      .orderBy($"event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a01_asof_join" -> (a01 _),
    "a02_asof_tolerance" -> (a02 _),
    "a03_asof_forward" -> (a03 _))

  val oracles: Map[String, String] = Map(
    "a01_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS v_id, user_id, CAST(ts AS TIMESTAMP) AS v_ts
        |  FROM events WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id, v.v_id,
        | date_diff('microsecond', v.v_ts, p.ts) // 1000000 AS gap_s
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.v_ts
        |ORDER BY p.event_id""".stripMargin,
    "a02_asof_tolerance" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS v_id, user_id, CAST(ts AS TIMESTAMP) AS v_ts
        |  FROM events WHERE event_type = 'view'),
        |m AS (SELECT p.event_id, p.user_id, v.v_id,
        |   date_diff('microsecond', v.v_ts, p.ts) // 1000000 AS gap_s
        |  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.v_ts)
        |SELECT event_id, user_id,
        | CASE WHEN gap_s <= 3600 THEN v_id END AS v_id,
        | CASE WHEN gap_s <= 3600 THEN gap_s END AS gap_s
        |FROM m ORDER BY event_id""".stripMargin,
    "a03_asof_forward" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS v_id, user_id, CAST(ts AS TIMESTAMP) AS v_ts
        |  FROM events WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id, v.v_id,
        | date_diff('microsecond', p.ts, v.v_ts) // 1000000 AS gap_s
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts <= v.v_ts
        |ORDER BY p.event_id""".stripMargin)
}
