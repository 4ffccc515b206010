package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Per-user streak state: the distinct active-day ordinals seen so
  * far, sorted ascending. Bounded by the CALENDAR (≤ days in the
  * retention window, never event count) — the same bound that lets
  * batch e09 fold the day set in one aggregate. */
case class StreakDays(days: Array[Int])

/** One live streak readout for a user — the streaming row shape of
  * batch e09's output. */
case class StreakRow(user_id: Long, n_active_days: Long, longest_streak: Long)

/** Streaming face of the batch e09 longest-activity-streak query
  * ([[graft.operators.Relational11.e09]]): per-user day-set state
  * updated as events arrive, emitting the user's refreshed
  * (n_active_days, longest_streak) whenever a NEW active day appears
  * (update-mode semantics: later rows supersede earlier ones per
  * user).
  *
  * Parity contract (the FunnelStream/AnomalyStream convention): the
  * streak arithmetic is ONE shared pure function ([[fold]]) over the
  * sorted day set — identical to the higher-order `aggregate` batch
  * e09 runs — so after any replay, in any arrival order, each user's
  * LAST emitted row equals the batch row exactly (day sets are
  * order-insensitive; StreamStreakSpec asserts equality and that
  * re-delivered events emit nothing).
  *
  * Scale: state is O(users · window days) ints; the stream shuffles
  * once on user_id (the batch plan's key). A production retention
  * window ages out old days with a TTL — the state shape (a bounded
  * sorted set) is exactly what that eviction trims. */
object StreakStream {

  /** Longest consecutive run over a SORTED distinct day array — the
    * pure form of batch e09's fold (same initial state, same step). */
  def fold(days: Array[Int]): (Long, Long) = {
    var run = 0; var best = 0; var prev = Int.MinValue
    var i = 0
    while (i < days.length) {
      run = if (days(i) == prev + 1) run + 1 else 1
      if (run > best) best = run
      prev = days(i)
      i += 1
    }
    (days.length.toLong, best.toLong)
  }

  private def typedDays(events: DataFrame): Dataset[(Long, Int)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select($"user_id",
        datediff(to_date($"ts"), lit("2024-01-01").cast("date")).as("d"))
      .as[(Long, Int)]
  }

  /** flatMapGroupsWithState form. Emits a refreshed [[StreakRow]] only
    * when the batch introduces at least one unseen day. */
  def streaks(events: DataFrame): Dataset[StreakRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    typedDays(events)
      .groupByKey(_._1)
      .flatMapGroupsWithState[StreakDays, StreakRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) { (user, rows, state) =>
        val had = if (state.exists) state.get.days else Array.empty[Int]
        val merged = (had ++ rows.map(_._2)).distinct.sorted
        if (merged.length == had.length) Iterator.empty
        else {
          state.update(StreakDays(merged))
          val (nd, best) = fold(merged)
          Iterator.single(StreakRow(user, nd, best))
        }
      }
  }
}
