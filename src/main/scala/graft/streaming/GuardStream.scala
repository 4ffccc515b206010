package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-user NFA state of the guarded-conversion pattern — the two
  * running maxima batch e13's window carries, as two nullable
  * timestamps. O(users) total, independent of event volume. */
case class GuardState(last_click: Option[Long], last_error: Option[Long])

/** One conversion — batch e13's row shape. */
case class ConversionRow(user_id: Long, purchase_id: Long, gap_us: Long)

/** Streaming face of the batch e13 guarded conversion
  * ([[graft.operators.Relational15.e13]]) — the CEP pattern
  * `click (NOT error)* purchase WITHIN lookback` evaluated live.
  *
  * This is exactly how a CEP engine holds this pattern's NFA: per
  * key, the automaton's state collapses to "when did the last click
  * / last error happen" — two longs — and each arriving event either
  * fires (purchase with a fresh, un-invalidated click) or advances
  * the state. The batch window's strictly-preceding frame maps to
  * "test the purchase BEFORE folding it in", so replay equals the
  * batch derivation row for row.
  *
  * Ordering contract: per-user in-order arrival across micro-batches
  * (each batch's rows sorted by the batch total order (ts,
  * event_id)) — the TransitionStream contract, satisfied by a
  * user-keyed FIFO source or event-time-ordered file arrival
  * (StreamGuardSpec replays a time-split corpus on the default and
  * RocksDB state stores).
  *
  * Scale: one shuffle on user_id (the batch plan's window key);
  * state is two optional longs per user — the per-user sequence is
  * never buffered. */
object GuardStream {

  /** Advance a user's NFA through a micro-batch's rows (pre-sorted by
    * (ts, event_id)) — the pure core of [[conversions]]. */
  def advance(user: Long, prev: GuardState, lookbackUs: Long,
      sorted: Seq[(Long, Long, String)])
      : (GuardState, Vector[ConversionRow]) =
    sorted.foldLeft((prev, Vector.empty[ConversionRow])) {
      case ((st, out), (ts, eid, tpe)) =>
        val fired =
          if (tpe == "purchase" && st.last_click.exists(c =>
              ts - c <= lookbackUs && st.last_error.forall(_ < c)))
            out :+ ConversionRow(user, eid, ts - st.last_click.get)
          else out
        val next = tpe match {
          case "click" => st.copy(last_click = Some(ts))
          case "error" => st.copy(last_error = Some(ts))
          case _ => st
        }
        (next, fired)
    }

  private def lookbackUs: Long =
    graft.operators.Relational15.E13_LOOKBACK_MIN * 60L * 1000000L

  private def keyed(events: DataFrame): Dataset[(Long, Long, Long, String)] = {
    val s = events.sparkSession
    import s.implicits._
    events.select($"user_id", expr("unix_micros(ts)").as("tsm"),
        $"event_id", $"event_type")
      .as[(Long, Long, Long, String)]
  }

  /** flatMapGroupsWithState face: user → (last click, last error). */
  def conversions(events: DataFrame): Dataset[ConversionRow] = {
    val s = events.sparkSession
    import s.implicits._
    keyed(events)
      .groupByKey(_._1)
      .flatMapGroupsWithState[GuardState, ConversionRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
            state: GroupState[GuardState]) =>
          val sorted = rows.map(r => (r._2, r._3, r._4)).toVector
            .sortBy(r => (r._1, r._2))
          val prev = state.getOption.getOrElse(GuardState(None, None))
          val (next, out) = advance(user, prev, lookbackUs, sorted)
          state.update(next)
          out.iterator
      }
  }
}
