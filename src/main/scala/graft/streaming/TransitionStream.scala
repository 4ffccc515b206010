package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-user "last event seen" — the WHOLE state of the streaming
  * transition extractor: one (ts, event_id, type) triple per user,
  * O(users) total, exactly what an event-time TTL evicts for lapsed
  * users. */
case class LastEvent(ts_micros: Long, event_id: Long, event_type: String)

/** One observed transition — the streaming row shape whose groupBy
  * (from, to) count IS batch e12's count frame. */
case class TransRow(user_id: Long, from_type: String, to_type: String)

/** Streaming face of the batch e12 Markov transition matrix
  * ([[graft.operators.Relational14.e12]]): per-user last-event state
  * advanced as events arrive; every event beyond a user's first emits
  * ONE append-mode (from_type → to_type) transition row. The matrix
  * itself is then an ordinary downstream streaming aggregation (or a
  * batch groupBy over the emitted log, as the parity spec runs) —
  * the IndexStream discipline: keep the stateful operator minimal and
  * let relational aggregation do the counting.
  *
  * Ordering contract: batch e12 defines "previous event" by the total
  * (ts, event_id) order within each user. The processor sorts each
  * micro-batch's rows per user by that key, and relies on per-user
  * in-order arrival ACROSS micro-batches — the guarantee a
  * user-keyed Kafka partition (or any per-key FIFO source) provides,
  * and the same contract the probed-footer file source satisfies when
  * files arrive in event-time order. Under that contract the emitted
  * transition multiset after any replay equals the batch lag-window
  * derivation EXACTLY — micro-batch splits immaterial
  * (StreamTransitionSpec replays a time-split corpus on the default
  * and RocksDB state stores and asserts bit-equality of the
  * aggregated matrix).
  *
  * Scale: one shuffle on user_id (the batch plan's key); state is one
  * triple per user regardless of event volume — the lag window's
  * per-user sort becomes an O(1) state advance per event. */
object TransitionStream {

  /** Advance a user's last-event state through a micro-batch's rows
    * (pre-sorted by (ts, event_id)) — the pure core of
    * [[transitions]]: fold left, emit one TransRow per step that has
    * a predecessor. */
  def advance(user: Long, prev: Option[LastEvent],
      sorted: Seq[(Long, Long, String)])
      : (Option[LastEvent], Vector[TransRow]) =
    sorted.foldLeft((prev, Vector.empty[TransRow])) {
      case ((st, out), (ts, eid, tpe)) =>
        val emitted = st match {
          case Some(last) => out :+ TransRow(user, last.event_type, tpe)
          case None       => out
        }
        (Some(LastEvent(ts, eid, tpe)), emitted)
    }

  private def keyed(events: DataFrame): Dataset[(Long, Long, Long, String)] = {
    val s = events.sparkSession
    import s.implicits._
    events.select($"user_id", expr("unix_micros(ts)").as("tsm"),
        $"event_id", $"event_type")
      .as[(Long, Long, Long, String)]
  }

  /** flatMapGroupsWithState face: user → last-event triple. */
  def transitions(events: DataFrame): Dataset[TransRow] = {
    val s = events.sparkSession
    import s.implicits._
    keyed(events)
      .groupByKey(_._1)
      .flatMapGroupsWithState[LastEvent, TransRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
            state: GroupState[LastEvent]) =>
          val sorted = rows.map(r => (r._2, r._3, r._4)).toVector
            .sortBy(r => (r._1, r._2))
          val (next, out) = advance(user, state.getOption, sorted)
          next.foreach(state.update)
          out.iterator
      }
  }
}
