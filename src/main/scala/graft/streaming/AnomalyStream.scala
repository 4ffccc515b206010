package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming rolling z-score anomaly detection — the live face of
  * batch e05: flag a minute's event count the moment that minute
  * CLOSES, scored against the trailing window of minutes that closed
  * before it. The alerting loop a monitoring pipeline runs on the
  * event stream.
  *
  * One `flatMapGroupsWithState` keyed by event_type holds the whole
  * series state: counts of still-open minutes plus the trailing
  * [[AnomalyStream#lookback]] CLOSED minute counts (with their running
  * role as the baseline). A minute closes when a later minute of the
  * same type arrives (the event-time-ordered replay convention every
  * stream face here uses; a production deployment closes minutes on
  * watermark instead and accepts the same lateness trade every
  * windowed aggregation makes). Closing minutes emit in minute order;
  * the LAST minute of a series never closes inside the stream — batch
  * e05 scores it, the stream's tail flush is the deployment's
  * end-of-feed concern (the spec compares against batch minus each
  * series' final minute).
  *
  * Arithmetic parity: the baseline is the exact integer sums (Σc, Σc²,
  * k) over the closed-minute deque, and z is the same fixed double
  * expression as batch e05 with HALF_UP rounding — flags are
  * bit-identical to the batch query's rows for every closed minute.
  *
  * State per type: ≤ lookback longs + the open-minute map (≤ a few
  * minutes under ordered replay) — O(#event_types · lookback) total,
  * independent of stream length. */
object AnomalyStream {

  final case class MinuteFlag(event_type: String,
      minute: java.sql.Timestamp, n: Long, z: Double)

  final case class SeriesState(
      open: Map[Long, Long],     // epoch-minute -> accumulating count
      closed: Vector[Long])      // counts of the last ≤lookback closed minutes

  /** Score one closing minute against the closed-minute baseline —
    * the exact batch-e05 arithmetic (integer sums, fixed double
    * expression, HALF_UP rounding), so parity with batch e05 is by
    * construction. */
  private def score(typ: String, em: Long, c: Long, closed: Vector[Long],
      minObs: Int, zThreshold: Double): Option[MinuteFlag] = {
    val k = closed.length
    if (k < minObs) return None
    // plain Long sums — exactly the batch SQL's BIGINT window-sum
    // semantics (e05), so stream and batch stay bit-identical even in
    // the overflow regime
    val s1 = closed.sum
    val s2 = closed.map(v => v * v).sum
    val varNum = s2.toDouble - s1.toDouble * s1.toDouble / k
    val variance = varNum / (k - 1)
    if (variance <= 0) return None
    val z = (c.toDouble - s1.toDouble / k) / math.sqrt(variance)
    if (math.abs(z) < zThreshold) return None
    Some(MinuteFlag(typ, new java.sql.Timestamp(em * 60000L), c,
      java.math.BigDecimal.valueOf(z)
        .setScale(4, java.math.RoundingMode.HALF_UP)
        .doubleValue()))
  }

  def flags(events: DataFrame, lookback: Int = 30, minObs: Int = 10,
      zThreshold: Double = 2.5): Dataset[MinuteFlag] = {
    val s = events.sparkSession
    import s.implicits._
    val minutes = events
      .select($"event_type",
        (floor(unix_micros($"ts") / 60000000L)).as("em"))
      .as[(String, Long)]
    minutes.groupByKey(_._1)
      .flatMapGroupsWithState[SeriesState, MinuteFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ: String, rows: Iterator[(String, Long)],
            state: GroupState[SeriesState]) =>
          var st = state.getOption.getOrElse(
            SeriesState(Map.empty, Vector.empty))
          // fold this batch's events into the open-minute counts
          val openNow = rows.foldLeft(st.open) { case (m, (_, em)) =>
            m.updated(em, m.getOrElse(em, 0L) + 1L)
          }
          // every open minute strictly before the latest seen minute
          // is closed by the arrival of that later minute
          val maxEm = openNow.keys.max
          val closing = openNow.keys.filter(_ < maxEm).toSeq.sorted
          val out = Vector.newBuilder[MinuteFlag]
          var closed = st.closed
          closing.foreach { em =>
            val c = openNow(em)
            score(typ, em, c, closed, minObs, zThreshold).foreach(out += _)
            closed = (closed :+ c).takeRight(lookback)
          }
          state.update(SeriesState(openNow -- closing, closed))
          out.result().iterator
      }
  }
}
