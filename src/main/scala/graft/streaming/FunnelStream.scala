package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-user funnel stage state: the first view, the first click
  * strictly after it, the first purchase strictly after that click —
  * micros since epoch, None until the stage completes. Once all three
  * stages are set the state is final (later events are no-ops), which
  * also bounds state size: three longs per user, forever. */
case class FunnelState(tv: Option[Long], tc: Option[Long], tp: Option[Long])

/** One completed funnel stage for one user. `lag_sec` is the
  * whole-second stage-to-stage latency under the batch e06 convention
  * (timestamps truncated to seconds before differencing). */
case class StageHit(user_id: Long, stage: String, lag_sec: Long)

/** Streaming face of the batch e06 conversion funnel
  * ([[graft.operators.Relational8.e06]]): per-user ordered stage
  * detection as events arrive, emitting one [[StageHit]] the moment a
  * stage completes.
  *
  * Parity contract (the CorpusStream/AnomalyStream convention): with
  * events replayed in ascending ts order, the emitted per-user stage
  * set equals the batch computation exactly — first view is the
  * global min view ts, first qualifying click/purchase are the batch
  * min-over-filter, because under ordered arrival "first seen that
  * qualifies" IS the min. StreamFunnelSpec asserts set equality and
  * that re-delivered events are no-ops.
  *
  * Scale: state is O(users)·3 longs with no growth per event, the
  * stream shuffles once on user_id (the same key the batch plan
  * uses), and emission is append-mode — no result revision, so sinks
  * can be write-once. */
object FunnelStream {

  def stages(events: DataFrame): Dataset[StageHit] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select($"user_id", $"event_type",
        // micros since epoch; second-truncate only when differencing
        unix_micros($"ts").as("em"))
      .as[(Long, String, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, StageHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, String, Long)],
            state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(None, None, None))
          val out = Vector.newBuilder[StageHit]
          def sec(em: Long): Long = Math.floorDiv(em, 1000000L)
          // ts order within the batch keeps "first seen" = "min":
          // ties broken by the event_type match order below being
          // evaluated per event, and duplicate deliveries are no-ops
          // because each stage only transitions None -> Some once
          rows.toSeq.sortBy(_._3).foreach { case (_, typ, em) =>
            typ match {
              case "view" if st.tv.isEmpty =>
                st = st.copy(tv = Some(em))
                out += StageHit(uid, "1_view", 0L)
              case "click" if st.tv.nonEmpty && st.tc.isEmpty &&
                  em > st.tv.get =>
                st = st.copy(tc = Some(em))
                out += StageHit(uid, "2_click", sec(em) - sec(st.tv.get))
              case "purchase" if st.tc.nonEmpty && st.tp.isEmpty &&
                  em > st.tc.get =>
                st = st.copy(tp = Some(em))
                out += StageHit(uid, "3_purchase", sec(em) - sec(st.tc.get))
              case _ => ()
            }
          }
          state.update(st)
          out.result().iterator
      }
  }
}
