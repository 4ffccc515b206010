package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-(user, day) state of the live pattern matcher: the day's
  * accumulated event-character string. Bounded by the DAY grain the
  * batch face documents (the w03 session-gap argument) — a few bytes
  * per key, independent of history length. */
case class PatternState(seq: String)

/** One per-group rule evaluation: `len` is the sequence length at
  * emission time — it grows monotonically, so the row with the max
  * `len` per (user, day, pattern) is the group's final count (the
  * Update-mode convention for the memory-sink parity spec). */
case class PatternRow(user_id: Long, day: String, len: Int,
    pattern: String, cnt: Long)

/** Streaming face of the batch e15 sequence pattern matcher
  * ([[graft.operators.Relational19.e15]]) — MATCH_RECOGNIZE kept
  * live. Each arriving event appends one character to its (user,
  * day) sequence; the rule table re-counts against the updated
  * sequence and emits the current per-rule counts. Re-counting (not
  * incrementing) is what keeps stream ≡ batch EXACTLY: a greedy
  * quantifier's non-overlapping count is not prefix-additive
  * (`e{2,}` on "eee" is 1 match, not 2), so the automaton state IS
  * the sequence, and the counter is the same java.util.regex engine
  * Spark's `regexp_count` compiles to — bit-identical to the batch
  * derivation by construction.
  *
  * Ordering contract: per-(user, day) in-order arrival across
  * micro-batches (rows within a batch sorted by (ts, event_id)) —
  * the GuardStream/TransitionStream contract.
  *
  * Scale: one shuffle on the group key; state is one day-bounded
  * string per active (user, day); rules cost CPU per update, never
  * another pass. */
object PatternStream {

  private def code(t: String): String = t match {
    case "click" => "c"
    case "view" => "v"
    case "signup" => "s"
    case "purchase" => "p"
    case _ => "e"
  }

  /** Non-overlapping match count — the same java.util.regex engine
    * and scan semantics as Spark's `regexp_count`. */
  def countMatches(re: String, s: String): Long = {
    val m = java.util.regex.Pattern.compile(re).matcher(s)
    var n = 0L
    while (m.find()) n += 1
    n
  }

  /** Append a micro-batch's (pre-sorted) events to the sequence and
    * evaluate every rule — the pure core of [[patternCounts]]. */
  def advance(user: Long, day: String, prev: String,
      sorted: Seq[(Long, Long, String)])
      : (String, Vector[PatternRow]) = {
    val seq = prev + sorted.map(r => code(r._3)).mkString
    val out = graft.operators.Relational19.E15_PATTERNS.map {
      case (re, name) =>
        PatternRow(user, day, seq.length, name, countMatches(re, seq))
    }.toVector
    (seq, out)
  }

  private def keyed(events: DataFrame)
      : Dataset[(Long, String, Long, Long, String)] = {
    val s = events.sparkSession
    import s.implicits._
    events.select($"user_id", date_format($"ts", "yyyy-MM-dd").as("day"),
        expr("unix_micros(ts)").as("tsm"), $"event_id", $"event_type")
      .as[(Long, String, Long, Long, String)]
  }

  /** flatMapGroupsWithState face: (user, day) → accumulated string. */
  def patternCounts(events: DataFrame): Dataset[PatternRow] = {
    val s = events.sparkSession
    import s.implicits._
    keyed(events)
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[PatternState, PatternRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: (Long, String),
            rows: Iterator[(Long, String, Long, Long, String)],
            state: GroupState[PatternState]) =>
          val sorted = rows.map(r => (r._3, r._4, r._5)).toVector
            .sortBy(r => (r._1, r._2))
          val prev = state.getOption.map(_.seq).getOrElse("")
          val (seq, out) = advance(key._1, key._2, prev, sorted)
          state.update(PatternState(seq))
          out.iterator
      }
  }
}
