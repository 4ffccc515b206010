package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger, StreamingQuery, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types._

/** Structured-Streaming face of the engine (SURVEY.md §2.10):
  *
  *  - T1 micro-batch cadence: `Trigger.ProcessingTime(h hours)` is the
  *    reference's `schedule.every(h).hours` loop
  *    (`src/core.py:41-48`); `Trigger.AvailableNow` is its one-shot
  *    mode. Each cycle is an idempotent re-pull (sink upsert absorbs
  *    replays), exactly like the reference.
  *  - T2 offsets: the file-source + checkpointLocation pair IS the
  *    checkpointed cursor the reference reimplements by querying its
  *    own sink (`src/Datalake2Anomali.py:398-404`).
  *  - T3 TTL expiry: reference delegates expiry to the sink via
  *    `expiration_ts` (:62-68); [[expiringCounts]] shows the local
  *    stateful variant with `flatMapGroupsWithState` + event-time
  *    timeout.
  *
  * Scale: stateful ops shuffle once on the grouping key; watermarks
  * bound state size (without one, session/agg state grows without
  * limit at 100 TB — every stream below sets one).
  */
object EventStreams {

  /** events schema for readStream (file sources need it declared),
    * parameterized by the physical type `ts` was written with — the
    * generator has shipped both TIMESTAMP(NANOS) (read as LONG via
    * nanosAsLong) and TIMESTAMP(MICROS) (read natively). */
  def eventsRawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-based event stream. `dir` must be a directory of events
    * parquet files (the file-stream source tails directories — new
    * files appearing there are the micro-batches). At least one file
    * must already exist: every footer is probed to learn which
    * physical type `ts` carries, and the stream normalizes to
    * session-local TIMESTAMP micros exactly like [[graft.Tables.load]]
    * — so every stateful operator downstream sees one ts type
    * regardless of the generator era or whether a test staged chunks
    * through Spark-written parquet (TIMESTAMP LTZ).
    *
    * The probe runs ONCE at stream construction, so it validates that
    * ALL existing footers agree on the ts physical type and fails
    * with a clear message otherwise (ADVICE r10 — a directory mixing
    * nanos-era and micros-era files would misparse whichever
    * generation the single-sample probe missed). Late-arriving files
    * MUST match the probed type: the streaming source reads them with
    * the schema fixed here and cannot re-probe. */
  def stream(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = probeTsType(spark, dir)
    val df = spark.readStream.schema(eventsRawSchema(tsType))
      .options(options)
      .parquet(dir)
    tsType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Probe the ts physical type from EVERY parquet footer under `dir`
    * (one directory level — event stream dirs are flat), requiring
    * them to agree. A single-file sample would silently pick one
    * generation of a mixed directory; better to fail loudly at
    * construction than misparse later micro-batches. */
  private[streaming] def probeTsType(spark: SparkSession, dir: String)
      : DataType = {
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(hPath).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .map(_.getPath.toString)
    require(files.nonEmpty,
      s"events stream dir $dir has no parquet files to probe the ts type from")
    val types = files
      .map(f => f -> spark.read.parquet(f).schema("ts").dataType)
    val distinctTypes = types.map(_._2).distinct
    require(distinctTypes.size == 1,
      s"events stream dir $dir mixes ts physical types " +
        s"${distinctTypes.mkString(", ")} across files (e.g. " +
        types.groupBy(_._2).map { case (t, fs) => s"$t: ${fs.head._1}" }.mkString("; ") +
        "); the stream probes the type once at construction, so all files " +
        "— including late arrivals — must share one generation")
    distinctTypes.head
  }

  /** Watermarked tumbling-window aggregation (streaming w01). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Watermarked session windows per user (streaming w03). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))

  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class UserState(n: Long, total: Double)
  case class UserSnapshot(user_id: Long, n: Long, total: Double, expired: Boolean)

  /** T3 — stateful per-user counters with TTL expiry: state times out
    * `ttl` after the user's last event (event-time, bounded by the
    * watermark), emitting a final expired snapshot — the local
    * equivalent of the reference's sink-side `expiration_ts`. */
  def expiringCounts(events: Dataset[UserEvent], ttl: String)
      : Dataset[UserSnapshot] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", ttl)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserSnapshot](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(UserSnapshot(uid, s.n, s.total, expired = true))
          } else {
            val prev = state.getOption.getOrElse(UserState(0L, 0.0))
            var n = prev.n
            var total = prev.total
            var maxTs = Long.MinValue
            rows.foreach { e =>
              n += 1; total += e.value; maxTs = math.max(maxTs, e.ts.getTime)
            }
            state.update(UserState(n, total))
            if (maxTs != Long.MinValue)
              state.setTimeoutTimestamp(maxTs, ttl)
            Iterator.single(UserSnapshot(uid, n, total, expired = false))
          }
      }
  }

  /** One buffered event awaiting the watermark: micro-precision
    * event time, id, side (0 = view/left, 1 = purchase/right — the
    * batch as-of's `__side` tiebreak). */
  case class AsOfBuffered(tsMicros: Long, eventId: Long, side: Int)
  case class AsOfState(hasView: Boolean, vId: Long, vTs: Long,
      buffer: Seq[AsOfBuffered])
  case class AsOfMatch(event_id: Long, user_id: Long,
      v_id: Option[Long], gap_s: Option[Long])

  private def micros(ts: java.sql.Timestamp): Long =
    (ts.getTime / 1000L) * 1000000L + ts.getNanos / 1000L

  /** Streaming as-of join — the live face of batch
    * [[graft.operators.AsOfJoin.a01]] (attribute each purchase to the
    * user's latest view at-or-before it), closing the batch/stream
    * parity story for the one pipeline family that had no streaming
    * form (VERDICT r3 #7).
    *
    * Why not a stream-stream join: Spark's interval join can bound
    * state but expresses "within T", not "the LATEST left row ≤ t" —
    * as-of needs per-key ordered processing, which is exactly the
    * `flatMapGroupsWithState` contract. Shape: one shuffle on the key
    * (same as batch), per-user state = (latest view ≤ watermark) + a
    * buffer of events still inside the watermark window.
    *
    * Correctness protocol: micro-batches deliver events unordered, so
    * NOTHING is emitted until the watermark passes it. Each
    * invocation (new data or event-time timeout) flushes the buffered
    * prefix with ts ≤ watermark in (ts, side) order — views update the
    * carried state, purchases emit their match; later events stay
    * buffered and an event-time timeout is armed at the earliest
    * buffered timestamp so the flush happens even if the user goes
    * quiet. Emitted rows are therefore IDENTICAL to the batch a01
    * output for every purchase the watermark has passed; events later
    * than the watermark delay are the same documented loss window as
    * every watermarked op here. State is bounded: the view carry is
    * O(1) per user, the buffer holds at most one watermark-delay of
    * events per user. */
  def asOfStream(events: DataFrame, watermarkDelay: String = "1 hour")
      : Dataset[AsOfMatch] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Long, java.sql.Timestamp, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[AsOfState, AsOfMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, String)],
            state: GroupState[AsOfState]) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val prev = state.getOption.getOrElse(AsOfState(false, 0L, 0L, Nil))
          val all = prev.buffer ++ rows.map { case (id, _, ts, tpe) =>
            AsOfBuffered(micros(ts), id, if (tpe == "view") 0 else 1)
          }
          val (ready, later) = all.partition(_.tsMicros <= wmMicros)
          var hasView = prev.hasView
          var vId = prev.vId
          var vTs = prev.vTs
          val out = ready.sortBy(b => (b.tsMicros, b.side)).flatMap { b =>
            if (b.side == 0) {
              hasView = true; vId = b.eventId; vTs = b.tsMicros; None
            } else Some(AsOfMatch(b.eventId, uid,
              if (hasView) Some(vId) else None,
              if (hasView) Some((b.tsMicros - vTs) / 1000000L) else None))
          }
          state.update(AsOfState(hasView, vId, vTs, later))
          if (later.nonEmpty)
            state.setTimeoutTimestamp(math.max(
              later.map(_.tsMicros).min / 1000L,
              state.getCurrentWatermarkMs() + 1L))
          out.iterator
      }
  }

  /** Streaming as-of with a staleness tolerance (batch a02's
    * semantics): as-of already picks the LATEST view ≤ t, so a match
    * outside the tolerance proves no in-tolerance match exists — the
    * bound composes on [[asOfStream]] as a pure stateless map that
    * nulls the carried columns, exactly like the batch form's
    * post-predicate. */
  def asOfToleranceStream(events: DataFrame, toleranceSeconds: Long,
      watermarkDelay: String = "1 hour"): Dataset[AsOfMatch] = {
    import events.sparkSession.implicits._
    asOfStream(events, watermarkDelay).map { m =>
      if (m.gap_s.exists(_ <= toleranceSeconds)) m
      else m.copy(v_id = None, gap_s = None)
    }
  }

  /** Stream-stream interval join: purchases ⋈ views of the same user
    * within the last 30 minutes. Both sides watermarked so Spark can
    * bound the join state (without watermarks the buffered state grows
    * forever at 100 TB). */
  def purchaseViewJoin(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val v = events.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    p.join(v,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") > col("p_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("p_id"), col("user_id"), col("v_id"))
  }

  /** Per-user running totals on the modern arbitrary-state API
    * (Spark 4 `transformWithState`): typed `ValueState` with native
    * per-state TTL, replacing the flatMapGroupsWithState timeout
    * choreography of [[expiringCounts]]. Requires the RocksDB state
    * store provider — which is also the 100 TB answer: state lives
    * off-heap/on-disk per executor instead of in JVM heap. */
  class RunningTotals(ttl: java.time.Duration)
      extends StatefulProcessor[Long, UserEvent, UserSnapshot] {
    @transient private var st: ValueState[UserState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserState]("totals",
        org.apache.spark.sql.Encoders.product[UserState],
        if (ttl == null) TTLConfig.NONE else TTLConfig(ttl))
    override def handleInputRows(uid: Long, rows: Iterator[UserEvent],
        tv: TimerValues): Iterator[UserSnapshot] = {
      val prev = if (st.exists()) st.get() else UserState(0L, 0.0)
      var n = prev.n
      var total = prev.total
      rows.foreach { e => n += 1; total += e.value }
      st.update(UserState(n, total))
      Iterator.single(UserSnapshot(uid, n, total, expired = false))
    }
  }

  /** Running totals via transformWithState. Pass a ttl for state
    * expiry — with the caveat that TTL is processing-time based
    * (TimeMode.ProcessingTime), and the TTL machinery keeps
    * scheduling micro-batches: such a query never self-terminates
    * under `Trigger.AvailableNow` or `processAllAvailable` (measured —
    * 500+ empty epochs) and must run on a continuous trigger with an
    * external stop. ttl = null (default) uses TimeMode.None: no
    * timers, terminates cleanly, state bounded by key cardinality
    * like any streaming aggregation. */
  def runningTotals(events: Dataset[UserEvent],
      ttl: java.time.Duration = null): Dataset[UserSnapshot] = {
    import events.sparkSession.implicits._
    val mode = if (ttl == null) TimeMode.None() else TimeMode.ProcessingTime()
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotals(ttl), mode, OutputMode.Update())
  }

  /** Stream-static broadcast join — the streaming face of the J2
    * dimension lookup: each micro-batch joins against the static
    * (driver-side) dimension, broadcast per batch. No state, no
    * watermark needed; at scale the static side must stay
    * broadcast-sized or become a pre-bucketed table. */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("event_type"), "left")
      .select(col("event_id"), col("event_type"),
        coalesce(col("severity"), lit("unknown")).as("severity"))

  /** Streaming exact dedup (the streaming face of d01):
    * `dropDuplicatesWithinWatermark` keys on the dedup fingerprint and
    * keeps per-key state only until the watermark passes it — bounded
    * state, unlike plain dropDuplicates whose state grows with every
    * distinct key forever (fatal on an unbounded 100 TB stream).
    * Duplicates arriving later than the watermark delay are the
    * documented miss window, exactly the batch/cron late-data
    * tradeoff of T2. */
  def dedupStream(events: DataFrame, watermarkDelay: String = "10 minutes")
      : DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .withColumn("fp",
        concat_ws(":", col("user_id"), col("event_type"), col("value")))
      .dropDuplicatesWithinWatermark("fp")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))

  /** Run any of the streams above to a named memory sink, synchronously
    * (Trigger.AvailableNow ≙ the reference's one-shot mode). */
  /** Streaming heavy hitters (the live face of batch x04): the
    * SpaceSaving udaf in a global streaming aggregate. The sketch's
    * mergeability is exactly what incremental execution needs — each
    * micro-batch folds its rows into the ≤ k-entry state, so state is
    * O(k) forever while a naive streaming groupBy-count's state grows
    * with every distinct key seen. Complete output mode re-emits the
    * current top entries per trigger. */
  def heavyHittersStream(events: DataFrame, k: Int = 32): DataFrame = {
    val hh = org.apache.spark.sql.functions.udaf(
      graft.functions.HeavyHitters.SpaceSaving(k))
    events.agg(hh(col("user_id")).as("entries"))
      .select(posexplode(col("entries")).as(Seq("idx", "e")))
      .select((col("idx") + 1).cast("long").as("rank"),
        col("e.item").as("user_id"), col("e.count").as("est_count"),
        col("e.err").as("max_err"))
  }

  /** Streaming KMV distinct-user estimate per event type (batch x05's
    * streaming face): the typed KMV aggregator as a udaf inside a
    * complete-mode streaming aggregate — O(k) state per type forever,
    * and because KMV is a deterministic function of the input SET,
    * the streamed estimate is EXACTLY the batch x05 estimate once all
    * input is consumed (spec-asserted equality, not an error bound —
    * the property no HLL stream can offer). */
  /** Streaming Count-Min counter maintenance (batch x06's streaming
    * face): every arriving event increments its D hashed cells — a
    * plain streaming groupBy-count whose state is bounded at D·W rows
    * FOREVER regardless of stream length or distinct-key count (the
    * CMS point; a per-key streaming count's state grows with every
    * key ever seen). The counter arithmetic is literally
    * [[graft.operators.Relational10.cmsCounters]] — the same code the
    * batch query runs — and counters are sums, so after full replay
    * the streamed table equals the batch table EXACTLY and point
    * estimates derived from it equal batch x06's (spec-asserted,
    * the kmvDistinctStream exact-parity convention). Complete output
    * mode re-emits the current counters per trigger. */
  def countMinStream(events: DataFrame): DataFrame =
    graft.operators.Relational10.cmsCounters(
      events.select(col("user_id")))

  def kmvDistinctStream(events: DataFrame, k: Int = 64): DataFrame = {
    val kmv = org.apache.spark.sql.functions.udaf(
      graft.functions.KMinValues.KMV(k))
    events
      .select(col("event_type"), graft.functions.TextOps.hash64(
        concat(lit("kmv:"), col("user_id").cast("string"))).as("h"))
      .groupBy(col("event_type"))
      .agg(kmv(col("h")).as("ks"))
      .select(col("event_type"), size(col("ks")).cast("long").as("n_h"),
        round(when(size(col("ks")) < k, size(col("ks")).cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976.0) /
            element_at(col("ks"), -1)), 2).as("est_distinct"))
  }

  /** Streaming bottom-k sample quantiles (batch x08's streaming face):
    * one stateful groupBy whose state is the O(k) mergeable
    * [[graft.functions.Sampling.BottomK]] buffer per event type. The
    * body IS [[graft.operators.Relational13.bottomKEstimates]] — the
    * one-body discipline — and because bottom-k under a fixed hash is
    * a deterministic function of the input SET (not the arrival
    * order), after full replay the streamed quantile estimates equal
    * batch x08's estimate columns EXACTLY, micro-batch split
    * notwithstanding (spec-asserted). Complete output mode re-emits
    * the current estimates per trigger — a live per-type latency/value
    * quantile monitor with constant state. */
  def bottomKQuantilesStream(events: DataFrame): DataFrame =
    graft.operators.Relational13.bottomKEstimates(
      events.select(col("event_type"), col("event_id"), col("value")))

  def runToMemory(df: DataFrame, name: String, mode: String = "append")
      : StreamingQuery = {
    val q = df.writeStream.outputMode(mode)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}
