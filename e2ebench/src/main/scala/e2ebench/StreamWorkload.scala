package e2ebench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.SnapshotTable
import graft.streaming._

final case class EventRow(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)
final case class DocRow(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)
final case class SnapRow(key: Long, part: Int, v: Long)

/** `stream_state`: four stateful streams fed with seeded micro-batches
  * through their default (`flatMapGroupsWithState`) entry points, plus a
  * snapshot ingest. One op is one batch processed by every query:
  * `EventStreams.asOfStream` and `GuardStream.conversions` over events,
  * `DedupStream.nearDupPairs` over documents, `IvmStream.view` over signed
  * join rows, then one `SnapshotIngest.start` run that commits the batch's
  * upserts into a `SnapshotTable`.
  *
  * Keys come from fixed key spaces (users, view groups, document ids,
  * table keys) that the warm-up batches fill, and event time advances by a
  * fixed span per batch, so kept state stays level.
  *
  * Check: each batch's guarded conversions and view rows equal those of a
  * plain-Scala model of the same semantics; as-of matches must be right,
  * unique and released by the watermark; near-duplicate pairs are never
  * emitted twice and none once every document id has been seen; the table
  * gains one version per batch and keeps exactly one row per key. */
final class StreamWorkload(spark: SparkSession, seed: Long, work: String, cfg: Config)
    extends Workload {
  import spark.implicits._
  import StreamWorkload._

  private val rng = new scala.util.Random(seed)
  private val t0Micros = 1704067200000000L // 2024-01-01T00:00:00Z

  private val corpus: IndexedSeq[String] = {
    val words = "join hash row batch scan column filter merge order vector line table data agg value key stream window spark part group sort query".split(" ")
    val b = mutable.ArrayBuffer.empty[String]
    (0 until DocSpace).foreach { i =>
      if (i >= 8 && rng.nextDouble() < 0.15) b += b(rng.nextInt(i)) + " dup"
      else b += Seq.fill(20 + rng.nextInt(40))(words(rng.nextInt(words.length))).mkString(" ")
    }
    b.toIndexedSeq
  }

  // --------------------------------------------------------------- streams

  private val outputs = mutable.Map.empty[String, ConcurrentLinkedQueue[Row]]
  private def sink(name: String, df: DataFrame): StreamingQuery = {
    val q = new ConcurrentLinkedQueue[Row]()
    outputs(name) = q
    df.writeStream.queryName(name)
      .option("checkpointLocation", s"$work/checkpoints/$name")
      .foreachBatch { (b: DataFrame, _: Long) => b.collect().foreach(q.add) }
      .start()
  }
  // one source per event query: a memory stream drops what a reader commits
  private val asOfEvents = MemoryStream[EventRow](spark)
  private val guardEvents = MemoryStream[EventRow](spark)
  private val docs = MemoryStream[DocRow](spark)
  private val ivm = MemoryStream[SignedJoinRow](spark)
  private val snap = MemoryStream[SnapRow](spark)

  private val queries: Seq[StreamingQuery] = Seq(
    sink("asof", EventStreams.asOfStream(asOfEvents.toDF()).toDF()),
    sink("dedup", DedupStream.nearDupPairs(docs.toDF()).toDF()),
    sink("guard", GuardStream.conversions(guardEvents.toDF()).toDF()),
    sink("ivm", IvmStream.view(ivm.toDS()).toDF()))

  private val table = s"$work/snapshot_table"
  SnapshotTable.init(spark,
    (0 until TableKeys).map(k => SnapRow(k, k % 4, -1L)).toDF().coalesce(1),
    table, "part", "key")
  private val ingestCkpt = s"$work/checkpoints/ingest"
  @volatile private var ingestId: java.util.UUID = _

  // ----------------------------------------------------------------- model

  private var batch = 0
  private val guard = mutable.Map.empty[Long, (Option[Long], Option[Long])]
  private val view = mutable.Map.empty[(String, Long), (Long, Long, Long)]
  private val ivmHistory = mutable.Queue.empty[Seq[SignedJoinRow]]
  private val viewsByUser = mutable.Map.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
  private val purchases = mutable.Map.empty[Long, (Long, Long)] // id -> (user, ts)
  private val maxTs = mutable.ArrayBuffer.empty[Long]
  private val asOfSeen = mutable.Set.empty[Long]
  private val pairsSeen = mutable.Set.empty[(Long, Long)]
  private val docsSeen = mutable.Set.empty[Long]
  private var tableVersion = SnapshotTable.currentVersion(table)
  /** (parquet files, bytes) under the table after each traced batch. */
  private val filesPerBatch = mutable.ArrayBuffer.empty[(Double, Double)]

  val ops: IndexedSeq[String] = IndexedSeq("batch")
  val warmReps: Int = cfg.warmReps
  val layer = "streaming"

  private def nextEvents(k: Int): Seq[EventRow] = {
    val spanUs = BatchSpanMinutes * 60000000L
    val step = spanUs / EventsPerBatch
    (0 until EventsPerBatch).map { i =>
      val ts = t0Micros + k * spanUs + i * step + rng.nextInt(step.toInt)
      val r = rng.nextDouble()
      val tpe = if (r < 0.35) "view" else if (r < 0.6) "click"
        else if (r < 0.75) "purchase" else if (r < 0.85) "error" else "signup"
      EventRow(k.toLong * EventsPerBatch + i, micros(ts), rng.nextInt(Users).toLong,
        tpe, math.rint(rng.nextDouble() * 10000) / 100, s"""{"k": ${rng.nextInt(100)}}""")
    }
  }

  def run(op: String): () => Option[String] = {
    val k = batch
    batch += 1
    val events = nextEvents(k)
    val docBatch = (0 until DocsPerBatch).map { i =>
      val id = (k.toLong * DocsPerBatch + i) % DocSpace
      DocRow(id, corpus(id.toInt), "en", s"src${id % 20}", corpus(id.toInt).length.toLong)
    }
    val inserts = Seq.fill(IvmRowsPerBatch)(SignedJoinRow(Priorities(rng.nextInt(5)),
      1995L + rng.nextInt(7), 100L + rng.nextInt(1000000), 1L))
    val retracts =
      if (ivmHistory.length >= IvmRetractAfter) ivmHistory.dequeue().map(r => r.copy(m = -1L))
      else Nil
    ivmHistory.enqueue(inserts)
    // each batch upserts into one of the four partitions, in turn
    val upsertRows = (0 until UpsertsPerBatch).map { i =>
      val key = k % 4 + 4L * ((k.toLong / 4 * UpsertsPerBatch + i) % (TableKeys / 4))
      SnapRow(key, k % 4, k.toLong)
    }

    Tracer.span("streaming.batch") {
      asOfEvents.addData(events)
      guardEvents.addData(events)
      docs.addData(docBatch)
      ivm.addData(inserts ++ retracts)
      snap.addData(upsertRows)
      queries.foreach(_.processAllAvailable())
      Tracer.span("streaming.ingest") {
        val q = SnapshotIngest.start(snap.toDF(), table, "part", "key", "key", ingestCkpt)
        ingestId = q.id
        q.awaitTermination()
      }
    }
    () => check(k, events, inserts ++ retracts, upsertRows)
  }

  /** Rows a stream emitted since the last drain. */
  private def drain(name: String): Seq[Row] =
    Iterator.continually(outputs(name).poll()).takeWhile(_ != null).toSeq

  private def check(k: Int, events: Seq[EventRow], signed: Seq[SignedJoinRow],
      upsertRows: Seq[SnapRow]): Option[String] = {
    val sorted = events.sortBy(e => (micros(e.ts), e.event_id))
    maxTs += sorted.map(e => micros(e.ts)).max
    val problems = mutable.ArrayBuffer.empty[String]
    def expect[T: Ordering](name: String, got: Seq[T], want: Seq[T]): Unit =
      if (got.sorted != want.sorted)
        problems += s"$name: ${got.length} rows, expected ${want.length}"

    // guarded conversion: a purchase within the lookback of the user's last
    // click, with no error since that click
    val wantGuard = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    sorted.foreach { e =>
      val u = e.user_id
      val ts = micros(e.ts)
      val (click, err) = guard.getOrElse(u, (None, None))
      if (e.event_type == "purchase" && click.exists(c =>
          ts - c <= GuardLookbackUs && err.forall(_ < c)))
        wantGuard += ((u, e.event_id, ts - click.get))
      e.event_type match {
        case "click" => guard(u) = (Some(ts), err)
        case "error" => guard(u) = (click, Some(ts))
        case _ =>
      }
    }
    expect("guard", drain("guard").map(r =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("purchase_id"), r.getAs[Long]("gap_us"))), wantGuard.toSeq)

    // signed view: one row per touched group; a group that cancels to zero
    // emits a tombstone and starts over
    val wantView = signed.groupBy(r => (r.o_orderpriority, r.o_year)).map { case (g, rs) =>
      val (upd, n, rev) = view.getOrElse(g, (-1L, 0L, 0L))
      val next = (upd + 1, n + rs.map(_.m).sum, rev + rs.map(r => r.m * r.cents).sum)
      if (next._2 == 0L) view.remove(g) else view(g) = next
      (g._1, g._2, next._1, next._3, next._2, next._2 != 0L)
    }.toSeq
    expect("ivm", drain("ivm").map(r => (r.getAs[String]("o_orderpriority"),
      r.getAs[Long]("o_year"), r.getAs[Long]("upd"), r.getAs[Long]("revenue_cents"),
      r.getAs[Long]("n_items"), r.getAs[Boolean]("live"))), wantView)

    // as-of: each released purchase carries the user's latest view at or
    // before it; purchases are released once, by the watermark
    sorted.foreach { e =>
      if (e.event_type == "view")
        viewsByUser.getOrElseUpdate(e.user_id, mutable.ArrayBuffer.empty) +=
          ((micros(e.ts), e.event_id))
      else if (e.event_type == "purchase") purchases(e.event_id) = (e.user_id, micros(e.ts))
    }
    drain("asof").foreach { r =>
      val id = r.getAs[Long]("event_id")
      val (user, ts) = purchases.getOrElse(id, (-1L, 0L))
      val v = viewsByUser.getOrElse(user, mutable.ArrayBuffer.empty).filter(_._1 <= ts)
        .sortBy(identity).lastOption
      val got = (r.getAs[Long]("user_id"), Option(r.get(r.fieldIndex("v_id"))).map(_.asInstanceOf[Long]),
        Option(r.get(r.fieldIndex("gap_s"))).map(_.asInstanceOf[Long]))
      val want = (user, v.map(_._2), v.map(x => (ts - x._1) / 1000000L))
      if (!asOfSeen.add(id)) problems += s"asof: purchase $id emitted twice"
      else if (got != want) problems += s"asof: purchase $id matched $got, expected $want"
    }
    def released(upTo: Long) = purchases.count { case (_, (_, ts)) => ts <= upTo }
    val hourUs = 3600L * 1000000L
    if (maxTs.length >= 2) {
      val lo = released(maxTs(maxTs.length - 2) / 1000 * 1000 - hourUs)
      val hi = released(maxTs.last - hourUs)
      if (asOfSeen.size < lo || asOfSeen.size > hi)
        problems += s"asof: ${asOfSeen.size} purchases released, expected $lo..$hi"
    }

    // near-duplicate pairs: a pair may repeat within the batch that first
    // emits it (once per colliding band), never in a later batch, and no
    // pair appears once every document id has been seen
    val allSeen = docsSeen.size == DocSpace
    drain("dedup").map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).distinct
      .foreach { p =>
        if (!pairsSeen.add(p)) problems += s"dedup: pair $p emitted again in a later batch"
        else if (allSeen) problems += s"dedup: pair $p after every document was seen"
      }
    docsSeen ++= (0 until DocsPerBatch).map(i => (k.toLong * DocsPerBatch + i) % DocSpace)

    // snapshot table: one new version per batch, one row per key
    val v = SnapshotTable.currentVersion(table)
    if (v != tableVersion + 1) problems += s"snapshot: version $v after $tableVersion"
    tableVersion = v
    val rows = SnapshotTable.readVersion(spark, table, v).count()
    if (rows != TableKeys) problems += s"snapshot: $rows rows, expected $TableKeys"
    if (Tracer.current.nonEmpty) filesPerBatch += ((tableFiles().toDouble, tableBytes()))
    problems.headOption
  }

  private def tableFiles(): Long = listFiles().length.toLong
  private def tableBytes(): Double = listFiles().map(_.length).sum.toDouble
  private def listFiles(): Seq[java.io.File] = {
    val root = new java.io.File(table)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(root).filter(_.getName.endsWith(".parquet"))
  }

  override def stateSize: Option[Double] = Some(queries.flatMap(q =>
    Option(q.lastProgress).toSeq.flatMap(_.stateOperators.map(_.numRowsTotal.toDouble))).sum)

  override def layerMetrics(t: Tracer, ops: Seq[OpRec]): Map[String, Double] = {
    val ingest = t.progress.asScala.filter(_.id == ingestId)
      .map(_.durationMs.asScala.get("addBatch").map(_.doubleValue / 1e3).getOrElse(0.0)).toSeq
    val deltas = filesPerBatch.zip(filesPerBatch.drop(1)).map { case (a, b) =>
      (b._1 - a._1, b._2 - a._2) }.toSeq
    val inputBytes = UpsertsPerBatch * RowBytes.toDouble
    Map(
      "sources.snapshot_commit_s" -> (if (ingest.isEmpty) 0.0 else Stats.median(ingest)),
      "sources.snapshot_files_per_batch" ->
        (if (deltas.isEmpty) 0.0 else deltas.map(_._1).sum / deltas.length),
      "sources.snapshot_write_amp" ->
        (if (deltas.isEmpty) 0.0 else deltas.map(_._2).sum / deltas.length / inputBytes))
  }

  override def close(): Unit = {
    queries.foreach { q =>
      Option(q.lastProgress).foreach(p => System.err.println(
        s"[e2ebench]   stream ${p.name}: ${p.durationMs.asScala.toSeq.sortBy(_._1).mkString(" ")}"))
    }
    queries.foreach(_.stop())
  }
}

object StreamWorkload {
  /** Users behind the events: the key space of the as-of and guard state. */
  val Users = 200
  val EventsPerBatch = 200
  /** Event time covered by one batch; the as-of watermark is one hour. */
  val BatchSpanMinutes = 20
  val DocsPerBatch = 25
  /** Distinct document ids, cycled through by the batches. */
  val DocSpace = 75
  val IvmRowsPerBatch = 60
  /** Batches after which a view batch's rows are retracted. */
  val IvmRetractAfter = 4
  /** Keys of the snapshot table, in four partitions. */
  val TableKeys = 2000
  /** Upserts per batch, all into one partition. */
  val UpsertsPerBatch = 200
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  /** e13's guarded-conversion lookback (120 minutes). */
  val GuardLookbackUs: Long = 120L * 60L * 1000000L
  /** Raw size of one upserted row: two longs and an int. */
  val RowBytes = 20

  def micros(t: Timestamp): Long = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  def micros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
