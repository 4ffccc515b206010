package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.CyclicBarrier

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** Optimistic concurrency for snapshot-table commits (r12 verdict
  * #3): the version publish is a create-exclusive link, so two
  * INDEPENDENT writers racing a commit serialize — the loser reclaims
  * its staged files, rebases against the winner's version, and
  * retries. These tests pin (1) a deterministic mid-flight conflict
  * (the competing commit lands while the first writer is staging),
  * (2) genuinely concurrent ingest + merge writers, and (3) the
  * replayed-loser no-op. */
class SnapshotOccSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): String = {
    val out = java.nio.file.Files.createTempDirectory("graft-occ-spec")
    out.toFile.deleteOnExit()
    val base = Tables.load(spark, sf, "orders")
      .withColumn("om", date_format($"o_orderdate", "yyyy-MM"))
      .filter($"om" < "1995-07")
      .repartition(2)
    SnapshotTable.init(spark, base, out.toString, "om", "o_orderkey")
    out.toString
  }

  private def filesOnDisk(path: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val root = new java.io.File(s"$path/files")
    walk(root).map(_.getAbsolutePath
      .stripPrefix(root.getAbsolutePath + "/")).toSet
  }

  private def reachable(path: String): Set[String] =
    (1 to SnapshotTable.currentVersion(path)).flatMap { v =>
      SnapshotTable.manifest(path, v).map(_.rel) ++
        SnapshotTable.deleteManifest(path, v).map(_.rel)
    }.toSet

  test("occ: a mid-flight competing commit forces a clean rebase") {
    val path = freshTable()
    val n1 = SnapshotTable.readVersion(spark, path, 1).count()
    // the competing writer: a no-op v2 manifest (v1's entries copied)
    // published by a task-side effect when the loser's delta
    // evaluates — i.e. after the loser has read currentVersion = 1
    // but before it publishes. Deterministic, no thread timing. The
    // closure is serialized per task, so idempotence comes from
    // swallowing FileAlreadyExists, not from shared driver state.
    val delta = SnapshotTable.readVersion(spark, path, 1)
      .filter($"om" === "1995-02")
      .withColumn("o_totalprice", $"o_totalprice" + 100.0)
      .filter { (_: Row) =>
        try Files.copy(Paths.get(s"$path/manifests/v1.txt"),
          Paths.get(s"$path/manifests/v2.txt"),
          StandardCopyOption.COPY_ATTRIBUTES): Unit
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        true
      }
    val v = SnapshotTable.upsertPartition(spark, path, delta,
      "om", "o_orderkey", "o_orderkey")
    // the loser rebased past the winner's v2 and landed v3
    assert(v == 3, s"expected the rebased commit at v3, got v$v")
    assert(SnapshotTable.currentVersion(path) == 3)
    val r3 = SnapshotTable.readVersion(spark, path, 3)
    assert(r3.count() == n1)
    val feb1 = SnapshotTable.readVersion(spark, path, 1)
      .filter($"om" === "1995-02")
      .agg(sum(round($"o_totalprice" * 100).cast("long"))).head.getLong(0)
    val feb3 = r3.filter($"om" === "1995-02")
      .agg(sum(round($"o_totalprice" * 100).cast("long"))).head.getLong(0)
    val nFeb = r3.filter($"om" === "1995-02").count()
    assert(feb3 == feb1 + 100L * 100 * nFeb, "the upsert content landed")
    // the failed attempt's staged files were reclaimed: nothing on
    // disk outside the committed manifests' reach
    val orphans = filesOnDisk(path) -- reachable(path)
    assert(orphans.isEmpty, s"loser's staged files leaked: $orphans")
  }

  test("occ: concurrent ingest and merge writers both land, history linear") {
    val path = freshTable()
    val base = SnapshotTable.readVersion(spark, path, 1).localCheckpoint()
    val n1 = base.count()
    val barrier = new CyclicBarrier(2)
    @volatile var err: Option[Throwable] = None
    // writer A: three ingest commits appending NEW months (disjoint
    // from writer B's targets, so the final state is order-free)
    val ingester = new Thread(() => {
      try {
        barrier.await()
        for (i <- 1 to 3) {
          val delta = base.filter($"om" === f"1995-0$i%d")
            .withColumn("om", lit(f"2099-0$i%02d"))
            .withColumn("o_orderkey", $"o_orderkey" + 900000000L)
          SnapshotTable.ingestCommit(spark, path, delta,
            "om", "o_orderkey", "o_orderkey", batchId = i.toLong): Unit
        }
      } catch { case t: Throwable => err = Some(t) }
    })
    // writer B: three merge commits re-pricing EXISTING months
    val merger = new Thread(() => {
      try {
        barrier.await()
        for (i <- 4 to 6) {
          val changes = base.filter($"om" === f"1995-0$i%d")
            .withColumn("o_totalprice", $"o_totalprice" + 7.0)
            .withColumn("op", lit("U"))
          SnapshotTable.mergeCommit(spark, path, changes,
            "op", "om", "o_orderkey", "o_orderkey"): Unit
        }
      } catch { case t: Throwable => err = Some(t) }
    })
    ingester.start(); merger.start()
    ingester.join(300000); merger.join(300000)
    err.foreach(throw _)
    // all six commits landed in a LINEAR history: versions 2..7 each
    // have a parseable manifest, no gaps, no lost updates
    val cur = SnapshotTable.currentVersion(path)
    assert(cur == 7, s"expected 6 commits over v1, got v$cur")
    (1 to cur).foreach(v => SnapshotTable.manifest(path, v))
    val fin = SnapshotTable.readVersion(spark, path, cur)
    val nAppended = base.filter($"om".isin("1995-01", "1995-02", "1995-03"))
      .count()
    assert(fin.count() == n1 + nAppended)
    // every re-priced month carries writer B's +7 exactly once
    for (i <- 4 to 6) {
      val m = f"1995-0$i%d"
      val want = base.filter($"om" === m)
        .agg(sum(round(($"o_totalprice" + 7.0) * 100).cast("long")))
        .head.getLong(0)
      val got = fin.filter($"om" === m)
        .agg(sum(round($"o_totalprice" * 100).cast("long"))).head.getLong(0)
      assert(got == want, s"merge of $m lost under concurrency")
    }
    // every appended month arrived intact
    for (i <- 1 to 3) {
      val got = fin.filter($"om" === f"2099-0$i%02d").count()
      val want = base.filter($"om" === f"1995-0$i%d").count()
      assert(got == want, s"ingest batch $i lost under concurrency")
    }
    // batch ids all in the manifest chain (exactly-once bookkeeping)
    assert(SnapshotTable.lastBatchId(path) == 3L)
    val orphans = filesOnDisk(path) -- reachable(path)
    assert(orphans.isEmpty, s"conflict losers leaked staged files: $orphans")
  }

  test("vacuum: never-referenced files get the orphan grace period") {
    val path = freshTable()
    // history to expire: a second version
    val d2 = SnapshotTable.readVersion(spark, path, 1)
      .filter($"om" === "1995-01")
      .withColumn("o_totalprice", $"o_totalprice" + 1.0)
    SnapshotTable.upsertPartition(spark, path, d2,
      "om", "o_orderkey", "o_orderkey")
    // simulate an IN-FLIGHT commit: a staged data file moved into the
    // shared tree whose manifest link has not landed yet
    val inFlight = Paths.get(s"$path/files/om=1995-02/c9-inflight.parquet")
    Files.createDirectories(inFlight.getParent)
    Files.write(inFlight, Array[Byte](1, 2, 3))
    val (del1, _) = SnapshotTable.expireVersions(spark, path, 2)
    assert(del1 > 0, "expired history must still reclaim immediately")
    assert(Files.exists(inFlight),
      "a fresh never-referenced file may be an in-flight commit")
    // past the grace period the same file is a true orphan
    Files.setLastModifiedTime(inFlight,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7200000L))
    val (del2, _) = SnapshotTable.expireVersions(spark, path, 2)
    assert(del2 == 1 && !Files.exists(inFlight),
      "an aged orphan must be reclaimed")
  }

  test("occ: N-writer randomized interleaving equals a serial execution") {
    // r13 verdict #4: ingest + merge + upsert + compaction + vacuum
    // all racing, random per-op delays as the conflict points, month
    // assignment shuffled by the seed. Invariants: linear history (no
    // gaps among live versions), no lost commits, the exactly-once
    // token survives retention, no leaked staged files, and the final
    // visible content is BIT-IDENTICAL to the same logical operations
    // applied serially to a twin table. Two fixed seeds keep the run
    // deterministic-by-build while exercising two interleavings.
    for (seed <- Seq(0xC0FFEE, 0xBEEF14)) {
      val rnd = new scala.util.Random(seed)
      val months = rnd.shuffle((1 to 6).toList).map(i => f"1995-0$i%d")
      val (ingMonths, repriceMonths) = months.splitAt(3)
      val (mergeMonths, upsertMonth) =
        (repriceMonths.take(2), repriceMonths.last)
      val delays = Seq.fill(16)(rnd.nextInt(40))

      def appendDelta(base: org.apache.spark.sql.DataFrame, m: String) =
        base.filter($"om" === m)
          .withColumn("om", concat(lit("2099-"), substring($"om", 6, 2)))
          .withColumn("o_orderkey", $"o_orderkey" + 900000000L)
      def mergeDelta(base: org.apache.spark.sql.DataFrame, m: String) =
        base.filter($"om" === m)
          .withColumn("o_totalprice", $"o_totalprice" + 7.0)
          .withColumn("op", lit("U"))
      def upsertDelta(base: org.apache.spark.sql.DataFrame, m: String) =
        base.filter($"om" === m)
          .withColumn("o_totalprice", $"o_totalprice" + 100.0)

      // --- the racy table: 4 writers, random interleaving ---
      val path = freshTable()
      val base = SnapshotTable.readVersion(spark, path, 1).localCheckpoint()
      val barrier = new CyclicBarrier(4)
      @volatile var err: Option[Throwable] = None
      def writer(body: => Unit): Thread = new Thread(() => {
        try { barrier.await(); body }
        catch { case t: Throwable => err = Some(t) }
      })
      val ingester = writer {
        ingMonths.zipWithIndex.foreach { case (m, i) =>
          Thread.sleep(delays(i).toLong)
          SnapshotTable.ingestCommit(spark, path, appendDelta(base, m),
            "om", "o_orderkey", "o_orderkey", batchId = (i + 1).toLong): Unit
        }
      }
      val merger = writer {
        mergeMonths.zipWithIndex.foreach { case (m, i) =>
          Thread.sleep(delays(4 + i).toLong)
          SnapshotTable.mergeCommit(spark, path, mergeDelta(base, m),
            "op", "om", "o_orderkey", "o_orderkey"): Unit
        }
        Thread.sleep(delays(6).toLong)
        SnapshotTable.upsertPartition(spark, path,
          upsertDelta(base, upsertMonth),
          "om", "o_orderkey", "o_orderkey"): Unit
      }
      val compactor = writer {
        for (i <- 0 until 3) {
          Thread.sleep(delays(8 + i).toLong + 15)
          SnapshotTable.compactCommit(spark, path, "om", "o_orderkey",
            "o_orderkey"): Unit
        }
      }
      // vacuum keeps a 5-version window — deeper than any writer's
      // in-flight rebase age, the production retention rule that a
      // snapshot still being read must not be expired; in-flight
      // STAGED files are covered by the orphan grace either way
      val vacuumer = writer {
        for (i <- 0 until 3) {
          Thread.sleep(delays(12 + i).toLong + 20)
          val keepFrom = math.max(1, SnapshotTable.currentVersion(path) - 5)
          if (keepFrom > 1)
            SnapshotTable.expireVersions(spark, path, keepFrom): Unit
        }
      }
      val threads = Seq(ingester, merger, compactor, vacuumer)
      threads.foreach(_.start())
      threads.foreach(_.join(300000))
      err.foreach(throw _)

      // linear history: live versions are a contiguous suffix ending
      // at currentVersion, every manifest parseable
      val cur = SnapshotTable.currentVersion(path)
      val live = SnapshotTable.liveVersions(path)
      assert(cur >= 7, s"[seed $seed] at least 6 commits over v1, got v$cur")
      assert(live.last == cur && live == (live.head to cur),
        s"[seed $seed] history not a contiguous suffix: $live")
      live.foreach(v => SnapshotTable.manifest(path, v))
      // exactly-once token survived compaction + vacuum
      assert(SnapshotTable.lastBatchId(path) == 3L,
        s"[seed $seed] batch token lost")

      // --- the serial reference: same logical ops, fixed order ---
      val ref = freshTable()
      val refBase = SnapshotTable.readVersion(spark, ref, 1).localCheckpoint()
      ingMonths.zipWithIndex.foreach { case (m, i) =>
        SnapshotTable.ingestCommit(spark, ref, appendDelta(refBase, m),
          "om", "o_orderkey", "o_orderkey", batchId = (i + 1).toLong): Unit
      }
      mergeMonths.foreach { m =>
        SnapshotTable.mergeCommit(spark, ref, mergeDelta(refBase, m),
          "op", "om", "o_orderkey", "o_orderkey"): Unit
      }
      SnapshotTable.upsertPartition(spark, ref,
        upsertDelta(refBase, upsertMonth),
        "om", "o_orderkey", "o_orderkey"): Unit

      def content(p: String): Seq[(String, Long, Long)] =
        SnapshotTable.readVersion(spark, p, SnapshotTable.currentVersion(p))
          .select($"om", $"o_orderkey",
            round($"o_totalprice" * 100).cast("long").as("cents"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(t => (t._1, t._2)).toSeq
      assert(content(path) == content(ref),
        s"[seed $seed] racy content diverged from the serial reference")

      // no leaked staged files: disk ⊆ live-manifest reach
      val liveReach = live.flatMap { v =>
        SnapshotTable.manifest(path, v).map(_.rel) ++
          SnapshotTable.deleteManifest(path, v).map(_.rel)
      }.toSet
      val orphans = filesOnDisk(path) -- liveReach
      assert(orphans.isEmpty,
        s"[seed $seed] conflict losers leaked staged files: $orphans")
      graft.functions.CheckpointOps.freeLocalCheckpoint(base)
      graft.functions.CheckpointOps.freeLocalCheckpoint(refBase)
    }
  }

  test("occ: a replayed loser batch is a no-op") {
    val path = freshTable()
    val base = SnapshotTable.readVersion(spark, path, 1)
    val delta = base.filter($"om" === "1995-01")
      .withColumn("om", lit("2099-01"))
      .withColumn("o_orderkey", $"o_orderkey" + 900000000L)
    val v2 = SnapshotTable.ingestCommit(spark, path, delta,
      "om", "o_orderkey", "o_orderkey", batchId = 1L)
    assert(v2 == 2)
    val n2 = SnapshotTable.readVersion(spark, path, 2).count()
    // crash-and-retry replay of the committed batch: no new version
    val v2b = SnapshotTable.ingestCommit(spark, path, delta,
      "om", "o_orderkey", "o_orderkey", batchId = 1L)
    assert(v2b == 2)
    assert(SnapshotTable.currentVersion(path) == 2)
    assert(SnapshotTable.readVersion(spark, path, 2).count() == n2)
  }

  test("occ: a replayed batch is a no-op once retention keeps only the latest version") {
    val path = freshTable()
    def batch(v: Int) = SnapshotTable.readVersion(spark, path, v)
      .filter($"om" === "1995-01")
      .withColumn("om", lit("2099-01"))
      .withColumn("o_orderkey", $"o_orderkey" + 900000000L)
    assert(SnapshotTable.ingestCommit(spark, path, batch(1),
      "om", "o_orderkey", "o_orderkey", batchId = 5L) == 2)
    // a later non-ingest commit carries the token forward
    val v3 = SnapshotTable.upsertPartition(spark, path,
      SnapshotTable.readVersion(spark, path, 2).filter($"om" === "1995-02")
        .withColumn("o_totalprice", $"o_totalprice" + 1.0),
      "om", "o_orderkey", "o_orderkey")
    SnapshotTable.expireVersions(spark, path, v3)
    assert(SnapshotTable.liveVersions(path) == Seq(v3))
    assert(SnapshotTable.lastBatchId(path) == 5L)
    for (id <- Seq(5L, 4L))
      assert(SnapshotTable.ingestCommit(spark, path, batch(v3),
        "om", "o_orderkey", "o_orderkey", batchId = id) == v3)
    assert(SnapshotTable.currentVersion(path) == v3)
  }
}
