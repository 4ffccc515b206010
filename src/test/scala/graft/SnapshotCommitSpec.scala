package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** The observable semantics of the partition rewrite that
  * `upsertPartition`, `ingestCommit`, `mergeCommit` and `stageBranch`
  * (published) share: a base row leaves exactly when a change row
  * carries its (non-null) key, inside the partitions the changes touch.
  * Each case runs all four verbs on one input where a keyed merge could
  * get the multiplicity wrong: duplicated keys, null keys, a key in
  * several partitions, schema evolution and delete masks. */
class SnapshotMergeSemanticsSpec extends SparkSpec {

  import spark.implicits._

  /** Base table: key 1 in partitions a, b and c; an unmatched duplicate
    * key 5 and a null key in a. */
  private def freshTable(): String = {
    val out = java.nio.file.Files.createTempDirectory("graft-merge-spec")
    out.toFile.deleteOnExit()
    val base = Seq[(Option[Long], String, Long)]((Some(1L), "a", 10L),
      (Some(5L), "a", 50L), (Some(5L), "a", 51L), (None, "a", 30L),
      (Some(1L), "b", 15L), (Some(3L), "b", 40L), (Some(1L), "c", 19L))
      .toDF("k", "p", "v")
    SnapshotTable.init(spark, base, out.toString, "p", "v")
    out.toString
  }

  private def delta(rows: (Option[Long], String, Long)*): DataFrame =
    rows.toDF("k", "p", "v")

  /** Apply `d` with each verb to a fresh table (after `prep`) and
    * return the new version's visible rows as sorted strings. */
  private def eachVerb(d: DataFrame, prep: String => Unit = _ => ())
      : Seq[(String, Seq[String])] = Seq[(String, String => Int)](
    "upsert" -> (p => SnapshotTable.upsertPartition(spark, p, d, "p", "k", "v")),
    "ingest" -> (p => SnapshotTable.ingestCommit(spark, p, d, "p", "k", "v", 1L)),
    "merge" -> (p => SnapshotTable.mergeCommit(spark, p,
      d.withColumn("op", lit("U")), "op", "p", "k", "v")),
    "branch" -> { p =>
      SnapshotTable.stageBranch(spark, p, "b", d, "p", "k", "v")
      SnapshotTable.publishBranch(spark, p, "b")
    }).map { case (verb, commit) =>
    val path = freshTable()
    prep(path)
    val v = commit(path)
    verb -> rows(SnapshotTable.readVersionMor(spark, path, v, "k"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect()
      .map(_.toSeq.mkString(",")).toSeq.sorted

  private val unchangedBC = Seq("1,b,15", "3,b,40")

  private def assertAll(d: DataFrame, want: Seq[String],
      prep: String => Unit = _ => ()): Unit =
    eachVerb(d, prep).foreach { case (verb, got) =>
      assert(got == want.sorted, s"$verb")
    }

  // rows print as k,p,v (columns sorted by name)

  test("a duplicated delta key keeps both rows") {
    assertAll(delta((Some(5L), "a", 55L), (Some(5L), "a", 56L)),
      Seq("1,a,10", "5,a,55", "5,a,56", "null,a,30", "1,c,19") ++ unchangedBC)
  }

  test("null keys never match: base null-key rows stay, delta null-key rows land") {
    assertAll(delta((None, "a", 31L)),
      Seq("1,a,10", "5,a,50", "5,a,51", "null,a,30", "null,a,31", "1,c,19") ++
        unchangedBC)
  }

  test("unmatched base duplicates stay") {
    assertAll(delta((Some(1L), "a", 11L)),
      Seq("1,a,11", "5,a,50", "5,a,51", "null,a,30", "1,c,19") ++ unchangedBC)
  }

  test("a key leaves every affected partition, and only those") {
    // key 1 sits in a, b and c; the delta touches a and b, so b's
    // key-1 row goes while c's stays
    assertAll(delta((Some(1L), "a", 11L), (Some(3L), "b", 41L)),
      Seq("1,a,11", "5,a,50", "5,a,51", "null,a,30", "3,b,41", "1,c,19"))
  }

  test("a delta with an extra column null-fills the base rows") {
    val d = delta((Some(1L), "a", 11L)).withColumn("tag", lit("x"))
    // rows print as k,p,tag,v
    assertAll(d, Seq("1,a,x,11", "5,a,null,50", "5,a,null,51",
      "null,a,null,30", "1,b,null,15", "3,b,null,40", "1,c,null,19"))
  }

  test("a delete mask that reaches the rewritten files is folded in") {
    val masked = (p: String) =>
      SnapshotTable.commitDeletes(spark, p, Seq(5L).toDF("k"), "k"): Unit
    assertAll(delta((Some(1L), "a", 11L)),
      Seq("1,a,11", "null,a,30", "1,c,19") ++ unchangedBC, masked)
    // the mask is in the rewritten data, not only applied at read time
    val path = freshTable()
    masked(path)
    val v = SnapshotTable.upsertPartition(spark, path,
      delta((Some(1L), "a", 11L)), "p", "k", "v")
    assert(SnapshotTable.readVersion(spark, path, v)
      .filter($"p" === "a" && $"k" === 5L).isEmpty)
  }

  test("merge: a feed with D and U rows for one key keeps the U row") {
    val path = freshTable()
    val feed = Seq[(Option[Long], String, Long, String)](
      (Some(5L), "a", 0L, "D"), (Some(5L), "a", 57L, "U"),
      (Some(3L), "b", 0L, "D")).toDF("k", "p", "v", "op")
    val v = SnapshotTable.mergeCommit(spark, path, feed, "op", "p", "k", "v")
    assert(rows(SnapshotTable.readVersionMor(spark, path, v, "k")) ==
      Seq("1,a,10", "5,a,57", "null,a,30", "1,b,15", "1,c,19").sorted)
  }
}

/** Manifest stats are what pruning trusts: every data line of a new
  * manifest must carry exactly the (min, max, rows, bloom) that a
  * plain `groupBy(input_file_name())` over the committed file computes.
  * Small row groups and small scan splits let a file's rows reach the
  * stats pass through several tasks. */
class SnapshotStatsParitySpec extends SparkSpec {

  import spark.implicits._

  private def reference(path: String, v: Int): Map[String, (Long, Long, Long, String)] = {
    val files = SnapshotTable.manifest(path, v).map(e => s"$path/files/${e.rel}")
    val df = spark.read.option("basePath", s"$path/files").parquet(files: _*)
      .withColumn("f", input_file_name())
    def rel(f: String) = {
      val local = new File(new java.net.URI(f).getPath)
      local.getParentFile.getName + "/" + local.getName
    }
    val stats = df.groupBy($"f").agg(min($"v").cast("long"),
      max($"v").cast("long"), count(lit(1))).collect()
      .map(r => rel(r.getString(0)) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    // bloom: bit pmod(hash64("i:" + k), BLOOM_BITS) for i < BLOOM_K, as
    // hex nibbles with bit i in nibble i/4 at position i%4
    val positions = (0 until SnapshotTable.BLOOM_K).map(i =>
      pmod(graft.functions.TextOps.hash64(concat(lit(s"$i:"), $"k".cast("string"))),
        lit(SnapshotTable.BLOOM_BITS.toLong)))
    val bits = df.select($"f", explode(array(positions: _*)).as("b")).distinct()
      .collect().groupBy(r => rel(r.getString(0)))
      .map { case (f, rs) => f -> rs.map(_.getLong(1).toInt).toSet }
    stats.map { case (f, (mn, mx, n)) =>
      val set = bits(f)
      f -> ((mn, mx, n, (0 until SnapshotTable.BLOOM_BITS / 4).map(i =>
        Integer.toHexString((0 until 4).map(b =>
          if (set(4 * i + b)) 1 << b else 0).sum)).mkString))
    }.toMap
  }

  test("manifest (min, max, rows, bloom) equals a groupBy(input_file_name()) aggregate") {
    val out = java.nio.file.Files.createTempDirectory("graft-stats-spec")
    out.toFile.deleteOnExit()
    val path = out.toString
    val confs = Seq("parquet.block.size" -> "2048",
      "spark.sql.files.maxPartitionBytes" -> "4096",
      "spark.sql.files.openCostInBytes" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val base = spark.range(6000).select($"id".as("k"), ($"id" % 3).as("p"),
        (($"id" * 7919) % 1000).as("v")).repartition(4)
      SnapshotTable.init(spark, base, path, "p", "v", Some("k"))
      val d = spark.range(5000, 7000).select($"id".as("k"),
        when($"id" < 6000, $"id" % 3).otherwise(lit(9L)).as("p"),
        (($"id" * 31) % 977).as("v")).repartition(3)
      val v2 = SnapshotTable.ingestCommit(spark, path, d, "p", "k", "v", 0L, Some("k"))
      for (v <- Seq(1, v2)) {
        val prior = if (v == 1) Set.empty[String]
          else SnapshotTable.manifest(path, v - 1).map(_.rel).toSet
        val fresh = SnapshotTable.manifest(path, v).filterNot(e => prior(e.rel))
        val ref = reference(path, v)
        assert(fresh.size > 3, s"v$v wrote ${fresh.size} files")
        fresh.foreach { e =>
          assert((e.min, e.max, e.rows, e.bloom) == ref(e.rel), s"v$v ${e.rel}")
        }
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

/** The shape of one `SnapshotIngest.start` batch on e2ebench `stream_state`'s
  * table (2000 keys in 4 partitions, 200 upserts into one): at most
  * four Spark jobs (partition set, the keyed merge's map stage, the
  * write, the stats pass) and no broadcast or sort-merge join in any
  * SQL execution, AQE stages included. */
class SnapshotCommitShapeSpec extends SparkSpec {

  test("an ingest batch runs at most 4 Spark jobs with no broadcast or sort-merge join") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-shape-spec")
    dir.toFile.deleteOnExit()
    val table = s"$dir/table"
    SnapshotTable.init(spark, (0L until 2000L).map(k => (k, (k % 4).toInt, 0L))
      .toDF("key", "part", "v").repartition(4), table, "part", "key")
    val snap = MemoryStream[(Long, Int, Long)](spark)
    def batch(k: Int): Unit = {
      snap.addData((0 until 200).map(i => (k % 4 + 4L * i, k % 4, k.toLong)))
      graft.streaming.SnapshotIngest.start(snap.toDF().toDF("key", "part", "v"),
        table, "part", "key", "key", s"$dir/ckpt").awaitTermination()
    }
    batch(1) // warm
    val (_, jobs, plans) = PlanShape.capture(spark)(batch(2))
    assert(SnapshotTable.currentVersion(table) == 3)
    assert(SnapshotTable.readVersion(spark, table, 3).filter($"v" === 2L).count() == 200)
    assert(plans.exists(_.nodeName.contains("WriteFiles")), "the write was not observed")
    val bad = plans.collect {
      case b: BroadcastExchangeLike => b.nodeName
      case j: SortMergeJoinExec => j.nodeName
    }
    assert(bad.isEmpty, s"ingest plans $bad")
    assert(jobs <= 4, s"ingest ran $jobs Spark jobs, expected at most 4")
  }

  test("an empty delta commits nothing and returns the current version") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-spec")
    dir.toFile.deleteOnExit()
    val path = dir.toString
    SnapshotTable.init(spark, Seq((1L, "a", 1L)).toDF("k", "p", "v"), path, "p", "k")
    val empty = Seq.empty[(Long, String, Long)].toDF("k", "p", "v")
    assert(SnapshotTable.ingestCommit(spark, path, empty, "p", "k", "k", 0L) == 1)
    assert(SnapshotTable.mergeCommit(spark, path, empty.withColumn("op", lit("U")),
      "op", "p", "k", "k", batchId = Some(1L)) == 1)
    assert(SnapshotTable.liveVersions(path) == Seq(1))
    // the empty batches left no token: batch 0 still commits
    assert(SnapshotTable.ingestCommit(spark, path,
      Seq((2L, "a", 2L)).toDF("k", "p", "v"), "p", "k", "k", 0L) == 2)
  }
}
