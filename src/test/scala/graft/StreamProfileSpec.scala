package graft

import org.apache.spark.sql.functions._
import graft.streaming.{EventStreams, ProfileStream}

/** Live data quality (the q72/q73 streaming face): replay orders and
  * lineitem in micro-batches and assert the running profile and rule
  * counters equal the batch derivations EXACTLY — on the aggregation
  * face and on the fmgws face, the latter on the default and RocksDB
  * state stores. Every maintained statistic is mergeable, so parity
  * is bit-level and split-order-free (the chunks here deliberately
  * interleave keys). */
class StreamProfileSpec extends SparkSpec {

  import spark.implicits._

  private def chunkedDir(name: String, df: org.apache.spark.sql.DataFrame,
      keyCol: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$name")
    dir.toFile.deleteOnExit()
    val base = System.currentTimeMillis() - 60000
    (0 to 2).foreach { i =>
      StreamTestIO.writeChunk(df.filter(pmod(col(keyCol), lit(3)) === i),
        dir.resolve(s"c$i.parquet"), base + i * 1000)
    }
    dir.toString
  }

  private def ordersStream(dir: String) =
    spark.readStream.schema(Tables.load(spark, sf, "orders").schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  private def lineitemStream(dir: String) =
    spark.readStream.schema(Tables.load(spark, sf, "lineitem").schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  /** Batch truth: the SHARED pass-1 builder over the full table,
    * as (col_name → (n_rows, n_null, min, max)). */
  private def batchStats(): Map[String, (Long, Long, String, String)] =
    operators.Relational19.statsPass(
      operators.Relational19.ordersCanon(Tables.load(spark, sf, "orders")))
      .collect()
      .map(r => r.getAs[String]("col_name") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_null"),
          r.getAs[String]("min_val"), r.getAs[String]("max_val")))
      .toMap

  /** The registered q72 gate rows projected to pass-1 columns — ties
    * the live face to the oracle-checked query, not just the shared
    * builder. */
  private def q72Stats(): Map[String, (Long, Long, String, String)] =
    operators.Relational19.q72(spark, sf).collect()
      .map(r => r.getAs[String]("col_name") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_null"),
          r.getAs[String]("min_val"), r.getAs[String]("max_val")))
      .toMap

  private def lastPerKey(table: String, key: String, upd: String = "upd")
      : Map[String, org.apache.spark.sql.Row] =
    spark.table(table).collect()
      .groupBy(_.getAs[String](key))
      .view.mapValues(_.maxBy(_.getAs[Long](upd))).toMap

  test("streamed profile equals batch q72 pass-1 (aggregation face)") {
    val dir = chunkedDir("prof-agg", Tables.load(spark, sf, "orders"),
      "o_orderkey")
    val q = EventStreams.runToMemory(
      ProfileStream.statsAgg(ordersStream(dir)),
      "prof_agg", mode = "complete")
    try {
      val streamed = spark.table("prof_agg").collect()
        .map(r => r.getAs[String]("col_name") ->
          (r.getAs[Long]("n_rows"), r.getAs[Long]("n_null"),
            r.getAs[String]("min_val"), r.getAs[String]("max_val")))
        .toMap
      assert(streamed == batchStats(), "aggregation face diverges")
      assert(streamed == q72Stats(), "live face diverges from gate q72")
    } finally q.stop()
  }

  test("streamed profile equals batch q72 pass-1 (fmgws)") {
    val dir = chunkedDir("prof-fmgws", Tables.load(spark, sf, "orders"),
      "o_orderkey")
    val q = EventStreams.runToMemory(
      ProfileStream.profile(ordersStream(dir)).toDF(), "prof_fmgws")
    try {
      val streamed = lastPerKey("prof_fmgws", "col_name").map {
        case (k, r) => k -> (r.getAs[Long]("n_rows"),
          r.getAs[Long]("n_null"), r.getAs[String]("min_val"),
          r.getAs[String]("max_val"))
      }
      assert(streamed == batchStats(), "fmgws face diverges")
      // three chunks, three state updates per column
      assert(spark.table("prof_fmgws").collect()
        .forall(_.getAs[Long]("upd") <= 2L))
    } finally q.stop()
  }

  test("streamed profile equals batch q72 pass-1 (fmgws, RocksDB)") {
    val dir = chunkedDir("prof-rocksdb", Tables.load(spark, sf, "orders"),
      "o_orderkey")
    StreamTestIO.withRocksDB(spark) {
      val q = EventStreams.runToMemory(
        ProfileStream.profile(ordersStream(dir)).toDF(), "prof_rocksdb")
      try {
        val streamed = lastPerKey("prof_rocksdb", "col_name").map {
          case (k, r) => k -> (r.getAs[Long]("n_rows"),
            r.getAs[Long]("n_null"), r.getAs[String]("min_val"),
            r.getAs[String]("max_val"))
        }
        assert(streamed == batchStats(), "RocksDB face diverges")
      } finally q.stop()
    }
  }

  /** Batch truth for the three lineitem row rules, from the
    * REGISTERED q73 output. */
  private def q73RowRules(): Map[String, (Long, Long, Boolean)] =
    operators.Relational19.q73(spark, sf).collect()
      .filter(_.getAs[String]("rule").startsWith("lineitem_"))
      .filterNot(_.getAs[String]("rule").contains("_fk_"))
      .map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("n_checked"), r.getAs[Long]("n_violations"),
          r.getAs[Boolean]("passed")))
      .toMap

  test("streamed rule counters equal batch q73 row rules (all faces)") {
    val li = Tables.load(spark, sf, "lineitem")
    val want = q73RowRules()
    assert(want.size == 3)
    // aggregation face
    val dir1 = chunkedDir("rule-agg", li, "l_orderkey")
    val qa = EventStreams.runToMemory(
      ProfileStream.rulesAgg(lineitemStream(dir1)), "rule_agg",
      mode = "complete")
    try {
      val streamed = spark.table("rule_agg").collect()
        .map(r => r.getAs[String]("rule") ->
          (r.getAs[Long]("n_checked"), r.getAs[Long]("n_violations"),
            r.getAs[Boolean]("passed"))).toMap
      assert(streamed == want, "rule aggregation face diverges")
    } finally qa.stop()
    // fmgws face
    val dir2 = chunkedDir("rule-fmgws", li, "l_orderkey")
    val qf = EventStreams.runToMemory(
      ProfileStream.rules(lineitemStream(dir2)).toDF(), "rule_fmgws")
    try {
      val streamed = lastPerKey("rule_fmgws", "rule").map { case (k, r) =>
        k -> (r.getAs[Long]("n_checked"), r.getAs[Long]("n_violations"),
          r.getAs[Boolean]("passed"))
      }
      assert(streamed == want, "rule fmgws face diverges")
    } finally qf.stop()
    // fmgws face on RocksDB
    val dir3 = chunkedDir("rule-rocksdb", li, "l_orderkey")
    StreamTestIO.withRocksDB(spark) {
      val qt = EventStreams.runToMemory(
        ProfileStream.rules(lineitemStream(dir3)).toDF(), "rule_rocksdb")
      try {
        val streamed = lastPerKey("rule_rocksdb", "rule").map { case (k, r) =>
          k -> (r.getAs[Long]("n_checked"), r.getAs[Long]("n_violations"),
            r.getAs[Boolean]("passed"))
        }
        assert(streamed == want, "rule RocksDB face diverges")
      } finally qt.stop()
    }
  }

  test("streamed HLL n_distinct: bit parity with batch, x01 error tier") {
    // the live n_distinct tier (r13 verdict #7): HLL registers
    // max-merge, so the streamed sketch over interleaved chunks MUST
    // equal the one-shot batch sketch exactly — and both must hold
    // x01's honest bound against the exact count (rsd 2% → ≤5%).
    val orders = Tables.load(spark, sf, "orders")
    val dir = chunkedDir("prof-hll", orders, "o_orderkey")
    val q = EventStreams.runToMemory(
      ProfileStream.statsAggHll(ordersStream(dir)),
      "prof_hll", mode = "complete")
    try {
      val streamed = spark.table("prof_hll").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = ProfileStream.statsAggHll(orders).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch,
        "streamed HLL sketch diverges from the batch sketch — " +
          "max-merge parity broken")
      val canon = operators.Relational19.ordersCanon(orders)
      val exact = canon.columns.map { c =>
        c -> canon.select(countDistinct(col(c))).head.getLong(0)
      }.toMap
      assert(streamed.keySet == exact.keySet)
      val errs = exact.map { case (c, ex) =>
        c -> math.abs(streamed(c) - ex).toDouble / ex
      }
      info(f"hll errors: ${errs.map { case (c, e) => f"$c ${e * 100}%.2f%%" }.mkString(", ")}")
      errs.foreach { case (c, e) =>
        assert(e <= 0.05, f"$c HLL estimate off by ${e * 100}%.1f%% (> 5%%)")
      }
    } finally q.stop()
  }
}
