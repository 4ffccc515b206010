package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** Seventeenth tranche — the DELETE and CHANGE-CAPTURE faces of the
  * snapshot table (tranche 16 built versions and stats; this is what
  * a 100 TB lakehouse does with them between full rewrites):
  *
  *  - q64: MERGE-ON-READ equality deletes — dropping a customer
  *    cohort (the GDPR erasure shape) costs one key-sized delete
  *    file, zero data-file rewrites; readers subtract the keys at
  *    scan time under Iceberg's sequence-number rule
  *    ([[SnapshotTable.commitDeletes]]/[[SnapshotTable.readVersionMor]]);
  *  - q65: snapshot CDC — the row-level changelog between two
  *    versions planned from the MANIFEST DIFF, so files shared by
  *    both versions are read only where a newly-committed delete
  *    mask (stats-pruned) can reach them; partition-rewrite
  *    carry-over rows are suppressed by pre/post image comparison
  *    ([[SnapshotTable.changesBetween]] — the downstream-incremental
  *    feed d14/d19 would consume at 100 TB).
  *
  * The reference has no table format at all (it PATCHes rows at a
  * remote API one HTTP call at a time,
  * `/root/reference/src/Datalake2Anomali.py:246-253`); these extend
  * the SURVEY §7.2 lakehouse tier (q56-q63).
  *
  * Fixture: the tranche-16 snapshot table gains two more versions —
  * v3 = delete every order of the `custkey % 10 == 7` cohort
  * (merge-on-read, one delete file), v4 = a COW rewrite of the
  * [[M4]] partition that re-prices keys ≡ 0 (mod 5) by +5 and
  * inserts clones of keys ≡ 1 (mod 5) under fresh key ids — so the
  * v2→v4 changelog exercises all three change types at once:
  * updates (the re-price), inserts (the clones), deletes (the
  * cohort, surfaced both from the rewritten partition's pre/post
  * diff and from the mask walk over shared files).
  */
object Relational17 extends graft.QueryModule {

  private[graft] val COHORT = 7L     // deleted customers: custkey % 10
  private[graft] val M4 = "1997-03"  // the v4 rewritten month
  private[graft] val M6 = "1995-09"  // the v6 schema-evolution month
  private[graft] val KEY_SHIFT = 100000000L

  private val cache = Materialized[String]()

  /** Tranche-16's snapshot table extended to v3 (MOR cohort delete)
    * and v4 (partial COW re-price + inserts). q62/q63 pin versions
    * 1-2 and are untouched by the extension. */
  private[graft] def snapV4(s: SparkSession, dir: String): String =
    cache(s, dir) {
      import s.implicits._
      val path = Relational16.snapshotOrdersPath(s, dir)
      if (SnapshotTable.currentVersion(path) < 3) {
        val cohort = graft.Tables.load(s, dir, "orders")
          .filter(pmod($"o_custkey", lit(10)) === COHORT)
          .select($"o_orderkey")
        SnapshotTable.commitDeletes(s, path, cohort, "o_orderkey")
        val visible = SnapshotTable.readVersionMor(s, path, 3, "o_orderkey")
          .filter($"om" === M4)
        val reprice = visible
          .filter(pmod($"o_orderkey", lit(5)) === 0)
          .withColumn("o_totalprice", $"o_totalprice" + 5.0)
        val clones = visible
          .filter(pmod($"o_orderkey", lit(5)) === 1)
          .withColumn("o_orderkey", $"o_orderkey" + KEY_SHIFT)
          .withColumn("o_totalprice", $"o_totalprice" + 11.0)
        SnapshotTable.upsertPartition(s, path,
          reprice.unionByName(clones), "om", "o_orderkey", "o_orderkey",
          Some("o_custkey"))
        // v5: compaction — folds the cohort mask into the data and
        // collapses the 8-files-per-month ingest layout
        SnapshotTable.compactCommit(s, path, "om", "o_orderkey",
          "o_orderkey", Some("o_custkey"))
        // v6: SCHEMA EVOLUTION — the M6 partition rewrite carries a
        // NEW column; every other partition's files never move, and
        // v6's committed DDL null-fills them at read time
        val m6 = SnapshotTable.readVersionMor(s, path, 5, "o_orderkey")
          .filter($"om" === M6)
          .withColumn("o_channel", element_at(
            array(lit("web"), lit("store"), lit("app")),
            (pmod($"o_orderkey", lit(3)) + 1).cast("int")))
        SnapshotTable.upsertPartition(s, path, m6, "om", "o_orderkey",
          "o_orderkey", Some("o_custkey"))
      }
      path
    }

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  /** Monthly order economics at v3, MERGE-ON-READ: every data file
    * is v2's by reference (the spec proves byte-identical manifests
    * on the data side); the cohort's rows vanish via one broadcast
    * anti-join against the key-sized delete file. The oracle states
    * the v2 re-price minus the cohort — a mask leak in either
    * direction (masking too much, or resurrecting a key) breaks the
    * hash. */
  def q64(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = snapV4(s, dir)
    SnapshotTable.readVersionMor(s, path, 3, "o_orderkey")
      .groupBy($"om".cast("string").as("om"))
      .agg(count(lit(1)).as("n"), sum(cents($"o_totalprice")).as("sum_cents"))
      .orderBy($"om")
  }

  private val q64Oracle =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS om,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(round((o_totalprice +
       |    CASE WHEN strftime(o_orderdate, '%Y-%m') = '${Relational16.Q62_MONTH}'
       |    THEN 2 ELSE 0 END) * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       |FROM orders WHERE o_custkey % 10 <> $COHORT
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The v2 → v4 row-level changelog, summarized per change type
    * (count + signed cents impact). All three types surface in one
    * scan plan: `update` = the [[M4]] re-price (post−pre cents),
    * `insert` = the cloned keys (post cents), `delete` = the cohort
    * (−pre cents) — cohort rows inside the rewritten partition fall
    * out of the pre/post full-outer join, cohort rows everywhere
    * else out of the delete-mask walk over shared files; the ~4/5 of
    * the rewritten partition that merely got re-materialized is
    * carry-over and must appear NOWHERE. The oracle restates each
    * class from the raw table. */
  def q65(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = snapV4(s, dir)
    SnapshotTable.changesBetween(s, path, 2, 4, "o_orderkey")
      .select($"change_type",
        (coalesce(cents($"post.o_totalprice"), lit(0L)) -
          coalesce(cents($"pre.o_totalprice"), lit(0L))).as("dc"))
      .groupBy($"change_type")
      .agg(count(lit(1)).as("n"), sum($"dc").as("cents_delta"))
      .orderBy($"change_type")
  }

  private val q65Oracle = {
    val q62m = Relational16.Q62_MONTH
    s"""WITH v2 AS (SELECT o_orderkey, o_custkey,
       |    o_totalprice + CASE WHEN strftime(o_orderdate, '%Y-%m') = '$q62m'
       |      THEN 2 ELSE 0 END AS p,
       |    strftime(o_orderdate, '%Y-%m') AS om
       |  FROM orders)
       |SELECT change_type, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(dc) AS BIGINT) AS cents_delta
       |FROM (
       |  SELECT 'delete' AS change_type,
       |    -CAST(round(p * 100) AS BIGINT) AS dc
       |  FROM v2 WHERE o_custkey % 10 = $COHORT
       |  UNION ALL
       |  SELECT 'update',
       |    CAST(round((p + 5) * 100) AS BIGINT)
       |      - CAST(round(p * 100) AS BIGINT)
       |  FROM v2 WHERE om = '$M4' AND o_custkey % 10 <> $COHORT
       |    AND o_orderkey % 5 = 0
       |  UNION ALL
       |  SELECT 'insert', CAST(round((p + 11) * 100) AS BIGINT)
       |  FROM v2 WHERE om = '$M4' AND o_custkey % 10 <> $COHORT
       |    AND o_orderkey % 5 = 1)
       |GROUP BY change_type ORDER BY change_type""".stripMargin
  }

  /** Point lookup by a SCATTERED key, planned from the manifests'
    * per-file BLOOM index: every order of one customer (the probe is
    * min(o_custkey), derived deterministically so it exists at every
    * SF). The fixture's month × key-range layout makes o_custkey
    * orthogonal to both the partition and the stats column — min/max
    * covers the probe in EVERY file, so range stats skip nothing and
    * only the bloom's "certainly not here" answers can prune
    * ([[SnapshotTable.readVersionBloomPruned]]; skip rate
    * spec-asserted). Blooms only prune — the row filter still
    * decides membership, so a false positive costs a redundant read,
    * never a wrong row; no-false-negative is the spec's other half.
    * Runs against v2 so the lookup composes with time travel. */
  def q66(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = snapV4(s, dir)
    val probe = graft.Tables.load(s, dir, "orders")
      .agg(min($"o_custkey")).collect()(0).getLong(0)
    val (df, _, _) = SnapshotTable.readVersionBloomPruned(
      s, path, 2, "o_custkey", probe)
    df.groupBy($"o_custkey")
      .agg(count(lit(1)).as("n"), sum(cents($"o_totalprice")).as("sum_cents"))
      .orderBy($"o_custkey")
  }

  private val q66Oracle =
    s"""SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(round((o_totalprice +
       |    CASE WHEN strftime(o_orderdate, '%Y-%m') = '${Relational16.Q62_MONTH}'
       |    THEN 2 ELSE 0 END) * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       |FROM orders
       |WHERE o_custkey = (SELECT min(o_custkey) FROM orders)
       |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Monthly economics AFTER compaction (v5): the maintenance pass
    * must be invisible to content — same truth as reading v4
    * merge-on-read, now from ~one sorted file per month with the
    * cohort mask FOLDED IN and dropped from the manifest (the spec
    * asserts the file-count collapse, the empty delete manifest, the
    * per-file sort, and that v3/v4 time travel still works). The
    * oracle restates the v4 visible state from the raw table:
    * re-price (v2) minus cohort (v3) with the [[M4]] re-price and
    * clone inserts (v4). */
  def q67(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = snapV4(s, dir)
    SnapshotTable.readVersionMor(s, path, 5, "o_orderkey")
      .groupBy($"om".cast("string").as("om"))
      .agg(count(lit(1)).as("n"), sum(cents($"o_totalprice")).as("sum_cents"))
      .orderBy($"om")
  }

  private val q67Oracle = {
    val q62m = Relational16.Q62_MONTH
    s"""WITH v2 AS (SELECT o_orderkey, o_custkey,
       |    o_totalprice + CASE WHEN strftime(o_orderdate, '%Y-%m') = '$q62m'
       |      THEN 2 ELSE 0 END AS p,
       |    strftime(o_orderdate, '%Y-%m') AS om
       |  FROM orders),
       |vis AS (SELECT om, o_orderkey, p FROM v2
       |  WHERE o_custkey % 10 <> $COHORT),
       |v4 AS (
       |  SELECT om, CASE WHEN om = '$M4' AND o_orderkey % 5 = 0
       |    THEN p + 5 ELSE p END AS p FROM vis
       |  UNION ALL
       |  SELECT om, p + 11 FROM vis WHERE om = '$M4' AND o_orderkey % 5 = 1)
       |SELECT om, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       |FROM v4 GROUP BY om ORDER BY om""".stripMargin
  }

  /** CDC-DRIVEN incremental rollup — the changelog actually consumed:
    * the frozen v2 monthly rollup (the q57 "state" role) is advanced
    * to v4 truth by FOLDING IN [[SnapshotTable.changesBetween]]'s
    * row-level changes (insert → +1/+cents, delete → −1/−cents,
    * update → cents delta only), one tiny full-outer merge on the
    * month key — and the oracle is the same DIRECT v4 restatement
    * q67 uses, so the hash compare proves state ⊕ changelog ≡
    * recompute. This is the consumption contract that makes q65 more
    * than a report: at 100 TB the rollup never re-reads the table,
    * it reads commit-sized changelogs (the d14/d19 ingest economics
    * applied to aggregates; carry-over suppression in the changelog
    * is what makes the fold correct — a false update would double-
    * count its month). */
  def q69(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = snapV4(s, dir)
    val state = SnapshotTable.readVersion(s, path, 2)
      .groupBy($"om".cast("string").as("om"))
      .agg(count(lit(1)).as("n0"), sum(cents($"o_totalprice")).as("c0"))
    val delta = SnapshotTable.changesBetween(s, path, 2, 4, "o_orderkey")
      .select(
        coalesce($"post.om", $"pre.om").cast("string").as("om"),
        when($"change_type" === "insert", 1L)
          .when($"change_type" === "delete", -1L).otherwise(0L).as("dn"),
        (coalesce(cents($"post.o_totalprice"), lit(0L)) -
          coalesce(cents($"pre.o_totalprice"), lit(0L))).as("dc"))
      .groupBy($"om").agg(sum($"dn").as("dn"), sum($"dc").as("dc"))
    state.join(delta, Seq("om"), "full_outer")
      .select($"om",
        (coalesce($"n0", lit(0L)) + coalesce($"dn", lit(0L))).as("n"),
        (coalesce($"c0", lit(0L)) + coalesce($"dc", lit(0L)))
          .as("sum_cents"))
      .filter($"n" > 0)
      .orderBy($"om")
  }

  /** Per-channel economics at v6, across the SCHEMA BOUNDARY: the
    * `o_channel` column exists only in the [[M6]] partition's
    * rewritten files; every other file predates the column and is
    * null-filled by v6's committed DDL at read time (coalesced to
    * 'none' so the group key needs no cross-engine null-ordering
    * contract). The oracle restates channel assignment and the v4
    * price state from the raw table — a reader that dropped the old
    * files' rows, resurrected the phantom column at v5, or lost the
    * new column's values breaks the hash. Schema evolution costs one
    * partition rewrite + a DDL line, never a table rewrite. */
  def q68(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = snapV4(s, dir)
    SnapshotTable.readVersion(s, path, 6)
      .select(coalesce($"o_channel", lit("none")).as("o_channel"),
        cents($"o_totalprice").as("c"))
      .groupBy($"o_channel")
      .agg(count(lit(1)).as("n"), sum($"c").as("sum_cents"))
      .orderBy($"o_channel")
  }

  private val q68Oracle = {
    val q62m = Relational16.Q62_MONTH
    s"""WITH v2 AS (SELECT o_orderkey, o_custkey,
       |    o_totalprice + CASE WHEN strftime(o_orderdate, '%Y-%m') = '$q62m'
       |      THEN 2 ELSE 0 END AS p,
       |    strftime(o_orderdate, '%Y-%m') AS om
       |  FROM orders),
       |vis AS (SELECT om, o_orderkey, p FROM v2
       |  WHERE o_custkey % 10 <> $COHORT),
       |v4 AS (
       |  SELECT om, o_orderkey,
       |    CASE WHEN om = '$M4' AND o_orderkey % 5 = 0
       |      THEN p + 5 ELSE p END AS p FROM vis
       |  UNION ALL
       |  SELECT om, o_orderkey + $KEY_SHIFT, p + 11 FROM vis
       |  WHERE om = '$M4' AND o_orderkey % 5 = 1),
       |ch AS (SELECT CASE WHEN om = '$M6'
       |    THEN CASE o_orderkey % 3 WHEN 0 THEN 'web' WHEN 1 THEN 'store'
       |      ELSE 'app' END
       |    ELSE 'none' END AS o_channel, p
       |  FROM v4)
       |SELECT o_channel, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       |FROM ch GROUP BY o_channel ORDER BY o_channel""".stripMargin
  }

  private[graft] val Q70_LO = 100L
  private[graft] val Q70_HI = 2000L

  /** The snapshot table through the REGISTERED DATA SOURCE
    * (`spark.read.format("graft-snapshot")` —
    * [[graft.sources.SnapshotSource]]): key-range economics at the
    * compacted v5, with the range predicate PUSHED by Catalyst into
    * the relation, which turns it into manifest-stats file pruning
    * before any file opens (q63's lever behind the standard format
    * API, where any Spark consumer — SQL views included — picks it
    * up without knowing the library exists). Stats only prune; the
    * re-applied row filter decides membership — which also makes the
    * LAYOUT trade visible: v5's one-sorted-file-per-month compaction
    * gives each file a full-keyspace range, so here the range
    * conjunct survives to the row filter while v2's 8-way key-sliced
    * ingest layout skips most files (the spec asserts both; q54's
    * Z-order is the lever that buys locality on both dimensions at
    * once). Oracle states the v4 visible truth over the key range. */
  def q70(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = snapV4(s, dir)
    s.read.format("graft-snapshot")
      .option("path", path).option("version", "5")
      .option("statsCol", "o_orderkey")
      .load()
      .filter($"o_orderkey" >= Q70_LO && $"o_orderkey" <= Q70_HI)
      .groupBy($"om".cast("string").as("om"))
      .agg(count(lit(1)).as("n"), sum(cents($"o_totalprice")).as("sum_cents"))
      .orderBy($"om")
  }

  private val q70Oracle = {
    val q62m = Relational16.Q62_MONTH
    s"""WITH v2 AS (SELECT o_orderkey, o_custkey,
       |    o_totalprice + CASE WHEN strftime(o_orderdate, '%Y-%m') = '$q62m'
       |      THEN 2 ELSE 0 END AS p,
       |    strftime(o_orderdate, '%Y-%m') AS om
       |  FROM orders),
       |vis AS (SELECT om, o_orderkey, p FROM v2
       |  WHERE o_custkey % 10 <> $COHORT),
       |v4 AS (
       |  SELECT om, o_orderkey,
       |    CASE WHEN om = '$M4' AND o_orderkey % 5 = 0
       |      THEN p + 5 ELSE p END AS p FROM vis
       |  UNION ALL
       |  SELECT om, o_orderkey + $KEY_SHIFT, p + 11 FROM vis
       |  WHERE om = '$M4' AND o_orderkey % 5 = 1)
       |SELECT om, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       |FROM v4 WHERE o_orderkey BETWEEN $Q70_LO AND $Q70_HI
       |GROUP BY om ORDER BY om""".stripMargin
  }

  private[graft] val M71 = "1996-08" // the q71 re-priced month

  private val vacCache = Materialized[(String, Int, Int)]()

  /** A dedicated snapshot table (the SHARED fixture must keep its
    * history — q62/q64 time-travel into it) built, upserted, then
    * VACUUMED: [[SnapshotTable.expireVersions]] drops v1's manifest
    * and every file only v1 referenced. Returns (path, deleted,
    * kept) so the spec can assert the orphan sweep. */
  private[graft] def vacuumedOrders(s: SparkSession, dir: String)
      : (String, Int, Int) =
    vacCache(s, dir) {
      import s.implicits._
      val out = Materialized.tempDir("graft-vac")
      val base = graft.Tables.load(s, dir, "orders")
        .withColumn("om", date_format($"o_orderdate", "yyyy-MM"))
        .filter($"om" < "1997-01")
        .repartitionByRange(4, $"o_orderkey")
      SnapshotTable.init(s, base, out.toString, "om", "o_orderkey")
      val delta = base.filter($"om" === M71)
        .withColumn("o_totalprice", $"o_totalprice" + 3.0)
      SnapshotTable.upsertPartition(s, out.toString, delta, "om",
        "o_orderkey", "o_orderkey")
      val (del, kept) = SnapshotTable.expireVersions(s, out.toString, 2)
      (out.toString, del, kept)
    }

  /** Monthly economics AFTER vacuum: v1's history is gone by design,
    * v2 must read byte-for-byte what it read before the sweep — a
    * reachability bug in either direction (deleting a shared file v2
    * still names, or keeping the whole v1 partition alive) breaks
    * the hash or the spec's orphan count. The oracle restates the
    * re-priced truth from the raw table. */
  def q71(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (path, _, _) = vacuumedOrders(s, dir)
    SnapshotTable.readVersion(s, path, 2)
      .groupBy($"om".cast("string").as("om"))
      .agg(count(lit(1)).as("n"), sum(cents($"o_totalprice")).as("sum_cents"))
      .orderBy($"om")
  }

  private val q71Oracle =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS om,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(round((o_totalprice +
       |    CASE WHEN strftime(o_orderdate, '%Y-%m') = '$M71'
       |    THEN 3 ELSE 0 END) * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       |FROM orders WHERE strftime(o_orderdate, '%Y-%m') < '1997-01'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q64_mor_delete" -> (q64 _),
    "q65_snapshot_cdc" -> (q65 _),
    "q66_bloom_point_lookup" -> (q66 _),
    "q67_compacted_mor" -> (q67 _),
    "q68_schema_evolution" -> (q68 _),
    "q69_cdc_incremental_rollup" -> (q69 _),
    "q70_snapshot_source" -> (q70 _),
    "q71_vacuumed_read" -> (q71 _),
  )

  val oracles: Map[String, String] = Map(
    "q64_mor_delete" -> q64Oracle,
    "q65_snapshot_cdc" -> q65Oracle,
    "q66_bloom_point_lookup" -> q66Oracle,
    "q67_compacted_mor" -> q67Oracle,
    "q68_schema_evolution" -> q68Oracle,
    // deliberately the DIRECT v4 restatement: the hash compare proves
    // state ⊕ changelog ≡ recompute
    "q69_cdc_incremental_rollup" -> q67Oracle,
    "q70_snapshot_source" -> q70Oracle,
    "q71_vacuumed_read" -> q71Oracle,
  )
}
