package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** Twentieth tranche — the two snapshot-table lifecycle moves that
  * remained prose after tranches 16-17 built versions, deletes, CDC,
  * compaction, schema evolution, and vacuum:
  *
  *  - q75: WRITE-AUDIT-PUBLISH — unvalidated data enters the lake on
  *    a BRANCH (full write cost, zero visibility), audit queries run
  *    against the branch read, and publish is one atomic metadata
  *    rename; a failed audit drops the branch and the lake is as if
  *    it never happened (Iceberg's WAP / staged-commit pattern);
  *  - q76: PARTITION-SPEC EVOLUTION — new data lands under a FINER
  *    partition spec (month → day) while every historical file
  *    carries over by reference under the old spec; reads reconcile
  *    the specs at scan time and the finer per-file stats windows
  *    buy point-predicate pruning history never had (Iceberg's
  *    `REPLACE PARTITION FIELD`).
  *
  * Both run on DEDICATED fixtures (the q71 convention) so the shared
  * q62-q70 table keeps its pinned history. The reference has no table
  * format at all (`/root/reference/src/Datalake2Anomali.py:246-253`);
  * these complete the SURVEY §7.2 lakehouse tier.
  */
object Relational20 extends graft.QueryModule {

  private[graft] val WAP_MONTH = "1995-06" // the audited re-price month
  private[graft] val BAD_MONTH = "1995-03" // the rejected branch's month
  private[graft] val EVO_MONTH = "1996-01" // the day-spec arrival month

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  private val wapCache = Materialized[String]()
  private val evoCache = Materialized[String]()

  /** The WAP fixture: v1 = 1995 orders by month; a BAD branch (every
    * [[BAD_MONTH]] price negated) is staged, fails its audit
    * (`price ≤ 0` violations), and is DROPPED — then a GOOD branch
    * (+7 on [[WAP_MONTH]] keys ≡ 0 mod 3) is staged, passes the same
    * audit, and is PUBLISHED as v2. The final table must show exactly
    * the audited delta and nothing of the rejected one. */
  private[graft] def wapOrdersPath(s: SparkSession, dir: String): String =
    wapCache(s, dir) {
      import s.implicits._
      val out = Materialized.tempDir("graft-wap")
      val path = out.toString
      val base = graft.Tables.load(s, dir, "orders")
        .withColumn("om", date_format($"o_orderdate", "yyyy-MM"))
        .filter($"om" < "1996-01")
        .repartitionByRange(4, $"o_orderkey")
      SnapshotTable.init(s, base, path, "om", "o_orderkey")
      def violations(branch: String): Long =
        SnapshotTable.readBranch(s, path, branch, "o_orderkey")
          .filter($"o_totalprice" <= 0).count()
      // the rejected branch: a corrupt re-load that negates a month
      val bad = base.filter($"om" === BAD_MONTH)
        .withColumn("o_totalprice", -$"o_totalprice")
      SnapshotTable.stageBranch(s, path, "reload-bad", bad,
        "om", "o_orderkey", "o_orderkey")
      require(violations("reload-bad") > 0, "bad branch must fail audit")
      SnapshotTable.dropBranch(s, path, "reload-bad")
      // the audited branch: +7 on the WAP_MONTH mod-3 cohort
      val good = base.filter($"om" === WAP_MONTH &&
          pmod($"o_orderkey", lit(3)) === 0)
        .withColumn("o_totalprice", $"o_totalprice" + 7.0)
      SnapshotTable.stageBranch(s, path, "reprice-jun", good,
        "om", "o_orderkey", "o_orderkey")
      require(violations("reprice-jun") == 0, "good branch must pass audit")
      SnapshotTable.publishBranch(s, path, "reprice-jun")
      path
    }

  /** Monthly economics of the table AFTER the WAP cycle: the oracle
    * restates the audited re-price from the raw rows, so the hash
    * proves BOTH directions of the gate at once — the published
    * branch applied exactly its audited delta, and the dropped
    * branch leaked nothing (a stray negated [[BAD_MONTH]] row, or a
    * missed [[WAP_MONTH]] re-price, breaks the hash). */
  def q75(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = wapOrdersPath(s, dir)
    SnapshotTable.readVersion(s, path, 2)
      .groupBy($"om".cast("string").as("om"))
      .agg(count(lit(1)).as("n"), sum(cents($"o_totalprice")).as("sum_cents"))
      .orderBy($"om")
  }

  private val q75Oracle =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS om,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(round((o_totalprice +
       |    CASE WHEN strftime(o_orderdate, '%Y-%m') = '$WAP_MONTH'
       |         AND o_orderkey % 3 = 0
       |    THEN 7 ELSE 0 END) * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       |FROM orders WHERE strftime(o_orderdate, '%Y-%m') < '1996-01'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The evolution fixture: v1 = 1995 orders partitioned by MONTH
    * with per-file stats on the epoch-day column; v2 appends the
    * [[EVO_MONTH]] arrivals under a DAY spec ([[SnapshotTable
    * .evolveAppend]]) — historical files carry over by reference,
    * and the new files' day-grain stats windows are what
    * [[SnapshotTable.readVersionEvolvedPruned]] prunes with. */
  private[graft] def evolvedOrdersPath(s: SparkSession, dir: String): String =
    evoCache(s, dir) {
      import s.implicits._
      val out = Materialized.tempDir("graft-evo")
      val path = out.toString
      val raw = graft.Tables.load(s, dir, "orders")
        .withColumn("o_dayl", unix_date(to_date($"o_orderdate")).cast("long"))
      val base = raw
        .withColumn("om", date_format($"o_orderdate", "yyyy-MM"))
        .filter($"om" < "1996-01")
        .repartitionByRange(4, $"o_orderkey")
      SnapshotTable.init(s, base, path, "om", "o_dayl")
      val delta = raw
        .filter(date_format($"o_orderdate", "yyyy-MM") === EVO_MONTH)
        .withColumn("od", date_format($"o_orderdate", "yyyy-MM-dd"))
        .repartition($"od")
      SnapshotTable.evolveAppend(s, path, delta, "od", "o_dayl")
      path
    }

  /** Monthly economics across BOTH partition specs in one read: rows
    * landed under `om=` have `od` null and vice versa, so the month
    * derivation is a coalesce over the specs' common key. The oracle
    * restates the union from the raw table — losing a spec group,
    * double-reading a carried-over file, or mis-recovering a
    * partition value breaks the hash. */
  def q76(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = evolvedOrdersPath(s, dir)
    SnapshotTable.readVersionEvolved(s, path, 2)
      .withColumn("m", coalesce($"om".cast("string"),
        substring($"od".cast("string"), 1, 7)))
      .groupBy($"m")
      .agg(count(lit(1)).as("n"), sum(cents($"o_totalprice")).as("sum_cents"))
      .orderBy($"m")
  }

  private val q76Oracle =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS m,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |    AS sum_cents
       |FROM orders WHERE strftime(o_orderdate, '%Y-%m') <= '$EVO_MONTH'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private[graft] val MERGE_MONTH = "1995-09" // the merged change-feed month
  private[graft] val MERGE_SHIFT = 10000000L // insert clones' key offset

  private val mergeCache = Materialized[String]()

  /** The WAP table extended by one MERGE commit (v3): a mixed change
    * feed over [[MERGE_MONTH]] — keys ≡ 0 (mod 7) DELETE, keys ≡ 1
    * UPDATE (+9), and clones of keys ≡ 2 INSERT under shifted ids
    * (+13) — lands in ONE atomic commit via
    * [[SnapshotTable.mergeCommit]]. q75 pins version 2, so extending
    * the shared fixture is safe (the snapV4 convention). */
  private[graft] def mergedOrdersPath(s: SparkSession, dir: String): String =
    mergeCache(s, dir) {
      import s.implicits._
      val path = wapOrdersPath(s, dir)
      if (SnapshotTable.currentVersion(path) < 3) {
        val month = SnapshotTable.readVersion(s, path, 2)
          .filter($"om" === MERGE_MONTH)
        val feed = month.filter(pmod($"o_orderkey", lit(7)) === 0)
            .withColumn("op", lit("D"))
          .unionByName(month.filter(pmod($"o_orderkey", lit(7)) === 1)
            .withColumn("o_totalprice", $"o_totalprice" + 9.0)
            .withColumn("op", lit("U")))
          .unionByName(month.filter(pmod($"o_orderkey", lit(7)) === 2)
            .withColumn("o_orderkey", $"o_orderkey" + MERGE_SHIFT)
            .withColumn("o_totalprice", $"o_totalprice" + 13.0)
            .withColumn("op", lit("U")))
        SnapshotTable.mergeCommit(s, path, feed, "op", "om",
          "o_orderkey", "o_orderkey")
      }
      path
    }

  /** Monthly economics after the MERGE commit: deletes, updates, and
    * inserts from one feed, one version bump. The oracle restates the
    * post-merge truth from raw rows (v2's audited re-price and the
    * merge's changes live in different months, stated independently), so
    * the hash catches a leaked delete, a missed update, a double-
    * applied insert, or a non-atomic partial application. */
  def q78(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = mergedOrdersPath(s, dir)
    SnapshotTable.readVersion(s, path, 3)
      .groupBy($"om".cast("string").as("om"))
      .agg(count(lit(1)).as("n"), sum(cents($"o_totalprice")).as("sum_cents"))
      .orderBy($"om")
  }

  private lazy val q78Oracle =
    s"""WITH base AS (SELECT o_orderkey,
       |    strftime(o_orderdate, '%Y-%m') AS om, o_totalprice
       |  FROM orders WHERE strftime(o_orderdate, '%Y-%m') < '1996-01'),
       |kept AS (SELECT om,
       |    CASE WHEN om = '$WAP_MONTH' AND o_orderkey % 3 = 0
       |           THEN o_totalprice + 7
       |         WHEN om = '$MERGE_MONTH' AND o_orderkey % 7 = 1
       |           THEN o_totalprice + 9
       |         ELSE o_totalprice END AS p
       |  FROM base
       |  WHERE NOT (om = '$MERGE_MONTH' AND o_orderkey % 7 = 0)),
       |ins AS (SELECT om, o_totalprice + 13 AS p FROM base
       |  WHERE om = '$MERGE_MONTH' AND o_orderkey % 7 = 2),
       |u AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
       |SELECT om, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       |FROM u GROUP BY om ORDER BY om""".stripMargin

  /** DESCRIBE HISTORY over the shared v1-v6 lifecycle fixture: per
    * version, the manifest's RAW row count (sum of per-file stats —
    * masked rows included until a rewrite physically removes them),
    * the live delete-mask key count, and the committed DDL's column
    * count. PURE METADATA — the frame is a manifest walk, zero data
    * files opened (spec-asserted: no parquet scan in the plan), which
    * is the lakehouse promise: table history costs the layout, not
    * the data. The oracle restates every number from first principles
    * over the raw table — v4's count carries the partial-rewrite
    * algebra (M4's cohort rows physically gone, clones added), v5's
    * the compaction fold (all cohort rows gone, masks ended), v6 adds
    * the evolved column — so the hash audits the manifest bookkeeping
    * of init, COW, MOR delete, partial rewrite, compaction, and
    * schema evolution in one row set. */
  def q77(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = Relational17.snapV4(s, dir)
    val rows = (1 to SnapshotTable.currentVersion(path)).map { v =>
      val m = SnapshotTable.manifest(path, v)
      val d = SnapshotTable.deleteManifest(path, v)
      val cols = SnapshotTable.versionSchema(path, v)
        .map(org.apache.spark.sql.types.StructType.fromDDL(_).size.toLong)
        .getOrElse(0L)
      (v.toLong, m.map(_.rows).sum, d.map(_.rows).sum, cols)
    }
    rows.toDF("version", "n_rows", "n_delete_keys", "n_cols")
      .orderBy($"version")
  }

  private lazy val q77Oracle = {
    val coh = Relational17.COHORT
    val m4 = Relational17.M4
    s"""WITH c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
       |coh AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders
       |  WHERE o_custkey % 10 = $coh),
       |m4c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders
       |  WHERE strftime(o_orderdate, '%Y-%m') = '$m4'
       |    AND o_custkey % 10 = $coh),
       |cl AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders
       |  WHERE strftime(o_orderdate, '%Y-%m') = '$m4'
       |    AND o_custkey % 10 <> $coh AND o_orderkey % 5 = 1)
       |SELECT CAST(1 AS BIGINT) AS version, c.n AS n_rows,
       |  CAST(0 AS BIGINT) AS n_delete_keys, CAST(7 AS BIGINT) AS n_cols
       |FROM c
       |UNION ALL SELECT 2, c.n, 0, 7 FROM c
       |UNION ALL SELECT 3, c.n, coh.n, 7 FROM c, coh
       |UNION ALL SELECT 4, c.n - m4c.n + cl.n, coh.n, 7
       |  FROM c, coh, m4c, cl
       |UNION ALL SELECT 5, c.n - coh.n + cl.n, 0, 7 FROM c, coh, cl
       |UNION ALL SELECT 6, c.n - coh.n + cl.n, 0, 8 FROM c, coh, cl
       |ORDER BY version""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q75_wap_publish" -> (q75 _),
    "q76_partition_evolution" -> (q76 _),
    "q77_table_history" -> (q77 _),
    "q78_merge_commit" -> (q78 _),
  )

  val oracles: Map[String, String] = Map(
    "q75_wap_publish" -> q75Oracle,
    "q76_partition_evolution" -> q76Oracle,
    "q77_table_history" -> q77Oracle,
    "q78_merge_commit" -> q78Oracle,
  )
}
