package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{SnapshotTable, TableMaintenance}

/** Twenty-first tranche — the lakehouse MAINTENANCE LOOP (r12 verdict
  * #5): tranches 16-20 shipped the verbs (compaction, vacuum, MOR
  * deletes, spec evolution); q79 drives them from a POLICY
  * ([[graft.sources.TableMaintenance]]) and audits the converged
  * state end-to-end — per-partition content preserved through the
  * rewrite, every partition at one file, delete masks retired,
  * history bounded. The decision pass reads manifests only
  * (driver-side metadata, the Iceberg planning stance); the one data
  * pass is the compaction rewrite itself.
  *
  * The reference has no table format or maintenance
  * (`/root/reference/src/Datalake2Anomali.py:246-253`); this extends
  * the SURVEY §7.2 lakehouse tier, with
  * [[graft.streaming.SnapshotIngest.startMaintained]] as its live
  * face.
  */
object Relational21 extends graft.QueryModule {

  /** Task = order-key parity — the one way to pin a file layout with
    * NO sampled bounds and no optimizer discretion (see
    * [[maintFixture]]). */
  private class ParityPartitioner extends org.apache.spark.Partitioner {
    def numPartitions: Int = 2
    def getPartition(key: Any): Int = key.asInstanceOf[Long].toInt
  }

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    graft.Tables.load(s, dir, n)

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  /** The GDPR cohort the fixture's MOR delete removes (custkey mod
    * 10) — distinct from Relational17's 7 so the two lifecycle
    * fixtures can never be confused. */
  private[graft] val MAINT_COHORT = 3L

  private val maintCache = Materialized[(String, Seq[TableMaintenance.Action])]()

  /** A DEDICATED fixture (the q71/q75 convention — maintenance
    * destroys history, so the shared q62-q78 table must never see
    * it): v1 = orders by month, deliberately FRAGMENTED with an
    * EXACTLY DERIVABLE layout — an explicit parity Partitioner puts
    * every row in the task of its order-key's parity (no sampling, no
    * optimizer collapse: a union of two coalesce(1) halves measured
    * back as ONE partition — Catalyst collapses it — hence the RDD
    * detour), so each month lands as exactly
    * `count(DISTINCT o_orderkey % 2)` files — a quantity the q80
    * oracle restates from raw rows, robust even to a one-row month at
    * the smallest SF;
    * v2 = a MOR cohort delete (mask, zero rewrite); then ONE
    * maintenance pass under the default policy (1 file/partition,
    * keep 1 version) compacts every reachable partition, retires the
    * mask, and vacuums v1-v2. Returned with the action report. */
  private[graft] def maintFixture(s: SparkSession, dir: String)
      : (String, Seq[TableMaintenance.Action]) =
    maintCache(s, dir) {
      import s.implicits._
      val out = Materialized.tempDir("graft-maint")
      val base = t(s, dir, "orders")
        .withColumn("om", date_format($"o_orderdate", "yyyy-MM"))
      val frag = s.createDataFrame(
        base.rdd.map(r => (r.getAs[Long]("o_orderkey") % 2, r))
          .partitionBy(new ParityPartitioner).values,
        base.schema)
      SnapshotTable.init(s, frag, out.toString, "om", "o_orderkey")
      val cohort = t(s, dir, "orders")
        .filter(pmod($"o_custkey", lit(10)) === MAINT_COHORT)
        .select($"o_orderkey")
      SnapshotTable.commitDeletes(s, out.toString, cohort, "o_orderkey")
      val report = TableMaintenance.runOnce(s, out.toString,
        "om", "o_orderkey", "o_orderkey")
      (out.toString, report)
    }

  /** Post-maintenance audit of the converged table, one row per
    * month: surviving row count and exact cents (the cohort's rows
    * are GONE — the mask folded into data by the rewrite), plus the
    * metadata the policy promises — one file per partition, one live
    * version, zero live masks. The metadata columns come from the
    * actual manifest walk, so the oracle's constants are real
    * assertions: a compaction that left a partition fragmented, a
    * mask alive, or history unpruned hash-mismatches. */
  def q79(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (path, _) = maintFixture(s, dir)
    val cur = SnapshotTable.currentVersion(path)
    val filesPerMonth = SnapshotTable.manifest(path, cur)
      .groupBy(_.rel.split("/").head.split("=")(1))
      .map { case (m, fs) => (m, fs.size.toLong) }.toSeq
    val masks =
      SnapshotTable.deleteManifest(path, cur).count(_.rows > 0).toLong
    val live = SnapshotTable.liveVersions(path).size.toLong
    val meta = filesPerMonth.toDF("om", "n_files")
    SnapshotTable.readVersionMor(s, path, cur, "o_orderkey")
      .groupBy($"om")
      .agg(count(lit(1)).as("n_rows"),
        sum(cents($"o_totalprice")).as("sum_cents"))
      .join(broadcast(meta), Seq("om"))
      .select($"om", $"n_rows", $"sum_cents", $"n_files",
        lit(live).as("n_versions"), lit(masks).as("n_masks"))
      .orderBy($"om")
  }

  private val q79Oracle =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS om,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |    AS sum_cents,
       |  CAST(1 AS BIGINT) AS n_files,
       |  CAST(1 AS BIGINT) AS n_versions,
       |  CAST(0 AS BIGINT) AS n_masks
       |FROM orders WHERE o_custkey % 10 <> $MAINT_COHORT
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The maintenance pass's ACTION REPORT itself, oracle-checked
    * (the q79-style metadata audit the r12 verdict asked for): one
    * row per action taken with its metric before/after. The fixture's
    * parity-split layout makes every number a first-principles
    * restatement over raw orders — `compact` went from
    * Σ per-month count(DISTINCT key parity) files (every month is
    * mask-reachable, so all rewrite) to one file per month that
    * still has VISIBLE rows (a month whose rows are all in the
    * deleted cohort vanishes with the rewrite), `retire_masks` ended
    * the one cohort mask, `vacuum` took the three-version history
    * (init, delete, compaction) down to one. A policy loop that
    * compacted too little, dropped the wrong mask, or kept the wrong
    * history hash-mismatches here even if the data content survives. */
  def q80(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, report) = maintFixture(s, dir)
    report.map(a => (a.action, a.before, a.after))
      .toDF("action", "n_before", "n_after")
      .orderBy($"action")
  }

  private val q80Oracle =
    s"""WITH m AS (SELECT CAST(sum(np) AS BIGINT) AS files_before FROM (
       |    SELECT count(DISTINCT o_orderkey % 2) AS np FROM orders
       |    GROUP BY strftime(o_orderdate, '%Y-%m'))),
       |mv AS (SELECT CAST(count(DISTINCT strftime(o_orderdate, '%Y-%m'))
       |    AS BIGINT) AS vis_m FROM orders
       |  WHERE o_custkey % 10 <> $MAINT_COHORT)
       |SELECT 'compact' AS action, files_before AS n_before,
       |  vis_m AS n_after FROM m, mv
       |UNION ALL SELECT 'retire_masks', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
       |UNION ALL SELECT 'vacuum', CAST(3 AS BIGINT), CAST(1 AS BIGINT)
       |ORDER BY action""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q79_maintenance_loop" -> (q79 _),
    "q80_maintenance_report" -> (q80 _),
  )

  val oracles: Map[String, String] = Map(
    "q79_maintenance_loop" -> q79Oracle,
    "q80_maintenance_report" -> q80Oracle,
  )
}
