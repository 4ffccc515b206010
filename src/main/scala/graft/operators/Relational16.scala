package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextOps.hash64
import graft.functions.NativeKernels.word_tokens

/** Sixteenth tranche — table-maintenance and corpus-selection shapes
  * a 100 TB stack runs on a schedule, each oracle-checked:
  *
  *  - q61: small-file COMPACTION — the maintenance pass that undoes
  *    ingest fragmentation (q56/q58/q59/q60 prove layout levers; this
  *    proves the job that keeps a layout healthy, content-invariant
  *    under the oracle while the spec counts the files);
  *  - q62: snapshot TIME TRAVEL — manifest-committed versions with
  *    file sharing ([[graft.sources.SnapshotTable]]); the query reads
  *    BOTH versions of an upserted table in one plan, something q59's
  *    in-place COW physically cannot do;
  *  - q63: MANIFEST-STATS FILE PRUNING — per-file min/max stats ride
  *    in the manifest, so a key-range scan drops dead files in one
  *    driver-side metadata read (Iceberg scan planning; the level
  *    above q56's parquet-footer skipping);
  *  - x09: mergeable HLL sketch SHARDS — per-month DataSketches HLL
  *    states re-aggregated to quarters without rescanning rows (the
  *    sketch-table pattern: x01 proved the one-shot estimate, this
  *    proves the union algebra on stored sketch state);
  *  - t43: DSIR importance weights (Xie et al. 2023, "Data Selection
  *    for Language Models via Importance Resampling") — hashed n-gram
  *    bucket log-ratios between a target domain and the raw corpus,
  *    the principled domain-upsampling score a pretraining pipeline
  *    computes per document.
  *
  * The reference ships none of these (it is an IOC ETL bridge,
  * `/root/reference/src/Datalake2Anomali.py:1-449`); they extend the
  * SURVEY §7.2 surface alongside tranches 1-15.
  */
object Relational16 extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private def om(c: org.apache.spark.sql.Column) = date_format(c, "yyyy-MM")

  // ---- q61: small-file compaction ----------------------------------

  private val compactCache = Materialized[(String, Long, Long)]()

  /** Orders written DELIBERATELY fragmented (16 round-robin tasks ×
    * ~80 month partitions ≈ 16 files per partition — the shape a
    * micro-batched ingest leaves behind), then compacted by
    * [[graft.sources.FileFormats.compactPartitioned]]: one range
    * exchange on (month, order key), ~one sorted file per partition.
    * Returned with the before/after file counts so the spec can
    * assert the file-count collapse AND the per-file sort; the ORACLE
    * asserts the part nothing about the layout can excuse — content
    * invariance. */
  private[graft] def compactedOrders(s: SparkSession, dir: String)
      : (String, Long, Long) =
    compactCache(s, dir) {
      import s.implicits._
      val out = Materialized.tempDir("graft-compact")
      t(s, dir, "orders").withColumn("om", om($"o_orderdate"))
        .repartition(16)
        .write.mode("overwrite").partitionBy("om").parquet(out.toString)
      val (before, after) = graft.sources.FileFormats.compactPartitioned(
        s, out.toString, "om", "o_orderkey", maxRecordsPerFile = 200000L)
      (out.toString, before, after)
    }

  /** Monthly order economics over the COMPACTED layout — must equal
    * the same aggregate over the original table (the q56/q59
    * layout-invariance discipline: the oracle checks content, the
    * spec checks which bytes moved and that far fewer files hold
    * them). Exact integer measures, no rounding gate. */
  def q61(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.parquet(compactedOrders(s, dir)._1)
      .groupBy($"om".cast("string").as("om"))
      .agg(count(lit(1)).as("n"),
        sum(round($"o_totalprice" * 100).cast("long")).as("sum_cents"))
      .orderBy($"om")
  }

  private val q61Oracle =
    """SELECT strftime(o_orderdate, '%Y-%m') AS om,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q62: snapshot time travel -----------------------------------

  private[graft] val Q62_MONTH = "1996-06"

  private val snapCache = Materialized[String]()

  /** Orders as a [[graft.sources.SnapshotTable]]: v1 = the base
    * table range-partitioned 8 ways on the order key before the
    * partitioned write (so every data file covers one month × one
    * narrow key range — the layout that makes manifest stats bite),
    * v2 = a COW upsert re-pricing every [[Q62_MONTH]] order (+2).
    * Both versions stay readable — v2's manifest shares every
    * untouched partition's files with v1's by reference (the spec
    * proves the sharing). */
  private[graft] def snapshotOrdersPath(s: SparkSession, dir: String): String =
    snapCache(s, dir) {
      import s.implicits._
      val out = Materialized.tempDir("graft-snap")
      val base = t(s, dir, "orders").withColumn("om", om($"o_orderdate"))
        .repartitionByRange(8, $"o_orderkey")
      graft.sources.SnapshotTable.init(
        s, base, out.toString, "om", "o_orderkey", Some("o_custkey"))
      val delta = base.filter($"om" === Q62_MONTH)
        .withColumn("o_totalprice", $"o_totalprice" + 2.0)
      graft.sources.SnapshotTable.upsertPartition(
        s, out.toString, delta, "om", "o_orderkey", "o_orderkey",
        Some("o_custkey"))
      out.toString
    }

  /** Monthly economics AT BOTH VERSIONS of the upserted snapshot
    * table in one plan — version 1 read AFTER version 2 committed
    * (time travel), version 2 proving the upsert semantics. The
    * oracle states v1 = the original table and v2 = the re-price
    * applied in SQL; a manifest bug in either direction (v1 seeing
    * new files, v2 missing shared ones) breaks the hash. */
  def q62(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = snapshotOrdersPath(s, dir)
    def at(v: Int): DataFrame =
      graft.sources.SnapshotTable.readVersion(s, path, v)
        .groupBy($"om".cast("string").as("om"))
        .agg(count(lit(1)).as("n"),
          sum(round($"o_totalprice" * 100).cast("long")).as("sum_cents"))
        .select(lit(v.toLong).as("version"), $"om", $"n", $"sum_cents")
    at(1).unionByName(at(2)).orderBy($"version", $"om")
  }

  private val q62Oracle =
    s"""WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS om, o_totalprice
       |  FROM orders)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS version, om, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS sum_cents
       |  FROM m GROUP BY om
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), om, CAST(count(*) AS BIGINT),
       |    CAST(sum(CAST(round((o_totalprice + CASE WHEN om = '$Q62_MONTH'
       |      THEN 2 ELSE 0 END) * 100) AS BIGINT)) AS BIGINT)
       |  FROM m GROUP BY om)
       |ORDER BY version, om""".stripMargin

  // ---- q63: manifest-stats file pruning ----------------------------

  private[graft] val Q63_LO = 100L
  private[graft] val Q63_HI = 600L

  /** Key-range economics over the snapshot table, planned from
    * MANIFEST STATS: [[graft.sources.SnapshotTable.readVersionPruned]]
    * drops every file whose [min, max] misses
    * [[Q63_LO]]..[[Q63_HI]] before Spark lists or opens anything —
    * file skipping decided in one driver-side metadata read, no
    * parquet footers touched (q56 proved footer-level skipping; this
    * is the level ABOVE it, where Iceberg/Delta plan their scans).
    * Runs against v2, so pruning composes with time travel; the
    * oracle states the re-priced truth over the key range, which a
    * stats bug in either direction (pruning a live file, or stats
    * that lie) breaks. The spec asserts the skip rate itself. */
  def q63(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = snapshotOrdersPath(s, dir)
    val (df, _, _) = graft.sources.SnapshotTable.readVersionPruned(
      s, path, 2, "o_orderkey", Q63_LO, Q63_HI)
    df.groupBy($"om".cast("string").as("om"))
      .agg(count(lit(1)).as("n"),
        sum(round($"o_totalprice" * 100).cast("long")).as("sum_cents"))
      .orderBy($"om")
  }

  private val q63Oracle =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS om,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(round((o_totalprice +
       |    CASE WHEN strftime(o_orderdate, '%Y-%m') = '$Q62_MONTH'
       |    THEN 2 ELSE 0 END) * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       |FROM orders WHERE o_orderkey BETWEEN $Q63_LO AND $Q63_HI
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- x09: mergeable HLL sketch shards ----------------------------

  /** Distinct customers per QUARTER computed by UNIONING per-month
    * DataSketches HLL states — never re-touching order rows after
    * the one sharding pass. This is the sketch-TABLE pattern x01's
    * one-shot `approx_count_distinct` can't express: a 100 TB stack
    * materializes tiny per-day/month sketch states once, then
    * answers any rollup period (quarter, year, trailing-90d) by
    * merging states. Oracle: the x01 error-bound trick — exact
    * distinct counts (computed independently here and by DuckDB)
    * plus an `approx_ok` flag the oracle states as literal 1, so the
    * hash compare IS the 5% error contract (lgK=14 ⇒ ~0.8% RSE,
    * deterministic for a fixed input set). */
  def x09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = t(s, dir, "orders").select(
      om($"o_orderdate").as("om"),
      concat(year($"o_orderdate"), lit("-Q"), quarter($"o_orderdate"))
        .as("qtr"),
      $"o_custkey")
    val shards = o.groupBy($"om")
      .agg(expr("hll_sketch_agg(o_custkey, 14)").as("sk"),
        max($"qtr").as("qtr")) // om -> qtr is functional
    val est = shards.groupBy($"qtr")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx"))
    val exact = o.groupBy($"qtr")
      .agg(countDistinct($"o_custkey").as("exact_cust"))
    exact.join(broadcast(est), Seq("qtr"))
      .select($"qtr", $"exact_cust",
        (abs($"approx" - $"exact_cust") / $"exact_cust" <= 0.05)
          .cast("long").as("approx_ok"))
      .orderBy($"qtr")
  }

  private val x09Oracle =
    """SELECT concat(CAST(year(o_orderdate) AS VARCHAR), '-Q',
      |    CAST(quarter(o_orderdate) AS VARCHAR)) AS qtr,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_cust,
      |  CAST(1 AS BIGINT) AS approx_ok
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- t43: DSIR importance weights --------------------------------

  private val DSIR_B = 256 // hashed feature buckets

  /** DSIR importance weight per document (Xie et al. 2023): unigram
    * tokens hash into [[DSIR_B]] buckets; the weight is the doc's
    * log importance ratio Σ_b m_b·(ln p̂_target(b) − ln p̂_raw(b))
    * under add-1-smoothed bucket distributions, target = the `en`
    * slice of the corpus, raw = the whole corpus. Documents that
    * look like the target domain score high; resampling by this
    * weight is how a pretraining pipeline tilts a raw crawl toward
    * a target domain with two cheap counting passes.
    *
    * Shape: ONE tokenize pass feeds the per-(doc, bucket) counts,
    * which are `localCheckpoint`ed (the t39 convention — the three
    * consumers project different column sets, so ReusedExchange can
    * never unify them and the un-checkpointed plan re-tokenizes the
    * corpus three times; the executed plan before the fix, as
    * `graft.Probe`'s plans file shows it: 3 scans, 0 reused
    * exchanges). The target and raw bucket
    * tables derive from THAT frame, collapse to ≤ 256 rows, and
    * come back as a broadcast — so the corpus is scanned once, and
    * the weight join adds zero data-sized shuffles beyond the
    * (doc, bucket) aggregate. At 100 TB the checkpointed frame is
    * ~#docs·min(doclen, 256) rows of integers (orders of magnitude
    * under the token stream), and the bucket table is the reusable
    * artifact: score any new corpus against frozen target/raw
    * tables without touching the old data.
    *
    * Determinism: bucket counts are exact integers; the four ln
    * terms are ln of exact-integer doubles (the t18 discipline) and
    * round(4) absorbs summation-order ulps. */
  def t43(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feat = t(s, dir, "documents")
      .select($"doc_id", $"lang", explode(word_tokens($"text")).as("tok"))
      .select($"doc_id", $"lang", pmod(hash64($"tok"), lit(DSIR_B)).as("b"))
    val db = feat.groupBy($"doc_id", $"b")
      .agg(count(lit(1)).as("m"), max($"lang").as("lang")) // doc -> lang
      .localCheckpoint()
    val buckets = db.groupBy($"b").agg(
      sum($"m").as("r"),
      sum(when($"lang" === "en", $"m").otherwise(0L)).as("tc"))
    val totals = buckets.agg(sum($"r").as("rr"), sum($"tc").as("tt"))
    val ratio = buckets.crossJoin(totals).select($"b",
      (log($"tc" + 1) - log($"tt" + DSIR_B)
        - log($"r" + 1) + log($"rr" + DSIR_B)).as("lr"))
    db.join(broadcast(ratio), Seq("b"))
      .groupBy($"doc_id")
      .agg(sum($"m").cast("long").as("n_tok"),
        round(sum($"m" * $"lr"), 4).as("dsir_w"))
      .orderBy($"doc_id")
  }

  private val t43Oracle = {
    import graft.functions.TextOps.{sqlHash64, sqlTokens}
    s"""WITH tok AS (SELECT doc_id, lang, unnest(${sqlTokens("text")}) AS tok
       |  FROM documents),
       |feat AS (SELECT doc_id, lang, ${sqlHash64("tok")} % $DSIR_B AS b
       |  FROM tok),
       |db AS (SELECT doc_id, b, count(*) AS m, max(lang) AS lang
       |  FROM feat GROUP BY 1, 2),
       |buckets AS (SELECT b, sum(m) AS r,
       |    sum(CASE WHEN lang = 'en' THEN m ELSE 0 END) AS tc
       |  FROM db GROUP BY b),
       |totals AS (SELECT sum(r) AS rr, sum(tc) AS tt FROM buckets),
       |ratio AS (SELECT b, ln(tc + 1) - ln(tt + $DSIR_B)
       |    - ln(r + 1) + ln(rr + $DSIR_B) AS lr
       |  FROM buckets CROSS JOIN totals)
       |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tok,
       |  round(sum(m * lr), 4) AS dsir_w
       |FROM db JOIN ratio USING (b)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- registry ----------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q61_compaction" -> (q61 _),
    "q62_time_travel" -> (q62 _),
    "q63_manifest_prune" -> (q63 _),
    "x09_hll_shards" -> (x09 _),
    "t43_dsir_weights" -> (t43 _),
  )

  val oracles: Map[String, String] = Map(
    "q61_compaction" -> q61Oracle,
    "q62_time_travel" -> q62Oracle,
    "q63_manifest_prune" -> q63Oracle,
    "x09_hll_shards" -> x09Oracle,
    "t43_dsir_weights" -> t43Oracle,
  )
}
