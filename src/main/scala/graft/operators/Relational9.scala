package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextOps.{hash64, sqlHash64}
import graft.operators.Dedup.sqlShingleRows

/** Ninth tranche — audit and robust-statistics shapes:
  *
  *  - t29: train/test leakage audit (hash-deterministic 90/10 split,
  *    then every near-dup pair that STRADDLES the split — the
  *    eval-contamination check dedup papers insist on: a test doc
  *    whose near-duplicate sits in train inflates eval);
  *  - e08: inter-event gap percentiles per type (the
  *    arrival-process health panel — p50/p95/max of consecutive
  *    gaps);
  *  - q53: median absolute deviation robust statistics (outlier
  *    flagging that one wild value can't drag, unlike mean/stddev);
  *  - t30: cluster-aware train/test split — the constructive answer
  *    to t29 (folds per near-dup cluster, leakage impossible by
  *    construction).
  */
object Relational9 extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TEST_FOLDS = 1  // of 10: 90/10 split
  private val FOLDS = 10

  /** Train/test leakage audit: split documents into train/test by a
    * salted md5 fold (deterministic, engine-portable — the t10/t20
    * convention), then report every d02-grade near-dup pair with one
    * side in each split. Rows here are exactly the eval leaks a
    * decontamination pass must remove (or the split must be redone
    * cluster-aware — assign FOLDS per d06 cluster, not per doc).
    *
    * Scale: the split is a per-row hash (no shuffle); the audit
    * reuses d02's bucketed pair machinery — pair generation never
    * leaves the shingle buckets, and the straddle predicate drops
    * same-split pairs before the output. `pairsIn` (the
    * [[Relational4.d09]] pattern) lets a pipeline audit the split
    * against already-materialized pair state instead of re-running
    * detection — [[t29m]] wires it to the d02 pair cache. */
  def t29(s: SparkSession, dir: String,
      pairsIn: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val fold = (id: org.apache.spark.sql.Column) =>
      pmod(hash64(concat(lit("split:"), id.cast("string"))), lit(FOLDS))
    pairsIn.getOrElse(Dedup.d02(s, dir))
      .select($"a_id", $"b_id", $"jaccard",
        (fold($"a_id") >= FOLDS - TEST_FOLDS).as("a_test"),
        (fold($"b_id") >= FOLDS - TEST_FOLDS).as("b_test"))
      .filter($"a_test" =!= $"b_test")
      .select(
        when($"a_test", $"a_id").otherwise($"b_id").as("test_id"),
        when($"a_test", $"b_id").otherwise($"a_id").as("train_id"),
        $"jaccard")
      .orderBy($"test_id", $"train_id")
  }

  /** t29 from the materialized d02 pair cache — only the fold hash
    * and straddle filter run per call; detection cost was paid once
    * by [[Relational4.materializedPairs]]. The pipeline-cost truth
    * for the leakage audit (the q51m/d06m convention). */
  def t29m(s: SparkSession, dir: String): DataFrame =
    t29(s, dir, Some(Relational4.materializedPairs(s, dir)))

  private val t29Oracle = {
    def fold(c: String) =
      s"((${sqlHash64(s"concat('split:', CAST($c AS VARCHAR))")} % $FOLDS + $FOLDS) % $FOLDS)"
    s"""WITH $sqlShingleRows,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |nd AS (SELECT a_id, b_id,
       |  round(inter / (na.n + nb.n - inter), 4) AS jaccard,
       |  ${fold("a_id")} >= ${FOLDS - TEST_FOLDS} AS a_test,
       |  ${fold("b_id")} >= ${FOLDS - TEST_FOLDS} AS b_test
       |  FROM pairs
       |  JOIN sizes na ON na.doc_id = a_id
       |  JOIN sizes nb ON nb.doc_id = b_id
       |  WHERE round(inter / (na.n + nb.n - inter), 4) >= 0.5)
       |SELECT CASE WHEN a_test THEN a_id ELSE b_id END AS test_id,
       |  CASE WHEN a_test THEN b_id ELSE a_id END AS train_id, jaccard
       |FROM nd WHERE a_test <> b_test
       |ORDER BY test_id, train_id""".stripMargin
  }

  /** Inter-event gap percentiles per type: consecutive-arrival gaps
    * in whole seconds (lag window), summarized as p50/p95/max — the
    * arrival-process panel an ingestion monitor reads (p95 gap
    * blowing up = a stalling source; max = the worst outage).
    *
    * Scale: one per-type window (partitions = #series, the e04/e05
    * stance) + one per-type aggregate; gaps are exact integers, the
    * percentile interpolation is the q27-established
    * percentile ≡ quantile_cont equivalence. */
  def e08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"ts", $"event_id")
    t(s, dir, "events")
      .select($"event_type", $"event_id", $"ts")
      .withColumn("gap_s",
        unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w))
      .filter($"gap_s".isNotNull)
      .withColumn("gap_s", ($"gap_s" / 1000000L).cast("double"))
      .groupBy($"event_type")
      .agg(count(lit(1)).cast("long").as("n_gaps"),
        round(expr("percentile(gap_s, 0.5)"), 4).as("p50_s"),
        round(expr("percentile(gap_s, 0.95)"), 4).as("p95_s"),
        round(max($"gap_s"), 4).as("max_s"))
      .orderBy($"event_type")
  }

  private val e08Oracle =
    """WITH g AS (SELECT event_type,
      |  date_diff('microsecond',
      |    lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id), ts)
      |    / 1000000.0 AS gap_s
      |  FROM events),
      |gg AS (SELECT event_type, CAST(gap_s AS DOUBLE) AS gap_s
      |  FROM g WHERE gap_s IS NOT NULL)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
      |  round(quantile_cont(gap_s, 0.5), 4) AS p50_s,
      |  round(quantile_cont(gap_s, 0.95), 4) AS p95_s,
      |  round(max(gap_s), 4) AS max_s
      |FROM gg GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Median absolute deviation per event type over `value`: the
    * robust location/scale pair (one wild value moves mean/stddev
    * arbitrarily; it moves median/MAD not at all), plus the count of
    * values more than 3 scaled MADs out — the robust outlier flag
    * (1.4826·MAD estimates σ under normality). Two exact-percentile
    * passes over the same grouping key — one shuffle, reused. */
  def q53(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val med = t(s, dir, "events")
      .groupBy($"event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = t(s, dir, "events")
      .join(med, "event_type")
      .withColumn("adev", abs($"value" - $"med"))
    val mad = dev.groupBy($"event_type")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(mad, "event_type")
      .groupBy($"event_type")
      .agg(round(first($"med"), 4).as("med"),
        round(first($"mad"), 4).as("mad"),
        sum(when($"adev" > $"mad" * 3 * 1.4826, 1L)
          .otherwise(0L)).cast("long").as("n_outliers"))
      .orderBy($"event_type")
  }

  private val q53Oracle =
    """WITH med AS (SELECT event_type,
      |  quantile_cont(value, 0.5) AS med FROM events GROUP BY event_type),
      |dev AS (SELECT e.event_type, e.value, m.med,
      |  abs(e.value - m.med) AS adev
      |  FROM events e JOIN med m ON m.event_type = e.event_type),
      |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT d.event_type, round(any_value(d.med), 4) AS med,
      |  round(any_value(m.mad), 4) AS mad,
      |  CAST(sum(CASE WHEN d.adev > m.mad * 3 * 1.4826 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad m ON m.event_type = d.event_type
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin

  /** Leakage-PROOF split: assign folds per near-dup CLUSTER, not per
    * document — every member of a cluster lands in the same fold, so
    * no d02-grade near-dup pair can straddle train/test by
    * construction (t29 exists to detect what this prevents; the spec
    * proves the naive split leaks and this one cannot). Singleton
    * docs hash on their own id — identical to the naive split, so
    * only duplicate clusters move.
    *
    * Scale: one label-table join (materialized pipeline state) + a
    * per-row hash; the fold function is the t10/t20 salted-md5
    * convention, bit-reproducible under retry. */
  def clusterAwareSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = Relational4.materializedLabels(s, dir) // (id, comp)
    t(s, dir, "documents")
      .join(labels.select($"id".as("doc_id"), $"comp"), Seq("doc_id"), "left")
      .select($"doc_id",
        pmod(hash64(concat(lit("split:"),
          coalesce($"comp", $"doc_id").cast("string"))), lit(FOLDS))
          .as("fold"))
      .withColumn("split",
        when($"fold" >= FOLDS - TEST_FOLDS, "test").otherwise("train"))
      .select($"doc_id", $"fold".cast("long").as("fold"), $"split")
      .orderBy($"doc_id")
  }

  private val t30Oracle = {
    val fold =
      s"((${sqlHash64("concat('split:', CAST(coalesce(cl.cluster_id, d.doc_id) AS VARCHAR))")} % $FOLDS + $FOLDS) % $FOLDS)"
    s"""${Relational4.ccOraclePrefix},
       |cl AS (SELECT id, cluster_id FROM comp),
       |f AS (SELECT d.doc_id, $fold AS fold
       |  FROM documents d LEFT JOIN cl ON cl.id = d.doc_id)
       |SELECT doc_id, CAST(fold AS BIGINT) AS fold,
       |  CASE WHEN fold >= ${FOLDS - TEST_FOLDS} THEN 'test' ELSE 'train' END AS split
       |FROM f ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t29_leakage_audit" -> ((s: SparkSession, d: String) => t29(s, d)),
    "t29m_leakage_materialized" -> (t29m _),
    "t30_cluster_split" -> (clusterAwareSplit _),
    "e08_gap_percentiles" -> (e08 _),
    "q53_mad_outliers" -> (q53 _),
  )

  val oracles: Map[String, String] = Map(
    "t29_leakage_audit" -> t29Oracle,
    "t29m_leakage_materialized" -> t29Oracle,
    "t30_cluster_split" -> t30Oracle,
    "e08_gap_percentiles" -> e08Oracle,
    "q53_mad_outliers" -> q53Oracle,
  )
}
