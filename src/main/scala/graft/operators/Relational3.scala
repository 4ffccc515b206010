package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Third tranche: nested-JSON payload reshaping (the oracle-checked
  * face of the pipeline's P3/C8 operators), pivot, EXCEPT ALL, and an
  * approximate-distinct operator (rows-only check — HLL sketches are
  * engine-specific by design). */
object Relational3 extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** P3/C8 analog with an oracle: reshape rows into nested JSON docs
    * (struct + array + to_json produce byte-identical strings in both
    * engines for string/int payloads). */
  def q29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .select($"o_orderkey",
        to_json(struct(
          $"o_orderkey".as("id"),
          struct($"o_orderpriority".as("priority"),
            $"o_orderstatus".as("status")).as("meta"),
          array($"o_orderpriority", $"o_orderstatus").as("tags"))).as("payload"))
      .orderBy($"o_orderkey")
  }

  /** Pivot: order counts per priority × status (explicit value list;
    * count nulls coalesced to 0 to match SQL PIVOT semantics). */
  def q30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .select($"o_orderpriority",
        coalesce($"F", lit(0L)).as("F"),
        coalesce($"O", lit(0L)).as("O"),
        coalesce($"P", lit(0L)).as("P"))
      .orderBy($"o_orderpriority")
  }

  /** EXCEPT ALL — multiset difference (SURVEY §2.7 family). */
  def q31(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem").select($"l_partkey".as("partkey"))
      .exceptAll(t(s, dir, "part").select($"p_partkey".as("partkey")))
      .groupBy($"partkey").agg(count(lit(1)).as("n"))
      .orderBy($"partkey")
  }

  /** Range (interval) join: each purchase joined to all of the same
    * user's views in the preceding 30 minutes — equi key + time-range
    * condition (sort-merge join with a range predicate; at 100 TB the
    * equi key carries the shuffle and the range stays a local
    * predicate). */
  def q32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"))
    val v = ev.filter($"event_type" === "view")
      .select($"event_id".as("v_id"), $"user_id", $"ts".as("v_ts"))
    p.join(v, Seq("user_id"))
      .filter($"v_ts" <= $"p_ts" &&
        $"v_ts" > $"p_ts" - expr("INTERVAL 30 MINUTES"))
      .select($"p_id", $"user_id", $"v_id",
        expr("(unix_micros(p_ts) - unix_micros(v_ts)) div 1000000").as("gap_s"))
      .orderBy($"p_id", $"v_id")
  }

  /** HLL approximate distinct counts, oracle-checked via the
    * error-bound trick (VERDICT r7 #4): the HLL estimate itself is
    * engine-specific so it can't be in the hashed output, but
    * `approx_ok` = "estimate within 5% of exact" IS checkable — the
    * DuckDB oracle emits the exact counts plus literal 1, so the
    * hash compare fails exactly when the sketch breaks its error
    * contract. Deterministic: HLL is hash-based, so the estimate is
    * a pure function of the input set (no flap risk at a fixed SF).
    * The raw estimate stays visible in ScaleSpec's bound test. */
  def x01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_orderkey", 0.02).as("approx"),
        countDistinct($"l_orderkey").as("exact_orders"))
      .select($"l_returnflag", $"exact_orders",
        (abs($"approx" - $"exact_orders") / $"exact_orders" <= 0.05)
          .cast("long").as("approx_ok"))
      .orderBy($"l_returnflag")
  }

  /** Approximate quantiles (Greenwald-Khanna sketch), oracle-checked
    * via rank-error bounds (VERDICT r7 #4): GK at accuracy 10000
    * guarantees the estimate's RANK is within 1e-4·N of the target,
    * and the achieved rank is measurable — join the estimate back
    * and count rows below it. `pXX_ok` asserts
    * |rank(estimate) − q| ≤ 1e-3 + 2/n (the GK contract plus the
    * quantization a single data value imposes at small n; ties
    * handled by checking count(< a) and count(≤ a) separately). The
    * DuckDB oracle computes the exact percentiles (quantile_cont ≡
    * percentile, the q27 equivalence) and emits literal 1 — a sketch
    * that breaks its rank bound fails the hash compare. Rank-space,
    * not value-space: interpolated exact percentiles fall BETWEEN
    * data values, so no value interval works at small n.
    *
    * At 100 TB the sketch is the only option: exact percentiles sort
    * the column, the sketch is one mergeable pass; the verification
    * join-back is one broadcast of a 5-row frame. */
  def x03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = t(s, dir, "orders").select($"o_orderpriority", $"o_totalprice")
    val agg = o.groupBy($"o_orderpriority")
      .agg(
        expr("approx_percentile(o_totalprice, array(0.5, 0.9), 10000)").as("ap"),
        expr("percentile(o_totalprice, array(0.5, 0.9))").as("ex"),
        count(lit(1)).cast("double").as("n"))
      .select($"o_orderpriority",
        element_at($"ap", 1).as("a50"), element_at($"ap", 2).as("a90"),
        round(element_at($"ex", 1).cast("double"), 2).as("p50_exact"),
        round(element_at($"ex", 2).cast("double"), 2).as("p90_exact"),
        $"n")
    val tol = lit(0.001) + lit(2.0) / $"n"
    o.join(broadcast(agg), "o_orderpriority")
      .groupBy($"o_orderpriority")
      .agg(
        first($"p50_exact").as("p50_exact"),
        first($"p90_exact").as("p90_exact"),
        first($"n").as("n"),
        (sum(when($"o_totalprice" <= $"a50", 1).otherwise(0)) / first($"n")).as("le50"),
        (sum(when($"o_totalprice" < $"a50", 1).otherwise(0)) / first($"n")).as("lt50"),
        (sum(when($"o_totalprice" <= $"a90", 1).otherwise(0)) / first($"n")).as("le90"),
        (sum(when($"o_totalprice" < $"a90", 1).otherwise(0)) / first($"n")).as("lt90"))
      .select($"o_orderpriority", $"p50_exact", $"p90_exact",
        ($"le50" >= lit(0.5) - tol && $"lt50" <= lit(0.5) + tol)
          .cast("long").as("p50_ok"),
        ($"le90" >= lit(0.9) - tol && $"lt90" <= lit(0.9) + tol)
          .cast("long").as("p90_ok"))
      .orderBy($"o_orderpriority")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q29_json_payload" -> (q29 _),
    "q30_pivot" -> (q30 _),
    "q31_except_all" -> (q31 _),
    "x01_approx_distinct" -> (x01 _),
    "x03_approx_quantile" -> (x03 _),
    "q32_range_join" -> (q32 _),
  )

  val oracles: Map[String, String] = Map(
    // sketch queries: the oracle states the exact values + literal 1
    // for the in-bound flags, so the hash compare IS the error-bound
    // check (x05's deterministic-estimator trick, generalized)
    "x01_approx_distinct" ->
      """SELECT l_returnflag,
        | CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        | CAST(1 AS BIGINT) AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x03_approx_quantile" ->
      """SELECT o_orderpriority,
        | round(quantile_cont(o_totalprice, 0.5), 2) AS p50_exact,
        | round(quantile_cont(o_totalprice, 0.9), 2) AS p90_exact,
        | CAST(1 AS BIGINT) AS p50_ok, CAST(1 AS BIGINT) AS p90_ok
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q29_json_payload" ->
      """SELECT o_orderkey,
        | to_json(struct_pack(
        |   id := o_orderkey,
        |   meta := struct_pack(priority := o_orderpriority, status := o_orderstatus),
        |   tags := [o_orderpriority, o_orderstatus])) AS payload
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q30_pivot" ->
      """SELECT o_orderpriority, "F" AS F, "O" AS O, "P" AS P
        |FROM (PIVOT orders ON o_orderstatus USING count(*) GROUP BY o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin,
    "q32_range_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS v_id, user_id, CAST(ts AS TIMESTAMP) AS v_ts
        |  FROM events WHERE event_type = 'view')
        |SELECT p_id, p.user_id AS user_id, v_id,
        | date_diff('microsecond', v_ts, p_ts) // 1000000 AS gap_s
        |FROM p JOIN v ON p.user_id = v.user_id
        | AND v_ts <= p_ts AND v_ts > p_ts - INTERVAL 30 MINUTE
        |ORDER BY p_id, v_id""".stripMargin,
    "q31_except_all" ->
      """SELECT partkey, count(*) AS n FROM (
        |  SELECT l_partkey AS partkey FROM lineitem
        |  EXCEPT ALL
        |  SELECT p_partkey AS partkey FROM part)
        |GROUP BY partkey ORDER BY partkey""".stripMargin,
  )
}
