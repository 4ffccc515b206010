package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational operator inventory (SURVEY.md §2) exercised over the
  * driver's TPC-H-ish tables. Every query here has a DuckDB oracle in
  * [[oracles]] with identically-aliased columns and a deterministic
  * ORDER BY (full tie-break) so the driver's hash compare is stable.
  *
  * Scale notes (100 TB stance):
  *  - dimension joins (region/nation/supplier/typemaps) are explicit
  *    `broadcast()` — never shuffled;
  *  - fact-fact joins (orders⋈lineitem) shuffle on the join key once and
  *    aggregate partially map-side (Spark HashAggregate partial/final);
  *  - double-valued aggregates are `round`ed identically on both sides
  *    so summation-order nondeterminism cannot flip the hash;
  *  - engineered integer outputs are cast to BIGINT on both sides
  *    (DuckDB widens count/length to BIGINT/HUGEINT).
  */
object Relational extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private def r2(c: Column): Column = round(c, 2)
  private def r4(c: Column): Column = round(c, 4)

  // ---- F/P/A core ---------------------------------------------------

  /** TPC-H Q1 shape: filter → partial/final hash agg (SURVEY §2.5). */
  def q01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .filter($"l_shipdate" <= to_timestamp(lit("1999-12-31 00:00:00")))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        r2(sum($"l_quantity")).as("sum_qty"),
        r2(sum($"l_extendedprice")).as("sum_base_price"),
        r2(sum($"l_extendedprice" * (lit(1) - $"l_discount"))).as("sum_disc_price"),
        r2(sum($"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + $"l_tax"))).as("sum_charge"),
        r4(avg($"l_quantity")).as("avg_qty"),
        r4(avg($"l_extendedprice")).as("avg_price"),
        r4(avg($"l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Narrow projection + conjunctive filter — both must reach the scan
    * (PushedFilters/ReadSchema); SURVEY §2.2 P1, §2.3. */
  def q02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .filter($"l_shipdate" >= to_timestamp(lit("1997-01-01 00:00:00")) &&
        $"l_shipdate" < to_timestamp(lit("1998-01-01 00:00:00")) &&
        $"l_discount".between(0.02, 0.09) && $"l_quantity" < 10)
      .select($"l_orderkey", $"l_linenumber",
        r4($"l_extendedprice" * $"l_discount").as("disc_revenue"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** TPC-H Q6 shape: selective scan → single scalar aggregate. */
  def q03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .filter($"l_shipdate" >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        $"l_shipdate" < to_timestamp(lit("1997-01-01 00:00:00")) &&
        $"l_discount".between(0.03, 0.07) && $"l_quantity" < 25)
      .agg(r2(sum($"l_extendedprice" * $"l_discount")).as("revenue"))
  }

  // ---- joins --------------------------------------------------------

  /** TPC-H Q5 shape: two fact joins + three broadcast dimension joins
    * (SURVEY §2.4 J1/J2 analog — dims are broadcast, never shuffled). */
  def q04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey")
      .join(t(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .join(broadcast(t(s, dir, "supplier")),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(t(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .filter($"r_name" === "ASIA")
      .groupBy($"n_name")
      .agg(r2(sum($"l_extendedprice" * (lit(1) - $"l_discount"))).as("revenue"))
      .orderBy($"n_name")
  }

  /** TPC-H Q3 shape: shuffle join + agg + ordered top-k
    * (TakeOrderedAndProject — no full sort at scale). */
  def q05(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
      .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey")
      .filter($"o_orderdate" < to_timestamp(lit("1998-01-01 00:00:00")))
      .join(t(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .filter($"l_shipdate" > to_timestamp(lit("1998-01-01 00:00:00")))
      .groupBy($"o_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(r2(sum($"l_extendedprice" * (lit(1) - $"l_discount"))).as("revenue"))
      .select($"o_orderkey", $"revenue", $"o_orderdate", $"o_orderpriority")
      .orderBy($"revenue".desc, $"o_orderkey")
      .limit(10)
  }

  /** Two-level lookup with default fallback — the reference's itype
    * resolution (J3, `src/Datalake2Anomali.py:353-358`): left join
    * override map, left join default map, coalesce. Both dims broadcast. */
  def q06(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val overrides = Seq(("click", "interaction"), ("purchase", "conversion"))
      .toDF("event_type", "itype_override")
    val defaults = Seq(
      ("click", "generic-click"), ("view", "generic-view"),
      ("signup", "generic-signup"), ("purchase", "generic-purchase"),
      ("error", "generic-error")).toDF("event_type", "itype_default")
    t(s, dir, "events")
      .join(broadcast(overrides), Seq("event_type"), "left")
      .join(broadcast(defaults), Seq("event_type"), "left")
      .select($"event_type",
        coalesce($"itype_override", $"itype_default", lit("unknown")).as("itype"))
      .groupBy($"event_type", $"itype").agg(count(lit(1)).as("n"))
      .orderBy($"event_type", $"itype")
  }

  /** MERGE routing — the reference's upsert existence probe (J5,
    * `src/Datalake2Anomali.py:246-253`): left-outer join against sink
    * state, split rows into insert/update paths on match. */
  def q07(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sinkState = t(s, dir, "lineitem").select($"l_orderkey").distinct()
    t(s, dir, "orders")
      .join(sinkState, $"o_orderkey" === $"l_orderkey", "left_outer")
      .select(when($"l_orderkey".isNull, "insert").otherwise("update").as("action"))
      .groupBy($"action").agg(count(lit(1)).as("n"))
      .orderBy($"action")
  }

  // ---- windows / top-k ---------------------------------------------

  /** Ranking window: first 3 orders per customer (SURVEY §2.6). */
  def q08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_orderkey", $"rn")
      .orderBy($"o_custkey", $"rn")
  }

  /** Running-sum + lag window (explicit ROWS frame so Spark and DuckDB
    * agree; the tie-broken ORDER BY makes accumulation order — and
    * therefore IEEE summation — identical on both sides). */
  def q09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    t(s, dir, "orders")
      .withColumn("running_spend",
        r2(sum($"o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0))))
      .withColumn("prev_price", r2(coalesce(lag($"o_totalprice", 1).over(w), lit(0.0))))
      .select($"o_custkey", $"o_orderkey", $"running_spend", $"prev_price")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Global ordered top-k → Spark plans TakeOrderedAndProject (per-
    * partition heap + driver merge; no full shuffle sort at 100 TB). */
  def q10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
      .limit(20)
  }

  // ---- set ops ------------------------------------------------------

  /** UNION / INTERSECT / EXCEPT (SURVEY §2.7). */
  def q11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rich = t(s, dir, "customer").filter($"c_acctbal" > 5000)
      .select($"c_custkey".as("custkey"))
    val buyers = t(s, dir, "orders").select($"o_custkey".as("custkey")).distinct()
    val richBuyers = rich.intersect(buyers)
      .select(lit("rich_buyer").as("kind"), $"custkey")
    val richIdle = rich.except(buyers)
      .select(lit("rich_idle").as("kind"), $"custkey")
    richBuyers.union(richIdle).orderBy($"kind", $"custkey")
  }

  // ---- arrays -------------------------------------------------------

  /** Array aggregation (C5/C7 analog): sorted part list per order.
    * The list is sorted numerically, then serialized to a CSV string:
    * the external gate sorts result columns with pandas, which cannot
    * hash raw array cells (ADVICE r1) — a scalar column keeps the
    * query oracle-checkable without weakening what it exercises
    * (collect_list + sort_array still run). */
  def q12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(
        array_join(transform(sort_array(collect_list($"l_partkey")),
          _.cast("string")), ",").as("parts"),
        count(lit(1)).as("n_lines"))
      .orderBy($"l_orderkey")
  }

  /** Per-row array aggregates over embeddings (A1 `array_max` analog;
    * sums folded left-to-right in DOUBLE on both sides). */
  def q13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "embeddings")
      .select($"vec_id",
        size($"embedding").cast("long").as("emb_dim"),
        r4(array_max($"embedding").cast("double")).as("emb_max"),
        r4(aggregate($"embedding", lit(0.0), (acc, x) => acc + x.cast("double")))
          .as("emb_sum"),
        r4(sqrt(aggregate($"embedding", lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double")))).as("l2_norm"))
      .orderBy($"vec_id")
  }

  // ---- scalar functions --------------------------------------------

  /** String functions (C1 tag formatting analog). */
  def q14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "part")
      .select($"p_partkey",
        concat(lit("part_"), $"p_partkey".cast("string")).as("tag"),
        upper($"p_brand").as("brand_u"),
        substring($"p_name", 1, 8).as("name8"),
        length($"p_name").cast("long").as("name_len"))
      .orderBy($"p_partkey")
  }

  /** Timestamp format/extract/interval arithmetic (C2/C4:
    * `%Y-%m-%dT%H:%M:%S` formatting and now()+interval analog). */
  def q15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .select($"o_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").as("iso_ts"),
        year($"o_orderdate").cast("long").as("yr"),
        month($"o_orderdate").cast("long").as("mo"),
        ($"o_orderdate" + expr("INTERVAL 1 HOUR")).as("expiration_ts"))
      .orderBy($"o_orderkey")
  }

  /** Calendar bucketing: orders per month (date_trunc). */
  def q16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .groupBy(date_trunc("month", $"o_orderdate").as("month"))
      .agg(count(lit(1)).as("n"), r2(sum($"o_totalprice")).as("total"))
      .orderBy($"month")
  }

  /** JSON extraction from events.props (C8 from_json analog). */
  def q17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"event_id",
        from_json($"props", org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").cast("long").as("k"))
      .orderBy($"event_id")
  }

  /** Conditional routing (P2's conditional md5 column / F3 analog). */
  def q18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber",
        when($"l_returnflag" === "R", "returned")
          .when($"l_quantity" >= 30, "bulk")
          .otherwise("std").as("class"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  // ---- distinct / grouping sets / semi-anti ------------------------

  def q19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .select($"o_orderstatus", $"o_orderpriority").distinct()
      .orderBy($"o_orderstatus", $"o_orderpriority")
  }

  /** ROLLUP grouping sets with null-marker coalesce. */
  def q20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), r2(sum($"l_quantity")).as("qty"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("flag"),
        coalesce($"l_linestatus", lit("ALL")).as("status"), $"n", $"qty")
      .orderBy($"flag", $"status")
  }

  /** Left-semi / left-anti joins (EXISTS / NOT EXISTS). */
  def q21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val withO = c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
      .select(lit("with_orders").as("kind"), $"c_custkey".as("custkey"))
    val noO = c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
      .select(lit("without_orders").as("kind"), $"c_custkey".as("custkey"))
    withO.union(noO)
      .groupBy($"kind").agg(count(lit(1)).as("n"),
        min($"custkey").as("min_custkey"))
      .orderBy($"kind")
  }

  /** Inner broadcast join against a tiny mapping dim where a join miss
    * drops the row — the reference's supported-type filter F2/J2
    * (`src/Datalake2Anomali.py:345-346`, `src/constants.py:24-31`). */
  def q22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val typemap = Seq(("click", "interaction"), ("view", "impression"),
      ("purchase", "conversion")).toDF("event_type", "mapped")
    t(s, dir, "events")
      .join(broadcast(typemap), Seq("event_type"))
      .groupBy($"mapped").agg(count(lit(1)).as("n"), r2(sum($"value")).as("total_value"))
      .orderBy($"mapped")
  }

  /** Statistical aggregates per group. */
  def q23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        r4(avg($"c_acctbal")).as("avg_bal"),
        r2(min($"c_acctbal")).as("min_bal"),
        r2(max($"c_acctbal")).as("max_bal"),
        r4(stddev_samp($"c_acctbal")).as("sd_bal"))
      .orderBy($"c_mktsegment")
  }

  /** Sink-watermark lookup (S4/A3: max modified_ts as cursor). */
  def q24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders").agg(max($"o_orderdate").as("watermark"))
  }

  /** Per-source counts (A2 per-query count parity metric). */
  def q25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), r4(avg($"value")).as("avg_value"))
      .orderBy($"event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01 _),
    "q02_filter_project" -> (q02 _),
    "q03_selective_agg" -> (q03 _),
    "q04_regional_revenue" -> (q04 _),
    "q05_topk_orders" -> (q05 _),
    "q06_itype_fallback" -> (q06 _),
    "q07_merge_routing" -> (q07 _),
    "q08_window_rank" -> (q08 _),
    "q09_window_running" -> (q09 _),
    "q10_topk_lineitems" -> (q10 _),
    "q11_setops" -> (q11 _),
    "q12_array_agg" -> (q12 _),
    "q13_array_fns" -> (q13 _),
    "q14_string_fns" -> (q14 _),
    "q15_date_fns" -> (q15 _),
    "q16_month_agg" -> (q16 _),
    "q17_json_extract" -> (q17 _),
    "q18_case_when" -> (q18 _),
    "q19_distinct_pairs" -> (q19 _),
    "q20_rollup" -> (q20 _),
    "q21_semi_anti" -> (q21 _),
    "q22_typemap_inner" -> (q22 _),
    "q23_stats" -> (q23 _),
    "q24_watermark" -> (q24 _),
    "q25_event_counts" -> (q25 _),
  )

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_extendedprice),4) AS avg_price,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        | round(l_extendedprice*l_discount,4) AS disc_revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.09 AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_selective_agg" ->
      """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 25""".stripMargin,
    "q04_regional_revenue" ->
      """SELECT n_name,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q05_topk_orders" ->
      """SELECT o_orderkey,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        | o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q06_itype_fallback" ->
      """WITH overrides(event_type, itype_override) AS (
        |  VALUES ('click','interaction'), ('purchase','conversion')),
        |defaults(event_type, itype_default) AS (
        |  VALUES ('click','generic-click'), ('view','generic-view'),
        |         ('signup','generic-signup'), ('purchase','generic-purchase'),
        |         ('error','generic-error'))
        |SELECT e.event_type AS event_type,
        |  coalesce(o.itype_override, d.itype_default, 'unknown') AS itype,
        |  count(*) AS n
        |FROM events e
        |LEFT JOIN overrides o USING (event_type)
        |LEFT JOIN defaults d USING (event_type)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q07_merge_routing" ->
      """SELECT CASE WHEN l.l_orderkey IS NULL THEN 'insert' ELSE 'update' END AS action,
        | count(*) AS n
        |FROM orders o
        |LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l
        |  ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q08_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) x
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q09_window_running" ->
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_spend,
        | round(coalesce(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey), 0.0),2) AS prev_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q10_topk_lineitems" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,
    "q11_setops" ->
      """WITH rich AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000),
        | buyers AS (SELECT DISTINCT o_custkey AS custkey FROM orders)
        |SELECT 'rich_buyer' AS kind, custkey FROM (SELECT custkey FROM rich INTERSECT SELECT custkey FROM buyers) a
        |UNION ALL
        |SELECT 'rich_idle' AS kind, custkey FROM (SELECT custkey FROM rich EXCEPT SELECT custkey FROM buyers) b
        |ORDER BY kind, custkey""".stripMargin,
    "q12_array_agg" ->
      """SELECT l_orderkey,
        | array_to_string(list_sort(list(l_partkey)), ',') AS parts,
        | count(*) AS n_lines
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q13_array_fns" ->
      """SELECT vec_id,
        | CAST(len(embedding) AS BIGINT) AS emb_dim,
        | round(CAST(list_max(embedding) AS DOUBLE),4) AS emb_max,
        | round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))),4) AS emb_sum,
        | round(sqrt(list_sum(list_transform(embedding,
        |   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),4) AS l2_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q14_string_fns" ->
      """SELECT p_partkey,
        | concat('part_', CAST(p_partkey AS VARCHAR)) AS tag,
        | upper(p_brand) AS brand_u,
        | substr(p_name, 1, 8) AS name8,
        | CAST(length(p_name) AS BIGINT) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q15_date_fns" ->
      """SELECT o_orderkey,
        | strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso_ts,
        | CAST(year(o_orderdate) AS BIGINT) AS yr,
        | CAST(month(o_orderdate) AS BIGINT) AS mo,
        | o_orderdate + INTERVAL 1 HOUR AS expiration_ts
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q16_month_agg" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
        | count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q17_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q18_case_when" ->
      """SELECT l_orderkey, l_linenumber,
        | CASE WHEN l_returnflag = 'R' THEN 'returned'
        |      WHEN l_quantity >= 30 THEN 'bulk'
        |      ELSE 'std' END AS class
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q19_distinct_pairs" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority
        |FROM orders ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q20_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        | coalesce(l_linestatus, 'ALL') AS status,
        | count(*) AS n, round(sum(l_quantity),2) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
    "q21_semi_anti" ->
      """WITH tagged AS (
        | SELECT 'with_orders' AS kind, c_custkey AS custkey FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        | UNION ALL
        | SELECT 'without_orders' AS kind, c_custkey AS custkey FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
        |SELECT kind, count(*) AS n, min(custkey) AS min_custkey
        |FROM tagged GROUP BY kind ORDER BY kind""".stripMargin,
    "q22_typemap_inner" ->
      """WITH typemap(event_type, mapped) AS (
        |  VALUES ('click','interaction'), ('view','impression'),
        |         ('purchase','conversion'))
        |SELECT mapped, count(*) AS n, round(sum(value),2) AS total_value
        |FROM events JOIN typemap USING (event_type)
        |GROUP BY mapped ORDER BY mapped""".stripMargin,
    "q23_stats" ->
      """SELECT c_mktsegment, count(*) AS n,
        | round(avg(c_acctbal),4) AS avg_bal,
        | round(min(c_acctbal),2) AS min_bal,
        | round(max(c_acctbal),2) AS max_bal,
        | round(stddev_samp(c_acctbal),4) AS sd_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q24_watermark" ->
      "SELECT max(o_orderdate) AS watermark FROM orders",
    "q25_event_counts" ->
      """SELECT event_type, count(*) AS n, round(avg(value),4) AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
  )
}
