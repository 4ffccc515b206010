package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CheckpointOps

/** Twenty-second tranche — RETRACTABLE join-view maintenance: the
  * signed-multiplicity delta algebra (DBSP / differential-dataflow
  * bilinearity: Budiu et al., "DBSP: Automatic Incremental View
  * Maintenance for Rich Query Languages", VLDB 2023; McSherry et al.,
  * "Differential Dataflow", CIDR 2013) that q74's insert-only form
  * and q69's single-table CDC fold both specialize. q81 maintains a
  * join view under a changelog containing DELETES ON BOTH SIDES plus
  * inserts, where the inclusion-exclusion cross term is the whole
  * difficulty: deleting an order AND one of its lineitems retracts
  * the same join row twice through the two linear legs, and only the
  * ΔO⋈ΔL product term (multiplicities MULTIPLIED: (−1)·(−1) = +1)
  * restores it. The oracle restates the final view DIRECTLY over the
  * post-change tables, so the hash match proves the signed algebra —
  * not that two Spark plans agree.
  *
  * The reference has no view maintenance (its sink is a stateless
  * HTTP upsert, `/root/reference/src/Datalake2Anomali.py:246-253`);
  * this extends the SURVEY §7.2 lakehouse/IVM tier. Live face:
  * [[graft.streaming.IvmStream]] (a signed changelog is one mergeable
  * aggregate away from the view — order- and batch-split-free because
  * every maintained statistic is a SUM).
  */
object Relational22 extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    graft.Tables.load(s, dir, n)

  /** Clone keys land above every real key at any tested SF (orders
    * keys reach ~6·10⁶ at sf1), so inserted rows join ONLY to
    * inserted rows — the ΔO⋈ΔL (+1)·(+1) product — never by
    * accident to a pre-existing row. ENFORCED, not assumed (ADVICE
    * r14): [[guardedKey]] raises in-plan on any real key ≥ the shift
    * (reachable at SF ≳ 170), so a larger-SF run fails loudly
    * instead of silently corrupting the changelog. */
  private[graft] val RETRACT_SHIFT = 1000000000L

  /** The key column, guarded: raises if a real key would collide
    * with the clone range (the guardedTot convention — both fixture
    * legs read keys through this). */
  private def guardedKey(k: Column, tag: String): Column =
    when(k >= RETRACT_SHIFT, raise_error(concat(
      lit(s"$tag: real key collides with RETRACT_SHIFT clone range: "),
      k.cast("string")))).otherwise(k)

  /** Deterministic changelog, chosen so every sign product occurs:
    * orders ≡ [[DEL_O_RES]] (mod 13) are deleted; orders ≡
    * [[INS_O_RES]] (mod 13) are cloned (key+shift) as inserts;
    * lineitems with returnflag 'R' and key ≡ 2 (mod 7) are deleted
    * (keys ≡ 16 mod 91 hit BOTH deletes — the cross term's
    * (−1)·(−1)); lineitems of cloned orders are cloned with them
    * (cents+11) so the (+1)·(+1) product is exercised too. */
  private[graft] val DEL_O_RES = 3L
  private[graft] val INS_O_RES = 5L

  private def cents(price: Column, disc: Column): Column =
    round(price * (lit(1) - disc) * lit(100)).cast("long")

  /** The three signed relations of the changelog plus the two old
    * sides, shared by q81 and the [[graft.streaming.IvmStream]]
    * parity spec. Columns: orders side (o_orderkey, o_orderpriority,
    * o_year, mo), lineitem side (l_orderkey, cents, ml). */
  private[graft] def sides(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    // r18 (VERDICT r17 #3 — the probed q83 disease): the state + three
    // delta legs each re-derived their sides from parquet, so ONE q83
    // run scanned lineitem and orders 12 TIMES EACH, re-evaluating the
    // guardedKey raise_error CASE and the cents rounding per scan, and
    // none of those expression filters pushed down
    // (plans/r18/q83_ivm_distinct_before.txt: 12×lineitem + 12×orders,
    // PushedFilters [] on all 24). The guarded projections now
    // materialize ONCE per call (narrow: key + 2 columns) and every
    // leg — old sides, both deltas, the clone inserts — is an
    // in-memory filter over the snapshot (guide §1.2: don't recompute
    // what four consumers share). Values are identical (same guard,
    // same cents arithmetic, evaluated once instead of 12×).
    // both snapshots pin hash(join key, p) — the d06/pageRank r18
    // discipline: the state join O⋈L plans co-partitioned (no
    // exchange, no broadcast build), the old-side legs of the deltas
    // reuse the layout, and the post-checkpoint stages run at session
    // parallelism instead of the scan's split count (a bench-SF
    // lineitem file is floored at ~5 splits by openCostInBytes, and a
    // checkpoint freezes that width for every consumer).
    val o = CheckpointOps.pin(t(s, dir, "orders").select(
      guardedKey($"o_orderkey", "q81").as("o_orderkey"), $"o_orderpriority",
      year($"o_orderdate").cast("long").as("o_year")), "o_orderkey")
    val l = CheckpointOps.pin(t(s, dir, "lineitem").select(
      guardedKey($"l_orderkey", "q81").as("l_orderkey"), $"l_returnflag",
      cents($"l_extendedprice", $"l_discount").as("cents")), "l_orderkey")
    val oOld = o.withColumn("mo", lit(1L))
    val lOld = l.select($"l_orderkey", $"cents").withColumn("ml", lit(1L))
    val dO = o.filter($"o_orderkey" % 13 === DEL_O_RES)
      .withColumn("mo", lit(-1L))
      .unionByName(o.filter($"o_orderkey" % 13 === INS_O_RES)
        .select(($"o_orderkey" + RETRACT_SHIFT).as("o_orderkey"),
          $"o_orderpriority", $"o_year")
        .withColumn("mo", lit(1L)))
    val dL = l.filter($"l_returnflag" === "R" && $"l_orderkey" % 7 === 2)
      .select($"l_orderkey", $"cents").withColumn("ml", lit(-1L))
      .unionByName(l.filter($"l_orderkey" % 13 === INS_O_RES)
        .select(($"l_orderkey" + RETRACT_SHIFT).as("l_orderkey"),
          ($"cents" + 11L).as("cents"))
        .withColumn("ml", lit(1L)))
    (oOld, lOld, dO, dL)
  }

  /** γ over signed join rows: every statistic is a SUM WEIGHTED BY
    * MULTIPLICITY (n = Σm, revenue = Σ m·cents) — which is what makes
    * the fold mergeable, order-free, and retraction-capable at once.
    * Shared with the streaming face. */
  private[graft] def viewAgg(rows: DataFrame): DataFrame =
    rows.groupBy(col("o_orderpriority"), col("o_year"))
      .agg(sum(col("m") * col("cents")).as("revenue_cents"),
        sum(col("m")).as("n_items"))

  private def joined(o: DataFrame, l: DataFrame): DataFrame =
    // shuffle_hash, build = the o side (the smaller relation at any
    // scale): the old-side legs arrive co-partitioned from the pinned
    // snapshots (zero exchange); delta legs re-hash only their
    // delta-sized side (the clone inserts' shifted keys leave the
    // snapshot layout, so those legs re-exchange — delta-sized by
    // construction)
    o.hint("shuffle_hash").join(l, o("o_orderkey") === l("l_orderkey"))
      .withColumn("m", col("mo") * col("ml"))

  /** The batch-computed signed join-row delta Δ(O⋈L) — the bilinear
    * expansion ΔO⋈L ⊎ O⋈ΔL ⊎ ΔO⋈ΔL with multiplicities multiplied.
    * Exposed for the streaming face, whose contract is "given this
    * changelog, maintenance is one signed aggregate". */
  private[graft] def signedDelta(oOld: DataFrame, lOld: DataFrame,
      dO: DataFrame, dL: DataFrame): DataFrame =
    joined(dO, lOld).unionByName(joined(oOld, dL))
      .unionByName(joined(dO, dL))

  /** The FULL signed history — old join rows (m = +1) ⊎ the signed
    * delta — projected to the [[graft.streaming.SignedJoinRow]]
    * shape: the feed whose one-aggregate fold IS the view (the
    * streaming face's input; StreamIvmSpec replays it chunked). */
  private[graft] def signedHistory(s: SparkSession, dir: String): DataFrame = {
    val (oOld, lOld, dO, dL) = sides(s, dir)
    joined(oOld, lOld).unionByName(signedDelta(oOld, lOld, dO, dL))
      .select(col("o_orderpriority"), col("o_year"), col("cents"),
        col("m"))
  }

  /** Retractable join-view IVM: V = γ_{priority,year}(O ⋈ L)
    * maintained from a pre-change state by a changelog with deletes
    * on BOTH sides (plus inserts), via signed multiplicities.
    *
    * Correctness hinges on three things the oracle's direct
    * restatement gates on: (1) the bilinear CROSS TERM — a join row
    * hit by an order delete and a lineitem delete is retracted twice
    * by the linear legs and restored once by ΔO⋈ΔL's (−1)·(−1); (2)
    * exact cents (one IEEE product chain, one half-away round, then
    * long sums — the q74 rule, because delta maintenance reorders
    * additions); (3) groups whose membership cancels to zero must
    * VANISH, not linger as (0, 0) rows (`n_items > 0`, the q69
    * filter).
    *
    * At 100 TB: the two linear delta joins each touch one ingest
    * window against one full side — partition-pruned on the delta
    * predicate and exchange-free under q58's orderkey bucketing; the
    * cross term is delta×delta (broadcastable); state is view-sized
    * and never re-derived. Recompute touches every row ever
    * ingested. Deletes cost the same as inserts — no tombstone
    * compaction, no state rebuild — because every statistic is a
    * signed sum; min/max-style statistics are NOT maintainable this
    * way (a retraction can expose a second-place value the state
    * never kept), the honest boundary every retraction engine
    * documents — [[q82]] maintains THOSE with the two-level value-
    * multiset state, at (group × distinct value) state cost. */
  def q81(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (oOld, lOld, dO, dL) = sides(s, dir)
    val state = viewAgg(joined(oOld, lOld)).localCheckpoint()
    val out = state.unionByName(viewAgg(signedDelta(oOld, lOld, dO, dL)))
      .groupBy($"o_orderpriority", $"o_year")
      .agg(sum($"revenue_cents").as("revenue_cents"),
        sum($"n_items").as("n_items"))
      .filter($"n_items" > 0)
      .orderBy($"o_orderpriority", $"o_year")
    // state stays cached: the returned frame reads it lazily (the
    // s13t/q74 convention for lineage-less checkpoints).
    out
  }

  /** Retraction-safe MIN/MAX maintenance (q82) — the statistic q81's
    * signed sums honestly exclude, maintained the standard DBSP-
    * progression way: a TWO-LEVEL aggregate whose first level is the
    * VALUE MULTISET as state — signed multiplicity per (group, value)
    * — and whose second level re-derives min/max over the values
    * still present (multiplicity > 0). A retraction that removes the
    * current minimum exposes the runner-up because the runner-up IS
    * in the state; the single-row (min, max) state q81 keeps cannot
    * do that, which is why its live face stays sum-only
    * ([[graft.streaming.IvmStream]] note).
    *
    * State cost — the documented trade: level 1 is (group × distinct
    * value)-sized, not group-sized; on the cents grid that is bounded
    * by the value domain actually observed per group. Both levels are
    * signed-sum mergeable (level 1 is literally q81's algebra keyed
    * one column finer), so deltas fold in at the same cost as q81's;
    * only the second-level min/max re-derives, and it reads ONLY the
    * level-1 state, never the base tables. The oracle restates the
    * view directly over the post-change tables — the hash proves the
    * multiset algebra survives both-side deletes and the cross term,
    * exactly as q81's does. */
  /** The two-level extrema fold over ANY signed (group, cents, m)
    * feed — the single definition batch [[q82]] and the streaming
    * face ([[graft.streaming.IvmStream.minmaxTws]]'s parity twin,
    * StreamIvmSpec) both read, so stream ≡ batch is structural (the
    * viewAgg/ADVICE-r14 convention): level 1 folds the signed
    * multiplicities per (group, value) and drops cancelled values;
    * level 2 re-derives min/max/count over the survivors only. */
  private[graft] def minmaxView(signed: DataFrame): DataFrame = {
    val s = signed.sparkSession
    import s.implicits._
    signed
      .groupBy($"o_orderpriority", $"o_year", $"cents")
      .agg(sum($"m").as("mult"))
      .filter($"mult" > 0)
      .groupBy($"o_orderpriority", $"o_year")
      .agg(min($"cents").as("min_cents"), max($"cents").as("max_cents"),
        sum($"mult").as("n_items"))
  }

  /** The pre-change level-1 state ⊎ the signed delta, both pre-folded
    * per (group, value) — the feed [[q82]] and [[q83]] re-aggregate
    * (partial sums union in because level 1 is itself a signed sum). */
  private def signedLevel1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (oOld, lOld, dO, dL) = sides(s, dir)
    val state = joined(oOld, lOld)
      .groupBy($"o_orderpriority", $"o_year", $"cents")
      .agg(sum($"m").as("mult"))
      .localCheckpoint()
    val delta = joined(dO, lOld).unionByName(joined(oOld, dL))
      .unionByName(joined(dO, dL))
      .groupBy($"o_orderpriority", $"o_year", $"cents")
      .agg(sum($"m").as("mult"))
    state.unionByName(delta)
      .select($"o_orderpriority", $"o_year", $"cents", $"mult".as("m"))
  }

  def q82(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the fold is [[minmaxView]] verbatim over the level-1 feed
    minmaxView(signedLevel1(s, dir))
      .orderBy($"o_orderpriority", $"o_year")
  }

  /** The distinct-count fold over the same signed feed — [[q83]]'s
    * definition and the streaming face's parity twin: a value is
    * PRESENT iff its signed multiplicity folds positive, so exact
    * COUNT(DISTINCT) under retraction reads straight off q82's
    * level-1 state (count the surviving entries). */
  private[graft] def distinctView(signed: DataFrame): DataFrame = {
    val s = signed.sparkSession
    import s.implicits._
    signed
      .groupBy($"o_orderpriority", $"o_year", $"cents")
      .agg(sum($"m").as("mult"))
      .filter($"mult" > 0)
      .groupBy($"o_orderpriority", $"o_year")
      .agg(count(lit(1)).as("n_distinct"), sum($"mult").as("n_items"))
  }

  /** RETRACTION-SAFE EXACT COUNT DISTINCT (q83, r16) — the other
    * statistic signed sums cannot maintain (a delete may or may not
    * remove the last copy of a value — the state must know) and
    * sketches only approximate: maintained EXACTLY by the same
    * (group, value) signed multiset q82 keeps, at zero additional
    * state — distinct(group) = |{v : mult(group, v) > 0}|. One
    * multiset, three statistics (min, max, distinct): the DBSP
    * two-level story completed. The oracle restates the view over
    * the post-change tables with COUNT(DISTINCT), so the hash proves
    * the multiset algebra counts survivors correctly through
    * both-side deletes and the cross term. The live face rides the
    * SAME MapState as the extrema
    * ([[graft.streaming.IvmStream.minmaxTws]] emits n_distinct from
    * the surviving-entry scan it already does). */
  def q83(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    distinctView(signedLevel1(s, dir))
      .orderBy($"o_orderpriority", $"o_year")
  }

  private val q82Oracle =
    s"""WITH o2 AS (
       |  SELECT o_orderkey, o_orderpriority,
       |    CAST(year(o_orderdate) AS BIGINT) AS o_year
       |  FROM orders WHERE o_orderkey % 13 <> $DEL_O_RES
       |  UNION ALL
       |  SELECT o_orderkey + $RETRACT_SHIFT, o_orderpriority,
       |    CAST(year(o_orderdate) AS BIGINT)
       |  FROM orders WHERE o_orderkey % 13 = $INS_O_RES),
       |l2 AS (
       |  SELECT l_orderkey,
       |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
       |      AS cents
       |  FROM lineitem
       |  WHERE NOT (l_returnflag = 'R' AND l_orderkey % 7 = 2)
       |  UNION ALL
       |  SELECT l_orderkey + $RETRACT_SHIFT,
       |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
       |      + 11
       |  FROM lineitem WHERE l_orderkey % 13 = $INS_O_RES)
       |SELECT o_orderpriority, o_year,
       |  min(cents) AS min_cents, max(cents) AS max_cents,
       |  CAST(count(*) AS BIGINT) AS n_items
       |FROM o2 JOIN l2 ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority, o_year
       |ORDER BY o_orderpriority, o_year""".stripMargin

  private val q81Oracle =
    s"""WITH o2 AS (
       |  SELECT o_orderkey, o_orderpriority,
       |    CAST(year(o_orderdate) AS BIGINT) AS o_year
       |  FROM orders WHERE o_orderkey % 13 <> $DEL_O_RES
       |  UNION ALL
       |  SELECT o_orderkey + $RETRACT_SHIFT, o_orderpriority,
       |    CAST(year(o_orderdate) AS BIGINT)
       |  FROM orders WHERE o_orderkey % 13 = $INS_O_RES),
       |l2 AS (
       |  SELECT l_orderkey,
       |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
       |      AS cents
       |  FROM lineitem
       |  WHERE NOT (l_returnflag = 'R' AND l_orderkey % 7 = 2)
       |  UNION ALL
       |  SELECT l_orderkey + $RETRACT_SHIFT,
       |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
       |      + 11
       |  FROM lineitem WHERE l_orderkey % 13 = $INS_O_RES)
       |SELECT o_orderpriority, o_year,
       |  CAST(sum(cents) AS BIGINT) AS revenue_cents,
       |  CAST(count(*) AS BIGINT) AS n_items
       |FROM o2 JOIN l2 ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority, o_year
       |ORDER BY o_orderpriority, o_year""".stripMargin

  private val q83Oracle =
    s"""WITH o2 AS (
       |  SELECT o_orderkey, o_orderpriority,
       |    CAST(year(o_orderdate) AS BIGINT) AS o_year
       |  FROM orders WHERE o_orderkey % 13 <> $DEL_O_RES
       |  UNION ALL
       |  SELECT o_orderkey + $RETRACT_SHIFT, o_orderpriority,
       |    CAST(year(o_orderdate) AS BIGINT)
       |  FROM orders WHERE o_orderkey % 13 = $INS_O_RES),
       |l2 AS (
       |  SELECT l_orderkey,
       |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
       |      AS cents
       |  FROM lineitem
       |  WHERE NOT (l_returnflag = 'R' AND l_orderkey % 7 = 2)
       |  UNION ALL
       |  SELECT l_orderkey + $RETRACT_SHIFT,
       |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
       |      + 11
       |  FROM lineitem WHERE l_orderkey % 13 = $INS_O_RES)
       |SELECT o_orderpriority, o_year,
       |  CAST(count(DISTINCT cents) AS BIGINT) AS n_distinct,
       |  CAST(count(*) AS BIGINT) AS n_items
       |FROM o2 JOIN l2 ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority, o_year
       |ORDER BY o_orderpriority, o_year""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q81_ivm_retract" -> (q81 _),
    "q82_ivm_minmax" -> (q82 _),
    "q83_ivm_distinct" -> (q83 _))

  val oracles: Map[String, String] = Map(
    "q81_ivm_retract" -> q81Oracle,
    "q82_ivm_minmax" -> q82Oracle,
    "q83_ivm_distinct" -> q83Oracle)
}
