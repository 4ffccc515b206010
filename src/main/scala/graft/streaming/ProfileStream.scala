package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.operators.Relational19

/** Running per-column profile state — one row's worth of MERGEABLE
  * counters per profiled column (count, nulls, min/max kept on the
  * column's own order: longs for numeric columns, strings for
  * lexicographic ones — exactly the q72 canon's typing). `upd` is
  * the batch ordinal, so an append-mode log's LAST emission per
  * column is the current profile. */
case class ColProfile(upd: Long, n: Long, nulls: Long,
    mnL: Option[Long], mxL: Option[Long],
    mnS: Option[String], mxS: Option[String])

/** One emitted profile row — q72 pass-1's (col_name, n_rows, n_null,
  * min_val, max_val) shape with the batch ordinal attached. */
case class ProfileRow(col_name: String, upd: Long, n_rows: Long,
    n_null: Long, min_val: String, max_val: String)

/** Running per-rule violation counters (all sums). */
case class RuleCounts(upd: Long, n: Long, viol: Long)

/** One emitted audit row — q73's row-level-rule shape. */
case class RuleRow(rule: String, upd: Long, n_checked: Long,
    n_violations: Long, passed: Boolean)

/** Streaming face of the data-management tier's profile (q72) and
  * audit (q73) — live data quality (r12 verdict #6): as rows arrive,
  * keep per-column statistics and per-rule violation counters
  * current, with EXACT batch parity because every maintained
  * statistic is mergeable (counts, sums, min, max) — any micro-batch
  * split folds to the same state.
  *
  * Two faces, both built from the SAME column canon and rule
  * literals as the batch queries (the IndexStream convention — the
  * faces cannot drift):
  *
  *  - [[statsAgg]]/[[rulesAgg]]: the DsirStream shape — one
  *    complete-mode global aggregate whose state IS the profile
  *    (column-count-sized, the cheapest face);
  *  - [[profile]]/[[rules]]: flatMapGroupsWithState keyed by
  *    column/rule name with explicit [[ColProfile]]/[[RuleCounts]]
  *    state, emitting the running profile per batch.
  *
  * What is deliberately NOT streamed: q72's EXACT n_distinct (its
  * state is value-cardinality-sized — [[statsAggHll]] is the live
  * tier: x01's mergeable HLL at rsd 2%, bit-parity with its batch
  * twin because HLL registers max-merge) and q73's uniqueness/FK
  * rules (full-corpus joins — they stay batch gates over snapshot
  * versions).
  *
  * At 100 TB: state is COLUMNS + RULES rows forever; each micro-batch
  * shuffles exactly one stacked (key, value) pair per input cell.
  * Ordering never matters — the counters commute — so this face has
  * no per-key FIFO contract at all, unlike the NFA streams. */
object ProfileStream {

  // ---- aggregation faces (state = the one-row aggregate) -----------

  /** Per-column profile as a streaming global aggregate (complete
    * mode) — IDENTICAL builder to q72's pass 1. */
  def statsAgg(orders: DataFrame): DataFrame =
    Relational19.statsPass(Relational19.ordersCanon(orders))

  /** Row-level rule report as a streaming global aggregate (complete
    * mode) — IDENTICAL builder to q73's lineitem rule aggregate. */
  def rulesAgg(lineitem: DataFrame): DataFrame =
    Relational19.liRuleAgg(lineitem).selectExpr(Relational19.LI_RULE_STACK)
      .withColumn("passed", col("n_violations") === 0L)

  /** Per-column LIVE n_distinct — the composition the object doc
    * prescribes (r13 verdict #7): q72's exact n_distinct stays
    * batch-only because its state is value-cardinality-sized, and
    * x01's mergeable HLL (rsd 2%) is the streaming answer. One
    * complete-mode aggregate per column over the same stacked cell
    * frame as the state faces; HLL registers merge by MAX —
    * commutative and associative — so ANY micro-batch split folds to
    * the SAME sketch as a one-shot batch pass: StreamProfileSpec
    * asserts the streamed estimate EQUALS the batch estimate (bit
    * parity, not approximate parity), and holds x01's honest error
    * tier against the exact count. State: columns × the 2%-rsd HLL
    * register array — constant per column, never value-sized. Works
    * identically on a batch frame (the parity twin). */
  def statsAggHll(orders: DataFrame): DataFrame = {
    val s = orders.sparkSession
    import s.implicits._
    stacked(orders).toDF("col_name", "lv", "sv")
      .groupBy($"col_name")
      .agg(approx_count_distinct(
        coalesce($"lv".cast("string"), $"sv"), 0.02)
        .as("approx_distinct"))
  }

  // ---- explicit-state faces -----------------------------------------

  /** Numeric-ordered canon columns (min/max compare as longs); the
    * rest compare lexicographically — q72's canonical typing. */
  private val NUMERIC_COLS =
    Set("o_orderkey", "o_custkey", "o_totalprice_c")

  /** Stack the canon frame to one (col_name, lv, sv) row per cell:
    * `lv` carries numeric columns, `sv` string ones, both null when
    * the cell is null. */
  private def stacked(orders: DataFrame): Dataset[(String, Option[Long], Option[String])] = {
    val s = orders.sparkSession
    import s.implicits._
    val canon = Relational19.ordersCanon(orders)
    val cells = canon.columns.map { c =>
      if (NUMERIC_COLS(c))
        struct(lit(c).as("col_name"), col(c).cast("long").as("lv"),
          lit(null).cast("string").as("sv"))
      else
        struct(lit(c).as("col_name"), lit(null).cast("long").as("lv"),
          col(c).cast("string").as("sv"))
    }
    canon.select(explode(array(cells: _*)).as("cell"))
      .select($"cell.col_name", $"cell.lv", $"cell.sv")
      .as[(String, Option[Long], Option[String])]
  }

  /** Fold one batch's cells into a column's running profile — the
    * pure core of [[profile]]. Commutative and
    * associative in the batch split, so replay order is free. */
  def foldCells(prev: ColProfile, upd: Long,
      cells: Iterator[(Option[Long], Option[String])]): ColProfile =
    cells.foldLeft(prev.copy(upd = upd)) { case (p, (lv, sv)) =>
      val isNull = lv.isEmpty && sv.isEmpty
      p.copy(
        n = p.n + 1,
        nulls = p.nulls + (if (isNull) 1 else 0),
        mnL = (p.mnL ++ lv).reduceOption(_ min _),
        mxL = (p.mxL ++ lv).reduceOption(_ max _),
        mnS = (p.mnS ++ sv).reduceOption((a, b) => if (a <= b) a else b),
        mxS = (p.mxS ++ sv).reduceOption((a, b) => if (a >= b) a else b))
    }

  private def render(name: String, p: ColProfile): ProfileRow =
    ProfileRow(name, p.upd, p.n, p.nulls,
      p.mnL.map(_.toString).orElse(p.mnS).orNull,
      p.mxL.map(_.toString).orElse(p.mxS).orNull)

  private val emptyProfile =
    ColProfile(-1L, 0L, 0L, None, None, None, None)

  /** flatMapGroupsWithState face: column name → running profile;
    * emits the updated profile row each batch (append log — the
    * latest `upd` per column is current). */
  def profile(orders: DataFrame): Dataset[ProfileRow] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val s = orders.sparkSession
    import s.implicits._
    stacked(orders)
      .groupByKey(_._1)
      .flatMapGroupsWithState[ColProfile, ProfileRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (name: String, rows: Iterator[(String, Option[Long], Option[String])],
            state: GroupState[ColProfile]) =>
          val prev = state.getOption.getOrElse(emptyProfile)
          val next = foldCells(prev, prev.upd + 1,
            rows.map(r => (r._2, r._3)))
          state.update(next)
          Iterator(render(name, next))
      }
  }

  // ---- rule-violation state faces ------------------------------------

  /** (rule name, violated) per lineitem row per rule — the q73 rule
    * literals applied row-wise so the counters can key by rule. */
  private def ruleCells(lineitem: DataFrame): Dataset[(String, Long)] = {
    val s = lineitem.sparkSession
    import s.implicits._
    lineitem.select(explode(array(
        struct(lit("lineitem_quantity_le_45").as("rule"),
          when($"l_quantity" > 45, 1L).otherwise(0L).as("v")),
        struct(lit("lineitem_tax_le_005").as("rule"),
          when($"l_tax" > 0.05, 1L).otherwise(0L).as("v")),
        struct(lit("lineitem_discount_le_008").as("rule"),
          when($"l_discount" > 0.08, 1L).otherwise(0L).as("v"))))
        .as("c"))
      .select($"c.rule", $"c.v")
      .as[(String, Long)]
  }

  /** Fold a batch's rule cells — the pure core of [[rules]]. */
  def foldRules(prev: RuleCounts, upd: Long,
      cells: Iterator[Long]): RuleCounts =
    cells.foldLeft(prev.copy(upd = upd)) { (p, v) =>
      p.copy(n = p.n + 1, viol = p.viol + v)
    }

  private val emptyRule = RuleCounts(-1L, 0L, 0L)

  /** flatMapGroupsWithState face: rule → running counters. */
  def rules(lineitem: DataFrame): Dataset[RuleRow] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val s = lineitem.sparkSession
    import s.implicits._
    ruleCells(lineitem)
      .groupByKey(_._1)
      .flatMapGroupsWithState[RuleCounts, RuleRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (rule: String, rows: Iterator[(String, Long)],
            state: GroupState[RuleCounts]) =>
          val prev = state.getOption.getOrElse(emptyRule)
          val next = foldRules(prev, prev.upd + 1, rows.map(_._2))
          state.update(next)
          Iterator(RuleRow(rule, next.upd, next.n, next.viol,
            next.viol == 0L))
      }
  }
}
