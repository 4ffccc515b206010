package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Twenty-sixth tranche — GATE FUZZING (fz01..fz12): SQLsmith-style
  * randomized differential testing (Seltenreich's SQLsmith; Rigger &
  * Su's SQLancer lineage) pointed at the one boundary every oracle
  * row already crosses — Spark vs DuckDB semantics. Twelve SEEDED
  * pseudo-random plans over a deliberately integer-exact algebra
  * (equi-join, conjunctive predicates, grouped exact aggregates,
  * HAVING) are generated from one AST per seed and rendered BOTH as
  * a Spark DataFrame plan and as DuckDB SQL — so the driver's hash
  * gate becomes a differential fuzzer: any divergence in join
  * semantics, predicate evaluation, date extraction, modulo, rounding,
  * or aggregate typing between the renderers (or the engines) breaks
  * a hash.
  *
  * Why this isn't more hand-written queries: the q01-q81 surface
  * tests plans a HUMAN thought to write; the fuzz rows test the
  * CROSS-PRODUCT of algebra features a human wouldn't enumerate
  * (e.g. seed-chosen "join + mod filter + year key + HAVING" shapes).
  * The generator is a pure function of the seed (java.util.Random's
  * LCG is specification-fixed), so every row is reproducible,
  * committed, and certified like any other query — randomized
  * GENERATION, deterministic ARTIFACT.
  *
  * The algebra is restricted to operations both engines define
  * identically on exact types (the repo's fixed-point discipline):
  * long counts/sums on the cents grid, min/max on longs and strings,
  * integer modulo on positive keys, year() on timestamps, string
  * equality. In fz01-fz12 no touched column is nullable — divergence
  * can only mean a real semantics bug.
  *
  * fz13-fz20 (r14 verdict #6) point the gate at NULL semantics — the
  * classic cross-engine divergence axis: a LEFT JOIN against a
  * seed-filtered orders subset manufactures null right-side columns,
  * and the grammar then exercises IS [NOT] NULL predicates,
  * null-skipping COUNT(col) vs COUNT(*), GROUP BY a null-holding key,
  * and MIN over an all-null group — still on exact types only. Every
  * NULLABLE output column is COALESCEd in BOTH renderers (to a
  * sentinel outside the domain), because the gate sorts result rows
  * as Python tuples, where None is unordered against values — the
  * null semantics under test all happen INSIDE the plan, before the
  * output coalesce.
  *
  * fz21-fz28 (r15 verdict #6) point the gate at STRING semantics —
  * the other classic divergence farm: LIKE prefix/infix predicates,
  * substr/concat/lower projections as GROUP BY keys, string min/max,
  * and length arithmetic, over an orders ⋈ customer join. The
  * columns are ASCII-only by construction (TPC-H enums and
  * 'Customer#<digits>' names — no collation surprises), every
  * operation is one both engines define identically on ASCII
  * (1-indexed substr, binary-order min/max, %-wildcard LIKE), and
  * lengths sum as exact longs — so a hash divergence is a real
  * semantics bug, never an encoding artifact.
  *
  * fz29-fz36 (r16, the second half of the r15 verdict-#6 sentence)
  * point the gate at DATE/TIMESTAMP arithmetic: interval addition,
  * day-difference (argument order is a classic cross-engine trap —
  * Spark datediff(end, start) vs DuckDB date_diff('day', start,
  * end)), month/quarter extraction, date_trunc GROUP BY keys, and
  * timestamp min/max — over lineitem ⋈ orders where ship-vs-order
  * lags are positive by construction (so integer bucket division
  * has one rounding mode). All sessions run UTC; every extracted
  * number is CAST to BIGINT.
  *
  * fz37-fz44 (r16 verdict #5) point the gate at MULTI-WAY-JOIN
  * PLAN SPACE — the classic join-order/outer-join divergence farm:
  * three tables (lineitem ⋈ orders ⋈ customer), each join
  * independently INNER or LEFT, assembled in both association
  * orders ((l⋈o)⋈c vs l⋈(o⋈c)) with seed-chosen side filters that
  * make the outer joins actually manufacture nulls. Inner/inner
  * plans are associativity probes (both orders must agree with the
  * SQL); outer mixes pin the null-propagation rules (a null
  * o_custkey never equi-matches, a dropped right side nulls BOTH
  * downstream tables' columns). Measures and keys follow the
  * fz13-20 discipline: exact types only, every nullable output
  * COALESCEd to a sentinel in both renderers, null-skipping
  * count(col) alongside count(*).
  */
object Fuzz extends graft.QueryModule {

  private val N_QUERIES = 12
  private val NULL_SEEDS = 13 to 20
  private val STR_SEEDS = 21 to 28
  private val TS_SEEDS = 29 to 36
  private val MJ_SEEDS = 37 to 44

  // ---- the tiny AST ---------------------------------------------------

  private sealed trait Pred
  private case class QtyLe(k: Int) extends Pred            // l_quantity <= k
  private case class KeyMod(m: Int, r: Int) extends Pred   // l_orderkey % m = r
  private case class ShipGe(date: String) extends Pred     // l_shipdate >= date
  private case class FlagNe(v: String) extends Pred        // l_returnflag <> v
  private case class PrioEq(v: String) extends Pred        // o_orderpriority = v (join only)

  private case class Ast(
      join: Boolean,           // lineitem ⋈ orders on orderkey?
      keys: Seq[String],       // grouping keys (possibly empty = global)
      preds: Seq[Pred],        // conjunctive filters
      wantMin: Boolean,        // min(l_orderkey) measure
      wantMax: Boolean,        // max(grouping-safe string) measure
      havingN: Option[Int])    // HAVING n >= h

  private val L_KEYS = Seq("l_returnflag", "l_linestatus")
  private val O_KEYS = Seq("o_orderpriority", "o_year")
  private val PRIOS = Seq("1-URGENT", "2-HIGH", "3-MEDIUM")
  private val FLAGS = Seq("R", "A", "N")
  private val DATES = Seq("1994-01-01", "1996-06-15", "1992-03-01")

  /** Deterministic AST for a seed: java.util.Random's LCG is part of
    * the Java specification, so the artifact is stable across JVMs,
    * sessions, and rounds. */
  private def astFor(seed: Int): Ast = {
    val r = new java.util.Random(seed.toLong * 0x9E3779B9L + 17)
    val join = r.nextBoolean()
    val keyPool = if (join) L_KEYS ++ O_KEYS else L_KEYS
    val nKeys = r.nextInt(keyPool.size + 1)
    // stable key subset: shuffle indices via the seeded stream
    val keys = r.ints(0, keyPool.size).distinct().limit(nKeys.toLong)
      .toArray.toSeq.map(keyPool)
    val predPool = Seq[Int => Pred](
      _ => QtyLe(10 + r.nextInt(31)),
      // remainder drawn from [0, m) (ADVICE r14: pinning it to 0
      // never exercised non-zero residues — keys are positive, so
      // both engines' % agree on the whole range)
      _ => { val m = 2 + r.nextInt(6); KeyMod(m, r.nextInt(m)) },
      _ => ShipGe(DATES(r.nextInt(DATES.size))),
      _ => FlagNe(FLAGS(r.nextInt(FLAGS.size)))) ++
      (if (join) Seq[Int => Pred](_ => PrioEq(PRIOS(r.nextInt(PRIOS.size))))
       else Nil)
    val nPreds = r.nextInt(3)
    val preds = r.ints(0, predPool.size).distinct().limit(nPreds.toLong)
      .toArray.toSeq.map(i => predPool(i)(0))
    Ast(join, keys, preds,
      wantMin = r.nextBoolean(), wantMax = r.nextBoolean(),
      havingN = if (keys.nonEmpty && r.nextInt(3) == 0)
        Some(1 + r.nextInt(5)) else None)
  }

  // ---- Spark renderer -------------------------------------------------

  private def cents: Column =
    round(col("l_extendedprice") * (lit(1) - col("l_discount")) * lit(100))
      .cast("long")

  private def sparkPred(p: Pred): Column = p match {
    case QtyLe(k)   => col("l_quantity") <= k
    case KeyMod(m, r) => col("l_orderkey") % m === r.toLong
    case ShipGe(d)  => col("l_shipdate") >= lit(d).cast("timestamp")
    case FlagNe(v)  => col("l_returnflag") =!= v
    case PrioEq(v)  => col("o_orderpriority") === v
  }

  private def sparkQuery(ast: Ast)(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(s, dir, "lineitem")
    val base0 =
      if (ast.join)
        l.join(Tables.load(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderpriority"),
              year(col("o_orderdate")).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
      else l
    val base = ast.preds.foldLeft(base0)((d, p) => d.filter(sparkPred(p)))
    val aggs = Seq(
      count(lit(1)).as("n"), sum(cents).as("sum_cents")) ++
      (if (ast.wantMin) Seq(min(col("l_orderkey")).as("mn")) else Nil) ++
      (if (ast.wantMax) Seq(max(col("l_linestatus")).as("mx")) else Nil)
    val grouped =
      if (ast.keys.isEmpty) base.agg(aggs.head, aggs.tail: _*)
      else base.groupBy(ast.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val cut = ast.havingN.fold(grouped)(h => grouped.filter(col("n") >= h))
    if (ast.keys.isEmpty) cut
    else cut.orderBy(ast.keys.map(col): _*)
  }

  // ---- DuckDB renderer ------------------------------------------------

  private def sqlPred(p: Pred): String = p match {
    case QtyLe(k)   => s"l_quantity <= $k"
    case KeyMod(m, r) => s"l_orderkey % $m = $r"
    case ShipGe(d)  => s"l_shipdate >= TIMESTAMP '$d'"
    case FlagNe(v)  => s"l_returnflag <> '$v'"
    case PrioEq(v)  => s"o_orderpriority = '$v'"
  }

  private def sqlQuery(ast: Ast): String = {
    val from =
      if (ast.join)
        """FROM lineitem JOIN (SELECT o_orderkey, o_orderpriority,
          |  CAST(year(o_orderdate) AS BIGINT) AS o_year FROM orders) o
          |  ON l_orderkey = o_orderkey""".stripMargin
      else "FROM lineitem"
    val where =
      if (ast.preds.isEmpty) ""
      else "\nWHERE " + ast.preds.map(sqlPred).mkString(" AND ")
    val meas = Seq(
      "CAST(count(*) AS BIGINT) AS n",
      "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) " +
        "AS BIGINT)) AS BIGINT) AS sum_cents") ++
      (if (ast.wantMin) Seq("min(l_orderkey) AS mn") else Nil) ++
      (if (ast.wantMax) Seq("max(l_linestatus) AS mx") else Nil)
    val sel = (ast.keys ++ meas).mkString(",\n  ")
    val group =
      if (ast.keys.isEmpty) ""
      else "\nGROUP BY " + ast.keys.mkString(", ")
    val having = ast.havingN.fold("")(h => s"\nHAVING count(*) >= $h")
    val order =
      if (ast.keys.isEmpty) ""
      else "\nORDER BY " + ast.keys.mkString(", ")
    s"SELECT $sel\n$from$where$group$having$order"
  }

  // ---- the nullable axis (fz13-fz20) ----------------------------------

  /** NULL sentinel for coalesced outputs — outside every real domain
    * (priorities start with a digit; years are ≥ 1992). */
  private val NULL_PRI = "<null>"
  private val NULL_YEAR = -1L

  private case class NAst(
      rightPrio: Option[String],  // right-side filter o_orderpriority = v
      rightYearLe: Option[Int],   // right-side filter o_year <= y
      nullPred: Int,              // 0 none, 1 IS NULL, 2 IS NOT NULL (o_orderpriority)
      linePreds: Seq[Pred],       // lineitem-side conjuncts (never-null columns)
      keyPri: Boolean,            // group by the NULLABLE o_orderpriority
      keyFlag: Boolean,           // group by l_returnflag (never null)
      wantMinYear: Boolean,       // coalesce(min(o_year), -1) — all-null groups
      havingN: Option[Int])

  /** Deterministic nullable-axis AST: the right side of a LEFT JOIN
    * is pre-filtered (at least one filter is forced), so unmatched
    * lineitem rows carry NULL o_* columns into predicates, grouping,
    * and aggregation. */
  private def nastFor(seed: Int): NAst = {
    val r = new java.util.Random(seed.toLong * 0x9E3779B9L + 29)
    val rp0 = if (r.nextBoolean()) Some(PRIOS(r.nextInt(PRIOS.size))) else None
    val ry0 = if (r.nextBoolean()) Some(1993 + r.nextInt(4)) else None
    // at least one right-side filter, or the join manufactures no nulls
    val (rp, ry) =
      if (rp0.isEmpty && ry0.isEmpty) (Some(PRIOS(r.nextInt(PRIOS.size))), None)
      else (rp0, ry0)
    val linePool = Seq[() => Pred](
      () => QtyLe(10 + r.nextInt(31)),
      () => { val m = 2 + r.nextInt(6); KeyMod(m, r.nextInt(m)) },
      () => ShipGe(DATES(r.nextInt(DATES.size))),
      () => FlagNe(FLAGS(r.nextInt(FLAGS.size))))
    val nLine = r.nextInt(3)
    val linePreds = r.ints(0, linePool.size).distinct().limit(nLine.toLong)
      .toArray.toSeq.map(i => linePool(i)())
    val keyPri = r.nextBoolean()
    val keyFlag = r.nextBoolean()
    NAst(rp, ry, r.nextInt(3), linePreds, keyPri, keyFlag,
      wantMinYear = r.nextBoolean(),
      havingN = if ((keyPri || keyFlag) && r.nextInt(3) == 0)
        Some(1 + r.nextInt(5)) else None)
  }

  private def sparkNullQuery(a: NAst)(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(s, dir, "lineitem")
    val o0 = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        year(col("o_orderdate")).cast("long").as("o_year"))
    val o1 = a.rightPrio.fold(o0)(v => o0.filter(col("o_orderpriority") === v))
    val oF = a.rightYearLe.fold(o1)(y => o1.filter(col("o_year") <= y.toLong))
    val joined = l.join(oF, l("l_orderkey") === oF("o_orderkey"), "left")
    val nulled = a.nullPred match {
      case 1 => joined.filter(col("o_orderpriority").isNull)
      case 2 => joined.filter(col("o_orderpriority").isNotNull)
      case _ => joined
    }
    val base = a.linePreds.foldLeft(nulled)((d, p) => d.filter(sparkPred(p)))
    val keys =
      (if (a.keyPri) Seq(col("o_orderpriority")) else Nil) ++
        (if (a.keyFlag) Seq(col("l_returnflag")) else Nil)
    val aggs = Seq(
      count(lit(1)).as("n"),
      count(col("o_orderkey")).as("n_match"),   // null-skipping count
      sum(cents).as("sum_cents")) ++
      (if (a.wantMinYear)
        Seq(coalesce(min(col("o_year")), lit(NULL_YEAR)).as("mn_year"))
      else Nil)
    val grouped =
      if (keys.isEmpty) base.agg(aggs.head, aggs.tail: _*)
      else base.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    val cut = a.havingN.fold(grouped)(h => grouped.filter(col("n") >= h))
    // output projection: the nullable key leaves the plan COALESCEd
    // (the gate sorts rows as Python tuples — None is unordered there)
    val outKeys =
      (if (a.keyPri)
        Seq(coalesce(col("o_orderpriority"), lit(NULL_PRI)).as("k_pri"))
      else Nil) ++
        (if (a.keyFlag) Seq(col("l_returnflag")) else Nil)
    val outAggCols = Seq(col("n"), col("n_match"), col("sum_cents")) ++
      (if (a.wantMinYear) Seq(col("mn_year")) else Nil)
    cut.select(outKeys ++ outAggCols: _*)
  }

  private def sqlNullQuery(a: NAst): String = {
    val rightWhere = (a.rightPrio.map(v => s"o_orderpriority = '$v'") ++
      a.rightYearLe.map(y => s"CAST(year(o_orderdate) AS BIGINT) <= $y")).toSeq
    val sub = "SELECT o_orderkey, o_orderpriority, " +
      "CAST(year(o_orderdate) AS BIGINT) AS o_year FROM orders" +
      (if (rightWhere.isEmpty) "" else rightWhere.mkString(" WHERE ", " AND ", ""))
    val nullW = a.nullPred match {
      case 1 => Seq("o_orderpriority IS NULL")
      case 2 => Seq("o_orderpriority IS NOT NULL")
      case _ => Nil
    }
    val where = nullW ++ a.linePreds.map(sqlPred)
    val keys =
      (if (a.keyPri) Seq("o_orderpriority") else Nil) ++
        (if (a.keyFlag) Seq("l_returnflag") else Nil)
    val outKeys =
      (if (a.keyPri) Seq(s"coalesce(o_orderpriority, '$NULL_PRI') AS k_pri")
      else Nil) ++
        (if (a.keyFlag) Seq("l_returnflag") else Nil)
    val meas = Seq(
      "CAST(count(*) AS BIGINT) AS n",
      "CAST(count(o_orderkey) AS BIGINT) AS n_match",
      "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) " +
        "AS BIGINT)) AS BIGINT) AS sum_cents") ++
      (if (a.wantMinYear) Seq(s"coalesce(min(o_year), $NULL_YEAR) AS mn_year")
      else Nil)
    val sel = (outKeys ++ meas).mkString(",\n  ")
    s"""SELECT $sel
       |FROM lineitem LEFT JOIN ($sub) o ON l_orderkey = o_orderkey""".stripMargin +
      (if (where.isEmpty) "" else "\nWHERE " + where.mkString(" AND ")) +
      (if (keys.isEmpty) "" else "\nGROUP BY " + keys.mkString(", ")) +
      a.havingN.fold("")(h => s"\nHAVING count(*) >= $h")
  }

  // ---- the string axis (fz21-fz28) ------------------------------------

  private case class SAst(
      preds: Seq[Int],     // indices into the pred pool (rendered below)
      predArgs: Seq[String],
      keyKind: Int,        // 0 global, 1 substr(mkt), 2 concat, 3 lower(mkt), 4 prio
      subLen: Int,         // substr key length 1..3
      wantMin: Boolean,    // min(c_name)
      wantMax: Boolean,    // max(o_orderstatus || '-' || o_orderpriority)
      havingN: Option[Int])

  private val SEGS = Seq("A", "B", "F", "H", "M")   // segment initials
  private val STATS = Seq("O", "F", "P")

  /** Deterministic string-axis AST (the nastFor convention). */
  private def sastFor(seed: Int): SAst = {
    val r = new java.util.Random(seed.toLong * 0x9E3779B9L + 41)
    val nPreds = r.nextInt(3)
    val picks = r.ints(0, 5).distinct().limit(nPreds.toLong).toArray.toSeq
    val args = picks.map {
      case 0 => (1 + r.nextInt(5)).toString         // priority digit
      case 1 => SEGS(r.nextInt(SEGS.size))          // segment initial
      case 2 => f"${r.nextInt(100)}%02d"            // two digits in c_name
      case 3 => STATS(r.nextInt(STATS.size))        // order status
      case _ => (1 + r.nextInt(9)).toString         // c_name digit at pos 10
    }
    SAst(picks, args, keyKind = r.nextInt(5), subLen = 1 + r.nextInt(3),
      wantMin = r.nextBoolean(), wantMax = r.nextBoolean(),
      havingN = if (r.nextInt(3) == 0) Some(1 + r.nextInt(5)) else None)
  }

  private def sparkStrQuery(a: SAst)(s: SparkSession, dir: String): DataFrame = {
    val base0 = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
    val base = a.preds.zip(a.predArgs).foldLeft(base0) { case (d, (p, v)) =>
      d.filter(p match {
        case 0 => col("o_orderpriority").like(s"$v%")
        case 1 => col("c_mktsegment").like(s"$v%")
        case 2 => col("c_name").like(s"%$v%")
        case 3 => col("o_orderstatus") === v
        case _ => substring(col("c_name"), 10, 1) === v
      })
    }
    val key = a.keyKind match {
      case 1 => Some(substring(col("c_mktsegment"), 1, a.subLen).as("k1"))
      case 2 => Some(concat(col("o_orderstatus"), lit("|"),
        substring(col("o_orderpriority"), 1, 1)).as("k1"))
      case 3 => Some(lower(col("c_mktsegment")).as("k1"))
      case 4 => Some(col("o_orderpriority").as("k1"))
      case _ => None
    }
    val aggs = Seq(
      count(lit(1)).as("n"),
      sum(length(col("c_name")).cast("long")).as("len_sum")) ++
      (if (a.wantMin) Seq(min(col("c_name")).as("mn")) else Nil) ++
      (if (a.wantMax) Seq(max(concat(col("o_orderstatus"), lit("-"),
        col("o_orderpriority"))).as("mx")) else Nil)
    val grouped = key match {
      case Some(k) => base.groupBy(k).agg(aggs.head, aggs.tail: _*)
      case None => base.agg(aggs.head, aggs.tail: _*)
    }
    val cut = a.havingN.fold(grouped)(h => grouped.filter(col("n") >= h))
    if (key.isEmpty) cut else cut.orderBy(col("k1"))
  }

  private def sqlStrQuery(a: SAst): String = {
    val where = a.preds.zip(a.predArgs).map {
      case (0, v) => s"o_orderpriority LIKE '$v%'"
      case (1, v) => s"c_mktsegment LIKE '$v%'"
      case (2, v) => s"c_name LIKE '%$v%'"
      case (3, v) => s"o_orderstatus = '$v'"
      case (_, v) => s"substr(c_name, 10, 1) = '$v'"
    }
    val key = a.keyKind match {
      case 1 => Some(s"substr(c_mktsegment, 1, ${a.subLen})")
      case 2 => Some("concat(o_orderstatus, '|', substr(o_orderpriority, 1, 1))")
      case 3 => Some("lower(c_mktsegment)")
      case 4 => Some("o_orderpriority")
      case _ => None
    }
    val meas = Seq(
      "CAST(count(*) AS BIGINT) AS n",
      "CAST(sum(length(c_name)) AS BIGINT) AS len_sum") ++
      (if (a.wantMin) Seq("min(c_name) AS mn") else Nil) ++
      (if (a.wantMax)
        Seq("max(concat(o_orderstatus, '-', o_orderpriority)) AS mx")
      else Nil)
    val sel = (key.map(k => s"$k AS k1").toSeq ++ meas).mkString(",\n  ")
    s"SELECT $sel\nFROM orders JOIN customer ON o_custkey = c_custkey" +
      (if (where.isEmpty) "" else "\nWHERE " + where.mkString(" AND ")) +
      key.fold("")(k => s"\nGROUP BY $k") +
      a.havingN.fold("")(h => s"\nHAVING count(*) >= $h") +
      key.fold("")(_ => "\nORDER BY k1")
  }

  // ---- the timestamp axis (fz29-fz36) ----------------------------------

  private case class TAst(
      preds: Seq[(Int, String)], // (kind, arg) rendered below
      keyKind: Int,              // 0 global, 1 date_trunc month, 2 year,
                                 // 3 quarter, 4 30-day ship-lag bucket
      ivDays: Int,               // interval width for pred/measure
      wantMinTs: Boolean,        // min(l_shipdate)
      wantMaxIv: Boolean,        // max(l_shipdate + INTERVAL ivDays DAY)
      wantLag: Boolean,          // sum(datediff(ship, order))
      havingN: Option[Int])

  /** Deterministic timestamp-axis AST; always lineitem ⋈ orders so
    * the two-date arithmetic (lag, comparisons) is exercisable. */
  private def tastFor(seed: Int): TAst = {
    val r = new java.util.Random(seed.toLong * 0x9E3779B9L + 53)
    val nPreds = r.nextInt(3)
    val picks = r.ints(0, 4).distinct().limit(nPreds.toLong).toArray.toSeq
    val preds = picks.map {
      case 0 => (0, DATES(r.nextInt(DATES.size)))       // ship >= date
      case 1 => (1, (1 + r.nextInt(12)).toString)       // month(ship) = m
      case 2 => (2, (1 + r.nextInt(4)).toString)        // quarter(ship) = q
      case _ => (3, (10 + r.nextInt(80)).toString)      // ship <= order + d
    }
    TAst(preds, keyKind = r.nextInt(5), ivDays = 1 + r.nextInt(90),
      wantMinTs = r.nextBoolean(), wantMaxIv = r.nextBoolean(),
      wantLag = r.nextBoolean(),
      havingN = if (r.nextInt(3) == 0) Some(1 + r.nextInt(5)) else None)
  }

  private def sparkTsQuery(a: TAst)(s: SparkSession, dir: String): DataFrame = {
    val base0 = Tables.load(s, dir, "lineitem")
      .join(Tables.load(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
    val base = a.preds.foldLeft(base0) { case (d, (k, v)) =>
      d.filter(k match {
        case 0 => col("l_shipdate") >= lit(v).cast("timestamp")
        case 1 => month(col("l_shipdate")) === v.toInt
        case 2 => quarter(col("l_shipdate")) === v.toInt
        case _ => col("l_shipdate") <= expr(s"o_orderdate + INTERVAL $v DAY")
      })
    }
    val key = a.keyKind match {
      case 1 => Some(date_trunc("month", col("l_shipdate")).as("k1"))
      case 2 => Some(year(col("l_shipdate")).cast("long").as("k1"))
      case 3 => Some(quarter(col("l_shipdate")).cast("long").as("k1"))
      case 4 => Some(expr(
        "CAST(datediff(l_shipdate, o_orderdate) AS BIGINT) DIV 30").as("k1"))
      case _ => None
    }
    val aggs = Seq(count(lit(1)).as("n")) ++
      (if (a.wantMinTs) Seq(min(col("l_shipdate")).as("mn_ts")) else Nil) ++
      (if (a.wantMaxIv) Seq(max(expr(
        s"l_shipdate + INTERVAL ${a.ivDays} DAY")).as("mx_ts")) else Nil) ++
      (if (a.wantLag) Seq(sum(
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
        .as("lag_days")) else Nil)
    val grouped = key match {
      case Some(k) => base.groupBy(k).agg(aggs.head, aggs.tail: _*)
      case None => base.agg(aggs.head, aggs.tail: _*)
    }
    val cut = a.havingN.fold(grouped)(h => grouped.filter(col("n") >= h))
    if (key.isEmpty) cut else cut.orderBy(col("k1"))
  }

  private def sqlTsQuery(a: TAst): String = {
    val where = a.preds.map {
      case (0, v) => s"l_shipdate >= TIMESTAMP '$v'"
      case (1, v) => s"CAST(month(l_shipdate) AS BIGINT) = $v"
      case (2, v) => s"CAST(quarter(l_shipdate) AS BIGINT) = $v"
      case (_, v) => s"l_shipdate <= o_orderdate + INTERVAL $v DAY"
    }
    val key = a.keyKind match {
      case 1 => Some("CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)")
      case 2 => Some("CAST(year(l_shipdate) AS BIGINT)")
      case 3 => Some("CAST(quarter(l_shipdate) AS BIGINT)")
      case 4 => Some("CAST(date_diff('day', CAST(o_orderdate AS DATE), " +
        "CAST(l_shipdate AS DATE)) AS BIGINT) // 30")
      case _ => None
    }
    val meas = Seq("CAST(count(*) AS BIGINT) AS n") ++
      (if (a.wantMinTs) Seq("min(l_shipdate) AS mn_ts") else Nil) ++
      (if (a.wantMaxIv)
        Seq(s"max(l_shipdate + INTERVAL ${a.ivDays} DAY) AS mx_ts")
      else Nil) ++
      (if (a.wantLag)
        Seq("CAST(sum(date_diff('day', CAST(o_orderdate AS DATE), " +
          "CAST(l_shipdate AS DATE))) AS BIGINT) AS lag_days")
      else Nil)
    val sel = (key.map(k => s"$k AS k1").toSeq ++ meas).mkString(",\n  ")
    s"SELECT $sel\nFROM lineitem JOIN orders ON l_orderkey = o_orderkey" +
      (if (where.isEmpty) "" else "\nWHERE " + where.mkString(" AND ")) +
      key.fold("")(k => s"\nGROUP BY $k") +
      a.havingN.fold("")(h => s"\nHAVING count(*) >= $h") +
      key.fold("")(_ => "\nORDER BY k1")
  }

  // ---- the multi-way-join axis (fz37-fz44) -----------------------------

  private case class MAst(
      leftLO: Boolean,       // lineitem→orders LEFT (vs INNER)
      leftC: Boolean,        // …→customer LEFT (vs INNER)
      assoc: Int,            // 0: (l⋈o)⋈c ; 1: l⋈(o⋈c)
      prioF: Option[String], // orders pre-filter o_orderpriority = v
      segF: Option[String],  // customer pre-filter c_mktsegment = v
      linePreds: Seq[Pred],  // lineitem-side conjuncts (never-null cols)
      keyKind: Int,          // 0 global, 1 seg, 2 prio, 3 flag, 4 flag+seg
      wantMin: Boolean,      // coalesce(min(o_orderkey), -1)
      havingN: Option[Int])

  private val SEGMENTS = Seq("BUILDING", "AUTOMOBILE", "MACHINERY",
    "HOUSEHOLD", "FURNITURE")

  /** Deterministic multi-way AST (the nastFor convention). In this
    * data every lineitem has its order and every order its customer,
    * so an outer join only manufactures nulls when its inner side is
    * pre-filtered — a LEFT draw therefore FORCES the corresponding
    * side filter (the fz13 rule, applied per join). */
  private def mastFor(seed: Int): MAst = {
    val r = new java.util.Random(seed.toLong * 0x9E3779B9L + 67)
    val leftLO = r.nextBoolean()
    val leftC = r.nextBoolean()
    val assoc = r.nextInt(2)
    val prio0 = if (r.nextBoolean()) Some(PRIOS(r.nextInt(PRIOS.size))) else None
    val seg0 =
      if (r.nextBoolean()) Some(SEGMENTS(r.nextInt(SEGMENTS.size))) else None
    val prioF =
      if (leftLO && prio0.isEmpty) Some(PRIOS(r.nextInt(PRIOS.size))) else prio0
    val segF =
      if (leftC && seg0.isEmpty) Some(SEGMENTS(r.nextInt(SEGMENTS.size)))
      else seg0
    val linePool = Seq[() => Pred](
      () => QtyLe(10 + r.nextInt(31)),
      () => { val m = 2 + r.nextInt(6); KeyMod(m, r.nextInt(m)) },
      () => ShipGe(DATES(r.nextInt(DATES.size))),
      () => FlagNe(FLAGS(r.nextInt(FLAGS.size))))
    val nLine = r.nextInt(3)
    val linePreds = r.ints(0, linePool.size).distinct().limit(nLine.toLong)
      .toArray.toSeq.map(i => linePool(i)())
    MAst(leftLO, leftC, assoc, prioF, segF, linePreds,
      keyKind = r.nextInt(5), wantMin = r.nextBoolean(),
      havingN = if (r.nextInt(3) == 0) Some(1 + r.nextInt(5)) else None)
  }

  private def sparkMjQuery(a: MAst)(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(s, dir, "lineitem")
    val o0 = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    val oF = a.prioF.fold(o0)(v => o0.filter(col("o_orderpriority") === v))
    val c0 = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val cF = a.segF.fold(c0)(v => c0.filter(col("c_mktsegment") === v))
    val jlo = if (a.leftLO) "left" else "inner"
    val jc = if (a.leftC) "left" else "inner"
    val joined = a.assoc match {
      case 0 => l.join(oF, col("l_orderkey") === col("o_orderkey"), jlo)
        .join(cF, col("o_custkey") === col("c_custkey"), jc)
      case _ =>
        val oc = oF.join(cF, col("o_custkey") === col("c_custkey"), jc)
        l.join(oc, col("l_orderkey") === col("o_orderkey"), jlo)
    }
    val base = a.linePreds.foldLeft(joined)((d, p) => d.filter(sparkPred(p)))
    val keys = a.keyKind match {
      case 1 => Seq(col("c_mktsegment"))
      case 2 => Seq(col("o_orderpriority"))
      case 3 => Seq(col("l_returnflag"))
      case 4 => Seq(col("l_returnflag"), col("c_mktsegment"))
      case _ => Nil
    }
    val aggs = Seq(
      count(lit(1)).as("n"),
      count(col("c_custkey")).as("n_cust"),   // null-skipping
      sum(cents).as("sum_cents")) ++
      (if (a.wantMin)
        Seq(coalesce(min(col("o_orderkey")), lit(-1L)).as("mn"))
      else Nil)
    val grouped =
      if (keys.isEmpty) base.agg(aggs.head, aggs.tail: _*)
      else base.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    val cut = a.havingN.fold(grouped)(h => grouped.filter(col("n") >= h))
    val outKeys = a.keyKind match {
      case 1 => Seq(coalesce(col("c_mktsegment"), lit(NULL_PRI)).as("k_seg"))
      case 2 => Seq(coalesce(col("o_orderpriority"), lit(NULL_PRI)).as("k_pri"))
      case 3 => Seq(col("l_returnflag").as("k_flag"))
      case 4 => Seq(col("l_returnflag").as("k_flag"),
        coalesce(col("c_mktsegment"), lit(NULL_PRI)).as("k_seg"))
      case _ => Nil
    }
    val outAggs = Seq(col("n"), col("n_cust"), col("sum_cents")) ++
      (if (a.wantMin) Seq(col("mn")) else Nil)
    cut.select(outKeys ++ outAggs: _*)
  }

  private def sqlMjQuery(a: MAst): String = {
    val oSub = "SELECT o_orderkey, o_custkey, o_orderpriority FROM orders" +
      a.prioF.fold("")(v => s" WHERE o_orderpriority = '$v'")
    val cSub = "SELECT c_custkey, c_mktsegment FROM customer" +
      a.segF.fold("")(v => s" WHERE c_mktsegment = '$v'")
    val jlo = if (a.leftLO) "LEFT JOIN" else "JOIN"
    val jc = if (a.leftC) "LEFT JOIN" else "JOIN"
    val from = a.assoc match {
      case 0 =>
        s"""FROM lineitem $jlo ($oSub) o ON l_orderkey = o_orderkey
           |  $jc ($cSub) c ON o_custkey = c_custkey""".stripMargin
      case _ =>
        s"""FROM lineitem $jlo (
           |  SELECT o_orderkey, o_custkey, o_orderpriority,
           |    c_custkey, c_mktsegment
           |  FROM ($oSub) o $jc ($cSub) c ON o_custkey = c_custkey) oc
           |  ON l_orderkey = oc.o_orderkey""".stripMargin
    }
    val keys = a.keyKind match {
      case 1 => Seq("c_mktsegment")
      case 2 => Seq("o_orderpriority")
      case 3 => Seq("l_returnflag")
      case 4 => Seq("l_returnflag", "c_mktsegment")
      case _ => Nil
    }
    val outKeys = a.keyKind match {
      case 1 => Seq(s"coalesce(c_mktsegment, '$NULL_PRI') AS k_seg")
      case 2 => Seq(s"coalesce(o_orderpriority, '$NULL_PRI') AS k_pri")
      case 3 => Seq("l_returnflag AS k_flag")
      case 4 => Seq("l_returnflag AS k_flag",
        s"coalesce(c_mktsegment, '$NULL_PRI') AS k_seg")
      case _ => Nil
    }
    val meas = Seq(
      "CAST(count(*) AS BIGINT) AS n",
      "CAST(count(c_custkey) AS BIGINT) AS n_cust",
      "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) " +
        "AS BIGINT)) AS BIGINT) AS sum_cents") ++
      (if (a.wantMin) Seq("coalesce(min(o_orderkey), -1) AS mn") else Nil)
    val sel = (outKeys ++ meas).mkString(",\n  ")
    s"SELECT $sel\n$from" +
      (if (a.linePreds.isEmpty) ""
       else "\nWHERE " + a.linePreds.map(sqlPred).mkString(" AND ")) +
      (if (keys.isEmpty) "" else "\nGROUP BY " + keys.mkString(", ")) +
      a.havingN.fold("")(h => s"\nHAVING count(*) >= $h")
  }

  // ---- registration ---------------------------------------------------

  /** Human-auditable description of each generated plan (the spec
    * prints these; COVERAGE.md records the committed set). */
  private[graft] def describe(seed: Int): String =
    if (MJ_SEEDS.contains(seed)) {
      val a = mastFor(seed)
      s"seed=$seed mjoin lo=${if (a.leftLO) "left" else "inner"} " +
        s"c=${if (a.leftC) "left" else "inner"} assoc=${a.assoc} " +
        s"prioF=${a.prioF} segF=${a.segF} " +
        s"linePreds=${a.linePreds.mkString("[", ",", "]")} " +
        s"keyKind=${a.keyKind} min=${a.wantMin} having=${a.havingN}"
    } else if (TS_SEEDS.contains(seed)) {
      val a = tastFor(seed)
      s"seed=$seed tsjoin preds=${a.preds.mkString("[", ",", "]")} " +
        s"keyKind=${a.keyKind} ivDays=${a.ivDays} minTs=${a.wantMinTs} " +
        s"maxIv=${a.wantMaxIv} lag=${a.wantLag} having=${a.havingN}"
    } else if (STR_SEEDS.contains(seed)) {
      val a = sastFor(seed)
      s"seed=$seed strjoin preds=${a.preds.zip(a.predArgs).mkString("[", ",", "]")} " +
        s"keyKind=${a.keyKind} subLen=${a.subLen} min=${a.wantMin} " +
        s"max=${a.wantMax} having=${a.havingN}"
    } else if (NULL_SEEDS.contains(seed)) {
      val a = nastFor(seed)
      s"seed=$seed leftjoin rightPrio=${a.rightPrio} rightYearLe=${a.rightYearLe} " +
        s"nullPred=${a.nullPred} linePreds=${a.linePreds.mkString("[", ",", "]")} " +
        s"keyPri=${a.keyPri} keyFlag=${a.keyFlag} minYear=${a.wantMinYear} " +
        s"having=${a.havingN}"
    } else {
      val a = astFor(seed)
      s"seed=$seed join=${a.join} keys=${a.keys.mkString("[", ",", "]")} " +
        s"preds=${a.preds.mkString("[", ",", "]")} min=${a.wantMin} " +
        s"max=${a.wantMax} having=${a.havingN}"
    }

  private[graft] def sqlFor(seed: Int): String =
    if (MJ_SEEDS.contains(seed)) sqlMjQuery(mastFor(seed))
    else if (TS_SEEDS.contains(seed)) sqlTsQuery(tastFor(seed))
    else if (STR_SEEDS.contains(seed)) sqlStrQuery(sastFor(seed))
    else if (NULL_SEEDS.contains(seed)) sqlNullQuery(nastFor(seed))
    else sqlQuery(astFor(seed))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    (1 to N_QUERIES).map { i =>
      f"fz$i%02d_differential" ->
        ((s: SparkSession, dir: String) => sparkQuery(astFor(i))(s, dir))
    }.toMap ++ NULL_SEEDS.map { i =>
      f"fz$i%02d_differential_null" ->
        ((s: SparkSession, dir: String) => sparkNullQuery(nastFor(i))(s, dir))
    }.toMap ++ STR_SEEDS.map { i =>
      f"fz$i%02d_differential_str" ->
        ((s: SparkSession, dir: String) => sparkStrQuery(sastFor(i))(s, dir))
    }.toMap ++ TS_SEEDS.map { i =>
      f"fz$i%02d_differential_ts" ->
        ((s: SparkSession, dir: String) => sparkTsQuery(tastFor(i))(s, dir))
    }.toMap ++ MJ_SEEDS.map { i =>
      f"fz$i%02d_differential_mj" ->
        ((s: SparkSession, dir: String) => sparkMjQuery(mastFor(i))(s, dir))
    }.toMap

  val oracles: Map[String, String] =
    (1 to N_QUERIES).map(i => f"fz$i%02d_differential" -> sqlFor(i)).toMap ++
      NULL_SEEDS.map(i => f"fz$i%02d_differential_null" -> sqlFor(i)).toMap ++
      STR_SEEDS.map(i => f"fz$i%02d_differential_str" -> sqlFor(i)).toMap ++
      TS_SEEDS.map(i => f"fz$i%02d_differential_ts" -> sqlFor(i)).toMap ++
      MJ_SEEDS.map(i => f"fz$i%02d_differential_mj" -> sqlFor(i)).toMap
}
