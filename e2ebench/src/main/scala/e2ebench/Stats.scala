package e2ebench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order statistics and the result fingerprint shared by every workload. */
object Stats {

  /** Nearest-rank percentile (`p` in 0..100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The tail rule: the highest of the candidate percentiles that still
    * leaves at least `beyond` ops strictly above its rank in a run of `n`
    * ops. Each workload fixes its tail percentile from this rule at its
    * typical op count (see `workloads.json`); the rule is kept here so the
    * self-test can pin it. */
  def tailPercentile(n: Int, beyond: Int = 10,
      candidates: Seq[Double] = Seq(99, 95, 90, 80, 75, 70, 65, 60, 50)): Option[Double] =
    candidates.sorted.reverse.find { p =>
      n - math.ceil(p / 100.0 * n).toInt >= beyond
    }

  /** Least-squares slope of `ys` against their index, as a share of the
    * mean per step; 0 for fewer than two points or a zero mean. */
  def relativeSlope(ys: Seq[Double]): Double = {
    val n = ys.length
    if (n < 2) return 0.0
    val mx = (n - 1) / 2.0
    val my = ys.sum / n
    val num = ys.indices.map(i => (i - mx) * (ys(i) - my)).sum
    val den = ys.indices.map(i => (i - mx) * (i - mx)).sum
    if (my == 0.0) 0.0 else num / den / my
  }

  // ------------------------------------------------------------ fingerprint

  /** Canonical text of one cell. The same rules are implemented in
    * `run.py` for the DuckDB side, so both engines render equal values
    * identically: numbers rounded half-even to 6 decimals with trailing
    * zeros dropped, timestamps as epoch microseconds, structs and maps as
    * key-sorted objects, arrays in order. */
  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => b.toString
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case i: Long => i.toString
    case i: BigInt => i.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case d: JBigDecimal => dec(d)
    case d: scala.math.BigDecimal => dec(d.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000L).toString
    case t: java.time.LocalDateTime =>
      canon(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row =>
      val names = r.schema.fieldNames
      names.indices.sortBy(i => names(i))
        .map(i => s"${names(i)}:${canon(r.get(i))}").mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (canon(k), canon(x)) }.sortBy(_._1)
        .map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else dec(new JBigDecimal(d))

  private def dec(d: JBigDecimal): String = {
    val r = d.setScale(6, RoundingMode.HALF_EVEN)
    if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
  }

  /** `rows:hash` — the row count and the 64-bit sum of per-row MD5
    * prefixes over the columns in name order. Row order does not matter. */
  def fingerprint(rows: Seq[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val names = r.schema.fieldNames
      val text = names.indices.sortBy(i => names(i))
        .map(i => canon(r.get(i))).mkString("\u0001")
      sum += rowHash(text)
    }
    f"${rows.length}:$sum%016x"
  }

  def rowHash(text: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(text.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }
}
