package e2ebench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

import graft.pipeline._
import graft.pipeline.HttpConnectors._

/** The benchmark's own tests: the stub's 400→halving and paging, the
  * fingerprint's order-insensitivity, and the percentile and tail rules.
  * Run with `python3 e2ebench/run.py --selftest`; exits non-zero on the
  * first failed assertion. */
object SelfTest {
  private var passed = 0
  private def check(name: String)(cond: => Boolean): Unit = {
    if (!cond) throw new AssertionError(s"self-test failed: $name")
    passed += 1
    println(s"ok - $name")
  }

  def main(args: Array[String]): Unit = {
    percentiles()
    fingerprints()
    stubHalving()
    stubPaging(args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("e2ebench-selftest").toString))
    println(s"$passed checks passed")
  }

  private def percentiles(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("nearest-rank p50 of 1..100 is 50")(Stats.percentile(xs, 50) == 50.0)
    check("nearest-rank p90 of 1..100 is 90")(Stats.percentile(xs, 90) == 90.0)
    check("p100 is the max")(Stats.percentile(xs, 100) == 100.0)
    check("percentile ignores input order")(
      Stats.percentile(xs.reverse, 75) == Stats.percentile(xs, 75))
    check("tail rule: 100 ops -> p90")(Stats.tailPercentile(100).contains(90.0))
    check("tail rule: 40 ops -> p75")(Stats.tailPercentile(40).contains(75.0))
    check("tail rule: 20 ops -> p50")(Stats.tailPercentile(20).contains(50.0))
    check("tail rule: 10 ops -> none")(Stats.tailPercentile(10).isEmpty)
    check("tail rule leaves >= 10 ops beyond")((11 to 500).forall { n =>
      Stats.tailPercentile(n).forall(p => n - math.ceil(p / 100 * n).toInt >= 10)
    })
    check("flat series has no trend")(Stats.relativeSlope(Seq.fill(20)(5.0)) == 0.0)
    check("growing series trends up")(Stats.relativeSlope((1 to 20).map(_.toDouble)) > 0)
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("score", DoubleType),
    StructField("name", StringType), StructField("tags", ArrayType(StringType))))
  private def row(id: Long, score: Double, name: String, tags: Seq[String]): Row =
    new GenericRowWithSchema(Array[Any](id, score, name, tags), schema)

  private def fingerprints(): Unit = {
    val rows = Seq(row(1, 0.5, "a", Seq("x")), row(2, 1.25, null, Nil),
      row(3, -2.0, "c", Seq("y", "z")))
    val fp = Stats.fingerprint(rows)
    check("fingerprint ignores row order")(
      rows.permutations.forall(p => Stats.fingerprint(p) == fp))
    check("fingerprint counts rows")(fp.startsWith("3:"))
    check("fingerprint sees a changed value")(
      Stats.fingerprint(rows.updated(0, row(1, 0.5, "b", Seq("x")))) != fp)
    check("fingerprint sees a dropped row")(Stats.fingerprint(rows.tail) != fp)
    check("fingerprint sees array order")(
      Stats.fingerprint(rows.updated(2, row(3, -2.0, "c", Seq("z", "y")))) != fp)
    check("floats are rounded to 6 decimals")(
      Stats.fingerprint(Seq(row(1, 0.1 + 0.2, "a", Nil))) ==
        Stats.fingerprint(Seq(row(1, 0.3, "a", Nil))))
    check("integral floats render like integers")(Stats.canon(3.0) == Stats.canon(3L))
    check("negative zero after rounding is zero")(Stats.canon(-1e-9) == "0")
    val reordered = new GenericRowWithSchema(Array[Any](Seq("x"), "a", 0.5, 1L),
      StructType(schema.fields.reverse))
    check("fingerprint ignores column order")(
      Stats.fingerprint(Seq(reordered)) == Stats.fingerprint(Seq(rows.head)))
  }

  private def stubHalving(): Unit = {
    val fx = new EtlFixture(1, 60, 10)
    val stub = new Stub(fx, 2000, 2)
    try {
      val sink = HttpIntelSink(AnomaliEndpoint(stub.url, "u", "k"))
      val objs = fx.expectedObjects.map { case (k, v) =>
        s"""{"$k":"$v","confidence":50}""" }
      check("fixture drops the unsupported type and md5-less files")(
        objs.length < 7 * 60 && objs.nonEmpty)
      val results = Sinks.uploadWithSplit(sink, "{}", objs)
      val t = stub.tally()
      check("every halved upload is accepted")(results.forall(_ == Sinks.Accepted))
      check("an oversize chunk takes the 400 path")(t.intelTooLarge > 0)
      check("halving loses and repeats nothing")(t.intelAccepted == objs.length &&
        t.acceptedHash == fx.expectedObjects.map { case (k, v) =>
          EtlFixture.objectHash(k, v) }.sum)
      check("every intelligence request is counted")(
        t.payloadBytes.length == t.intelTooLarge + results.length)
      stub.reset()
      check("reset clears the tally")(stub.tally().reqs.isEmpty)
    } finally stub.stop()
  }

  private def stubPaging(work: String): Unit = {
    val fx = new EtlFixture(2, 10, 25)
    val stub = new Stub(fx, Int.MaxValue, 2)
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val src = HttpSources(WorldWatchEndpoint(stub.url, "t"),
        AnomaliEndpoint(stub.url, "u", "k"), DatalakeEndpoint(s"${stub.url}/bulk", "t"),
        Model.PipelineConfig(), statePageSize = 5)
      val state = src.tipReportState(spark).collect()
        .map(r => (r.getAs[Long]("ww_id"), r.getAs[Long]("tip_id"))).toSet
      val pages = stub.tally().reqs.count(_.endpoint == "state_search")
      check("paging returns every tipreport once")(
        state == (2L to 25L by 2).map(id => (id, EtlFixture.TipBase + id)).toSet)
      // 12 objects in pages of 5: 5, 5, 2 -> three requests
      check("paging stops at the first short page")(pages == 3)
      val again = { stub.reset(); src.tipReportState(spark).count() }
      check("the stub is stateless across cycles")(again == state.size &&
        stub.tally().reqs.count(_.endpoint == "state_search") == pages)
    } finally { spark.stop(); stub.stop() }
  }
}
