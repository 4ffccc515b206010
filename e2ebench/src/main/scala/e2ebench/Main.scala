package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: a fixed set of distinct ops. */
trait Workload {
  def ops: IndexedSeq[String]
  /** Untimed reps of every distinct op before the timed phase. */
  def warmReps: Int
  /** The module whose entry points the ops call, for self-time spans. */
  def layer: String
  /** Run one op (the timed part) and return its output check, which the
    * harness runs untimed: `None` when the output is right. */
  def run(op: String): () => Option[String]
  /** Size of the state the workload keeps, sampled after each op. */
  def stateSize: Option[Double] = None
  /** Workload-specific per-layer metrics of the traced phase. */
  def layerMetrics(t: Tracer, ops: Seq[OpRec]): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

final case class OpRec(id: Int, op: String, startMs: Double, endMs: Double,
    cpuS: Double, error: Option[String]) {
  def wallS: Double = (endMs - startMs) / 1e3
}

/** Counters read at the edges of a phase. */
final case class Probe(ms: Double, cpuS: Double, gcS: Double, gcN: Long,
    jitS: Double, stat: Array[Long])

object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  def now(): Probe = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Probe(Clock.nowMs, cpuS, gcs.map(_.getCollectionTime).sum / 1e3,
      gcs.map(_.getCollectionCount).sum,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      procStat())
  }
  /** The aggregate `cpu` line of /proc/stat (user … steal), or empty. */
  def procStat(): Array[Long] =
    try {
      val l = Files.readAllLines(Paths.get("/proc/stat")).asScala.head
      l.trim.split("\\s+").drop(1).take(8).map(_.toLong)
    } catch { case _: Exception => Array.empty }
  def stealFrac(a: Probe, b: Probe): Double =
    if (a.stat.length < 8 || b.stat.length < 8) 0.0
    else {
      val d = b.stat.zip(a.stat).map { case (x, y) => x - y }
      if (d.sum <= 0) 0.0 else d(7).toDouble / d.sum
    }
  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}

/** The timed ops of one phase plus the counters around them. */
final case class Phase(recs: Seq[OpRec], a: Probe, b: Probe, state: Seq[Double],
    tailPct: Double) {
  val walls: Seq[Double] = recs.map(_.wallS)
  def p50: Double = Stats.median(walls)
  def tail: Double = Stats.percentile(walls, tailPct)
  def opsPerS: Double = recs.length / walls.sum
  def cpuPerOp: Double = recs.map(_.cpuS).sum / recs.length
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, expected: String,
      config: String, out: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("work"),
      m.getOrElse("expected", ""), m("config"), m("out"))
  }

  def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--dump-oracles")) { dumpOracles(argv(1)); return }
    if (argv.headOption.contains("--selftest")) { SelfTest.main(argv.drop(1)); return }
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cfg = Config.load(a.config, a.workload)
    val spark = session(a.work)
    System.err.println(f"[e2ebench] session ready at ${(Clock.nowMs - jvmStart) / 1e3}%.2f s")
    val cores = spark.sparkContext.defaultParallelism
    val wl: Workload = a.workload match {
      case "etl_cycle" => new EtlWorkload(spark, a.seed, cfg)
      case "query_scan" =>
        new QueryWorkload(spark, a.data, cfg, Config.expected(a.expected))
      case "stream_state" => new StreamWorkload(spark, a.seed, a.work, cfg)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rng = new scala.util.Random(a.seed)
    val order = Iterator.continually(rng.shuffle(wl.ops)).flatten
    var nextId = 0
    var attempted = 0
    var failed = 0
    val errors = scala.collection.mutable.LinkedHashSet.empty[String]

    def exec(op: String, tracer: Option[Tracer]): OpRec = {
      val id = nextId; nextId += 1
      tracer.foreach(_.op = id)
      val c0 = Probe.cpuS
      val t0 = Clock.nowMs
      val (t1, c1, check) =
        try {
          val chk = Tracer.span("op")(wl.run(op))
          (Clock.nowMs, Probe.cpuS, chk)
        } catch {
          case e: Throwable =>
            val msg = s"$op: $e"
            (Clock.nowMs, Probe.cpuS, () => Some(msg))
        }
      val err = try check() catch { case e: Throwable => Some(s"$op check: $e") }
      attempted += 1
      err.foreach { e => failed += 1; if (errors.size < 10) errors += e }
      OpRec(id, op, t0, t1, c1 - c0, err)
    }

    def phase(seconds: Double, tracer: Option[Tracer]): Phase = {
      val a0 = Probe.now()
      val recs = Seq.newBuilder[OpRec]
      val state = Seq.newBuilder[Double]
      while (Clock.nowMs - a0.ms < seconds * 1000) {
        recs += exec(order.next(), tracer)
        wl.stateSize.foreach(state += _)
      }
      Phase(recs.result(), a0, Probe.now(), state.result(), cfg.tailPct)
    }

    // set-up: fixtures were built by the constructor; warm every op
    System.err.println(f"[e2ebench] fixtures ready at ${(Clock.nowMs - jvmStart) / 1e3}%.2f s")
    val warm = for (_ <- 1 to wl.warmReps; op <- wl.ops) yield exec(op, None)
    val setupS = (Clock.nowMs - jvmStart) / 1e3
    val base = phase(a.seconds, None)
    (warm ++ base.recs).groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, rs) =>
      System.err.println(f"[e2ebench]   $op%-26s " + rs.map(r => f"${r.wallS}%.3f").mkString(" "))
    }
    val out = new StringBuilder
    def kv(k: String, v: Double): String =
      "\"" + k + "\":" + (if (v.isNaN || v.isInfinite) "0.0" else v.toString)
    val e2e = Seq(
      kv("setup_s", setupS), kv("op_p50_s", base.p50), kv("op_tail_s", base.tail),
      kv("ops_per_s", base.opsPerS), kv("cpu_s_per_op", base.cpuPerOp),
      kv("peak_rss_mb", Probe.peakRssMb()))
    val steady = steadiness(base)
    System.err.println(f"[e2ebench] ${a.workload}: ${base.recs.length} timed ops, " +
      f"p50 ${base.p50}%.4f s, setup $setupS%.2f s; " + steady._2)
    val layers: Seq[String] =
      if (!a.trace) Nil
      else {
        val t = new Tracer(spark, cores)
        t.install()
        Tracer.current = Some(t)
        val traced = try phase(a.seconds, Some(t)) finally {
          Tracer.current = None; t.uninstall()
        }
        t.writeSpans(Paths.get(a.work, s"spans_${a.workload}.jsonl"))
        val m = Layers.derive(t, traced, wl) ++ steady._1 ++ Map(
          "trace.overhead_op_p50_s" -> (traced.p50 - base.p50),
          "trace.overhead_ops_per_s" -> (traced.opsPerS - base.opsPerS),
          "trace.overhead_cpu_s_per_op" -> (traced.cpuPerOp - base.cpuPerOp))
        m.toSeq.sortBy(_._1).map { case (k, v) => kv(k, v) }
      }
    out ++= s"""{"workload":"${a.workload}","attempted":$attempted,"failed":$failed,"""
    out ++= s""""timed_ops":${base.recs.length},"tail_pct":${cfg.tailPct},"""
    out ++= s""""noisy":${steady._3},"steadiness":"${steady._2}","""
    out ++= errors.map(e => "\"" + e.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(300) + "\"")
      .mkString("\"errors\":[", ",", "],")
    out ++= e2e.mkString("\"e2e\":{", ",", "},")
    out ++= layers.mkString("\"layers\":{", ",", "}}")
    Files.writeString(Paths.get(a.out), out.toString)
    wl.close()
    spark.stop()
  }

  /** The steadiness report of a timed phase: (metrics, text, noisy). A run
    * is noisy when JIT compiles for more than 30% of the phase, when the
    * second half's median op moves more than 15% from the first's, when
    * kept state trends by more than 1% per op, or when more than 5% of the
    * host's CPU time was stolen. Under C1 the JIT share of a steady run is
    * 16-21% on every workload (each new plan brings freshly generated
    * classes), so the JIT limit sits above that level and flags only a run
    * whose compiler did unusually much work. Noisy runs are reported, never
    * dropped or re-run. */
  def steadiness(p: Phase): (Map[String, Double], String, Boolean) = {
    val wallS = (p.b.ms - p.a.ms) / 1e3
    val jit = p.b.jitS - p.a.jitS
    val (h1, h2) = p.walls.splitAt(p.walls.length / 2)
    val half = if (h1.isEmpty || h2.isEmpty) 1.0 else Stats.median(h2) / Stats.median(h1)
    val trend = Stats.relativeSlope(p.state)
    val steal = Probe.stealFrac(p.a, p.b)
    val why = Seq(
      (jit > 0.30 * wallS) -> f"JIT compiled for $jit%.2f s of $wallS%.1f s",
      (math.abs(half - 1) > 0.15) -> f"second-half median is ${half}%.2fx the first",
      (math.abs(trend) > 0.01) -> f"state size trends ${trend * 100}%.2f%% per op",
      (steal > 0.05) -> f"host steal ${steal * 100}%.1f%%").collect { case (true, w) => w }
    val text = f"jit_s_timed=$jit%.3f half_ratio=$half%.3f state_trend=$trend%.4f " +
      f"steal_frac=$steal%.4f" + (if (why.isEmpty) "" else " NOISY: " + why.mkString("; "))
    (Map("jvm.jit_s_timed" -> jit, "steady.half_ratio" -> half,
      "steady.state_trend" -> trend, "host.steal_frac" -> steal), text, why.nonEmpty)
  }

  /** Every registered oracle's DuckDB SQL as one JSON object. */
  private def dumpOracles(path: String): Unit = {
    import org.json4s.{JObject, JString}
    import org.json4s.jackson.JsonMethods.{compact, render}
    val m = graft.SparkEntry.oracleSql.toList.sortBy(_._1)
    Files.writeString(Paths.get(path),
      compact(render(JObject(m.map { case (k, v) => k -> JString(v) }))))
  }
}
