package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

/** `graft.Probe` on the shared session: the JSON line parses, the
  * listener saw the warm reps' jobs and tasks, and the plans file holds
  * the last rep's executions with their formatted plans. */
class ProbeSpec extends SparkSpec {
  test("Probe.run reports per-rep jobs and tasks and writes the last rep's plans") {
    val plans = java.nio.file.Files.createTempFile("graft-probe", ".plans")
    plans.toFile.deleteOnExit()
    val line = Probe.run(spark, sf, "q01_pricing_summary", reps = 2,
      plansFile = Some(plans.toString))
    val json = JsonMethods.parse(line)
    def num(k: String): Double = json \ k match {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case other => fail(s"$k: $other in $line")
    }
    assert((json \ "probe") == JString("q01_pricing_summary"))
    assert((json \ "reps").children.size == 2 && (json \ "gc_ms").children.size == 2)
    assert(num("jobs_per_rep") > 0 && num("tasks_per_rep") > 0, line)
    assert(num("median_wall_sec") > 0, line)
    val text = new String(java.nio.file.Files.readAllBytes(plans), "UTF-8")
    assert("""(?m)^== exec \d+ \(""".r.findAllIn(text).nonEmpty, text)
    assert(text.contains("== Physical Plan =="), text)
    assert("""(?m)^== total: [1-9]\d* executions""".r.findFirstIn(text).nonEmpty, text)
  }
}
