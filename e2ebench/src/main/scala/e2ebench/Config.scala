package e2ebench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** One workload's entry in `workloads.json`: only what differs between
  * workloads. Sizes that one workload alone uses are constants in it. */
final case class Config(tailPct: Double, warmReps: Int, queries: Seq[String])

object Config {
  def load(path: String, workload: String): Config = {
    val js = JsonMethods.parse(Files.readString(Paths.get(path))) \ workload
    val tail = (js \ "tail_pct") match {
      case JInt(i) => i.toDouble
      case JDouble(d) => d
      case other => throw new IllegalArgumentException(s"tail_pct = $other")
    }
    val warm = (js \ "warm_reps") match {
      case JInt(i) => i.toInt
      case other => throw new IllegalArgumentException(s"warm_reps = $other")
    }
    val qs = (js \ "queries") match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }
    Config(tail, warm, qs)
  }

  /** query -> expected fingerprint, as written by run.py. */
  def expected(path: String): Map[String, String] =
    JsonMethods.parse(Files.readString(Paths.get(path))) match {
      case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
      case other => throw new IllegalArgumentException(s"$path: $other")
    }
}
