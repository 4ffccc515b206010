package e2ebench

import org.apache.spark.sql.SparkSession

/** `query_scan`: one op runs one registered query
  * (`graft.SparkEntry.queries`) over the seeded tables and collects it.
  *
  * Check: the result's fingerprint (row count plus an order-insensitive
  * hash, floats rounded) must equal the fingerprint of the query's DuckDB
  * oracle over the same tables, which run.py computes before the JVM
  * starts. A query without an expected fingerprint is an error. */
final class QueryWorkload(spark: SparkSession, data: String, cfg: Config,
    expected: Map[String, String]) extends Workload {
  private val all = graft.SparkEntry.queries
  cfg.queries.foreach { q =>
    require(all.contains(q), s"no registered query $q")
    require(expected.contains(q), s"no expected fingerprint for $q")
  }

  val ops: IndexedSeq[String] = cfg.queries.toIndexedSeq
  val warmReps: Int = cfg.warmReps
  val layer = "operators"

  def run(op: String): () => Option[String] = {
    val rows = Tracer.span(s"operators.$op")(all(op)(spark, data).collect().toSeq)
    () => {
      val got = Stats.fingerprint(rows)
      val want = expected(op)
      if (got == want) None else Some(s"$op: fingerprint $got, expected $want")
    }
  }
}
