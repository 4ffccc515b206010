package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built, so every entry point
  * (Bench, Verify, Probe, RecallReport, the test session, the scaling
  * tool) runs under the same policy: `local[cpus]` with one shuffle
  * partition per core, adaptive execution on (the Spark 4.1 default,
  * set explicitly), UTC session time zone and no UI. `cpus` defaults to `SPARK_GRAFT_CPUS`, else the host's core
  * count. */
object Session {
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.toInt)): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
