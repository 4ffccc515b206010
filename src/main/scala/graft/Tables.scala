package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry for the driver-generated test tables (TESTDATA.md,
  * FIXTURES.md §5). All queries load through here so the scan path is
  * uniform: parquet with Catalyst pushdown (column pruning + predicate
  * pushdown reach the scan automatically — verified via
  * `.explain("formatted")` PushedFilters/ReadSchema).
  *
  * At 100 TB these would be partitioned/bucketed external tables; the
  * loader stays the single seam where `spark.read.parquet` would become
  * a catalog lookup.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as two physical types across testdata
      // generations: parquet TIMESTAMP(NANOS) (unreadable natively by
      // Spark — read nanos as LONG and truncate to micros, exactly
      // DuckDB's TIMESTAMP_NS → TIMESTAMP cast) and plain
      // TIMESTAMP(MICROS) without UTC adjustment (Spark reads
      // TIMESTAMP_NTZ — normalize to session-local TIMESTAMP, a
      // numeric no-op under the UTC-pinned sessions every entrypoint
      // builds, and the type `unix_micros`/window functions expect).
      // Adapting on the observed dtype here keeps all 30+ events
      // consumers agnostic to the generator's choice.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      df.schema("ts").dataType match {
        case LongType =>
          // integral `div`: a double division would lose precision
          // above 2^53 ns
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Register every table as a temp view (for the SQL surface). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
