package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the LLM-pipeline
  * extensions, §7.2) registers a `queries` entry; SQL-expressible ones
  * also register a DuckDB oracle with identical column aliases.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q5 shape: fact-fact shuffle joins + broadcast dims + agg. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q04(spark, "/root/testdata/sf0.001")

  /** Every operator module, in registration order (a later module's
    * entry would replace an earlier one of the same name;
    * LlmOpsSpec checks that no name repeats). */
  private[graft] def modules: Seq[QueryModule] = Seq(
    Relational, TextAnalysis, Dedup, Similarity, Multimodal, EventWindows,
    Relational2, AsOfJoin, Relational3, Curation, Relational4,
    Relational5, Relational6, Relational7, Relational8, Relational9,
    Relational10, Relational11, Relational12, Relational13, Relational14,
    Relational15, Relational16, Relational17, Relational18, Relational19,
    Relational20, Relational21, Relational22, Relational23, Relational24,
    Relational25, Fuzz)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = modules.flatMap(_.oracles).toMap
}

/** An operator module: its registered queries and their DuckDB
  * oracles (SQL-expressible queries only). */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
