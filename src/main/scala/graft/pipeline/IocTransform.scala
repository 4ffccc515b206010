package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Model._

/** The IOC transform core (SURVEY.md §3.1 steps 2-3), re-expressed as
  * pure DataFrame→DataFrame functions. Each reference operator keeps
  * its SURVEY §2 id in the comments; file:line cites are into
  * /root/reference.
  *
  * Plan shape at scale: rows arrive partitioned by source query (one
  * partition per bulk search, T4). Both lookups are against driver-side
  * constants (queries ~10 rows, type map 6 rows) written as literal
  * maps, so the whole transform is map-side: no exchange and no
  * broadcast between scan and sink.
  */
object IocTransform {

  /** `DTL_TO_ANOMALI_TYPE` (`src/constants.py:24-31`). */
  val dtlToAnomaliType: Map[String, String] = Map(
    "fqdn" -> "domain", "domain" -> "domain", "ip" -> "srcip",
    "url" -> "url", "email" -> "email", "file" -> "md5")

  /** F1 — query validity filter (`src/Datalake2Anomali.py:283-294`):
    * drop descriptors missing a required field. */
  def validQueries(queries: DataFrame): DataFrame =
    queries.filter(
      col("query_hash").isNotNull && col("query_hash") =!= "" &&
        col("dataset_name").isNotNull && col("dataset_name") =!= "" &&
        col("anomali_severity").isNotNull && col("anomali_severity") =!= "")

  /** The rejected side of F1 (reference logs and skips — we surface
    * them as a side output instead of a log line). Complement filter,
    * not EXCEPT: set ops reject MAP-typed columns, and a filter keeps
    * this map-side (no shuffle). */
  def invalidQueries(queries: DataFrame): DataFrame =
    queries.filter(
      col("query_hash").isNull || col("query_hash") === "" ||
        col("dataset_name").isNull || col("dataset_name") === "" ||
        col("anomali_severity").isNull || col("anomali_severity") === "")

  /** Steps J2/F2 + J1 + J3 + F3 + P2 — decoded rows → indicator IR
    * (`_generateIndicators`, `src/Datalake2Anomali.py:338-385`).
    *
    * @param rows    decoded bulk-search rows ([[Model.iocRowSchema]])
    * @param queries validated query dimension ([[Model.QueryDescriptor]]);
    *                collected on the driver, so it must be small (a local
    *                relation collects without a Spark job)
    */
  def indicators(rows: DataFrame, queries: DataFrame, cfg: PipelineConfig)
      : DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._

    // J1 as a literal map query_hash → every descriptor with that hash:
    // exploding the looked-up array keeps the inner join's multiplicity
    // (a hash listed twice yields two rows; a miss or a null hash none)
    val byHash = queries.as[QueryDescriptor].collect().toSeq.groupBy(_.query_hash)

    // J3 default-itype map as a literal map expression
    val defaultItype = map(
      cfg.defaultItype.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

    rows
      // J2/F2: a miss (or a null type) is null and is dropped, exactly
      // like `DTL_TO_ANOMALI_TYPE.get(threat[0])` (:345)
      .withColumn("anomali_type",
        element_at(typedLit(dtlToAnomaliType), $"atom_type"))
      .filter($"anomali_type".isNotNull)
      .withColumn("query", explode(element_at(typedLit(byHash), $"query_hash"))) // J1
      // F3: md5-type indicators without a hash are discarded (:347-351)
      .filter($"anomali_type" =!= "md5" ||
        ($"hashes_md5".isNotNull && $"hashes_md5" =!= ""))
      .select(                                                          // P2
        $"query_hash", $"query.dataset_name",
        $"anomali_type",
        // J3: per-query override, else global default (:353-358)
        coalesce(element_at($"query.anomali_itype", $"anomali_type"),
          element_at(defaultItype, $"anomali_type")).as("anomali_itype"),
        $"query.anomali_severity",
        $"atom_type", $"atom_value",
        // conditional column: hash kept only for md5 types (:372)
        when($"anomali_type" === "md5", $"hashes_md5").as("hashes_md5"),
        $"threat_scores",
        coalesce($"threat_tags", array().cast("array<string>")).as("threat_tags"))
  }

  /** Steps A1/C5/P3 — indicator IR → Anomali intelligence objects
    * (`_prepareIndicatorPayload`, `src/Datalake2Anomali.py:70-100`).
    * The data-dependent value key (`domain|srcip|url|email|md5`, :75,79)
    * becomes five nullable columns; `to_json` drops nulls, so the
    * serialized object carries exactly the one populated key. */
  def anomaliObjects(ind: DataFrame, cfg: PipelineConfig): DataFrame = {
    val spark = ind.sparkSession
    import spark.implicits._
    val obsValue = when($"anomali_type" === "md5", $"hashes_md5")
      .otherwise($"atom_value")
    def typed(t: String): Column =
      when($"anomali_type" === t, obsValue).as(t)
    val datasetTag = struct($"dataset_name".as("name"), lit(cfg.tagsTlp).as("tlp"))
    val dtlTags =
      if (cfg.addDtlTags)
        transform($"threat_tags", t =>
          struct(t.as("name"), lit(cfg.tagsTlp).as("tlp")))
      else array().cast("array<struct<name:string,tlp:string>>")
    ind.select(
      struct(
        typed("domain"), typed("srcip"), typed("url"), typed("email"), typed("md5"),
        array_max($"threat_scores").as("confidence"),                   // A1
        $"anomali_itype".as("itype"),
        $"anomali_severity".as("severity"),
        concat(array(datasetTag), dtlTags).as("tags")                   // C5
      ).as("obj"))
  }

  /** Serialized object rows ready for the batching sink (K1). */
  def objectJson(objects: DataFrame): DataFrame =
    objects.select(to_json(col("obj")).as("obj_json"))

  /** P4 — the constant payload `meta` block
    * (`src/Datalake2Anomali.py:61-68`), with the expiration interval
    * honored from config (documented divergence, see
    * [[Model.PipelineConfig]]). */
  def metaJson(cfg: PipelineConfig, nowUtc: java.time.Instant): String = {
    val exp = nowUtc.plusSeconds(cfg.expirationHours * 3600L)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
    s"""{"allow_update":true,"enrich":false,"classification":"${cfg.anomaliClassification}","expiration_ts":"$exp"}"""
  }

  /** Full pipeline: decoded rows + raw query config → serialized
    * object rows (the sink wraps them in `{meta, objects}` payloads). */
  def run(rows: DataFrame, queries: DataFrame, cfg: PipelineConfig): DataFrame =
    objectJson(anomaliObjects(indicators(rows, validQueries(queries), cfg), cfg))
}
