package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextOps.{sqlHash64, sqlNorm, sqlTokens, sqlShinglesOfT}
import graft.functions.NativeKernels.{hash64_native, word_shingles}

/** Corpus-curation operators — the steps an LLM training-data pipeline
  * runs between raw ingest and tokenization (SURVEY.md north-star
  * extensions). All pure map-side column work except contamination
  * (one broadcast semi join on shingles).
  */
object Curation extends graft.QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val phoneRe = "\\+?\\d[\\d -]{7,}\\d"

  /** The PII scrub as a column expression — applied by t07 to the
    * whole table and by [[CorpusPipeline]] to survivors only (scrub
    * AFTER filtering: at 100 TB, regex over dropped docs is pure
    * waste). Chained regexp_replace — order matters (emails before
    * phones so digit runs inside addresses are gone first) and is
    * identical in the oracle. */
  private[graft] def scrubExpr(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipRe, "<IP>"),
      phoneRe, "<PHONE>")

  /** PII scrubbing: redact emails, IPv4s, phone-like digit runs. */
  def t07(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scrubbed = scrubExpr($"text")
    docs(s, dir).select(
      $"doc_id",
      scrubbed.as("clean_text"),
      (length($"text") - length(scrubbed)).cast("long").as("chars_redacted"))
      .orderBy($"doc_id")
  }

  private val CONTAM_N = 5     // shingle width for contamination
  private val BENCH_DOCS = 5   // doc_id < 5 stand in for the benchmark

  /** Benchmark-contamination detection: flag documents sharing any
    * CONTAM_N-gram with the benchmark set. Benchmark shingles are tiny
    * → broadcast left-semi join; the corpus is scanned once. */
  def t08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = docs(s, dir)
      .select($"doc_id", explode(word_shingles($"text", CONTAM_N)).as("s"))
    val benchShingles = sh.filter($"doc_id" < BENCH_DOCS)
      .select($"s").distinct()
    sh.filter($"doc_id" >= BENCH_DOCS)
      .join(broadcast(benchShingles), Seq("s"), "left_semi")
      .select($"doc_id").distinct()
      .orderBy($"doc_id")
  }

  /** Quality-filter application: keep documents whose t02 quality
    * score clears 0.5 (same arithmetic as TextAnalysis.t02, so the
    * threshold is bit-stable across engines). */
  def t09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = TextAnalysis.t02(s, dir)
    scored.filter($"quality" >= 0.5)
      .select($"doc_id", $"quality")
      .orderBy($"doc_id")
  }

  /** Deterministic stratified sampling: ~30% per language, selected by
    * the engine-portable hash of doc_id (reproducible across engines,
    * runs, and partitionings — no RNG). */
  def t10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .filter(pmod(hash64_native(concat(lit("sample:"), $"doc_id".cast("string"))),
        lit(10L)) < 3)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy($"lang")
  }

  /** Source-mixture rebalancing — the "data mixing" stage of a
    * training pipeline: deterministically downsample every source to
    * ≈ the size of the smallest source, yielding a balanced mixture
    * with NO random seed. The keep decision is a pure hash of the doc
    * id against a per-source integer threshold, so the sample is
    * bit-reproducible across runs, engines, task retries, and
    * partitionings (the property `rand()`-based sampling lacks — at
    * 100 TB a retried task must not resample). Unlike t10's fixed
    *-rate strata, the rates here are COMPUTED from the data: two
    * cheap aggregates (per-source counts; their min) that AQE
    * broadcasts back onto the corpus scan, then one per-row
    * hash-threshold filter. Integer threshold arithmetic
    * ((10000·min) div n) keeps both engines exact. */
  def t14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = docs(s, dir).groupBy($"source")
      .agg(count(lit(1)).as("n_src"))
    val minN = counts.agg(min($"n_src").as("n_min"))
    docs(s, dir)
      .join(counts, Seq("source"))
      .crossJoin(minN)
      .filter(pmod(hash64_native(concat(lit("mix:"), $"doc_id".cast("string"))),
        lit(10000L)) < expr("(10000 * n_min) div n_src"))
      .groupBy($"source")
      .agg(first($"n_src").as("n_src"), count(lit(1)).as("n_kept"))
      .orderBy($"source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t07_pii_scrub" -> (t07 _),
    "t08_contamination" -> (t08 _),
    "t09_quality_filter" -> (t09 _),
    "t10_stratified_sample" -> (t10 _),
    "t14_source_mixture" -> (t14 _),
  )

  val oracles: Map[String, String] = Map(
    "t07_pii_scrub" ->
      s"""SELECT doc_id,
         | regexp_replace(regexp_replace(regexp_replace(text,
         |   '$emailRe', '<EMAIL>', 'g'),
         |   '$ipRe', '<IP>', 'g'),
         |   '$phoneRe', '<PHONE>', 'g') AS clean_text,
         | CAST(length(text) - length(regexp_replace(regexp_replace(regexp_replace(text,
         |   '$emailRe', '<EMAIL>', 'g'),
         |   '$ipRe', '<IP>', 'g'),
         |   '$phoneRe', '<PHONE>', 'g')) AS BIGINT) AS chars_redacted
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t08_contamination" ->
      s"""WITH docs AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
         |sh AS (SELECT doc_id, unnest(${sqlShinglesOfT(CONTAM_N)}) AS s FROM docs),
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < $BENCH_DOCS)
         |SELECT DISTINCT doc_id FROM sh
         |WHERE doc_id >= $BENCH_DOCS AND s IN (SELECT s FROM bench)
         |ORDER BY doc_id""".stripMargin,
    "t09_quality_filter" -> {
      val t02 = TextAnalysis.oracles("t02_quality_score")
      s"""SELECT doc_id, quality FROM ($t02) WHERE quality >= 0.5
         |ORDER BY doc_id""".stripMargin
    },
    "t10_stratified_sample" ->
      s"""SELECT lang, count(*) AS n_sampled FROM documents
         |WHERE ${sqlHash64("concat('sample:', CAST(doc_id AS VARCHAR))")} % 10 < 3
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "t14_source_mixture" ->
      s"""WITH counts AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
         |m AS (SELECT min(n_src) AS n_min FROM counts)
         |SELECT d.source, counts.n_src, count(*) AS n_kept
         |FROM documents d JOIN counts USING (source) CROSS JOIN m
         |WHERE ${sqlHash64("concat('mix:', CAST(d.doc_id AS VARCHAR))")} % 10000
         |  < (10000 * m.n_min) // counts.n_src
         |GROUP BY d.source, counts.n_src
         |ORDER BY d.source""".stripMargin,
  )
}
