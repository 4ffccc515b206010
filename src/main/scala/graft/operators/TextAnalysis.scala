package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextOps._

/** Text-analysis operators over `documents` (SURVEY.md §7.2: language
  * ID, quality scoring, token counting, fingerprinting). All pure
  * column expressions — embarrassingly parallel map-side work with no
  * shuffle (except the langid argmax, done per-row via array sort, not
  * a window), so they scale linearly to 100 TB.
  */
object TextAnalysis extends graft.QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Token counting: whitespace tokens + a BPE-ish regex token count
    * (letter runs / digit runs / single non-space symbols). */
  def t01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select(
      $"doc_id",
      size(tokens($"text")).cast("long").as("ws_tokens"),
      size(regexp_extract_all($"text", lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
        .cast("long").as("bpe_tokens"),
      length($"text").cast("long").as("n_chars_actual"))
      .orderBy($"doc_id")
  }

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** The t02 score components over a text column — shared by t02 and
    * the streaming curation face (`streaming/CorpusStream`), so batch
    * and stream threshold on bit-identical arithmetic. */
  private[graft] def qualityParts(text: Column)
      : (Column, Column, Column, Column) = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val stopRatio = size(filter(toks, t => t.isin(stopwords: _*))).cast("double") /
      greatest(nTok, lit(1.0))
    val symbols = size(regexp_extract_all(text, lit("[^a-z0-9\\s]"), lit(0)))
      .cast("double")
    val symbolRatio = symbols / greatest(length(text).cast("double"), lit(1.0))
    val lenScore = least(nTok / lit(100.0), lit(1.0))
    (toks, stopRatio, symbolRatio, lenScore)
  }

  /** The combined [0,1] quality score (rounded like t02 emits it). */
  private[graft] def qualityExpr(text: Column): Column = {
    val (_, stopRatio, symbolRatio, lenScore) = qualityParts(text)
    round(lenScore * 0.5 + stopRatio * 0.3 + (lit(1.0) - symbolRatio) * 0.2, 4)
  }

  /** Quality scoring: length saturation, stopword ratio, symbol ratio
    * combined into one [0,1] score (identical double arithmetic on both
    * engines — safe to threshold on). */
  def t02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (toks, stopRatio, symbolRatio, lenScore) = qualityParts($"text")
    docs(s, dir).select(
      $"doc_id",
      size(toks).cast("long").as("n_tokens"),
      round(stopRatio, 4).as("stop_ratio"),
      round(symbolRatio, 4).as("symbol_ratio"),
      round(lenScore * 0.5 + stopRatio * 0.3 + (lit(1.0) - symbolRatio) * 0.2, 4)
        .as("quality"))
      .orderBy($"doc_id")
  }

  private[operators] val langKeywords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow", "big", "small"),
    "db" -> Seq("table", "row", "column", "query", "scan", "join"),
    "ops" -> Seq("batch", "stream", "merge", "sort", "hash", "filter"))

  /** Language-ID heuristic: keyword-hit score per language, argmax with
    * deterministic tie-break (score desc, lang asc) via a per-doc
    * window over the exploded score array. */
  def t03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = tokens($"text")
    val scored = docs(s, dir).select($"doc_id", explode(array(
      langKeywords.map { case (lang, words) =>
        struct(lit(lang).as("lang"),
          size(filter(toks, t => t.isin(words: _*))).as("score"))
      }: _*)).as("u"))
      .select($"doc_id", $"u.lang".as("lang"), $"u.score".as("score"))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"lang")
    scored.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"lang".as("lang_guess"), $"score".cast("long").as("score"))
      .orderBy($"doc_id")
  }

  /** Document fingerprinting: full md5 of the normalized text plus the
    * engine-portable 60-bit prefix (TextOps.hash64). */
  def t04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select(
      $"doc_id",
      md5(normText($"text").cast("binary")).as("fp_md5"),
      hash64(normText($"text")).as("fp64"))
      .orderBy($"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t01_token_count" -> (t01 _),
    "t02_quality_score" -> (t02 _),
    "t03_lang_id" -> (t03 _),
    "t04_fingerprint" -> (t04 _),
  )

  private def sqlLangStructs: String =
    langKeywords.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"{'lang': '$lang', 'score': len(list_filter(t, x -> list_contains($list, x)))}"
    }.mkString("[", ", ", "]")

  val oracles: Map[String, String] = Map(
    "t01_token_count" ->
      s"""SELECT doc_id,
         | CAST(len(${sqlTokens("text")}) AS BIGINT) AS ws_tokens,
         | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
         | CAST(length(text) AS BIGINT) AS n_chars_actual
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t02_quality_score" ->
      s"""WITH d AS (SELECT doc_id, text, ${sqlTokens("text")} AS t FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(t) AS DOUBLE) AS n_tok,
         |  CAST(len(list_filter(t, x -> list_contains(${stopwords.map(w => s"'$w'").mkString("[", ", ", "]")}, x))) AS DOUBLE)
         |    / greatest(CAST(len(t) AS DOUBLE), 1.0) AS stop_ratio,
         |  CAST(len(regexp_extract_all(text, '[^a-z0-9\\s]')) AS DOUBLE)
         |    / greatest(CAST(length(text) AS DOUBLE), 1.0) AS symbol_ratio,
         |  least(CAST(len(t) AS DOUBLE) / 100.0, 1.0) AS len_score
         | FROM d)
         |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
         | round(stop_ratio, 4) AS stop_ratio,
         | round(symbol_ratio, 4) AS symbol_ratio,
         | round(len_score * 0.5 + stop_ratio * 0.3 + (1.0 - symbol_ratio) * 0.2, 4) AS quality
         |FROM m ORDER BY doc_id""".stripMargin,
    "t03_lang_id" ->
      s"""WITH d AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
         |scored AS (SELECT doc_id, u.lang AS lang, u.score AS score
         |  FROM (SELECT doc_id, unnest($sqlLangStructs) AS u FROM d)),
         |ranked AS (SELECT doc_id, lang, score,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
         |  FROM scored)
         |SELECT doc_id, lang AS lang_guess, CAST(score AS BIGINT) AS score
         |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "t04_fingerprint" ->
      s"""SELECT doc_id,
         | md5(${sqlNorm("text")}) AS fp_md5,
         | ${sqlHash64(sqlNorm("text"))} AS fp64
         |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
