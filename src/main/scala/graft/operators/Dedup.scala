package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextOps._
import graft.functions.NativeKernels.{word_shingles, word_tokens, minhash_signature, simhash, pair_expand}

/** Deduplication operators over `documents` (SURVEY.md §7.2): exact,
  * n-gram Jaccard, MinHash+LSH, SimHash. All oracle-checkable — hash
  * families are the engine-portable md5-derived [[TextOps.hash64]].
  *
  * Scale stance (100 TB):
  *  - exact dedup is one hash-partitioned groupBy on the fingerprint —
  *    the only shuffle, keyed evenly by a cryptographic hash;
  *  - n-gram Jaccard and MinHash both avoid the O(n²) cross join: the
  *    self-join is keyed on shingle / LSH band bucket, so only
  *    plausibly-similar pairs materialize. At 100 TB you'd additionally
  *    cap bucket width (drop stop-shingles / oversized bands — a
  *    skew guard); that cap is `maxBucket` below.
  *  - SimHash pair generation bands the signature (same bucket +
  *    PairExpand shape as MinHash LSH) with a pigeonhole recall
  *    GUARANTEE: 8 bands of 4 bits — ≤6 differing bits touch ≤6 bands,
  *    so every pair at hamming ≤6 agrees exactly on ≥2 bands and is
  *    found in some bucket. Exact hamming is verified per candidate,
  *    so output ≡ the all-pairs form. At 32 bits a band key has only
  *    16 values (buckets ~n/16 wide); the 100 TB shape is the same
  *    code over a 64-bit signature (7+ bands × 9 bits = 512-value
  *    keys) plus the `maxBucket` skew cap.
  */
object Dedup extends graft.QueryModule {

  private[graft] val N = 3     // shingle width (words)
  private[graft] val K = 16    // minhash signature length
  private[graft] val BANDS = 4 // LSH bands (K/BANDS rows per band)
  private[graft] val ROWS = K / BANDS

  /** The d03 LSH band keys of a K-long minhash signature column —
    * shared with the streaming near-dup face so batch and stream
    * bucket identically. */
  private[graft] def minhashBandKeys(sig: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.Column] =
    (0 until BANDS).map { b =>
      md5(concat_ws(",", (0 until ROWS).map(r =>
        element_at(sig, b * ROWS + r + 1).cast("string")): _*).cast("binary"))
    }

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Exact dedup: canonical-text fingerprint → min doc_id survives. */
  def d01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", hash64(normText($"text")).as("fp"))
      .groupBy($"fp")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"n_copies")
      .orderBy($"keep_id")
  }

  // word_shingles is the fused native kernel (one tokenize pass; the
  // composed HOF form re-tokenizes per element — O(tokens²)/doc).

  // In-bucket pair generation uses the native PairExpand generator
  // (NativeKernels): all (i < j) element pairs of the sorted id array
  // stream out of one pass — the composed nested-HOF form (flatten of
  // transform(slice(...))) evaluates interpreted and materializes the
  // full pair array per bucket before exploding.

  /** N-gram Jaccard near-dup: pairs sharing ≥1 shingle, exact Jaccard
    * over distinct shingle sets, threshold 0.5 (planted near-dups sit
    * at ~0.99, random pairs at ~0.005 — wide margin).
    *
    * Shape: ONE explode+groupBy over the shingles builds per-shingle
    * (doc_id, set-size) buckets, and candidate pairs are generated
    * inside each bucket — one shuffle of the shingle rows total,
    * versus the naive exploded self-join (two shuffles of the full
    * shingle table and a second evaluation of the shingle kernel).
    * Set sizes ride the shingle rows into the buckets, so the pair
    * aggregate holds |A| and |B| directly — no sizes table, no
    * join-back.
    *
    * `maxBucket` is the 100 TB skew guard: a stop-shingle shared by
    * millions of docs would otherwise generate O(m²) pairs in one
    * task. Dropping oversized buckets only loses pairs whose every
    * shared shingle is that common — near-dups still collide on their
    * rarer shingles. Uncapped here (the oracle doesn't cap; sf0.1's
    * widest bucket is 25 docs). */
  /** Per-shingle sorted (doc_id, set-size) member buckets — the
    * shared candidate-generation state of d02 and its asymmetric /
    * cross-corpus siblings (`Relational7.d11`/`d12`).
    *
    * ONE documents scan and ONE shingle-kernel evaluation: the set
    * size rides every shingle row (8 bytes) into the bucket structs,
    * so a pair aggregate downstream already holds |A| and |B| and no
    * sizes join-back exists at all (the r4 form evaluated
    * word_shingles twice — scan + kernel are the dominant cost at
    * bench SF — and ended with two joins against a sizes table).
    * Struct sort = doc_id order (n is functionally dependent), so
    * PairExpand emits a_id < b_id. */
  private[operators] def shingleBuckets(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", word_shingles($"text", N).as("arr"))
      // explode_OUTER + null filter on the GENERATED column: the
      // non-outer form lets InferFiltersFromGenerate add
      // `size(arr) > 0`, and predicate pushdown inlines the alias into
      // a scan-level Filter that re-runs the shingle kernel 3× per row
      // (the t37Chunks lesson, Relational11.scala:253-263; shingles
      // are non-null strings, so s IS NULL ⇔ the empty-array row)
      .select($"doc_id", size($"arr").cast("long").as("n"),
        explode_outer($"arr").as("s"))
      .filter($"s".isNotNull)
      .groupBy($"s")
      .agg(sort_array(collect_list(struct($"doc_id", $"n"))).as("members"))
      .filter(size($"members") > 1)
  }

  def d02(s: SparkSession, dir: String, maxBucket: Option[Int] = None)
      : DataFrame = {
    import s.implicits._
    val buckets = shingleBuckets(s, dir)
    val capped = maxBucket.fold(buckets)(m =>
      buckets.filter(size($"members") <= m))
    capped
      .select(pair_expand($"members").as(Seq("pa", "pb")))
      .groupBy($"pa.doc_id".as("a_id"), $"pb.doc_id".as("b_id"))
      .agg(count(lit(1)).as("inter"),
        first($"pa.n").as("na"), first($"pb.n").as("nb"))
      .select($"a_id", $"b_id",
        round($"inter" / ($"na" + $"nb" - $"inter"), 4).as("jaccard"))
      .filter($"jaccard" >= 0.5)
      .orderBy($"a_id", $"b_id")
  }

  /** MinHash + LSH near-dup: band the K-long signature into BANDS
    * buckets, bucket-join on (band, key), estimate similarity as the
    * fraction of agreeing signature positions, threshold 0.5.
    *
    * Shape: the signature array rides along through the band explode
    * and the per-bucket pair expansion, so the (expensive — K md5s per
    * shingle) signature kernel runs ONCE, and the candidate pairs
    * already hold both signatures — no join back to the signature
    * table at all. One shuffle for the bucket groupBy, one for the
    * pair distinct; the naive form evaluates the kernel three times
    * (band build + two probe joins) and shuffles for each join. */
  def d03(s: SparkSession, dir: String, maxBucket: Option[Int] = None)
      : DataFrame = {
    import s.implicits._
    val sig = docs(s, dir).select($"doc_id",
      minhash_signature(word_shingles($"text", N), K).as("sig"))
    val bandKeys = minhashBandKeys($"sig")
    val bands = sig.select($"doc_id", $"sig",
      explode(array(bandKeys.zipWithIndex.map { case (k, b) =>
        struct(lit(b).as("band"), k.as("key")) }: _*)).as("u"))
    val buckets = bands
      .groupBy($"u.band".as("band"), $"u.key".as("key"))
      .agg(sort_array(collect_list(struct($"doc_id", $"sig"))).as("members"))
      .filter(size($"members") > 1)
    // same skew guard as d02: an oversized band bucket (a degenerate
    // band key shared corpus-wide) would expand O(m²) pairs in one task
    val capped = maxBucket.fold(buckets)(m => buckets.filter(size($"members") <= m))
    val pairs = capped
      .select(pair_expand($"members").as(Seq("pa", "pb")))
      .select($"pa.doc_id".as("a_id"), $"pb.doc_id".as("b_id"),
        $"pa.sig".as("sa"), $"pb.sig".as("sb"))
      .groupBy($"a_id", $"b_id")
      .agg(first($"sa").as("sa"), first($"sb").as("sb"))
    val agree = (0 until K).map(i =>
      when(element_at($"sa", i + 1) === element_at($"sb", i + 1), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .select($"a_id", $"b_id", round(agree / lit(K.toDouble), 4).as("est_sim"))
      .filter($"est_sim" >= 0.5)
      .orderBy($"a_id", $"b_id")
  }

  // 60 bits = the md5Hash64 kernel's full effective width (first 15
  // hex chars). Width is selectivity twice over: a random pair lands
  // at hamming ≤6 with p≈2.7e-4 at 32 bits (the result set itself
  // grows O(n²)) but p≈4e-11 at 60 — only genuinely similar docs
  // survive, and candidate buckets shrink with the same factor.
  private val SIMHASH_BITS = 60
  private val HAMMING_MAX = 6
  // pigeonhole: SH_BANDS > HAMMING_MAX ⇒ every pair at hamming ≤
  // HAMMING_MAX has all its differing bits spread over ≤6 of the 7
  // bands, so at least one band is identical and banding loses NO
  // pairs. Exactly HAMMING_MAX+1 bands maximizes per-band key width
  // (8-bit keys, 12 for the last band) — wider keys ⇒ fewer accidental
  // bucket collisions ⇒ smaller buckets for PairExpand.
  private val SH_BANDS = 7
  /** Band b covers bit range [offset, offset+width). */
  private val SH_BAND_LAYOUT: Seq[(Int, Int)] =
    (0 until SH_BANDS).map { b =>
      val off = b * (SIMHASH_BITS / SH_BANDS) // 8-bit steps
      val width = if (b == SH_BANDS - 1) SIMHASH_BITS - off
                  else SIMHASH_BITS / SH_BANDS
      (off, width)
    }

  /** SimHash signature + near-dup pairs at Hamming distance ≤ 6.
    * Signature: sign of the per-bit vote over token hashes.
    *
    * Candidate generation is banded LSH (bucket key = (band index,
    * 8/12-bit band value), pairs via the native PairExpand generator —
    * the exact d02/d03 shape), then the EXACT hamming distance is
    * checked per candidate, so the result is identical to an all-pairs
    * scan by the pigeonhole guarantee above. The signature rides the
    * band explode, so the (md5-per-token) kernel runs once and no
    * join-back is needed. A pair at hamming ≤6 collides in up to 7
    * buckets — the groupBy dedups. */
  def d04(s: SparkSession, dir: String, maxBucket: Option[Int] = None)
      : DataFrame = {
    import s.implicits._
    // fused kernel: one md5+vote pass per doc (the composed form is 32
    // interpreted aggregate() lambdas, each re-hashing every token)
    val sim = docs(s, dir)
      .select($"doc_id", simhash(word_tokens($"text"), SIMHASH_BITS).as("simhash"))
    val bandStructs = SH_BAND_LAYOUT.zipWithIndex.map { case ((off, width), b) =>
      struct(lit(b).as("band"),
        shiftright($"simhash", off)
          .bitwiseAND(lit((1L << width) - 1)).as("key"))
    }
    val buckets = sim
      .select($"doc_id", $"simhash", explode(array(bandStructs: _*)).as("u"))
      .groupBy($"u.band".as("band"), $"u.key".as("key"))
      .agg(sort_array(collect_list(struct($"doc_id", $"simhash"))).as("members"))
      .filter(size($"members") > 1)
    // same skew guard as d02/d03 — NOTE: unlike there, capping here
    // can break the pigeonhole recall guarantee; uncapped by default
    val capped = maxBucket.fold(buckets)(m => buckets.filter(size($"members") <= m))
    capped
      .select(pair_expand($"members").as(Seq("pa", "pb")))
      .select($"pa.doc_id".as("a_id"), $"pb.doc_id".as("b_id"),
        bit_count($"pa.simhash".bitwiseXOR($"pb.simhash")).cast("long").as("hamming"))
      .filter($"hamming" <= HAMMING_MAX)
      .groupBy($"a_id", $"b_id").agg(min($"hamming").as("hamming"))
      .orderBy($"a_id", $"b_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_exact_dedup" -> (d01 _),
    "d02_ngram_jaccard" -> ((s, d) => d02(s, d)),
    "d03_minhash_lsh" -> ((s, d) => d03(s, d)),
    "d04_simhash" -> ((s, d) => d04(s, d)),
  )

  private[operators] def sqlShingleRows: String =
    s"""docs AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
       |sh AS (SELECT doc_id, unnest(${sqlShinglesOfT(N)}) AS s FROM docs)""".stripMargin

  val oracles: Map[String, String] = Map(
    "d01_exact_dedup" ->
      s"""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM (SELECT doc_id, ${sqlHash64(sqlNorm("text"))} AS fp FROM documents)
         |GROUP BY fp ORDER BY keep_id""".stripMargin,
    "d02_ngram_jaccard" ->
      s"""WITH $sqlShingleRows,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id,
         | round(inter / (na.n + nb.n - inter), 4) AS jaccard
         |FROM pairs
         |JOIN sizes na ON na.doc_id = a_id
         |JOIN sizes nb ON nb.doc_id = b_id
         |WHERE round(inter / (na.n + nb.n - inter), 4) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,
    "d03_minhash_lsh" -> {
      val minCols = (0 until K).map(i =>
        s"min(${sqlHash64Seeded(i, "s")}) AS mh$i").mkString(",\n  ")
      val bandSelects = (0 until BANDS).map { b =>
        val key = (0 until ROWS).map(r => s"CAST(mh${b * ROWS + r} AS VARCHAR)")
          .mkString("concat_ws(',', ", ", ", ")")
        s"SELECT doc_id, $b AS band, md5($key) AS key FROM sig"
      }.mkString("\n  UNION ALL ")
      val agree = (0 until K).map(i =>
        s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $sqlShingleRows,
         |sig AS (SELECT doc_id,
         |  $minCols
         |  FROM sh GROUP BY doc_id),
         |bands AS ($bandSelects),
         |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
         |SELECT a_id, b_id, round(($agree) / ${K.toDouble}, 4) AS est_sim
         |FROM cand
         |JOIN sig sa ON sa.doc_id = a_id
         |JOIN sig sb ON sb.doc_id = b_id
         |WHERE ($agree) / ${K.toDouble} >= 0.5
         |ORDER BY a_id, b_id""".stripMargin
    },
    "d04_simhash" -> {
      val bits = (0 until SIMHASH_BITS).map { j =>
        s"""(CASE WHEN list_sum([CASE WHEN (h & ${1L << j}) <> 0 THEN 1 ELSE -1 END for h in hs]) > 0
           | THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)""".stripMargin.replace("\n", " ")
      }.mkString(" + ")
      s"""WITH d AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
         |hashed AS (SELECT doc_id, [${sqlHash64("x")} for x in t] AS hs FROM d),
         |sim AS (SELECT doc_id, $bits AS simhash FROM hashed)
         |SELECT x.doc_id AS a_id, y.doc_id AS b_id,
         | CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |FROM sim x JOIN sim y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 6
         |ORDER BY a_id, b_id""".stripMargin
    },
  )
}
