package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextOps.{hash64, sqlHash64, sqlTokens}
import graft.functions.NativeKernels.word_tokens

/** Seventh tranche — the training-data preparation steps between a
  * curated corpus and a tokenized training run, each oracle-checked:
  *
  *  - t17: sliding-window document chunking (context-length packing's
  *    upstream: every doc becomes fixed-size token chunks with
  *    overlap, the shape retrieval indexing and next-token training
  *    both consume);
  *  - t18: unigram language-model scoring (the CCNet-style "how
  *    surprising is this document under the corpus's own token
  *    distribution" quality signal);
  *  - t19: byte-pair merge-candidate statistics (the first step of
  *    BPE tokenizer training: adjacent symbol-pair frequencies
  *    weighted by word frequency);
  *  - t20: hash-deterministic weighted sampling (d10's weights
  *    composed with the t10 acceptance convention — epoch-equivalent
  *    downsampling, bit-reproducible);
  *  - t22: out-of-vocabulary rate against the corpus's top-K tokens
  *    (tokenizer-coverage / domain-shift signal);
  *  - d10: soft-dedup training weights (keep every duplicate but
  *    down-weight by near-dup cluster size — the alternative to d07's
  *    hard drop);
  *  - d11: cross-corpus near-duplicate detection (dedupe an incoming
  *    corpus against a frozen reference corpus — the near-dup face of
  *    t08's exact-overlap decontamination; streaming face
  *    [[graft.streaming.CrossCorpusStream]]);
  *  - q51: fuzzy best-match join (blocking → edit-distance verify →
  *    argmin resolution — the record-linkage shape);
  *  - e05: rolling z-score anomaly flags over the per-minute event
  *    series (strictly-preceding baseline on exact integer window
  *    sums; streaming face [[graft.streaming.AnomalyStream]]).
  */
object Relational7 extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val CHUNK = 64  // t17 chunk length (tokens)
  private val STRIDE = 48 // t17 chunk stride (tokens; overlap = 16)

  /** Sliding-window chunking: each document yields token chunks of
    * length [[CHUNK]] starting every [[STRIDE]] tokens (chunks start
    * while any token remains, so every token is covered and
    * consecutive chunks overlap by CHUNK−STRIDE). Output carries the
    * chunk's token count and an engine-portable hash of its text —
    * the compact join key downstream chunk-level dedup/indexing uses.
    *
    * Scale: embarrassingly parallel — one documents scan, the
    * explode fans out ~n_tokens/STRIDE rows per doc, and there is NO
    * shuffle at all before the gate's ORDER BY (a real pipeline
    * writes chunks partitioned by doc range and never sorts
    * globally). Zero-token documents have no chunks and are absent
    * by construction on both engines. */
  def t17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t17Chunks(s, dir).orderBy($"doc_id", $"chunk_id")
  }

  /** t17's chunk table without the gate's ORDER BY — the shared
    * upstream of t17 and [[Relational8.d13]] (duplicate-chunk
    * detection consumes the same chunk hashes). */
  private[operators] def t17Chunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      // cheap pre-tokenize screen for `size(tk) > 0` (a filter on tk
      // itself would be pushed below the projection and evaluate the
      // tokenize kernel TWICE per row). SQL trim strips only U+0020,
      // while the tokenizer's \s+ also eats tabs/newlines — so this
      // screen is NOT exact: a whitespace-only doc can slip through
      // and tokenize to an empty array. The sequence bound is clamped
      // to stay legal for that case (sequence(0,-1,48) throws) and
      // the resulting zero-token chunk is dropped below.
      .filter(trim($"text") =!= "")
      .select($"doc_id", word_tokens($"text").as("tk"))
      .select($"doc_id", $"tk",
        explode(sequence(lit(0), greatest(size($"tk"), lit(1)) - 1,
          lit(STRIDE))).as("start"))
      .select($"doc_id", ($"start" / STRIDE).cast("long").as("chunk_id"),
        slice($"tk", $"start" + 1, lit(CHUNK)).as("ct"))
      .select($"doc_id", $"chunk_id", size($"ct").cast("long").as("n_tok"),
        hash64(concat_ws(" ", $"ct")).as("chunk_hash"))
      // drops only the clamp artifact of empty-token docs (cheap:
      // size(slice) on the already-computed array, no re-tokenize)
      .filter($"n_tok" > 0)
  }

  /** The t17 chunk table as a DuckDB CTE body (shared with d13). */
  private[operators] val t17ChunkCte =
    s"""docs AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |st AS (SELECT doc_id, tk, unnest(range(0, len(tk), $STRIDE)) AS start
       |       FROM docs WHERE len(tk) > 0),
       |chunks AS (SELECT doc_id, CAST(start // $STRIDE AS BIGINT) AS chunk_id,
       |  CAST(least($CHUNK, len(tk) - start) AS BIGINT) AS n_tok,
       |  ${sqlHash64(s"array_to_string(tk[start+1:least(start+$CHUNK, len(tk))], ' ')")} AS chunk_hash
       |FROM st)""".stripMargin

  private val t17Oracle =
    s"""WITH $t17ChunkCte
       |SELECT doc_id, chunk_id, n_tok, chunk_hash FROM chunks
       |ORDER BY doc_id, chunk_id""".stripMargin

  /** Unigram LM quality score: per-document mean negative
    * log-likelihood under the corpus's own unigram distribution
    * (p(tok) = corpus count / total tokens) — the cheap stand-in for
    * the KenLM perplexity filter web-corpus curation runs (CCNet):
    * boilerplate-heavy and natural documents score low, token-salad
    * scores high.
    *
    * Shape: one tokenize pass feeds a per-(doc, token) count
    * aggregate; the vocabulary (token → corpus count) derives from
    * THAT aggregate, not a second corpus scan, and the corpus total
    * derives from the vocabulary — the t06 lesson (no extra action,
    * no re-scan for a scalar: the total rides in as a 1-row
    * cross-joined frame inside the same plan). The score join is
    * (doc, token)-side keyed by token: multiplicity is 1 on the
    * vocabulary side, so no row blowup — a stop-word key's partition
    * is merely LARGE, the AQE-skew / salting case SCALING.md covers,
    * and at 100 TB the vocabulary is exactly the reusable dictionary
    * a real pipeline materializes once.
    *
    * Determinism: the summed term is m·(ln T − ln c) in doubles —
    * round(4) absorbs summation-order ulps (the t06/e04 convention). */
  def t18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dt = t(s, dir, "documents")
      .select($"doc_id", explode(word_tokens($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("m"))
    val vocab = dt.groupBy($"tok").agg(sum($"m").as("c"))
    val total = vocab.agg(sum($"c").as("tt"))
    dt.join(vocab, Seq("tok"))
      .crossJoin(total)
      .groupBy($"doc_id")
      .agg(sum($"m").cast("long").as("n_tok"),
        round(sum($"m" * (log($"tt") - log($"c"))) / sum($"m"), 4).as("avg_nll"))
      .orderBy($"doc_id")
  }

  private val t18Oracle =
    s"""WITH docs AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |tok AS (SELECT doc_id, unnest(tk) AS tok FROM docs),
       |dt AS (SELECT doc_id, tok, count(*) AS m FROM tok GROUP BY 1, 2),
       |vocab AS (SELECT tok, sum(m) AS c FROM dt GROUP BY tok),
       |total AS (SELECT sum(c) AS tt FROM vocab)
       |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tok,
       |  round(sum(m * (ln(tt) - ln(c))) / sum(m), 4) AS avg_nll
       |FROM dt JOIN vocab USING (tok) CROSS JOIN total
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  private val T19_TOP = 30 // merge candidates reported

  /** BPE merge-candidate statistics: the frequency of each adjacent
    * character pair across the corpus, weighted by word frequency and
    * counted WITH multiplicity inside a word — exactly the table the
    * first merge step of byte-pair-encoding tokenizer training ranks.
    * The top pair is what BPE would merge first.
    *
    * Shape: the corpus collapses to the word-frequency table FIRST
    * (one tokenize pass + one groupBy with map-side combine — the
    * vocabulary is tiny next to the corpus), and pair expansion runs
    * over DISTINCT WORDS, not over every token occurrence: a word of
    * length L emits L−1 pairs once, each carrying the word's count.
    * At 100 TB that ordering makes pair extraction a vocabulary-sized
    * job instead of a corpus-sized one — the same economics as real
    * BPE trainers. Full (count desc, pair asc) ordering makes the
    * top-K cut deterministic; Spark plans it as TakeOrderedAndProject
    * (no global sort). */
  def t19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = t(s, dir, "documents")
      .select(explode(word_tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("wc"))
    words.filter(length($"w") >= 2)
      .select($"wc", explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy($"pair").agg(sum($"wc").as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(T19_TOP)
  }

  private val t19Oracle =
    s"""WITH docs AS (SELECT ${sqlTokens("text")} AS tk FROM documents),
       |w AS (SELECT unnest(tk) AS w FROM docs),
       |wc AS (SELECT w, count(*) AS wc FROM w GROUP BY w),
       |p AS (SELECT wc, unnest([substr(w, i, 2) for i in range(1, len(w))]) AS pair
       |      FROM wc WHERE len(w) >= 2)
       |SELECT pair, CAST(sum(wc) AS BIGINT) AS n
       |FROM p GROUP BY pair
       |ORDER BY n DESC, pair LIMIT $T19_TOP""".stripMargin

  /** Soft dedup: every document keeps a training weight 1/cluster_size
    * from the d06 near-dup clusters (unclustered docs weigh 1.0) —
    * the down-weight-don't-drop alternative to d07's hard removal
    * (one epoch over the weighted corpus sees each duplicated TEXT
    * with the same total mass as a unique one). Reads the
    * once-per-session materialized label table
    * ([[Relational4.materializedLabels]]) like the other *-from-state
    * pipeline stages — the weights join is label-table-sized, one
    * broadcast-or-shuffle join against documents. */
  def d10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = Relational4.materializedLabels(s, dir)
    val sizes = labels.groupBy($"comp").agg(count(lit(1)).as("cluster_size"))
    val cl = labels.join(sizes, Seq("comp"))
      .select($"id".as("doc_id"), $"cluster_size")
    t(s, dir, "documents")
      .join(cl, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"cluster_size", lit(1L)).as("cluster_size"),
        round(lit(1.0) / coalesce($"cluster_size", lit(1L)), 6).as("weight"))
      .orderBy($"doc_id")
  }

  private val d10Oracle =
    s"""${Relational4.ccOraclePrefix},
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id),
       |cl AS (SELECT comp.id, sizes.cluster_size FROM comp JOIN sizes USING (cluster_id))
       |SELECT d.doc_id,
       |  CAST(coalesce(cl.cluster_size, 1) AS BIGINT) AS cluster_size,
       |  round(CAST(1 AS DOUBLE) / coalesce(cl.cluster_size, 1), 6) AS weight
       |FROM documents d LEFT JOIN cl ON cl.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Cross-corpus near-duplicate detection: find candidate documents
    * (odd doc_ids — "the incoming crawl") whose text near-duplicates
    * a REFERENCE corpus (even doc_ids — "the frozen training set"),
    * by n-gram Jaccard at the d02 threshold. This is decontamination
    * at the near-dup level (t08 catches exact n-gram overlap with an
    * eval set; this catches paraphrase-grade duplication against a
    * corpus) and equally the incremental-ingest primitive: dedupe the
    * new batch against everything already admitted WITHOUT
    * re-pairing the reference against itself.
    *
    * Shape: exactly d02's single-scan bucket build (shingle → sorted
    * member list → PairExpand), with one extra predicate: only pairs
    * that STRADDLE the corpora survive (opposite doc_id parity here;
    * a real deployment tags rows with their corpus id and compares
    * tags). Within-reference and within-candidate pairs never leave
    * the bucket — at 100 TB that's the difference between "new batch
    * × its collisions" and re-running full-corpus dedup. */
  def d11(s: SparkSession, dir: String,
      maxBucket: Option[Int] = None): DataFrame = {
    import s.implicits._
    val buckets = Dedup.shingleBuckets(s, dir)
    maxBucket.fold(buckets)(m => buckets.filter(size($"members") <= m))
      .select(graft.functions.NativeKernels.pair_expand($"members")
        .as(Seq("pa", "pb")))
      .filter($"pa.doc_id" % 2 =!= $"pb.doc_id" % 2)
      .groupBy($"pa.doc_id".as("a_id"), $"pb.doc_id".as("b_id"))
      .agg(count(lit(1)).as("inter"),
        first($"pa.n").as("na"), first($"pb.n").as("nb"))
      .select(
        when($"a_id" % 2 === 1, $"a_id").otherwise($"b_id").as("cand_id"),
        when($"a_id" % 2 === 1, $"b_id").otherwise($"a_id").as("ref_id"),
        round($"inter" / ($"na" + $"nb" - $"inter"), 4).as("jaccard"))
      .filter($"jaccard" >= 0.5)
      .orderBy($"cand_id", $"ref_id")
  }

  private val d11Oracle =
    s"""WITH ${Dedup.sqlShingleRows},
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (SELECT b.doc_id AS cand_id, a.doc_id AS ref_id, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s
       |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
       |  GROUP BY 1, 2)
       |SELECT cand_id, ref_id,
       |  round(inter / (nr.n + nc.n - inter), 4) AS jaccard
       |FROM pairs
       |JOIN sizes nr ON nr.doc_id = ref_id
       |JOIN sizes nc ON nc.doc_id = cand_id
       |WHERE round(inter / (nr.n + nc.n - inter), 4) >= 0.5
       |ORDER BY cand_id, ref_id""".stripMargin

  /** Weighted corpus sampling, hash-deterministic: keep each document
    * with probability equal to its d10 soft-dedup weight, decided by
    * comparing an md5-derived uniform in [0,1) against the weight —
    * one pass, no RNG state, bit-reproducible under task retry and
    * across engines (the t10 sampling convention composed with d10's
    * weights). The sampled corpus has each duplicate CLUSTER
    * represented with the same expected mass as a unique document —
    * "epoch-equivalent" downsampling without hard-dropping anything.
    * The uniform is salted (`samp:`) so it is independent of every
    * other hash-of-doc_id in the pipeline. */
  def t20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = hash64(concat(lit("samp:"), $"doc_id".cast("string")))
      .cast("double") / lit(1152921504606846976.0) // 2^60
    d10(s, dir)
      .withColumn("u", u)
      .filter($"u" < $"weight")
      .select($"doc_id", $"cluster_size", $"weight", round($"u", 6).as("u"))
      .orderBy($"doc_id")
  }

  private val t20Oracle =
    s"""${Relational4.ccOraclePrefix},
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id),
       |cl AS (SELECT comp.id, sizes.cluster_size FROM comp JOIN sizes USING (cluster_id)),
       |wt AS (SELECT d.doc_id,
       |  CAST(coalesce(cl.cluster_size, 1) AS BIGINT) AS cluster_size,
       |  round(CAST(1 AS DOUBLE) / coalesce(cl.cluster_size, 1), 6) AS weight,
       |  CAST(${TextOpsSqlU} AS DOUBLE) / 1152921504606846976.0 AS u
       |  FROM documents d LEFT JOIN cl ON cl.id = d.doc_id)
       |SELECT doc_id, cluster_size, weight, round(u, 6) AS u
       |FROM wt WHERE u < weight
       |ORDER BY doc_id""".stripMargin

  private def TextOpsSqlU: String =
    sqlHash64("concat('samp:', CAST(d.doc_id AS VARCHAR))")

  private val E05_LOOKBACK = 30 // trailing minutes in the baseline frame
  private val E05_MINOBS = 10   // minimum observations before scoring
  private val E05_Z = 2.5       // anomaly threshold

  /** Rolling z-score anomaly flags over the per-minute event-count
    * series (the alerting face of the e02/e04 family): each
    * (event_type, minute) count is scored against the mean/stddev of
    * the trailing [[E05_LOOKBACK]] OBSERVED minutes — strictly
    * preceding, so a spike never suppresses its own detection — and
    * flagged when |z| ≥ [[E05_Z]] after [[E05_MINOBS]] observations.
    *
    * Determinism: the baseline rides on EXACT integer window sums
    * (Σc, Σc², k are BIGINT over integer counts); mean/variance/z are
    * then one fixed double expression over those exact inputs —
    * bit-equal across engines with no reliance on either engine's
    * stddev accumulation order (a `stddev_samp` window would be
    * Welford-order-dependent). IDENTICAL SQL text runs on both
    * engines (the q41/q45 convention).
    *
    * Scale: one minute aggregate (shuffle on (minute, type)) + one
    * per-type window — windows partition by event_type so the sort
    * parallelizes across series, never globally.
    *
    * At sf0.001 the series never accumulates [[E05_MINOBS]] observed
    * minutes per type, so the result is legitimately empty there; the
    * sf0.01 gate scores ~100 anomalies. */
  /** e05's SQL with explicit knobs — the default-constant instance is
    * the registered query/oracle; the streaming parity spec
    * instantiates smaller knobs so the tiny SF produces flags. */
  private[graft] def e05SqlWith(lookback: Int, minObs: Int, z: Double): String =
    s"""WITH m AS (
       |  SELECT CAST(date_trunc('minute', ts) AS TIMESTAMP) AS minute,
       |         event_type, CAST(count(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |w AS (
       |  SELECT minute, event_type, c,
       |    sum(c)   OVER win AS s1,
       |    sum(c*c) OVER win AS s2,
       |    count(*) OVER win AS k
       |  FROM m
       |  WINDOW win AS (PARTITION BY event_type ORDER BY minute
       |                 ROWS BETWEEN $lookback PRECEDING AND 1 PRECEDING))
       |SELECT event_type, minute, c AS n,
       |  round((CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / k)
       |    / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / k)
       |           / (k - 1)), 4) AS z
       |FROM w
       |WHERE k >= $minObs
       |  AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / k) / (k - 1) > 0
       |  AND abs((CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / k)
       |    / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / k)
       |           / (k - 1))) >= $z
       |ORDER BY event_type, minute""".stripMargin

  private val e05Sql = e05SqlWith(E05_LOOKBACK, E05_MINOBS, E05_Z)

  def e05(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(e05Sql)
  }

  private val Q51_PREFIX = 64 // edit-distance prefix (the q48 bound)

  /** Fuzzy best-match join (record linkage): for every incoming
    * document with at least one cross-corpus near-dup candidate (d11),
    * pick THE best reference match — minimum edit distance over the
    * normalized 64-char prefixes, ties broken by reference id. The
    * blocking-then-verification-then-resolution shape every entity-
    * resolution engine runs: shingle buckets propose (cheap, high
    * recall), levenshtein verifies (exact, per candidate only), argmin
    * resolves. Candidate generation never leaves d11's bucketed plan,
    * so the quadratic verifier touches only proposed pairs. */
  def q51(s: SparkSession, dir: String): DataFrame =
    q51From(s, dir, d11(s, dir))

  /** q51's verify+resolve stages over an already-detected candidate
    * pair table — the shared body of the standalone registration
    * (re-runs d11's bucket build per call: correctness-harness shape)
    * and the materialized form below (pipeline-cost shape). */
  private def q51From(s: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    import s.implicits._
    val prefixes = t(s, dir, "documents")
      .select($"doc_id",
        substring(graft.functions.TextOps.normText($"text"), 1, Q51_PREFIX).as("p"))
    val w = Window.partitionBy($"cand_id").orderBy($"dist", $"ref_id")
    pairs
      .join(prefixes.select($"doc_id".as("cand_id"), $"p".as("pc")), Seq("cand_id"))
      .join(prefixes.select($"doc_id".as("ref_id"), $"p".as("pr")), Seq("ref_id"))
      .select($"cand_id", $"ref_id", $"jaccard",
        levenshtein($"pc", $"pr").cast("long").as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"cand_id", $"ref_id".as("best_ref_id"), $"jaccard", $"dist")
      .orderBy($"cand_id")
  }

  private val crossPairCache = Materialized[DataFrame]()

  /** Materialized cross-corpus candidate pairs — d11 detected once,
    * checkpointed, shared by q51m (and any other consumer of
    * cross-corpus near-dup state). The pipeline analog of
    * [[Relational4.materializedPairs]]: a real deployment detects
    * incoming-vs-reference collisions once per ingest batch and feeds
    * every downstream resolution/reporting stage from that table. */
  def materializedCrossPairs(s: SparkSession, dir: String): DataFrame =
    crossPairCache(s, dir)(
      d11(s, dir).localCheckpoint())

  /** q51 output from the materialized pair state: only the
    * levenshtein verify + argmin resolve run per call (VERDICT r6:
    * the standalone q51 was the slowest query in the suite purely
    * from re-running the shingle-bucket build inline). */
  def q51FromPairs(s: SparkSession, dir: String): DataFrame =
    q51From(s, dir, materializedCrossPairs(s, dir))

  /** Unblocked ground truth for q51 (RecallReport only, not a
    * registered query): the true argmin-edit-distance reference for
    * EVERY candidate, computed over the full cand × ref cross product
    * with the same (dist, ref_id) tie-break. Quadratic by
    * construction — this is the thing blocking exists to avoid; it
    * runs offline to quantify what the blocked q51 gives up. */
  private[operators] def q51Exact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val prefixes = t(s, dir, "documents")
      .select($"doc_id",
        substring(graft.functions.TextOps.normText($"text"), 1, Q51_PREFIX).as("p"))
    val cands = prefixes.filter($"doc_id" % 2 === 1)
      .select($"doc_id".as("cand_id"), $"p".as("pc"))
    val refs = prefixes.filter($"doc_id" % 2 === 0)
      .select($"doc_id".as("ref_id"), $"p".as("pr"))
    val w = Window.partitionBy($"cand_id").orderBy($"dist", $"ref_id")
    cands.crossJoin(refs)
      .select($"cand_id", $"ref_id",
        levenshtein($"pc", $"pr").cast("long").as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"cand_id", $"ref_id".as("best_ref_id"), $"dist")
  }

  private val q51Oracle = {
    import graft.functions.TextOps.sqlNorm
    s"""WITH d11 AS ($d11Oracle),
       |p AS (SELECT doc_id, substr(${sqlNorm("text")}, 1, $Q51_PREFIX) AS p
       |      FROM documents),
       |v AS (SELECT cand_id, ref_id, jaccard,
       |  CAST(levenshtein(pc.p, pr.p) AS BIGINT) AS dist
       |  FROM d11 JOIN p pc ON pc.doc_id = cand_id
       |           JOIN p pr ON pr.doc_id = ref_id),
       |r AS (SELECT cand_id, ref_id, jaccard, dist,
       |  row_number() OVER (PARTITION BY cand_id ORDER BY dist, ref_id) AS rn
       |  FROM v)
       |SELECT cand_id, ref_id AS best_ref_id, jaccard, dist
       |FROM r WHERE rn = 1
       |ORDER BY cand_id""".stripMargin
  }

  private val T22_VOCAB = 100 // vocabulary size (top tokens by count)

  /** Out-of-vocabulary rate: the fraction of each document's token
    * OCCURRENCES that fall outside the corpus's top-[[T22_VOCAB]]
    * tokens — the tokenizer-coverage / domain-shift signal a pipeline
    * checks before committing to a vocabulary. Total (count desc,
    * token asc) order makes the vocabulary cut deterministic. The
    * vocabulary derives from the same (doc, token) aggregate the
    * scoring side uses (one corpus scan, exchange reuse — the t18
    * shape) and is top-K tiny, so membership is a broadcast join. */
  def t22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dt = t(s, dir, "documents")
      .select($"doc_id", explode(word_tokens($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("m"))
    val vocab = dt.groupBy($"tok").agg(sum($"m").as("c"))
      .orderBy($"c".desc, $"tok").limit(T22_VOCAB)
      .select($"tok", lit(1).as("in_vocab"))
    dt.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy($"doc_id")
      .agg(sum($"m").cast("long").as("n_tok"),
        sum(when($"in_vocab".isNull, $"m").otherwise(0L)).cast("long").as("oov"),
        round(sum(when($"in_vocab".isNull, $"m").otherwise(0L)) / sum($"m"), 4)
          .as("oov_rate"))
      .orderBy($"doc_id")
  }

  private val t22Oracle =
    s"""WITH docs AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |tok AS (SELECT doc_id, unnest(tk) AS tok FROM docs),
       |dt AS (SELECT doc_id, tok, count(*) AS m FROM tok GROUP BY 1, 2),
       |vc AS (SELECT tok, sum(m) AS c FROM dt GROUP BY tok),
       |vocab AS (SELECT tok FROM vc ORDER BY c DESC, tok LIMIT $T22_VOCAB)
       |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tok,
       |  CAST(sum(CASE WHEN v.tok IS NULL THEN m ELSE 0 END) AS BIGINT) AS oov,
       |  round(sum(CASE WHEN v.tok IS NULL THEN m ELSE 0 END) / sum(m), 4) AS oov_rate
       |FROM dt LEFT JOIN vocab v ON v.tok = dt.tok
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Containment near-dup: pairs where the SMALLER shingle set is
    * mostly inside the other — `inter / min(|A|, |B|)` ≥ 0.8. The
    * companion metric to d02's Jaccard: a short document quoted
    * wholesale inside a long one has near-1 containment but tiny
    * Jaccard (the union is dominated by the long side), so
    * symmetric-similarity dedup structurally misses it — and
    * quoted-in-full duplication is exactly what training-data dedup
    * wants to catch (Lee et al. 2022 track both metrics). Same
    * single-scan bucket machinery as d02; only the pair-aggregate
    * formula differs. */
  def d12(s: SparkSession, dir: String,
      maxBucket: Option[Int] = None): DataFrame = {
    import s.implicits._
    val buckets = Dedup.shingleBuckets(s, dir)
    maxBucket.fold(buckets)(m => buckets.filter(size($"members") <= m))
      .select(graft.functions.NativeKernels.pair_expand($"members")
        .as(Seq("pa", "pb")))
      .groupBy($"pa.doc_id".as("a_id"), $"pb.doc_id".as("b_id"))
      .agg(count(lit(1)).as("inter"),
        first($"pa.n").as("na"), first($"pb.n").as("nb"))
      .select($"a_id", $"b_id",
        round($"inter" / least($"na", $"nb"), 4).as("containment"))
      .filter($"containment" >= 0.8)
      .orderBy($"a_id", $"b_id")
  }

  private val d12Oracle =
    s"""WITH ${Dedup.sqlShingleRows},
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id,
       |  round(inter / least(na.n, nb.n), 4) AS containment
       |FROM pairs
       |JOIN sizes na ON na.doc_id = a_id
       |JOIN sizes nb ON nb.doc_id = b_id
       |WHERE round(inter / least(na.n, nb.n), 4) >= 0.8
       |ORDER BY a_id, b_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t17_chunking" -> (t17 _),
    "t18_unigram_nll" -> (t18 _),
    "t19_bpe_pairs" -> (t19 _),
    "d10_dedup_weights" -> (d10 _),
    "d11_cross_corpus_neardup" -> ((s, d) => d11(s, d)),
    "t20_weighted_sample" -> (t20 _),
    "e05_zscore_anomaly" -> (e05 _),
    "q51_fuzzy_best_match" -> (q51 _),
    "q51m_best_match_materialized" -> (q51FromPairs _),
    "t22_oov_rate" -> (t22 _),
    "d12_containment" -> ((s, d) => d12(s, d)),
  )

  val oracles: Map[String, String] = Map(
    "t17_chunking" -> t17Oracle,
    "t18_unigram_nll" -> t18Oracle,
    "t19_bpe_pairs" -> t19Oracle,
    "d10_dedup_weights" -> d10Oracle,
    "d11_cross_corpus_neardup" -> d11Oracle,
    "t20_weighted_sample" -> t20Oracle,
    "e05_zscore_anomaly" -> e05Sql,
    "q51_fuzzy_best_match" -> q51Oracle,
    "q51m_best_match_materialized" -> q51Oracle,
    "t22_oov_rate" -> t22Oracle,
    "d12_containment" -> d12Oracle,
  )
}
