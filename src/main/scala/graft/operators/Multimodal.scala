package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.MediaCodec

/** Multimodal-column support (SURVEY.md §7.2): media as opaque BINARY
  * columns + typed metadata struct, with decode / feature-extract /
  * frame-sample as partition-wise batch transforms.
  *
  * Round 8 replaced the byte-length stub with a real container codec
  * ([[graft.functions.MediaCodec]]): fixture blobs are
  * spec-conformant PNG / WAV-RIFF / MP4-box containers (correct chunk
  * CRCs and box sizes) whose headers ENCODE the per-doc dimensions,
  * and `decodeBatch` PARSES them back out of the bytes — PNG IHDR,
  * WAV fmt, MP4 tkhd/mvhd walks, plus JPEG SOF0 for externally
  * produced files (cross-checked against `javax.imageio` in
  * MediaCodecSpec). Decode is container-level (dimensions, sample
  * rate, duration, payload hash), which is the feature-extraction
  * step a curation pipeline runs per blob; pixel decode belongs far
  * downstream on the curated subset.
  *
  * At 100 TB: media bytes stay columnar in parquet (never strings),
  * decode runs once per partition-batch with codec reuse
  * (`mapPartitions`, the Scala analog of `mapInPandas`), features are
  * small fixed-width columns so downstream shuffles never carry blobs
  * (`select` drops the binary column before any wide transform), and
  * metadata-only queries (m02) read pruned meta columns without ever
  * touching blob bytes.
  */
object Multimodal extends graft.QueryModule {

  /** Decoded-media feature row (the "decode" output schema). For
    * audio, (width, height) carry (sample_rate, channels) — the WAV
    * header facts playing the role image dimensions play for images. */
  case class MediaFeatures(
      doc_id: Long, mime: String, n_bytes: Long,
      width: Int, height: Int, n_frames: Int, frame0_hash: String)

  private def mimeOf(source: org.apache.spark.sql.Column) =
    when(source.isin("src0", "src1", "src2"), "image/png")
      .when(source.isin("src3", "src4"), "audio/wav")
      .otherwise("video/mp4")

  /** Media table: real containers wrapping documents' text bytes as
    * payload. Header fields are deterministic functions of the
    * payload length n — png/mp4 dims (16 + n % 625, 16 + n % 465),
    * wav (8000 + n % 3 * 4000 Hz, 1 + n % 2 channels), mp4 frame
    * count 1 + n / 256 — so the DuckDB oracle can state what a
    * correct header parse must find. `meta.n_bytes` is the PAYLOAD
    * length (media data, not container overhead). */
  def mediaTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id", $"text", mimeOf($"source").as("mime"))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text, mime) =>
          val payload = Option(text).getOrElse("").getBytes("UTF-8")
          val n = payload.length.toLong
          val content = mime match {
            case "image/png" => MediaCodec.writePng(
              (16 + n % 625).toInt, (16 + n % 465).toInt, payload)
            case "audio/wav" => MediaCodec.writeWav(
              (8000 + (n % 3) * 4000).toInt, (1 + n % 2).toInt, payload)
            case _ => MediaCodec.writeMp4(
              (16 + n % 625).toInt, (16 + n % 465).toInt,
              (1 + n / 256).toInt, payload)
          }
          (id, content, n, mime)
        }
      }
      .toDF("doc_id", "content", "n_bytes", "mime")
      .select($"doc_id", $"content",
        struct($"n_bytes", $"mime").as("meta"))
  }

  /** Real decode kernel: sniff the container by magic bytes, parse
    * its header ([[MediaCodec.decode]]), hash the first 256 payload
    * bytes. Per-partition codec init (the MessageDigest) happens once
    * here — this is why decode is mapPartitions, not a per-row UDF. */
  private def decodeBatch(rows: Iterator[(Long, Array[Byte], Long, String)])
      : Iterator[MediaFeatures] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map { case (id, bytes, nBytes, mime) =>
      val d = MediaCodec.decode(bytes)
      val frame0 = java.util.Arrays.copyOfRange(
        bytes, d.payloadOff, d.payloadOff + math.min(256, d.payloadLen))
      md.reset()
      val hash = md.digest(frame0).map(b => f"$b%02x").mkString
      MediaFeatures(id, mime, nBytes, d.width, d.height, d.frames, hash)
    }
  }

  /** Decode → features, partition-wise. Blob column is dropped in the
    * output so downstream ops never shuffle bytes. */
  def decodeFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, dir)
      .select($"doc_id", $"content", $"meta.n_bytes", $"meta.mime")
      .as[(Long, Array[Byte], Long, String)]
    media.mapPartitions(decodeBatch).toDF()
  }

  /** Frame sampling: every video becomes up to 3 (doc_id, frame_idx)
    * rows. Metadata-only — the plan reads documents' pruned columns
    * and never builds or touches blob bytes (the 100 TB story: frame
    * INDEX selection is a catalog operation; only a downstream
    * extract stage for the selected frames opens containers). */
  def frameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .filter(mimeOf($"source") === "video/mp4")
      .select($"doc_id", octet_length($"text").cast("long").as("n_bytes"))
      .select($"doc_id",
        explode(sequence(lit(0),
          least(floor($"n_bytes" / 256).cast("int"), lit(2)))).as("frame_idx"))
      .select($"doc_id", $"frame_idx".cast("long").as("frame_idx"))
      .orderBy($"doc_id", $"frame_idx")
  }

  /** The decode pipeline as an oracle query: every feature here is
    * read back out of container headers by [[decodeBatch]], and the
    * DuckDB side states the arithmetic the headers were written with
    * — so the oracle check proves the encode→parse round trip. */
  def m01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodeFeatures(s, dir).select(
      $"doc_id", $"mime", $"n_bytes",
      $"width".cast("long").as("width"),
      $"height".cast("long").as("height"),
      $"n_frames".cast("long").as("n_frames"))
      .orderBy($"doc_id")
  }

  /** Frame-sample plan as an oracle query (video rows only). */
  def m02(s: SparkSession, dir: String): DataFrame = frameSample(s, dir)

  /** Exact blob dedup by content hash — the media face of d01: md5
    * over the BINARY column (no text normalization; bytes are bytes),
    * keep the lowest doc_id per digest. At 100 TB the hash is computed
    * where the blob lives and only the 16-byte digest shuffles. */
  def m03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .select($"doc_id", md5($"content").as("digest"))
      .groupBy($"digest")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"n_copies")
      .orderBy($"keep_id")
  }

  // ---- m04/m05: perceptual content hash + near-dup media ------------

  private[graft] val AHASH_BITS = 60  // d04's 60-bit convention: bit 59
                                      // is the top bit both engines can
                                      // shift into without overflow
  private val AHASH_HAMMING_MAX = 13  // planted near-dups land ≤ 13;
                                      // the background ramps from 14
                                      // (measured at sf0.001 and 0.01)
  // Multi-index hamming banding (Norouzi et al., "Fast Search in
  // Hamming Space with Multi-Index Hashing", CVPR 2012): 5 disjoint
  // bands of 12 bits with radius-1 multi-probe. The algebra, proved
  // in two steps so the registered plan is EXACT at the threshold:
  //   (1) pigeonhole — if every band of a pair differed in ≥ 3 bits,
  //       total hamming ≥ 5·3 = 15 > 13; so hamming ≤ 13 ⇒ some band
  //       differs in ≤ ⌊13/5⌋ = 2 bits.
  //   (2) ball intersection — each doc emits, per band, the 13 keys
  //       at hamming ≤ 1 from its 12-bit band value; two radius-1
  //       balls intersect iff the band values differ in ≤ 2 bits
  //       (≤ 2: flip one differing bit to build a common key;
  //       > 2: triangle inequality forbids a common key). So every
  //       true pair shares ≥ 1 bucket, and the exact bit_count
  //       verification makes the result identical to all-pairs.
  // vs the r11 design (15 bands × 4-bit keys = 16 possible buckets
  // per band, a structural n/16 occupancy at ANY corpus size): keys
  // are 4096-valued, so bucket sizes track the hash distribution
  // (≈ 13n/4096 per band under a uniform-hash adversary, 20× below
  // the old structural floor — measured in ScaleSpec) at the cost of
  // 65 emitted probe rows/doc instead of 15.
  private[graft] val AHASH_BANDS = 5
  private[graft] val AHASH_BAND_BITS = 12 // 5 × 12 = AHASH_BITS

  /** 60-bit average-hash of a decoded media payload: the byte stream
    * splits into [[AHASH_BITS]] segments (byte i → segment
    * ⌊i·60/len⌋), and bit k is set iff segment k's mean exceeds the
    * global mean — compared CROSS-MULTIPLIED (segSum·len >
    * total·segCnt), so the whole hash is exact integer arithmetic
    * with no division, identical on any engine. This is aHash
    * (average hash) in its 1-D form: the perceptual-dedup primitive
    * that survives container re-encoding and small payload edits,
    * where m03's md5 flips on any byte. */
  private[graft] def aHash(bytes: Array[Byte], off: Int, len: Int): Long = {
    if (len <= 0) return 0L
    val segSum = new Array[Long](AHASH_BITS)
    val segCnt = new Array[Long](AHASH_BITS)
    var total = 0L
    var i = 0
    while (i < len) {
      val v = bytes(off + i) & 0xff
      val k = (i.toLong * AHASH_BITS / len).toInt
      segSum(k) += v; segCnt(k) += 1; total += v
      i += 1
    }
    var h = 0L
    var k = 0
    while (k < AHASH_BITS) {
      if (segSum(k) * len > total * segCnt(k)) h |= 1L << k
      k += 1
    }
    h
  }

  /** Per-blob perceptual hash: decode the container (real header
    * parse — the payload location comes from the PNG IDAT / WAV data
    * / MP4 mdat walk, never from knowing how the fixture was built),
    * then [[aHash]] the payload bytes. The oracle recomputes the
    * same hash from the payload SOURCE (the document text bytes, all
    * ASCII here) — so a hash match proves the decode handed the
    * exact payload slice AND the segment/threshold arithmetic is
    * engine-portable. Shape: one mapPartitions decode pass (codec
    * reuse per partition, blobs never shuffle — only the 8-byte hash
    * leaves the scan). */
  def m04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .select($"doc_id", $"content").as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val d = MediaCodec.decode(bytes)
          (id, d.kind, d.payloadLen.toLong,
            aHash(bytes, d.payloadOff, d.payloadLen))
        }
      }
      .toDF("doc_id", "kind", "n_bytes", "ahash")
      .orderBy($"doc_id")
  }

  /** Banded candidate pairs over a (doc_id, ahash) frame — the m05
    * kernel, factored out so ScaleSpec can drive it with an
    * adversarial (uniform-hash) corpus. Each doc emits 13 radius-1
    * probe keys per band (see the band-algebra note at
    * [[AHASH_BANDS]]); buckets over cap (when given) are dropped
    * whole, the d02/d03/d04 `maxBucket` skew trade — NOTE capping can
    * break the exactness guarantee, so the registered m05 is
    * uncapped and the recall under a cap is measured (SCALING.md
    * Recall report). Emits verified pairs (a_id < b_id, exact
    * hamming ≤ [[AHASH_HAMMING_MAX]]), unordered and undeduped
    * across buckets — callers dedup with a groupBy. */
  /** The probe-bucket stage of [[aHashCandidatePairs]], exposed so
    * ScaleSpec can measure bucket-size distributions directly.
    * Emits (band, key, members) for buckets of ≥ 2 members. */
  private[graft] def aHashProbeBuckets(h: DataFrame): DataFrame = {
    import h.sparkSession.implicits._
    val keyMask = (1 << AHASH_BAND_BITS) - 1
    val bands = h.select($"doc_id", $"ahash",
        explode(sequence(lit(0), lit(AHASH_BANDS - 1))).as("band"))
      .select($"doc_id", $"ahash", $"band",
        expr(s"(ahash >> ($AHASH_BAND_BITS * band)) & $keyMask").as("bkey"))
    // radius-1 multi-probe: flip = -1 emits the band value itself,
    // flip = j the value with bit j toggled (13 probe rows per band)
    bands
      .select($"doc_id", $"ahash", $"band", $"bkey",
        explode(array((-1 until AHASH_BAND_BITS).map(lit(_)): _*)).as("flip"))
      .select($"doc_id", $"ahash", $"band",
        expr("CASE WHEN flip = -1 THEN bkey " +
          "ELSE bkey ^ shiftleft(CAST(1 AS BIGINT), flip) END").as("key"))
      .groupBy($"band", $"key")
      .agg(sort_array(collect_list(struct($"doc_id", $"ahash"))).as("members"))
      .filter(size($"members") > 1)
  }

  private[graft] def aHashCandidatePairs(
      h: DataFrame, maxBucket: Option[Int]): DataFrame = {
    import h.sparkSession.implicits._
    import graft.functions.NativeKernels.pair_expand
    val buckets = aHashProbeBuckets(h)
    val capped = maxBucket.fold(buckets)(m =>
      buckets.filter(size($"members") <= m))
    capped
      .select(pair_expand($"members").as(Seq("pa", "pb")))
      .select($"pa.doc_id".as("a_id"), $"pb.doc_id".as("b_id"),
        bit_count($"pa.ahash".bitwiseXOR($"pb.ahash")).cast("long").as("hamming"))
      .filter($"hamming" <= AHASH_HAMMING_MAX)
  }

  /** Perceptual near-dup media pairs: [[m04]] hashes banded into
    * [[AHASH_BANDS]] 12-bit keys with radius-1 multi-probe (the
    * exact-at-threshold algebra at [[AHASH_BANDS]] — no all-pairs
    * join), exact hamming ≤ [[AHASH_HAMMING_MAX]] verification on
    * the candidates. Catches payloads that md5-dedup (m03) can never
    * match: re-encoded or lightly edited media whose byte streams
    * differ but whose content profile is the same. */
  def m05(s: SparkSession, dir: String, maxBucket: Option[Int] = None)
      : DataFrame = {
    import s.implicits._
    val h = m04(s, dir).select($"doc_id", $"ahash")
    aHashCandidatePairs(h, maxBucket)
      .groupBy($"a_id", $"b_id").agg(min($"hamming").as("hamming"))
      .orderBy($"a_id", $"b_id")
  }

  /** Frame-level perceptual near-dup across VIDEOS — the temporal
    * composition of the media tier: m02's sampled frame indices (≤ 3
    * per video), each frame's 256-byte payload slice aHashed in the
    * SAME decode pass (one container walk per blob; only 8-byte
    * per-frame hashes leave the scan), m05's exact-at-threshold
    * multi-index banding over the frame hashes, then an aggregate to
    * video pairs (shared-frame count + closest frame distance). This
    * catches re-cut/re-encoded footage sharing content m03's
    * container md5 and even m05's whole-payload hash miss — a video
    * pair surfaces if ANY sampled frame pair is within hamming ≤
    * [[AHASH_HAMMING_MAX]]. Frame ids pack as doc_id·4 + frame_idx
    * (frame_idx ≤ 2), so the pair kernel is reused verbatim; the
    * first groupBy dedups multi-bucket emissions at FRAME grain, the
    * second aggregates to videos — candidate generation stays
    * banded, never all-pairs (same plan family PlanAuditSpec sweeps).
    * Oracle: all-pairs truth over the same per-frame hash arithmetic
    * recomputed from the payload source text in SQL. */
  def m06(s: SparkSession, dir: String, maxBucket: Option[Int] = None)
      : DataFrame = {
    import s.implicits._
    val fh = mediaTable(s, dir)
      .filter($"meta.mime" === "video/mp4")
      .select($"doc_id", $"content").as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          val d = MediaCodec.decode(bytes)
          val nFrames = math.min(d.payloadLen / 256, 2) + 1
          (0 until nFrames).map { f =>
            val off = d.payloadOff + f * 256
            val len = math.min(256, d.payloadLen - f * 256)
            (id * 4 + f, aHash(bytes, off, len))
          }
        }
      }.toDF("doc_id", "ahash") // frame id plays doc_id for the kernel
    aHashCandidatePairs(fh, maxBucket)
      .groupBy($"a_id", $"b_id").agg(min($"hamming").as("hamming"))
      .select(expr("a_id div 4").as("a_vid"),
        expr("b_id div 4").as("b_vid"), $"hamming")
      .filter($"a_vid" =!= $"b_vid")
      .groupBy($"a_vid", $"b_vid")
      .agg(count(lit(1)).as("n_frame_pairs"),
        min($"hamming").as("min_hamming"))
      .select($"a_vid".as("a_id"), $"b_vid".as("b_id"),
        $"n_frame_pairs", $"min_hamming")
      .orderBy($"a_id", $"b_id")
  }

  private val aHashCtes =
    s"""d AS (SELECT doc_id, text, length(text) AS n,
       |  CASE WHEN source IN ('src0','src1','src2') THEN 'png'
       |       WHEN source IN ('src3','src4') THEN 'wav'
       |       ELSE 'mp4' END AS kind
       |  FROM documents),
       |v AS (SELECT doc_id, n,
       |    CAST(((i - 1) * $AHASH_BITS) // n AS BIGINT) AS k,
       |    CAST(ascii(text[CAST(i AS INT)]) AS BIGINT) AS val
       |  FROM (SELECT doc_id, text, n, unnest(range(1, n + 1)) AS i FROM d)),
       |seg AS (SELECT doc_id, k, CAST(sum(val) AS BIGINT) AS ss,
       |    CAST(count(*) AS BIGINT) AS sc
       |  FROM v GROUP BY 1, 2),
       |tot AS (SELECT doc_id, CAST(sum(val) AS BIGINT) AS ts,
       |    CAST(max(n) AS BIGINT) AS n
       |  FROM v GROUP BY 1),
       |hash AS (SELECT seg.doc_id AS doc_id,
       |    CAST(sum(CASE WHEN ss * n > ts * sc
       |      THEN (CAST(1 AS BIGINT) << CAST(k AS BIGINT)) ELSE 0 END)
       |      AS BIGINT) AS ahash
       |  FROM seg JOIN tot ON tot.doc_id = seg.doc_id GROUP BY 1)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m01_media_meta" -> (m01 _),
    "m02_frame_sample" -> (m02 _),
    "m03_blob_dedup" -> (m03 _),
    "m04_media_ahash" -> (m04 _),
    "m05_media_neardup" -> ((s, d) => m05(s, d)),
    "m06_frame_neardup" -> ((s, d) => m06(s, d)),
  )

  val oracles: Map[String, String] = Map(
    // the header-parse round trip: containers were written with these
    // dims; decodeBatch must read them back out of the bytes
    "m01_media_meta" ->
      """SELECT doc_id,
        | CASE WHEN source IN ('src0','src1','src2') THEN 'image/png'
        |      WHEN source IN ('src3','src4') THEN 'audio/wav'
        |      ELSE 'video/mp4' END AS mime,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(CASE WHEN source IN ('src3','src4')
        |      THEN 8000 + (octet_length(encode(text)) % 3) * 4000
        |      ELSE 16 + octet_length(encode(text)) % 625 END AS BIGINT) AS width,
        | CAST(CASE WHEN source IN ('src3','src4')
        |      THEN 1 + octet_length(encode(text)) % 2
        |      ELSE 16 + octet_length(encode(text)) % 465 END AS BIGINT) AS height,
        | CAST(CASE WHEN source IN ('src0','src1','src2','src3','src4')
        |      THEN 1
        |      ELSE 1 + octet_length(encode(text)) // 256 END AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m02_frame_sample" ->
      """SELECT doc_id, CAST(u AS BIGINT) AS frame_idx
        |FROM (SELECT doc_id,
        |   unnest(range(0, least(CAST(floor(octet_length(encode(text)) / 256) AS BIGINT), 2) + 1)) AS u
        |  FROM documents
        |  WHERE source NOT IN ('src0','src1','src2','src3','src4'))
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // container bytes are a deterministic function of (text, mime),
    // so grouping by md5(container) in Spark partitions rows exactly
    // like grouping by (md5(text), mime-class) does in DuckDB
    "m03_blob_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM (SELECT doc_id, md5(text) AS digest,
        |   CASE WHEN source IN ('src0','src1','src2') THEN 'p'
        |        WHEN source IN ('src3','src4') THEN 'a'
        |        ELSE 'v' END AS mm
        |  FROM documents)
        |GROUP BY digest, mm ORDER BY keep_id""".stripMargin,
    // the decode→aHash round trip: payload bytes ARE the (ASCII) text
    // bytes, so the oracle recomputes the exact segment/threshold
    // arithmetic from text — a hash match proves both the payload
    // slice and the integer aHash are engine-portable
    "m04_media_ahash" ->
      s"""WITH $aHashCtes
         |SELECT d.doc_id AS doc_id, kind,
         |  CAST(n AS BIGINT) AS n_bytes,
         |  coalesce(ahash, 0) AS ahash
         |FROM d LEFT JOIN hash ON hash.doc_id = d.doc_id
         |ORDER BY doc_id""".stripMargin,
    // all-pairs truth over the same hash table (the banded Spark plan
    // must lose nothing at hamming ≤ 13: 5 bands × 12 bits, pigeonhole
    // to a ≤2-bit band + radius-1 probe balls that meet at distance 2)
    "m05_media_neardup" ->
      s"""WITH $aHashCtes
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
         |FROM hash a JOIN hash b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ahash, b.ahash)) <= 13
         |ORDER BY a_id, b_id""".stripMargin,
    // all-pairs truth over the per-frame hashes: frame slices are
    // 256-byte payload windows (payload bytes ARE the text bytes),
    // hashed with the identical segment/threshold arithmetic, video
    // pairs aggregated exactly like the banded Spark plan
    "m06_frame_neardup" ->
      s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
         |  WHERE source NOT IN ('src0','src1','src2','src3','src4')),
         |fr AS (SELECT doc_id, text, n,
         |  unnest(range(0, least(n // 256, 2) + 1)) AS fi FROM d),
         |fs AS (SELECT doc_id * 4 + fi AS fid,
         |  text[CAST(fi*256+1 AS INT):CAST((fi+1)*256 AS INT)] AS sub FROM fr),
         |fl AS (SELECT fid, sub, length(sub) AS len FROM fs),
         |v AS (SELECT fid, len, ((i - 1) * $AHASH_BITS) // len AS k,
         |    CAST(ascii(sub[CAST(i AS INT)]) AS BIGINT) AS val
         |  FROM (SELECT fid, sub, len, unnest(range(1, len + 1)) AS i FROM fl)),
         |seg AS (SELECT fid, k, CAST(sum(val) AS BIGINT) AS ss,
         |    CAST(count(*) AS BIGINT) AS sc FROM v GROUP BY 1, 2),
         |tot AS (SELECT fid, CAST(sum(val) AS BIGINT) AS ts,
         |    CAST(max(len) AS BIGINT) AS len FROM v GROUP BY 1),
         |h0 AS (SELECT seg.fid AS fid,
         |    CAST(sum(CASE WHEN ss * len > ts * sc
         |      THEN (CAST(1 AS BIGINT) << CAST(k AS BIGINT)) ELSE 0 END)
         |      AS BIGINT) AS h
         |  FROM seg JOIN tot ON tot.fid = seg.fid GROUP BY 1),
         |fh AS (SELECT fl.fid AS fid, CAST(coalesce(h0.h, 0) AS BIGINT) AS h
         |  FROM fl LEFT JOIN h0 ON h0.fid = fl.fid),
         |p AS (SELECT a.fid // 4 AS a_id, b.fid // 4 AS b_id,
         |    bit_count(xor(a.h, b.h)) AS hamming
         |  FROM fh a JOIN fh b ON a.fid // 4 < b.fid // 4
         |  WHERE bit_count(xor(a.h, b.h)) <= $AHASH_HAMMING_MAX)
         |SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS n_frame_pairs,
         |  CAST(min(hamming) AS BIGINT) AS min_hamming
         |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
