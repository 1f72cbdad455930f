package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Engine, GQ}

/** Multimodal column plumbing: image/audio/video payloads travel as
  * opaque `binary` columns with typed metadata (north-star spec).
  *
  * The decode/feature-extraction step is STUBBED (no image/audio libs in
  * this container) with a deterministic fake derived from the bytes; the
  * Spark-side plumbing — schema, batch shape, partition-wise processing —
  * is real and tested. On a real cluster, `decodeFeatures` is the one
  * function to replace with an actual decoder; everything around it
  * (mapPartitions batching, struct schema, downstream SQL) is unchanged.
  */
object Blob {

  /** Typed metadata carried alongside every payload. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("mime", StringType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("n_bytes", IntegerType, nullable = false),
      StructField("checksum", StringType, nullable = false))), nullable = true)))

  final case class MediaRow(media_id: Long, payload: Array[Byte], mime: String)
  final case class Features(media_id: Long, n_bytes: Int, width: Int, height: Int,
      brightness: Double)

  /** Wrap any (id, binary) pair into the canonical media frame. */
  def toMediaFrame(df: DataFrame, idCol: String, binCol: String, mime: String): DataFrame =
    df.select(
      col(idCol).cast(LongType).as("media_id"),
      col(binCol).cast(BinaryType).as("payload"),
      lit(mime).as("mime"),
      struct(
        octet_length(col(binCol).cast(BinaryType)).as("n_bytes"),
        md5(col(binCol).cast(BinaryType)).as("checksum")).as("meta"))

  /** STUB decoder: deterministic fake features from the payload bytes.
    * Real deployment replaces the body with an image decode; the
    * partition-wise batch shape (Iterator→Iterator, no per-row JNI setup)
    * is the part that matters for cluster efficiency. */
  def decodeFeatures(spark: SparkSession, media: DataFrame): Dataset[Features] = {
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init would open the decoder library ONCE here
        it.map { case (id, bytes) =>
          val b = if (bytes == null) Array.empty[Byte] else bytes
          // deterministic fake: dimensions/brightness derived from bytes
          val w = 16 + (math.abs(graft.functions.GraftHash.fnv64(b)) % 1024).toInt
          val h = 16 + (math.abs(graft.functions.GraftHash.fnv64(b.reverse)) % 1024).toInt
          val brightness =
            if (b.isEmpty) 0.0
            else b.map(x => (x & 0xff).toDouble).sum / b.length / 255.0
          Features(id, b.length, w, h, brightness)
        }
      }
  }

  /** STUB perceptual hasher: the published average-hash (aHash) scheme —
    * 64 block means compared to the global mean, one bit each — applied
    * to the RAW payload bytes in place of decoded grayscale pixels (no
    * image libs in this container). The locality property that makes the
    * downstream pipeline meaningful is real: a small payload edit moves
    * few block means, so near-identical payloads land within a small
    * Hamming radius. Real deployment swaps the byte windows for an 8x8
    * downsampled luma plane; the signature type (64-bit long), the
    * Iterator->Iterator batch shape, and everything downstream are
    * unchanged. */
  def perceptualHash(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init would open the decoder library ONCE here
        it.map { case (id, bytes) =>
          val b = if (bytes == null || bytes.isEmpty) Array[Byte](0) else bytes
          val means = Array.tabulate(64) { j =>
            val lo = j * b.length / 64
            val hi = math.max((j + 1) * b.length / 64, lo + 1)
            var s = 0.0
            var i = lo
            while (i < hi && i < b.length) { s += (b(i) & 0xff); i += 1 }
            s / (hi - lo)
          }
          val gm = means.sum / 64
          var h = 0L
          var j = 0
          while (j < 64) { if (means(j) > gm) h |= (1L << j); j += 1 }
          (id, h)
        }
      }.toDF("id", "sig")
  }

  /** FNV-1a over a VARCHAR's codepoints as HUGEINT mod 2^64 — the d03
    * oracle discipline (char windows == byte windows on this ASCII
    * corpus, verified by the m03 oracle's length identity). */
  private def oracleFnv(s: String): String =
    s"""list_reduce(
      list_prepend(14695981039346656037::HUGEINT,
        [unicode(c)::HUGEINT for c in split($s, '')]),
      (h, b) -> (xor(h, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)"""

  /** `math.abs(signed) % m` evaluated in the HUGEINT domain: abs of the
    * signed interpretation never overflows there (|Long.MinValue| = 2^63
    * fits), whereas BIGINT abs() errors on MinValue — where the Scala
    * kernel yields 0 because 2^63 ≡ 0 (mod 1024). Same result on every
    * input, no asymmetric out-of-range failure mode. */
  private def oracleAbsMod(e: String, m: Int): String =
    s"""CAST(abs(CASE WHEN $e >= 9223372036854775808::HUGEINT
         THEN $e - 18446744073709551616::HUGEINT ELSE $e END) % $m AS INT)"""

  val defs: Seq[GQ] = Seq(
    // Binary plumbing parity: encode text -> blob, typed metadata.
    GQ("m01_binary_metadata",
      Some("""SELECT doc_id AS media_id,
          CAST(octet_length(encode(text)) AS INT) AS n_bytes,
          md5(text) AS checksum
        FROM documents"""),
      (s, d) => toMediaFrame(Engine.table(s, d, "documents"), "doc_id", "text", "text/plain")
        .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
          col("meta.checksum").as("checksum"))),

    // Stubbed decode over the real mapPartitions plumbing. r10 oracle
    // upgrade: the "engine-defined stub" is itself deterministic public
    // arithmetic (fnv64 dims + byte-mean brightness), so it restates in
    // SQL with the d03 FNV-over-HUGEINT discipline — forward and
    // REVERSED text for the two dimensions, unsigned->signed conversion
    // before Scala's abs semantics, ordered double folds for the sums.
    GQ("m02_decode_features", Some(s"""WITH f AS (
        SELECT doc_id AS media_id,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes,
               ${oracleFnv("text")} AS hf,
               ${oracleFnv("reverse(text)")} AS hr,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE list_reduce(list_prepend(0.0,
                           [unicode(c)::DOUBLE for c in split(text, '')]),
                           (a, b) -> a + b)
                         / length(text) / 255.0 END AS brightness
        FROM documents)
      SELECT media_id, n_bytes,
             CAST(16 + ${oracleAbsMod("hf", 1024)} AS INT) AS width,
             CAST(16 + ${oracleAbsMod("hr", 1024)} AS INT) AS height,
             brightness
      FROM f"""),
      (s, d) => decodeFeatures(s,
        toMediaFrame(Engine.table(s, d, "documents"), "doc_id", "text", "text/plain"))
        .toDF()),

    // Frame sampling: fixed-size byte windows at a stride over the raw
    // payload (video frame-sample / audio chunking shape), fully
    // declarative — explode a frame index, slice bytes, checksum. The
    // whole pipeline is scan + generate + project: no shuffle, prunes to
    // the payload column, embarrassingly parallel at 100 TB.
    GQ("m03_frame_sample",
      // oracle slices VARCHAR (DuckDB has no BLOB substring/md5): char
      // windows == byte windows because the documents corpus is ASCII
      // (verified: octet_length(encode(text)) == length(text) for all rows)
      Some("""WITH f AS (SELECT doc_id AS media_id, text,
                unnest(range(0, least(greatest((octet_length(encode(text))-1)//1024 + 1, 1), 4)))
                  AS frame_no
              FROM documents)
        SELECT media_id, CAST(frame_no AS INT) AS frame_no,
               CAST(octet_length(encode(substring(text, CAST(frame_no*1024+1 AS INT), 256)))
                    AS INT) AS f_bytes,
               md5(substring(text, CAST(frame_no*1024+1 AS INT), 256)) AS f_checksum
        FROM f"""),
      (s, d) => frameSample(Engine.table(s, d, "documents").select(
        col("doc_id").as("media_id"), col("text").cast(BinaryType).as("payload")))),

    // Perceptual-hash near-dup at FRAME granularity (the video/image
    // near-dup shape: fingerprint every sampled frame, match frames
    // across media, aggregate to media pairs). Whole-payload hashes
    // cannot bridge content that shifts or differs in length; frame
    // windows localize the comparison, so media sharing any window
    // content match on those frames. Dataflow: frame explode (scan +
    // generate, no shuffle) -> stub aHash (mapPartitions, the decode
    // seam) -> pigeonhole Hamming buckets (operators.Dedup
    // .hammingNeighborPairs — one shuffle on (chunk, value),
    // bucket-capped, complete within the radius) -> media-pair
    // aggregation (one shuffle on the pair). r10 oracle upgrade: the
    // pigeonhole candidate scheme is recall-COMPLETE (the d03
    // precedent), so the oracle restates the aHash signatures in SQL —
    // block means with the exact lo/hi = floor boundaries + the hi>lo
    // guard, the global mean as an ORDERED fold (means of partial
    // frames are not exactly representable, so summation order
    // matters), bit assembly over HUGEINT with the signed conversion —
    // and, r11, MIRRORS the chunk-bucket scheme including maxBucket
    // (the d03 lesson: a brute-force oracle diverges the moment any
    // bucket tops the cap; non-binding at today's gate SFs but part of
    // the operator's semantics, so the oracle models it). The signature
    // chain's stage outputs (sigu/sig/ck/buck) are AS MATERIALIZED:
    // fully inlined, DuckDB recomputes the aggregation chain per
    // reference and mis-sides the pairs join's hash build, OOMing at
    // sf1 where the materialized form runs in 71 s (the d10 decade-3
    // oracle lesson; values identical, 4702 rows either way).
    GQ("m04_phash_neardup", Some(s"""WITH
      ${graft.operators.Dedup.oracleSimhashChunks(maxHamming = 4)} fr AS (
        SELECT doc_id AS media_id, frame_no,
               substring(text, CAST(frame_no*1024+1 AS INT), 256) AS frame
        FROM (SELECT doc_id, text,
                unnest(range(0, least(greatest((octet_length(encode(text))-1)//1024 + 1, 1), 4))) AS frame_no
              FROM documents)),
      fb AS (
        SELECT media_id*4 + frame_no AS fid,
               CASE WHEN length(frame) = 0 THEN [0]
                    ELSE [unicode(c) for c in split(frame, '')] END AS b
        FROM fr),
      fl AS (SELECT fid, b, len(b) AS n FROM fb),
      blocks AS (
        SELECT fid, n, j,
               (j*n)//64 AS lo,
               greatest(((j+1)*n)//64, (j*n)//64 + 1) AS hi
        FROM fl CROSS JOIN (SELECT unnest(range(64)) AS j)),
      means AS (
        SELECT bl.fid, bl.j,
               COALESCE(list_reduce(list_prepend(0.0,
                 [CAST(x AS DOUBLE) for x in f.b[bl.lo+1 : least(bl.hi, f.n)]]),
                 (a, c) -> a + c), 0.0)
                 / (bl.hi - bl.lo) AS m
        FROM blocks bl JOIN fl f ON f.fid = bl.fid),
      gm AS (
        SELECT fid,
               list_reduce(list_prepend(0.0, list(m ORDER BY j)), (a, c) -> a + c) / 64 AS g
        FROM means GROUP BY fid),
      sigu AS MATERIALIZED (
        SELECT means.fid,
               COALESCE(SUM(CASE WHEN means.m > gm.g
                 THEN (2::HUGEINT ^ means.j)::HUGEINT ELSE 0::HUGEINT END),
                 0::HUGEINT) AS su
        FROM means JOIN gm ON gm.fid = means.fid
        GROUP BY means.fid),
      sig AS MATERIALIZED (
        SELECT fid,
               CAST(CASE WHEN su >= 9223372036854775808::HUGEINT
                    THEN su - 18446744073709551616::HUGEINT ELSE su END AS BIGINT) AS s
        FROM sigu),
      ck AS MATERIALIZED (
        SELECT g.fid, s.s, c.i,
               CAST((g.su // c.plo) % c.pw AS BIGINT) AS ckv
        FROM sigu g JOIN sig s USING (fid) CROSS JOIN chunkdef c),
      buck AS MATERIALIZED (SELECT i, ckv FROM ck GROUP BY i, ckv
               HAVING COUNT(*) BETWEEN 2 AND ${graft.operators.Dedup.MaxBucket}),
      pairs AS (
        SELECT DISTINCT a.fid AS fa, b.fid AS fb,
               CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
        FROM ck a JOIN buck USING (i, ckv)
        JOIN ck b ON b.i = a.i AND b.ckv = a.ckv AND a.fid < b.fid
        WHERE bit_count(xor(a.s, b.s)) <= 4)
      SELECT fa//4 AS media_a, fb//4 AS media_b,
             COUNT(*) AS n_frame_matches, MIN(hamming) AS min_hamming
      FROM pairs WHERE fa//4 <> fb//4
      GROUP BY 1, 2"""),
      (s, d) => {
        val media = Engine.table(s, d, "documents").select(
          col("doc_id").as("media_id"),
          col("text").cast(BinaryType).as("payload"))
        // frame ids pack as media_id * MaxFrames + frame_no; the factor
        // MUST be the same maxFrames frameBlobs runs with, or frame ids
        // collide across media and the pairs are silently wrong
        val frames = frameBlobs(media, maxFrames = MaxFrames)
          .select((col("media_id") * MaxFrames + col("frame_no")).as("media_id"),
            col("frame").as("payload"))
        val pairs = graft.operators.Dedup.hammingNeighborPairs(
          perceptualHash(s, frames), maxHamming = 4)
        // frame id = media*MaxFrames + frame_no; id_a < id_b =>
        // media_a <= media_b, so after dropping same-media pairs the
        // pair is already canonical
        pairs
          .select(floor(col("id_a") / MaxFrames).cast(LongType).as("media_a"),
            floor(col("id_b") / MaxFrames).cast(LongType).as("media_b"),
            col("hamming"))
          .filter(col("media_a") =!= col("media_b"))
          .groupBy("media_a", "media_b")
          .agg(count(lit(1)).as("n_frame_matches"),
            min("hamming").as("min_hamming"))
      })
  )

  /** Default per-payload frame cap, shared by the samplers and m04's
    * frame-id packing (media_id * MaxFrames + frame_no) — a packing
    * factor diverging from the sampler's cap would collide frame ids
    * across media. */
  val MaxFrames: Int = 4

  /** Frame sampling over (media_id, payload): one `frameLen`-byte window
    * every `stride` bytes, capped at `maxFrames` frames per payload; an
    * empty payload yields exactly one empty frame on both sides (without
    * the greatest() clamp, Spark's sequence(0, -1) would step BACKWARD
    * to [0, -1] while the oracle's range() emits none). */
  def frameSample(media: DataFrame, stride: Int = 1024, frameLen: Int = 256,
      maxFrames: Int = MaxFrames): DataFrame =
    frameBlobs(media, stride, frameLen, maxFrames)
      .select(col("media_id"), col("frame_no"),
        octet_length(col("frame")).cast(IntegerType).as("f_bytes"),
        md5(col("frame")).as("f_checksum"))

  /** The raw sampled windows behind [[frameSample]]: (media_id,
    * frame_no, frame bytes) — the input granularity for frame-level
    * fingerprinting (m04). */
  def frameBlobs(media: DataFrame, stride: Int = 1024, frameLen: Int = 256,
      maxFrames: Int = MaxFrames): DataFrame =
    media.select(col("media_id"), col("payload"),
        explode(sequence(lit(0),
          greatest(least(floor((octet_length(col("payload")) - 1) / stride),
            lit(maxFrames - 1)), lit(0)).cast(IntegerType))).as("frame_no"))
      .select(col("media_id"), col("frame_no"),
        expr(s"substring(payload, frame_no*$stride+1, $frameLen)").as("frame"))
}
