package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.{Curation, Media, Multimodal, Similarity}
import graft.functions.{TextFunctions => T}

/** Multimodal: real codecs (JDK ImageIO, RIFF WAV/AVI, ISO-BMFF MP4, PDF),
  * metadata scrubbing, lenient quarantine, frame and scene sampling, and
  * media near-dup.
  */
object MediaQueries {

  /** A scrub oracle is its base meta oracle plus constant TRUE flags:
    * scrubbing must leave every decode fact bit-identical, and sharing the
    * SQL is what proves it.
    */
  private def withFlags(base: String, flags: String): String =
    base.replace("\nFROM ids", s",\n  $flags\nFROM ids")

  /** Ids below `n`: the key every synthetic media fixture derives its
    * parameters from (the oracles re-derive the same formulas from
    * `documents WHERE doc_id < n`).
    */
  private def docIds(s: SparkSession, dir: String, n: Int): DataFrame =
    Tables(s, dir).documents.select(col("doc_id")).filter(col("doc_id") < n)

  /** Pattern-PNG parameters: each id pair shares pattern `k`; odd ids get
    * the sparse perturbation `p`.
    */
  private def pngPairIds(s: SparkSession, dir: String, n: Int): DataFrame =
    docIds(s, dir, n)
      .withColumn("k", floor(col("doc_id") / 2).cast("long"))
      .withColumn("p", (col("doc_id") % 2).cast("int"))

  /** WAV parameters (sample rate, channels, frames) of `audioMetaOracleSql`. */
  private def wavParams(s: SparkSession, dir: String): DataFrame =
    docIds(s, dir, 150)
      .withColumn("rate", when(col("doc_id") % 3 === 0, 8000)
        .when(col("doc_id") % 3 === 1, 16000).otherwise(44100))
      .withColumn("ch", (col("doc_id") % 2 + 1).cast("int"))
      .withColumn("frames", (lit(100) + (col("doc_id") % 50) * 10).cast("int"))

  /** AVI parameters (µs per frame, frames, dims) of `videoMetaOracleSql`. */
  private def aviParams(s: SparkSession, dir: String): DataFrame =
    docIds(s, dir, 150)
      .withColumn("uspf", when(col("doc_id") % 3 === 0, 41667)
        .when(col("doc_id") % 3 === 1, 33333).otherwise(16667))
      .withColumn("frames", (lit(100) + (col("doc_id") % 60) * 25).cast("int"))
      .withColumn("w", (lit(320) + (col("doc_id") % 4) * 160).cast("int"))
      .withColumn("h", (lit(240) + (col("doc_id") % 4) * 120).cast("int"))

  /** MP4 parameters (timescale, sample delta, samples, dims) of
    * `mp4MetaOracleSql` and `mp4FragMetaOracleSql`.
    */
  private def mp4Params(s: SparkSession, dir: String): DataFrame =
    docIds(s, dir, 150)
      .withColumn("ts", when(col("doc_id") % 3 === 0, 90000L)
        .when(col("doc_id") % 3 === 1, 30000L).otherwise(12800L))
      .withColumn("dl", when(col("doc_id") % 3 === 0, 3000L)
        .when(col("doc_id") % 3 === 1, 1001L).otherwise(512L))
      .withColumn("n", (lit(24) + (col("doc_id") % 40) * 3).cast("int"))
      .withColumn("w", (lit(320) + (col("doc_id") % 4) * 160).cast("int"))
      .withColumn("h", (lit(240) + (col("doc_id") % 4) * 120).cast("int"))

  /** Pattern-video parameters (pattern `k`, `n` frames) of `mp4FramesOracleSql`. */
  private def frameIds(s: SparkSession, dir: String): DataFrame =
    docIds(s, dir, 80)
      .withColumn("k", col("doc_id").cast("long"))
      .withColumn("n", (col("doc_id") % 3 + 2).cast("int"))

  /** Keyframed-video parameters (pattern `k`, `n` frames) of
    * `mp4KeyframesOracleSql`; callers add the sync-sample step.
    */
  private def keyframeIds(s: SparkSession, dir: String): DataFrame =
    docIds(s, dir, 80)
      .withColumn("k", col("doc_id").cast("long"))
      .withColumn("n", (col("doc_id") % 5 + 4).cast("int"))

  /** The lenient keyframe twins' corpus: sparse-stss keyframed MP4s, plus
    * every fourth id as a six-frame video with NO stss (every sample sync).
    */
  private def sparseAndNoStssMp4s(s: SparkSession, dir: String): DataFrame = {
    val ids = keyframeIds(s, dir)
      .withColumn("step", (col("doc_id") % 3 + 2).cast("int"))
      .withColumn("n6", lit(6).cast("int"))
    val keyframed = Media.genPatternMp4sKeyframed(
      ids.filter(col("doc_id") % 4 =!= 3), "doc_id", "k", "n", "step",
      w = 9, h = 8)
    val noStss = Media.genPatternMp4s(
      ids.filter(col("doc_id") % 4 === 3), "doc_id", "k", "n6",
      w = 9, h = 8)
    keyframed.unionByName(noStss)
  }

  private val audioMetaOracleSql: String =
    """WITH ids AS (SELECT doc_id AS id,
      |    CASE WHEN doc_id % 3 = 0 THEN 8000 WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END AS rate,
      |    CAST(doc_id % 2 + 1 AS INT) AS ch,
      |    100 + (doc_id % 50) * 10 AS frames
      |  FROM documents WHERE doc_id < 150)
      |SELECT id AS media_id, CAST(rate AS INT) AS sample_rate, ch AS channels,
      |  16 AS bits, CAST(frames AS BIGINT) AS n_frames,
      |  CAST((frames * ch * 2 * 1000) // (rate * ch * 2) AS BIGINT) AS duration_ms
      |FROM ids""".stripMargin

  private val videoMetaOracleSql: String =
    """WITH ids AS (SELECT doc_id AS id,
      |    CASE WHEN doc_id % 3 = 0 THEN 41667 WHEN doc_id % 3 = 1 THEN 33333 ELSE 16667 END AS uspf,
      |    100 + (doc_id % 60) * 25 AS frames,
      |    320 + (doc_id % 4) * 160 AS w,
      |    240 + (doc_id % 4) * 120 AS h
      |  FROM documents WHERE doc_id < 150)
      |SELECT id AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  CAST(frames AS INT) AS n_frames, 1 AS n_streams,
      |  CAST(1000000000 // uspf AS BIGINT) AS fps_x1000,
      |  CAST(uspf * frames // 1000 AS BIGINT) AS duration_ms
      |FROM ids""".stripMargin

  // every MP4 field re-derived from the fixture formula: brand constant,
  // integer-floor duration/fps, track count from the audio toggle
  private val mp4MetaOracleSql: String =
    """WITH ids AS (SELECT doc_id AS d,
      |    CASE WHEN doc_id % 3 = 0 THEN 90000 WHEN doc_id % 3 = 1 THEN 30000 ELSE 12800 END AS ts,
      |    CASE WHEN doc_id % 3 = 0 THEN 3000 WHEN doc_id % 3 = 1 THEN 1001 ELSE 512 END AS dl,
      |    24 + (doc_id % 40) * 3 AS n,
      |    320 + (doc_id % 4) * 160 AS w,
      |    240 + (doc_id % 4) * 120 AS h
      |  FROM documents WHERE doc_id < 150)
      |SELECT d AS media_id, 'isom' AS major_brand,
      |  CAST(ts AS BIGINT) AS timescale,
      |  CAST(n * dl * 1000 // ts AS BIGINT) AS duration_ms,
      |  CAST(CASE WHEN d % 2 = 0 THEN 2 ELSE 1 END AS INT) AS n_tracks,
      |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  CAST(n AS INT) AS n_frames,
      |  CAST(ts * 1000 // dl AS BIGINT) AS fps_x1000
      |FROM ids""".stripMargin

  // fMP4: one video track, constant trex duration — the same floor
  // math as mm_mp4_meta, sourced from the fragment walk
  private val mp4FragMetaOracleSql: String =
    """WITH ids AS (SELECT doc_id AS d,
      |    CASE WHEN doc_id % 3 = 0 THEN 90000 WHEN doc_id % 3 = 1 THEN 30000 ELSE 12800 END AS ts,
      |    CASE WHEN doc_id % 3 = 0 THEN 3000 WHEN doc_id % 3 = 1 THEN 1001 ELSE 512 END AS dl,
      |    24 + (doc_id % 40) * 3 AS n,
      |    320 + (doc_id % 4) * 160 AS w,
      |    240 + (doc_id % 4) * 120 AS h
      |  FROM documents WHERE doc_id < 150)
      |SELECT d AS media_id, 'isom' AS major_brand,
      |  CAST(ts AS BIGINT) AS timescale,
      |  CAST(n * dl * 1000 // ts AS BIGINT) AS duration_ms,
      |  CAST(1 AS INT) AS n_tracks,
      |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  CAST(n AS INT) AS n_frames,
      |  CAST(ts * 1000 // dl AS BIGINT) AS fps_x1000
      |FROM ids""".stripMargin

  // identical dHash re-derivation as mm_video_frames — same pixel
  // formula, different container: the hash match proves the MP4 sample
  // walk yields byte-identical frame payloads
  private val mp4FramesOracleSql: String =
    """WITH ids AS (SELECT doc_id AS id, doc_id AS k, doc_id % 3 + 2 AS n
      |    FROM documents WHERE doc_id < 80),
      |  fr AS (SELECT id, k * 8 + f AS kf, CAST(f AS INT) AS f
      |    FROM ids, unnest(range(0, 5)) tf(f) WHERE f < n),
      |  g AS (SELECT id, f, x, y,
      |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
      |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
      |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
      |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
      |    WHERE a.x < 8 AND b.v > a.v),
      |  hs AS (SELECT i.id, i.f,
      |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
      |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
      |    FROM (SELECT id, f FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
      |    GROUP BY i.id, i.f)
      |SELECT id AS media_id, f AS frame_idx, 9 AS width, 8 AS height,
      |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
      |       ELSE hi * 4294967296 + lo END AS dhash
      |FROM hs""".stripMargin

  // keyframes = the f % step = 0 subset of the pattern frame walk: the
  // planted stss table selects samples 1, 1+step, … and the dhash
  // formula re-derives per selected frame — same grid math as
  // mm_mp4_frames, restricted to the sync rows
  private val mp4KeyframesOracleSql: String =
    """WITH ids AS (SELECT doc_id AS id, doc_id AS k, doc_id % 5 + 4 AS n,
      |      doc_id % 3 + 2 AS step
      |    FROM documents WHERE doc_id < 80),
      |  fr AS (SELECT id, k * 8 + f AS kf, CAST(f AS INT) AS f
      |    FROM ids, unnest(range(0, 8)) tf(f)
      |    WHERE f < n AND f % step = 0),
      |  g AS (SELECT id, f, x, y,
      |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
      |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
      |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
      |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
      |    WHERE a.x < 8 AND b.v > a.v),
      |  hs AS (SELECT i.id, i.f,
      |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
      |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
      |    FROM (SELECT id, f FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
      |    GROUP BY i.id, i.f)
      |SELECT id AS media_id, f AS frame_idx, 9 AS width, 8 AS height,
      |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
      |       ELSE hi * 4294967296 + lo END AS dhash
      |FROM hs""".stripMargin

  // the CMap'd line re-derived codepoint-by-codepoint: chr() over the
  // fixture's bfrange base (0x0390 = 912) + offset, the bfchar space at
  // j=6 — the hash match proves bfchar/bfrange/UTF-16BE decode exactly
  private val pdfUnicodeOracleSql: String =
    """WITH ids AS (SELECT doc_id AS k, CAST(doc_id % 3 + 1 AS INT) AS n
      |  FROM documents WHERE doc_id < 150)
      |SELECT k AS media_id, CAST(i AS INT) AS stream_idx,
      |  '1.4' AS pdf_version,
      |  'Doc ' || k || ' page ' || i || ':' || chr(10) ||
      |  array_to_string([CASE WHEN j = 6 THEN ' '
      |      ELSE chr(CAST(912 + (k*13 + i*7 + j*3) % 64 AS INT)) END
      |    for j in range(0, 13)], '') AS text
      |FROM ids, unnest(range(0, n)) t(i)""".stripMargin

  // video dedup: re-derive every frame's dHash from the formula, then
  // replay the operator's algebra exactly — per-video DISTINCT hashes,
  // hot-hash df-cap (freq > 10 drops BEFORE pairing; the 24-video
  // mega-group's common frames die here), equi-join pair counts with
  // minShared=2, and TRUE pre-cap per-video sizes
  private val videoDedupOracleSql: String =
    """WITH ids AS (SELECT doc_id AS id,
      |    CASE WHEN doc_id < 24 THEN 0 ELSE doc_id // 4 END AS k,
      |    doc_id % 3 + 2 AS n
      |  FROM documents WHERE doc_id < 96),
      |  fr AS (SELECT id, k * 8 + f AS kf, CAST(f AS INT) AS f
      |    FROM ids, unnest(range(0, 4)) tf(f) WHERE f < n),
      |  g AS (SELECT id, f, x, y,
      |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
      |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
      |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
      |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
      |    WHERE a.x < 8 AND b.v > a.v),
      |  hs AS (SELECT i.id, i.f,
      |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
      |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
      |    FROM (SELECT id, f FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
      |    GROUP BY i.id, i.f),
      |  vh AS (SELECT DISTINCT id,
      |      CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
      |           ELSE hi * 4294967296 + lo END AS dh FROM hs),
      |  freq AS (SELECT dh, count(*) AS c FROM vh GROUP BY 1),
      |  capped AS (SELECT vh.id, vh.dh FROM vh JOIN freq ON vh.dh = freq.dh
      |    WHERE freq.c <= 10),
      |  sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS nf FROM vh GROUP BY 1),
      |  pairs AS (SELECT a.id AS l, b.id AS r, CAST(count(*) AS BIGINT) AS sh
      |    FROM capped a JOIN capped b ON a.dh = b.dh AND a.id < b.id
      |    GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT l AS left_id, r AS right_id, sh AS n_shared,
      |  sa.nf AS n_left, sb.nf AS n_right
      |FROM pairs JOIN sizes sa ON sa.id = l JOIN sizes sb ON sb.id = r""".stripMargin

  def cases: Seq[QueryCase] = Seq(
    // NULL payloads are filtered on both engines: Spark's md5/substr of a
    // NULL column and DuckDB's unnest-join disagree on whether the doc
    // appears at all, so the contract is "decode skips missing media"
    QueryCase("mm_frame_sample", (s, dir) => {
      val docs = Tables(s, dir).documents.filter(col("text").isNotNull)
      val media = Multimodal.fromText(docs, "doc_id", "text", "video")
      Multimodal.sampleFrames(media, frameBytes = 64, everyNth = 2)
        .select(col("media_id"), col("frame_idx").cast("bigint").as("frame_idx"),
          col("frame").cast("string").as("frame"))
    }, Oracle(
      """SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_idx,
        |  substr(text, CAST(i * 64 + 1 AS INT), 64) AS frame
        |FROM documents, unnest(range(0, CAST(greatest(ceil(length(text) / 64.0), 1) AS BIGINT))) AS t(i)
        |WHERE i % 2 = 0 AND text IS NOT NULL""".stripMargin)),

    // Fixtures are deterministic gray patterns round-tripped through REAL
    // PNG bytes: the query encodes pattern→PNG, decodes PNG→pixels with
    // javax.imageio, and derives integer facts; the oracle re-derives the
    // same facts straight from the pattern formula — losslessness of the
    // codec round-trip is exactly what the hash compare proves.
    QueryCase("mm_decode", (s, dir) => {
      val ids = pngPairIds(s, dir, 120)
      val media = Media.genPatternPngs(ids, "doc_id", "k", "p", w = 9, h = 8)
      Media.decodeImageMeta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("width"), col("height"),
          col("channels"), col("mime"), col("dhash"))
    },
    // real-codec image oracles: the dHash is re-derived straight from the
    // pattern formula (the PNG round-trip is lossless, so decode(encode(g))
    // == g); the 64-bit hash is assembled as two 32-bit halves with integer
    // shifts and recombined into a signed BIGINT (two's complement: hi ≥
    // 2^31 → subtract 2^32 before scaling) because DuckDB's ** returns
    // DOUBLE, which cannot hold 64 distinct bits
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id // 2 AS k, doc_id % 2 AS p
        |    FROM documents WHERE doc_id < 120),
        |  g AS (SELECT id, x, y,
        |      ((k*31 + x*x*3 + y*y*5 + x*y*7) % 256
        |       + p * (CASE WHEN (x + y*9) % 29 = 0 THEN 1 ELSE 0 END)) % 256 AS v
        |    FROM ids, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT DISTINCT id FROM ids) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id)
        |SELECT id AS media_id, 9 AS width, 8 AS height, 1 AS channels,
        |  'image/png' AS mime,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash
        |FROM hs""".stripMargin)),

    // image metadata scrub (the image-side PII redaction: EXIF GPS/serial/
    // XMP live in metadata): every fixture carries an eXIf orientation tag
    // the scrub must REMOVE — afterwards decode sees the raw stored grid
    // (no EXIF rotation), so dims/dhash re-derive from the plain pattern
    // formula, and meta_stripped proves bytes actually left every payload
    QueryCase("mm_image_scrub", (s, dir) => {
      val ids = docIds(s, dir, 150)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("p", lit(0))
        .withColumn("o", (col("doc_id") % 8 + 1).cast("int"))
      val media = Media.genPatternPngs(ids, "doc_id", "k", "p", w = 9, h = 8)
      val tagged = Media.genTaggedPngs(
        media.join(ids.select(col("doc_id"), col("o")), Seq("doc_id")),
        "doc_id", "content", "o")
      val scrubbed = Media.stripImageMetadata(tagged, "doc_id", "content")
      Media.decodeImageMeta(scrubbed, "doc_id", "content")
        .join(scrubbed.select(col("doc_id"), col("bytes_removed")), Seq("doc_id"))
        .select(col("doc_id").as("media_id"), col("width"), col("height"),
          col("channels"), col("mime"), col("dhash"),
          (col("bytes_removed") > 0).as("meta_stripped"))
    },
    // the scrub oracle is the RAW pattern decode (p=0, k=id): eXIf gone →
    // no orientation transform → dims stay 9×8 and the hash is the plain
    // formula grid's; meta_stripped TRUE for every row (all carried eXIf)
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k
        |    FROM documents WHERE doc_id < 150),
        |  g AS (SELECT id, x, y,
        |      (k*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM ids, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT DISTINCT id FROM ids) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id)
        |SELECT id AS media_id, 9 AS width, 8 AS height, 1 AS channels,
        |  'image/png' AS mime,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash,
        |  TRUE AS meta_stripped
        |FROM hs""".stripMargin)),

    // perceptual near-dup image pairs: dHash + lossless band join (output
    // == the all-pairs Hamming≤3 filter, at band-bucket cost)
    QueryCase("mm_image_dedup", (s, dir) => {
      val ids = pngPairIds(s, dir, 400)
      val media = Media.genPatternPngs(ids, "doc_id", "k", "p", w = 9, h = 8)
      val hashed = Media.decodeImageMeta(media, "doc_id", "content")
        .select(col("doc_id"), col("dhash"))
      Media.dhashNearPairs(hashed, "doc_id", "dhash", maxDist = 3)
    },
    // band-join pair set == the all-pairs Hamming filter (lossless by
    // pigeonhole), so the oracle IS the all-pairs filter over formula
    // hashes
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id // 2 AS k, doc_id % 2 AS p
        |    FROM documents WHERE doc_id < 400),
        |  g AS (SELECT id, x, y,
        |      ((k*31 + x*x*3 + y*y*5 + x*y*7) % 256
        |       + p * (CASE WHEN (x + y*9) % 29 = 0 THEN 1 ELSE 0 END)) % 256 AS v
        |    FROM ids, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT DISTINCT id FROM ids) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id),
        |  h AS (SELECT id,
        |      CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |           ELSE hi * 4294967296 + lo END AS dh
        |    FROM hs)
        |SELECT a.id AS left_id, b.id AS right_id,
        |  CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS hdist
        |FROM h a JOIN h b ON a.id < b.id
        |WHERE bit_count(xor(a.dh, b.dh)) <= 3""".stripMargin)),

    // dHash composed with the batch Hamming ANN kernel: image search IS
    // the existing 1-word signature tier with sig = [dhash]
    QueryCase("mm_image_search", (s, dir) => {
      val ids = pngPairIds(s, dir, 400)
      val media = Media.genPatternPngs(ids, "doc_id", "k", "p", w = 9, h = 8)
      val sigs = Media.decodeImageMeta(media, "doc_id", "content")
        .select(col("doc_id"), array(col("dhash")).as("sig"))
      Similarity.hammingTopKMany(sigs, "doc_id",
        sigs.filter(col("doc_id") < 10), "doc_id", k = 5)
    }, Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id // 2 AS k, doc_id % 2 AS p
        |    FROM documents WHERE doc_id < 400),
        |  g AS (SELECT id, x, y,
        |      ((k*31 + x*x*3 + y*y*5 + x*y*7) % 256
        |       + p * (CASE WHEN (x + y*9) % 29 = 0 THEN 1 ELSE 0 END)) % 256 AS v
        |    FROM ids, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT DISTINCT id FROM ids) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id),
        |  h AS (SELECT id,
        |      CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |           ELSE hi * 4294967296 + lo END AS dh
        |    FROM hs)
        |SELECT query_id, corpus_id, hdist FROM (
        |  SELECT q.id AS query_id, c.id AS corpus_id,
        |    CAST(bit_count(xor(q.dh, c.dh)) AS BIGINT) AS hdist,
        |    row_number() OVER (PARTITION BY q.id
        |      ORDER BY bit_count(xor(q.dh, c.dh)), c.id) AS rk
        |  FROM h q JOIN h c ON q.id < 10 AND c.id <> q.id)
        |WHERE rk <= 5""".stripMargin)),

    // real area resize: 18×16 pattern → 9×8 block means, emitted as
    // exploded pixels (media_id, x, y, gray) the oracle re-averages
    QueryCase("mm_resize", (s, dir) => {
      val ids = docIds(s, dir, 100)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("p", lit(0))
      val media = Media.genPatternPngs(ids, "doc_id", "k", "p", w = 18, h = 16)
      val small = Media.resizeImage(media, "doc_id", "content", tw = 9, th = 8)
      Media.imagePixels(small, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("x"), col("y"), col("gray"))
    },
    // real area resize: each 9×8 output pixel is the floor-mean of its 2×2
    // source tile, re-derived from the 18×16 pattern (integer // division
    // matches Scala's Int division on the non-negative sums)
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k
        |    FROM documents WHERE doc_id < 100),
        |  g AS (SELECT id, x, y,
        |      (k*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM ids, unnest(range(0, 18)) tx(x), unnest(range(0, 16)) ty(y))
        |SELECT id AS media_id, CAST(x // 2 AS INT) AS x, CAST(y // 2 AS INT) AS y,
        |  CAST(CAST(SUM(v) AS BIGINT) // 4 AS INT) AS gray
        |FROM g GROUP BY id, x // 2, y // 2""".stripMargin)),

    // WAV header decode: REAL RIFF fmt/data chunk parse over generated
    // 16-bit PCM payloads with id-derived parameters
    QueryCase("mm_audio_meta", (s, dir) => {
      val ids = wavParams(s, dir)
      val media = Media.genWavs(ids, "doc_id", "rate", "ch", "frames")
      Media.decodeAudioMeta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("sample_rate"),
          col("channels"), col("bits"), col("n_frames"), col("duration_ms"))
    }, Oracle(audioMetaOracleSql)),

    // WAV metadata scrub: every fixture carries a LIST(INFO) artist tag
    // the scrub must remove — header facts re-derive unchanged and
    // meta_stripped proves bytes actually left every payload
    QueryCase("mm_audio_scrub", (s, dir) => {
      val ids = wavParams(s, dir)
        .withColumn("artist",
          concat(lit("GRAFT-PII artist="), col("doc_id")))
      val media = Media.genWavs(ids, "doc_id", "rate", "ch", "frames")
      val tagged = Media.genInfoTagged(
        media.join(ids.select(col("doc_id"), col("artist")), Seq("doc_id")),
        "doc_id", "content", "artist")
      val scrubbed = Media.stripMediaMetadata(tagged, "doc_id", "content")
      Media.decodeAudioMeta(scrubbed, "doc_id", "content")
        .join(scrubbed.select(col("doc_id"),
          (col("bytes_removed") > 0).as("meta_stripped")), Seq("doc_id"))
        .select(col("doc_id").as("media_id"), col("sample_rate"),
          col("channels"), col("bits"), col("n_frames"), col("duration_ms"),
          col("meta_stripped"))
    }, Oracle(withFlags(audioMetaOracleSql, "TRUE AS meta_stripped"))),

    // RIFF/AVI main-header decode: the video leg of the real-container
    // triad (avih chunk nested in LIST(hdrl) — a two-level RIFF walk)
    QueryCase("mm_video_meta", (s, dir) => {
      val ids = aviParams(s, dir)
      val media = Media.genAvis(ids, "doc_id", "uspf", "frames", "w", "h")
      Media.decodeVideoMeta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("width"), col("height"),
          col("n_frames"), col("n_streams"), col("fps_x1000"),
          col("duration_ms"))
    }, Oracle(videoMetaOracleSql)),

    // ISO-BMFF (MP4) metadata — the container the dominant share of crawl
    // video arrives in: real box walk over ftyp/mvhd/tkhd/stts/stsz; the
    // fixture writes a real sample table (fixed-size stsz branch) and an
    // optional dimensionless audio track, and every output field is
    // re-derived integer math in the oracle
    QueryCase("mm_mp4_meta", (s, dir) => {
      val ids = mp4Params(s, dir)
        .withColumn("audio", col("doc_id") % 2 === 0)
      val media = Media.genMp4s(ids, "doc_id", "ts", "dl", "n", "w", "h",
        "audio")
      Media.decodeMp4Meta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("major_brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"), col("n_frames"), col("fps_x1000"))
    }, Oracle(mp4MetaOracleSql)),

    // AVI metadata scrub: planted LIST(INFO) artist tag removed, avih
    // facts re-derive unchanged (mm_video_meta fixture formulas)
    QueryCase("mm_video_scrub", (s, dir) => {
      val ids = aviParams(s, dir)
        .withColumn("artist",
          concat(lit("GRAFT-PII artist="), col("doc_id")))
      val media = Media.genAvis(ids, "doc_id", "uspf", "frames", "w", "h")
      val tagged = Media.genInfoTagged(
        media.join(ids.select(col("doc_id"), col("artist")), Seq("doc_id")),
        "doc_id", "content", "artist")
      val scrubbed = Media.stripMediaMetadata(tagged, "doc_id", "content")
      Media.decodeVideoMeta(scrubbed, "doc_id", "content")
        .join(scrubbed.select(col("doc_id"),
          (col("bytes_removed") > 0).as("meta_stripped")), Seq("doc_id"))
        .select(col("doc_id").as("media_id"), col("width"), col("height"),
          col("n_frames"), col("n_streams"), col("fps_x1000"),
          col("duration_ms"), col("meta_stripped"))
    }, Oracle(withFlags(videoMetaOracleSql, "TRUE AS meta_stripped"))),

    // MP4 metadata scrub is size-PRESERVING (rewriting box lengths would
    // shift the absolute stco offsets): the udta every genMp4s fixture
    // plants is renamed free + zeroed in place — meta_zeroed checks the
    // PII marker is byte-gone, size_preserved that nothing moved, and the
    // box-walk facts re-derive unchanged
    QueryCase("mm_mp4_scrub", (s, dir) => {
      val ids = mp4Params(s, dir)
        .withColumn("audio", col("doc_id") % 2 === 0)
      val media = Media.genMp4s(ids, "doc_id", "ts", "dl", "n", "w", "h",
        "audio")
      val scrubbed = Media.stripMediaMetadata(media, "doc_id", "content")
      Media.decodeMp4Meta(scrubbed, "doc_id", "content")
        .join(scrubbed.select(col("doc_id"),
          (!contains(col("content"), lit("GRAFT-PII".getBytes)))
            .as("meta_zeroed"),
          (col("bytes_removed") === 0).as("size_preserved")), Seq("doc_id"))
        .select(col("doc_id").as("media_id"), col("major_brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"), col("n_frames"), col("fps_x1000"),
          col("meta_zeroed"), col("size_preserved"))
    }, Oracle(withFlags(mp4MetaOracleSql,
        "TRUE AS meta_zeroed, TRUE AS size_preserved"))),

    // FRAGMENTED MP4 (DASH/CMAF/streaming recorders — empty moov sample
    // tables, per-fragment moof/tfhd/trun runs): the same metadata facts
    // now sourced from the fragment walk + trex defaults
    QueryCase("mm_mp4_frag_meta", (s, dir) => {
      val ids = mp4Params(s, dir)
      val media = Media.genFmp4s(ids, "doc_id", "ts", "dl", "n", "w", "h")
      Media.decodeMp4Meta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("major_brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"), col("n_frames"), col("fps_x1000"))
    }, Oracle(mp4FragMetaOracleSql)),

    // scrub ⊥ fragmentation: the size-preserving udta neutralization must
    // leave every moof/trun offset valid — facts re-derive unchanged from
    // the fragment walk, the PII marker is byte-gone, nothing moved
    QueryCase("mm_mp4_frag_scrub", (s, dir) => {
      val ids = mp4Params(s, dir)
      val media = Media.genFmp4s(ids, "doc_id", "ts", "dl", "n", "w", "h")
      val scrubbed = Media.stripMediaMetadata(media, "doc_id", "content")
      Media.decodeMp4Meta(scrubbed, "doc_id", "content")
        .join(scrubbed.select(col("doc_id"),
          (!contains(col("content"), lit("GRAFT-PII".getBytes)))
            .as("meta_zeroed"),
          (col("bytes_removed") === 0).as("size_preserved")), Seq("doc_id"))
        .select(col("doc_id").as("media_id"), col("major_brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"), col("n_frames"), col("fps_x1000"),
          col("meta_zeroed"), col("size_preserved"))
    }, Oracle(withFlags(mp4FragMetaOracleSql,
        "TRUE AS meta_zeroed, TRUE AS size_preserved"))),

    // fMP4 frame walk: moof/trun sample runs yield payloads
    // byte-identical to the plain-container fixtures, so this key shares
    // mm_mp4_frames' oracle SQL verbatim — fragmentation never enters
    // the frame-dedup algebra
    QueryCase("mm_mp4_frag_frames", (s, dir) => {
      val ids = frameIds(s, dir)
        .withColumn("fs", lit(2).cast("int"))
      val media = Media.genPatternFmp4s(ids, "doc_id", "k", "n", "fs",
        w = 9, h = 8)
      Media.videoFrames(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash"))
    }, Oracle(mp4FramesOracleSql)),

    // fMP4 keyframes: fragment boundaries ARE the sync points a DASH
    // packager cuts at — fragment size = the keyframed fixture's stss
    // step, so mm_mp4_keyframes' oracle SQL replays verbatim
    QueryCase("mm_mp4_frag_keyframes", (s, dir) => {
      val ids = keyframeIds(s, dir)
        .withColumn("fs", (col("doc_id") % 3 + 2).cast("int"))
      val media = Media.genPatternFmp4s(ids, "doc_id", "k", "n", "fs",
        w = 9, h = 8)
      Media.mp4Keyframes(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash"))
    }, Oracle(mp4KeyframesOracleSql)),

    // SELF-INITIALIZING DASH MEDIA SEGMENT (r19): styp + sidx + moof/mdat
    // with NO moov anywhere — the shape a DASH CDN serves between init
    // refreshes. timescale/duration re-derive from sidx, sample facts
    // from the explicit-field trun walk; no tkhd exists, so dims are 0×0
    QueryCase("mm_mp4_segment_meta", (s, dir) => {
      val ids = docIds(s, dir, 150)
        .withColumn("ts", when(col("doc_id") % 3 === 0, 90000L)
          .when(col("doc_id") % 3 === 1, 30000L).otherwise(12800L))
        .withColumn("dl", when(col("doc_id") % 3 === 0, 3000L)
          .when(col("doc_id") % 3 === 1, 1001L).otherwise(512L))
        .withColumn("n", (lit(24) + (col("doc_id") % 40) * 3).cast("int"))
      val media = Media.genSegMp4s(ids, "doc_id", "ts", "dl", "n")
      Media.decodeMp4Meta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("major_brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"), col("n_frames"), col("fps_x1000"))
    },
    // media segment: sidx supplies timescale + summed subsegment
    // durations; NO moov means no tkhd (dims 0×0) and one sidx-bound
    // track; n_frames from the explicit-field trun walk
    Oracle(
      """WITH ids AS (SELECT doc_id AS d,
        |    CASE WHEN doc_id % 3 = 0 THEN 90000 WHEN doc_id % 3 = 1 THEN 30000 ELSE 12800 END AS ts,
        |    CASE WHEN doc_id % 3 = 0 THEN 3000 WHEN doc_id % 3 = 1 THEN 1001 ELSE 512 END AS dl,
        |    24 + (doc_id % 40) * 3 AS n
        |  FROM documents WHERE doc_id < 150)
        |SELECT d AS media_id, 'msdh' AS major_brand,
        |  CAST(ts AS BIGINT) AS timescale,
        |  CAST(n * dl * 1000 // ts AS BIGINT) AS duration_ms,
        |  CAST(1 AS INT) AS n_tracks,
        |  CAST(0 AS INT) AS width, CAST(0 AS INT) AS height,
        |  CAST(n AS INT) AS n_frames,
        |  CAST(ts * 1000 // dl AS BIGINT) AS fps_x1000
        |FROM ids""".stripMargin)),

    // moov-lessness never enters the frame algebra: byte-identical
    // pattern payloads through the sidx-bound fragment walk share
    // mm_mp4_frames' oracle SQL verbatim
    QueryCase("mm_mp4_segment_frames", (s, dir) => {
      val ids = frameIds(s, dir)
        .withColumn("fs", lit(2).cast("int"))
      val media = Media.genPatternSegMp4s(ids, "doc_id", "k", "n", "fs",
        w = 9, h = 8)
      Media.videoFrames(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash"))
    }, Oracle(mp4FramesOracleSql)),

    // fragment starts are the segment's sync points — fragment size = the
    // keyframed fixture's stss step, so mm_mp4_keyframes' SQL replays
    QueryCase("mm_mp4_segment_keyframes", (s, dir) => {
      val ids = keyframeIds(s, dir)
        .withColumn("fs", (col("doc_id") % 3 + 2).cast("int"))
      val media = Media.genPatternSegMp4s(ids, "doc_id", "k", "n", "fs",
        w = 9, h = 8)
      Media.mp4Keyframes(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash"))
    }, Oracle(mp4KeyframesOracleSql)),

    // JPEG-side scrub semantics (the r18 ADVICE fix, proven per row):
    // Exif orientation DROPS (decode sees raw un-rotated dims — 5..8
    // would swap them), APP14 Adobe and ICC APP2 SURVIVE (decode-critical
    // color markers), non-ICC MPF APP2 and post-EOI trailer bytes are
    // GONE — each flag re-derived as a constant, dims varying per row
    QueryCase("mm_image_scrub_jpeg", (s, dir) => {
      val ids = docIds(s, dir, 120)
        .withColumn("w", (lit(9) + col("doc_id") % 4).cast("int"))
        .withColumn("h", (lit(8) + col("doc_id") % 3).cast("int"))
        .withColumn("o", (col("doc_id") % 8 + 1).cast("int"))
      val media = Media.genAdobeTaggedJpegs(ids, "doc_id", "w", "h", "o")
      val scrubbed = Media.stripImageMetadata(media, "doc_id", "content")
      Media.decodeImageMeta(scrubbed, "doc_id", "content")
        .join(scrubbed.select(col("doc_id"),
          contains(col("content"), lit("Adobe".getBytes)).as("adobe_kept"),
          contains(col("content"), lit("ICC_PROFILE".getBytes))
            .as("icc_kept"),
          (!contains(col("content"), lit("MPFSECRET".getBytes)))
            .as("mpf_gone"),
          (!contains(col("content"), lit("XAPP14-PII".getBytes)))
            .as("xapp14_gone"),
          (!contains(col("content"), lit("TRAILER-PII".getBytes)))
            .as("trailer_gone")), Seq("doc_id"))
        .select(col("doc_id").as("media_id"), col("width"), col("height"),
          col("mime"), col("adobe_kept"), col("icc_kept"), col("mpf_gone"),
          col("xapp14_gone"), col("trailer_gone"))
    },
    // JPEG scrub: dims re-derive raw (orientation tag provably gone — a
    // surviving 5..8 tag would swap them), marker-survival flags constant
    // (the APP14 keep is identifier-gated: Adobe survives, XAPP14 drops)
    Oracle(
      """WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id < 120)
        |SELECT id AS media_id,
        |  CAST(9 + id % 4 AS INT) AS width,
        |  CAST(8 + id % 3 AS INT) AS height,
        |  'image/jpeg' AS mime,
        |  TRUE AS adobe_kept, TRUE AS icc_kept,
        |  TRUE AS mpf_gone, TRUE AS xapp14_gone, TRUE AS trailer_gone
        |FROM ids""".stripMargin)),

    // the videoScenes slot for MP4: each stss sync sample IS a scene
    // start, so the scene table (scene_idx = sync rank, start frame,
    // representative dhash) comes off the keyframe walk directly — no
    // full decode, no dHash-distance pass, no shuffle
    QueryCase("mm_mp4_scenes", (s, dir) => {
      val ids = keyframeIds(s, dir)
        .withColumn("step", (col("doc_id") % 3 + 2).cast("int"))
      val media = Media.genPatternMp4sKeyframed(ids, "doc_id", "k", "n",
        "step", w = 9, h = 8)
      Media.mp4Scenes(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("scene_idx"),
          col("start_frame_idx"), col("width"), col("height"), col("dhash"))
    },
    // scene table: sync samples are f % step = 0, so scene_idx = f//step
    // and start_frame_idx = f; dhash is the same per-frame formula
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k, doc_id % 5 + 4 AS n,
        |      doc_id % 3 + 2 AS step
        |    FROM documents WHERE doc_id < 80),
        |  fr AS (SELECT id, k * 8 + f AS kf, CAST(f AS INT) AS f,
        |      CAST(f // step AS INT) AS sidx
        |    FROM ids, unnest(range(0, 8)) tf(f)
        |    WHERE f < n AND f % step = 0),
        |  g AS (SELECT id, f, x, y,
        |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f, i.sidx,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f, sidx FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f, i.sidx)
        |SELECT id AS media_id, sidx AS scene_idx, f AS start_frame_idx,
        |  9 AS width, 8 AS height,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash
        |FROM hs""".stripMargin)),

    // the MP4 keyframe-economy pipeline: stss sync samples → dHash →
    // video-level near-dup pairs — the mm_video_pipeline shape WITHOUT
    // the full-decode + scene-diff stages (the container's own sync table
    // plays the scene index), which is the per-file cost model that
    // matters at 100 TB. Videos arrive in content-identical pairs; each
    // pair must match on its 2 keyframes alone
    QueryCase("mm_mp4_pipeline", (s, dir) => {
      val ids = docIds(s, dir, 60)
        .withColumn("k", floor(col("doc_id") / 2).cast("long"))
        .withColumn("n", lit(6).cast("int"))
        .withColumn("step", lit(3).cast("int"))
      val media = Media.genPatternMp4sKeyframed(ids, "doc_id", "k", "n",
        "step", w = 9, h = 8)
      val keyframes = Media.mp4Keyframes(media, "doc_id", "content")
        .select(col("doc_id"), col("dhash")).localCheckpoint(true)
      Media.videoNearPairs(keyframes, "doc_id", "dhash",
        minShared = 2, maxHashFreq = 1000)
    },
    // keyframe pipeline: pair (2i, 2i+1) shares pattern k=i → identical
    // stss keyframes (f = 0, 3) → one pair per group with exactly 2
    // shared signatures; cross-group kf spaces are disjoint (< 256, no
    // pattern fold), so no other pair exists
    Oracle(
      """WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id < 60)
        |SELECT CAST(id AS BIGINT) AS left_id,
        |  CAST(id + 1 AS BIGINT) AS right_id,
        |  CAST(2 AS BIGINT) AS n_shared,
        |  CAST(2 AS BIGINT) AS n_left,
        |  CAST(2 AS BIGINT) AS n_right
        |FROM ids WHERE id % 2 = 0""".stripMargin)),

    // LENIENT scrub (the form that composes upstream of ingest sinks):
    // good WAVs lose exactly their planted LIST(INFO) tag
    // (bytes_removed = 20 + len + pad, re-derived from the artist-string
    // length in SQL), junk payloads flow through UNMODIFIED with
    // scrub_ok=false + the failure class — one corrupt payload must never
    // fail the task the way the strict op (by design) does
    QueryCase("mm_media_scrub_lenient", (s, dir) => {
      val ids = docIds(s, dir, 150)
        .withColumn("rate", lit(8000)).withColumn("ch", lit(1))
        .withColumn("frames", lit(50))
        .withColumn("artist",
          concat(lit("GRAFT-PII artist="), col("doc_id")))
      val good = Media.genInfoTagged(
        Media.genWavs(ids.filter(col("doc_id") % 5 =!= 4),
          "doc_id", "rate", "ch", "frames")
          .join(ids.select(col("doc_id"), col("artist")), Seq("doc_id")),
        "doc_id", "content", "artist")
      val bad = ids.filter(col("doc_id") % 5 === 4)
        .select(col("doc_id"),
          concat(lit("junk #"), col("doc_id").cast("string"))
            .cast("binary").as("content"))
      Media.stripMediaMetadataLenient(good.unionByName(bad),
        "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("scrub_ok"),
          col("scrub_err"), col("bytes_removed"))
    },
    // lenient scrub: the planted LIST(INFO) size re-derives from the
    // artist-string LENGTH (8 LIST hdr + 4 INFO + 8 IART hdr + text +
    // word pad); junk rows keep scrub_ok=false + the failure class
    Oracle(
      """WITH ids AS (SELECT doc_id AS id,
        |    length('GRAFT-PII artist=' || CAST(doc_id AS VARCHAR)) AS len
        |  FROM documents WHERE doc_id < 150)
        |SELECT id AS media_id,
        |  CAST(id % 5 != 4 AS BOOLEAN) AS scrub_ok,
        |  CASE WHEN id % 5 = 4 THEN 'IllegalArgumentException'
        |       ELSE NULL END AS scrub_err,
        |  CAST(CASE WHEN id % 5 = 4 THEN 0
        |       ELSE 20 + len + (len % 2) END AS INT) AS bytes_removed
        |FROM ids""".stripMargin)),

    // MP4 frame walk: stsz/stsc/stco sample extraction + PNG decode —
    // the same pixel formula as mm_video_frames, proving the frame-dedup
    // tier is container-independent (an MP4 re-container of an AVI
    // classifies as a dup because these hashes match)
    QueryCase("mm_mp4_frames", (s, dir) => {
      val ids = frameIds(s, dir)
      val media = Media.genPatternMp4s(ids, "doc_id", "k", "n", w = 9, h = 8)
      Media.videoFrames(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash"))
    }, Oracle(mp4FramesOracleSql)),

    // audio-track-FIRST MP4s (the real-crawl track order): both traks
    // carry sample tables, the first is 'soun' junk — the hdlr-typed
    // track selection must land on the 'vide' trak, proven by this key
    // sharing mm_mp4_frames' oracle SQL verbatim (identical frame hashes
    // to the video-first twin; positional selection would decode garbage)
    QueryCase("mm_mp4_frames_avorder", (s, dir) => {
      val ids = frameIds(s, dir)
      val media = Media.genPatternMp4sAvOrder(ids, "doc_id", "k", "n",
        w = 9, h = 8)
      Media.videoFrames(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash"))
    }, Oracle(mp4FramesOracleSql)),

    // variable-frame-rate MP4: the stts carries TWO delta runs (first
    // half at dl, second at 2·dl) — fps_x1000 must be the
    // duration-WEIGHTED n·ts·1000/(n1·dl + n2·2dl), which the oracle
    // re-derives exactly; a first-delta-only reader reports ts·1000/dl
    // and hash-mismatches every row
    QueryCase("mm_mp4_meta_vfr", (s, dir) => {
      val ids = mp4Params(s, dir)
      val media = Media.genVfrMp4s(ids, "doc_id", "ts", "dl", "n", "w", "h")
      Media.decodeMp4Meta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("major_brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"), col("n_frames"), col("fps_x1000"))
    },
    // VFR: duration in timescale units = (n/2)·dl + (n−n/2)·2dl; fps is
    // the duration-weighted total — integer floors replayed exactly
    Oracle(
      """WITH ids AS (SELECT doc_id AS d,
        |    CASE WHEN doc_id % 3 = 0 THEN 90000 WHEN doc_id % 3 = 1 THEN 30000 ELSE 12800 END AS ts,
        |    CASE WHEN doc_id % 3 = 0 THEN 3000 WHEN doc_id % 3 = 1 THEN 1001 ELSE 512 END AS dl,
        |    24 + (doc_id % 40) * 3 AS n,
        |    320 + (doc_id % 4) * 160 AS w,
        |    240 + (doc_id % 4) * 120 AS h
        |  FROM documents WHERE doc_id < 150),
        |  v AS (SELECT *, (n // 2) * dl + (n - n // 2) * 2 * dl AS dur
        |    FROM ids)
        |SELECT d AS media_id, 'isom' AS major_brand,
        |  CAST(ts AS BIGINT) AS timescale,
        |  CAST(dur * 1000 // ts AS BIGINT) AS duration_ms,
        |  CAST(2 AS INT) AS n_tracks,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(n AS INT) AS n_frames,
        |  CAST(n * ts * 1000 // dur AS BIGINT) AS fps_x1000
        |FROM v""".stripMargin)),

    // edts/elst edit-list awareness (r19): half the fixtures plant a
    // non-identity head-trim edit list, half carry no edts box at all —
    // has_edit_list re-derives from the planting column while every
    // other box-walk fact stays the genMp4s math (the elst box must not
    // perturb the walk). The flag is a routing FACT: frames decode in
    // sample order regardless (fine for dedup; presentation-order
    // pipelines route on it)
    QueryCase("mm_mp4_meta_elst", (s, dir) => {
      val ids = mp4Params(s, dir)
        .withColumn("el", col("doc_id") % 2 === 0)
      val media = Media.genElstMp4s(ids, "doc_id", "ts", "dl", "n", "w",
        "h", "el")
      Media.decodeMp4Meta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("major_brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"), col("n_frames"), col("fps_x1000"),
          col("has_edit_list"))
    },
    // elst: has_edit_list replays from the planting column (even ids);
    // every other field is the single-track genMp4s floor math — an
    // edts box in the trak must not perturb the walk
    Oracle(
      """WITH ids AS (SELECT doc_id AS d,
        |    CASE WHEN doc_id % 3 = 0 THEN 90000 WHEN doc_id % 3 = 1 THEN 30000 ELSE 12800 END AS ts,
        |    CASE WHEN doc_id % 3 = 0 THEN 3000 WHEN doc_id % 3 = 1 THEN 1001 ELSE 512 END AS dl,
        |    24 + (doc_id % 40) * 3 AS n,
        |    320 + (doc_id % 4) * 160 AS w,
        |    240 + (doc_id % 4) * 120 AS h
        |  FROM documents WHERE doc_id < 150)
        |SELECT d AS media_id, 'isom' AS major_brand,
        |  CAST(ts AS BIGINT) AS timescale,
        |  CAST(n * dl * 1000 // ts AS BIGINT) AS duration_ms,
        |  CAST(1 AS INT) AS n_tracks,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(n AS INT) AS n_frames,
        |  CAST(ts * 1000 // dl AS BIGINT) AS fps_x1000,
        |  CAST(d % 2 = 0 AS BOOLEAN) AS has_edit_list
        |FROM ids""".stripMargin)),

    // ctts composition-offset awareness (r19, the elst fact's sibling):
    // decode order ≠ presentation order when the video track carries a
    // ctts table (B-frame reordering) — the frame tier correctly ignores
    // the offsets for dedup, and this flag lets a presentation-order
    // pipeline route such files. Planted on odd ids; the box must not
    // perturb any other walk fact
    QueryCase("mm_mp4_meta_ctts", (s, dir) => {
      val ids = mp4Params(s, dir)
        .withColumn("ct", col("doc_id") % 2 === 1)
      val media = Media.genCttsMp4s(ids, "doc_id", "ts", "dl", "n", "w",
        "h", "ct")
      Media.decodeMp4Meta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("major_brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"), col("n_frames"), col("fps_x1000"),
          col("has_comp_offsets"))
    },
    // ctts: has_comp_offsets replays from the planting column (odd ids);
    // the single-track genMp4s floor math otherwise — a ctts box in the
    // stbl must not perturb the walk
    Oracle(
      """WITH ids AS (SELECT doc_id AS d,
        |    CASE WHEN doc_id % 3 = 0 THEN 90000 WHEN doc_id % 3 = 1 THEN 30000 ELSE 12800 END AS ts,
        |    CASE WHEN doc_id % 3 = 0 THEN 3000 WHEN doc_id % 3 = 1 THEN 1001 ELSE 512 END AS dl,
        |    24 + (doc_id % 40) * 3 AS n,
        |    320 + (doc_id % 4) * 160 AS w,
        |    240 + (doc_id % 4) * 120 AS h
        |  FROM documents WHERE doc_id < 150)
        |SELECT d AS media_id, 'isom' AS major_brand,
        |  CAST(ts AS BIGINT) AS timescale,
        |  CAST(n * dl * 1000 // ts AS BIGINT) AS duration_ms,
        |  CAST(1 AS INT) AS n_tracks,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(n AS INT) AS n_frames,
        |  CAST(ts * 1000 // dl AS BIGINT) AS fps_x1000,
        |  CAST(d % 2 = 1 AS BOOLEAN) AS has_comp_offsets
        |FROM ids""".stripMargin)),

    // stss keyframe sampling: the sync-sample table is the container's
    // OWN scene-start list, so the MP4 tier samples representatives
    // WITHOUT decoding every frame (the per-file economy at 100 TB —
    // the AVI tier must decode all frames and diff dHashes instead).
    // Fixture plants sync samples 1, 1+step, …; oracle = the pattern
    // dhash formula over exactly the f % step = 0 frames
    QueryCase("mm_mp4_keyframes", (s, dir) => {
      val ids = keyframeIds(s, dir)
        .withColumn("step", (col("doc_id") % 3 + 2).cast("int"))
      val media = Media.genPatternMp4sKeyframed(ids, "doc_id", "k", "n",
        "step", w = 9, h = 8)
      Media.mp4Keyframes(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash"))
    }, Oracle(mp4KeyframesOracleSql)),

    // the keyframe-path maxFrames guard (r19): sparse-stss videos (at
    // most 4 sync samples) decode under the cap with rows bit-equal to
    // the strict walk, while NO-stss videos — the degenerate shape where
    // every sample is sync per ISO 14496-12 §8.6.2 and the "cheap"
    // keyframe path silently becomes the full frame walk — exceed the
    // cap and quarantine as ONE frame_ok=false row instead of decoding
    // unbounded inside one task
    QueryCase("mm_mp4_keyframes_lenient", (s, dir) => {
      Media.mp4KeyframesLenient(sparseAndNoStssMp4s(s, dir),
          "doc_id", "content", maxFrames = 4)
        .select(col("doc_id").as("media_id"), col("frame_ok"),
          col("frame_err"), col("frame_idx"), col("width"), col("height"),
          col("dhash"))
    },
    // keyframe maxFrames guard: ok rows = the mm_mp4_keyframes formula
    // over the sparse-stss ids (% 4 != 3, at most 4 sync samples under
    // the cap of 4); the no-stss ids (% 4 = 3, 6 every-sample-sync
    // frames) exceed the cap and yield ONE quarantine row each
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k, doc_id % 5 + 4 AS n,
        |      doc_id % 3 + 2 AS step
        |    FROM documents WHERE doc_id < 80),
        |  fr AS (SELECT id, k * 8 + f AS kf, CAST(f AS INT) AS f
        |    FROM ids, unnest(range(0, 8)) tf(f)
        |    WHERE id % 4 != 3 AND f < n AND f % step = 0),
        |  g AS (SELECT id, f, x, y,
        |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f)
        |SELECT id AS media_id, TRUE AS frame_ok,
        |  CAST(NULL AS VARCHAR) AS frame_err,
        |  f AS frame_idx, CAST(9 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash
        |FROM hs
        |UNION ALL
        |SELECT id AS media_id, FALSE AS frame_ok,
        |  'IllegalArgumentException' AS frame_err,
        |  CAST(NULL AS INT) AS frame_idx, CAST(NULL AS INT) AS width,
        |  CAST(NULL AS INT) AS height, CAST(NULL AS BIGINT) AS dhash
        |FROM ids WHERE id % 4 = 3""".stripMargin)),

    // same guard on the scene-table op: sync rank + start frame re-derive
    // for the sparse-stss rows, the no-stss shape quarantines
    QueryCase("mm_mp4_scenes_lenient", (s, dir) => {
      Media.mp4ScenesLenient(sparseAndNoStssMp4s(s, dir),
          "doc_id", "content", maxFrames = 4)
        .select(col("doc_id").as("media_id"), col("frame_ok"),
          col("frame_err"), col("scene_idx"), col("start_frame_idx"),
          col("width"), col("height"), col("dhash"))
    },
    // the scene-table twin: scene_idx = f // step (sync rank),
    // start_frame_idx = f, over the same sparse/no-stss id split
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k, doc_id % 5 + 4 AS n,
        |      doc_id % 3 + 2 AS step
        |    FROM documents WHERE doc_id < 80),
        |  fr AS (SELECT id, k * 8 + f AS kf, CAST(f AS INT) AS f,
        |      CAST(f // step AS INT) AS sidx
        |    FROM ids, unnest(range(0, 8)) tf(f)
        |    WHERE id % 4 != 3 AND f < n AND f % step = 0),
        |  g AS (SELECT id, f, x, y,
        |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f, i.sidx,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f, sidx FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f, i.sidx)
        |SELECT id AS media_id, TRUE AS frame_ok,
        |  CAST(NULL AS VARCHAR) AS frame_err,
        |  sidx AS scene_idx, f AS start_frame_idx,
        |  CAST(9 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash
        |FROM hs
        |UNION ALL
        |SELECT id AS media_id, FALSE AS frame_ok,
        |  'IllegalArgumentException' AS frame_err,
        |  CAST(NULL AS INT) AS scene_idx, CAST(NULL AS INT) AS start_frame_idx,
        |  CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
        |  CAST(NULL AS BIGINT) AS dhash
        |FROM ids WHERE id % 4 = 3""".stripMargin)),

    // PDF text extraction (ISO 32000): object/stream walk + FlateDecode
    // + content-stream tokenizer; the fixture rotates show syntax per
    // page (hex+T*, split-TJ+', plain Tj+T*) and toggles Flate per doc —
    // every variant must land on the identical formula text
    QueryCase("mm_pdf_text", (s, dir) => {
      val ids = docIds(s, dir, 150)
        .withColumn("n", (col("doc_id") % 4 + 1).cast("int"))
        .withColumn("flate", col("doc_id") % 2 === 0)
      val files = graft.ext.Pdf.genPdfs(ids, "doc_id", "n", "flate")
      graft.ext.Pdf.pdfText(files, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("stream_idx"),
          col("pdf_version"), col("text"))
    },
    // page text re-derived from the fixture formula with zero parsing —
    // the hash match proves the object walk, FlateDecode (even k), and
    // all three show-syntax variants extract the identical text
    Oracle(
      """WITH ids AS (SELECT doc_id AS k, CAST(doc_id % 4 + 1 AS INT) AS n
        |  FROM documents WHERE doc_id < 150)
        |SELECT k AS media_id, CAST(i AS INT) AS stream_idx,
        |  '1.4' AS pdf_version,
        |  'Doc ' || k || ' page ' || i || chr(10) ||
        |    'alpha(' || ((k*13 + i) % 97) || ') beta' AS text
        |FROM ids, unnest(range(0, n)) t(i)""".stripMargin)),

    // PDF /ToUnicode CMap (ISO 32000 §9.10.3): glyph codes in hex show
    // strings decode through the font's bfchar/bfrange map (UTF-16BE
    // destinations) — the non-Latin extraction path; each page mixes a
    // Latin-1 standard font and a CMap'd CID font mid-stream, and the
    // oracle re-derives every Greek codepoint from the fixture formula
    QueryCase("mm_pdf_unicode", (s, dir) => {
      val ids = docIds(s, dir, 150)
        .withColumn("n", (col("doc_id") % 3 + 1).cast("int"))
        .withColumn("flate", col("doc_id") % 2 === 0)
      val files = graft.ext.Pdf.genPdfsUnicode(ids, "doc_id", "n", "flate")
      graft.ext.Pdf.pdfText(files, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("stream_idx"),
          col("pdf_version"), col("text"))
    }, Oracle(pdfUnicodeOracleSql)),

    // PDF 1.5+ object streams: the same unicode fixtures with page and
    // font dicts PACKED inside a deflated /Type /ObjStm — invisible to a
    // raw-byte scan, how modern writers emit them; the oracle is the
    // mm_pdf_unicode SQL verbatim (same page-text formula), so the hash
    // match proves packed dicts resolve exactly like top-level ones
    QueryCase("mm_pdf_objstm", (s, dir) => {
      val ids = docIds(s, dir, 150)
        .withColumn("n", (col("doc_id") % 3 + 1).cast("int"))
        .withColumn("flate", col("doc_id") % 2 === 0)
      val files = graft.ext.Pdf.genPdfsObjStm(ids, "doc_id", "n", "flate")
      graft.ext.Pdf.pdfText(files, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("stream_idx"),
          col("pdf_version"), col("text"))
    },
    // same page-text formula; only the header version differs (ObjStm is a
    // PDF 1.5 feature, and the fixture headers say so)
    Oracle(pdfUnicodeOracleSql.replace("'1.4'", "'1.5'"))),

    // PDF → text tier END-TO-END in one plan: object walk + FlateDecode +
    // content-stream tokenize, then token-window chunking and per-chunk
    // quality scoring — extraction feeding curation, all per-row
    // expressions after the decode, zero shuffles
    QueryCase("mm_pdf_pipeline", (s, dir) => {
      val ids = docIds(s, dir, 120)
        .withColumn("n", (col("doc_id") % 4 + 1).cast("int"))
        .withColumn("flate", col("doc_id") % 2 === 0)
      val files = graft.ext.Pdf.genPdfs(ids, "doc_id", "n", "flate")
      val pages = graft.ext.Pdf.pdfText(files, "doc_id", "content")
        .select((col("doc_id") * 10 + col("stream_idx")).as("page_id"),
          col("text"))
      Curation.chunkByTokens(pages, "page_id", "text",
          chunkTokens = 4, overlapTokens = 1)
        .select(col("page_id"), col("chunk_idx"), col("chunk"),
          T.tokenCount(col("chunk")).as("n_tokens"),
          T.qualityPerMille(col("chunk")).as("quality_pm"))
    },
    // the PDF→curation composition: page text from the fixture formula,
    // token-window chunks (size 4, stride 3 — the curate_chunk algebra),
    // then the text_quality formula per CHUNK
    Oracle(
      """WITH ids AS (SELECT doc_id AS k, CAST(doc_id % 4 + 1 AS INT) AS n
        |  FROM documents WHERE doc_id < 120),
        |  pages AS (SELECT k * 10 + i AS page_id,
        |      'Doc ' || k || ' page ' || i || chr(10) ||
        |      'alpha(' || ((k*13 + i) % 97) || ') beta' AS text
        |    FROM ids, unnest(range(0, n)) t(i)),
        |  tok AS (SELECT page_id, CASE WHEN length(trim(text)) = 0 THEN []
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM pages),
        |  ch AS (SELECT page_id, CAST(i AS BIGINT) AS chunk_idx,
        |      array_to_string(w[(i*3+1):(i*3+4)], ' ') AS chunk
        |    FROM tok, unnest(range(0, CAST(ceil(len(w) / 3.0) AS BIGINT))) AS t(i)),
        |  st AS (SELECT page_id, chunk_idx, chunk,
        |      CASE WHEN length(trim(chunk)) = 0 THEN 0
        |        ELSE len(regexp_split_to_array(trim(chunk), '\s+')) END AS nt,
        |      CASE WHEN length(chunk) = 0 THEN 0
        |        ELSE floor((length(chunk) - length(regexp_replace(chunk, '[!-/:-@\[-`{-~]', '', 'g'))) * 1000.0 / length(chunk) + 0.5) END AS punct_pm
        |    FROM ch)
        |SELECT page_id, chunk_idx, chunk, CAST(nt AS BIGINT) AS n_tokens,
        |  CAST(floor(least(CAST(nt AS DOUBLE) / 100.0, 1.0)
        |    * (1.0 - least(CAST(punct_pm AS DOUBLE) / 300.0, 1.0)) * 1000 + 0.5) AS BIGINT) AS quality_pm
        |FROM st""".stripMargin)),

    // dirty-corpus quarantine: odd ids carry garbage bytes; the lenient
    // decoder must split the stream in ONE pass without failing the job
    QueryCase("mm_decode_quarantine", (s, dir) => {
      val ids = docIds(s, dir, 200)
        .withColumn("k", floor(col("doc_id") / 2).cast("long"))
        .withColumn("p", lit(0))
      val good = Media.genPatternPngs(ids.filter(col("doc_id") % 2 === 0),
        "doc_id", "k", "p", w = 9, h = 8)
      val bad = ids.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"),
          concat(lit("not an image #"), col("doc_id").cast("string"))
            .cast("binary").as("content"))
      Media.decodeImageMetaLenient(good.unionByName(bad), "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("decode_ok"),
          col("decode_err"), col("mime"), col("width"), col("height"),
          col("dhash"))
    },
    // even ids decode (dhash re-derived from the pattern formula, perturb
    // p=0); odd ids are sniffed as octet-stream and quarantined with the
    // decoder's failure class — ImageIO returns null → requirement failed
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id // 2 AS k
        |    FROM documents WHERE doc_id < 200),
        |  evens AS (SELECT id, k FROM ids WHERE id % 2 = 0),
        |  g AS (SELECT id, x, y,
        |      (k*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM evens, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id FROM evens) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id)
        |SELECT id AS media_id, TRUE AS decode_ok, CAST(NULL AS VARCHAR) AS decode_err,
        |  'image/png' AS mime, 9 AS width, 8 AS height,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash
        |FROM hs
        |UNION ALL
        |SELECT id AS media_id, FALSE AS decode_ok,
        |  'IllegalArgumentException' AS decode_err,
        |  'application/octet-stream' AS mime, CAST(NULL AS INT) AS width,
        |  CAST(NULL AS INT) AS height, CAST(NULL AS BIGINT) AS dhash
        |FROM ids WHERE id % 2 = 1""".stripMargin)),

    // container-aware time windowing from the parsed header (frame-aligned
    // 25 ms windows, ragged tail)
    QueryCase("mm_audio_windows", (s, dir) => {
      val ids = docIds(s, dir, 60)
        .withColumn("rate", when(col("doc_id") % 3 === 0, 8000)
          .when(col("doc_id") % 3 === 1, 16000).otherwise(44100))
        .withColumn("ch", (col("doc_id") % 2 + 1).cast("int"))
        .withColumn("frames", (lit(200) + (col("doc_id") % 7) * 97).cast("int"))
      val media = Media.genWavs(ids, "doc_id", "rate", "ch", "frames")
      Media.audioWindows(media, "doc_id", "content", windowMs = 25)
        .select(col("doc_id").as("media_id"), col("window_idx"),
          col("start_ms"), col("n_bytes"), col("n_frames"))
    }, Oracle(
      """WITH ids AS (SELECT doc_id AS id,
        |    CASE WHEN doc_id % 3 = 0 THEN 8000 WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END AS rate,
        |    doc_id % 2 + 1 AS ch,
        |    200 + (doc_id % 7) * 97 AS frames
        |  FROM documents WHERE doc_id < 60),
        |  geom AS (SELECT id, rate * ch * 2 AS byte_rate, ch * 2 AS block_align,
        |      frames * ch * 2 AS data_bytes,
        |      greatest(ch * 2, ((rate * ch * 2) * 25 // 1000) // (ch * 2) * (ch * 2)) AS w_bytes
        |    FROM ids)
        |SELECT id AS media_id, CAST(i AS INT) AS window_idx,
        |  CAST((i * w_bytes) * 1000 // byte_rate AS BIGINT) AS start_ms,
        |  CAST(least(w_bytes, data_bytes - i * w_bytes) AS INT) AS n_bytes,
        |  CAST(least(w_bytes, data_bytes - i * w_bytes) // block_align AS INT) AS n_frames
        |FROM geom, unnest(range(0, greatest(1, (data_bytes + w_bytes - 1) // w_bytes))) t(i)""".stripMargin)),

    // LAION-style image-quality gate over REAL decoded pixels: exact
    // integer luma stats per image, thresholds composed in the plan
    // (min-dim 8, aspect within [1/2, 2], not solid-color) — the odd ids'
    // 5x4 thumbnails are dropped by the dimension gate
    QueryCase("mm_image_quality", (s, dir) => {
      val ids = docIds(s, dir, 150)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("p", lit(0))
      val big = Media.genPatternPngs(
        ids.filter(col("doc_id") % 2 === 0), "doc_id", "k", "p", w = 9, h = 8)
      val small = Media.genPatternPngs(
        ids.filter(col("doc_id") % 2 =!= 0), "doc_id", "k", "p", w = 5, h = 4)
      Media.imageStats(big.unionByName(small), "doc_id", "content")
        .filter(col("width") >= 8 && col("height") >= 8 &&
          col("width") * 1000 <= col("height") * 2000 &&
          col("height") * 1000 <= col("width") * 2000 &&
          col("luma_min") < col("luma_max"))
        .select(col("doc_id").as("media_id"), col("width"), col("height"),
          col("n_px"), col("luma_sum"), col("luma_sq_sum"),
          col("luma_min"), col("luma_max"), col("mean_milli"))
    },
    // per-image integer luma stats re-derived from the pattern formula,
    // then the same dimension/aspect/solid gates applied in SQL
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k,
        |    CASE WHEN doc_id % 2 = 0 THEN 9 ELSE 5 END AS w,
        |    CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 4 END AS h
        |  FROM documents WHERE doc_id < 150),
        |  g AS (SELECT id, w, h, (k*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM ids, unnest(range(0, w)) tx(x), unnest(range(0, h)) ty(y)),
        |  st AS (SELECT id, w, h, count(*) AS n_px, sum(v) AS s, sum(v*v) AS sq,
        |      min(v) AS mn, max(v) AS mx
        |    FROM g GROUP BY id, w, h)
        |SELECT id AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(n_px AS INT) AS n_px, CAST(s AS BIGINT) AS luma_sum,
        |  CAST(sq AS BIGINT) AS luma_sq_sum, CAST(mn AS INT) AS luma_min,
        |  CAST(mx AS INT) AS luma_max, CAST(s * 1000 // n_px AS BIGINT) AS mean_milli
        |FROM st
        |WHERE w >= 8 AND h >= 8 AND w * 1000 <= h * 2000 AND h * 1000 <= w * 2000
        |  AND mn < mx""".stripMargin)),

    // average hash (second perceptual family next to dHash): 16x16
    // pattern → exact 2x2 block means → bit = cell > grid mean, all
    // integer math the oracle replays pixel-for-pixel
    QueryCase("mm_ahash", (s, dir) => {
      val ids = pngPairIds(s, dir, 120)
      val media = Media.genPatternPngs(ids, "doc_id", "k", "p", w = 16, h = 16)
      Media.imageAHash(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("width"), col("height"),
          col("ahash"))
    },
    // aHash replayed: 16x16 pattern → exact 2x2 block means → grid mean →
    // bit = cell > mean, packed hi/lo into one signed BIGINT
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id // 2 AS k, doc_id % 2 AS p
        |    FROM documents WHERE doc_id < 120),
        |  g AS (SELECT id, x, y,
        |      ((k*31 + x*x*3 + y*y*5 + x*y*7) % 256
        |       + p * (CASE WHEN (x + y*16) % 29 = 0 THEN 1 ELSE 0 END)) % 256 AS v
        |    FROM ids, unnest(range(0, 16)) tx(x), unnest(range(0, 16)) ty(y)),
        |  b AS (SELECT id, x // 2 AS cx, y // 2 AS cy, CAST(SUM(v) // 4 AS BIGINT) AS bv
        |    FROM g GROUP BY id, x // 2, y // 2),
        |  m AS (SELECT id, SUM(bv) // 64 AS mean FROM b GROUP BY id),
        |  bits AS (SELECT b.id, cy*8 + cx AS bit
        |    FROM b JOIN m ON m.id = b.id WHERE bv > mean),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT DISTINCT id FROM ids) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id)
        |SELECT id AS media_id, 16 AS width, 16 AS height,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS ahash
        |FROM hs""".stripMargin)),

    // real PCM scan: per-window sum of squared 16-bit samples + peak, cut
    // on the same header-derived windows as mm_audio_windows; silence
    // classification stays in the plan as an exact integer compare
    QueryCase("mm_audio_energy", (s, dir) => {
      val ids = docIds(s, dir, 100)
        .withColumn("rate", when(col("doc_id") % 3 === 0, 8000)
          .when(col("doc_id") % 3 === 1, 16000).otherwise(44100))
        .withColumn("ch", (col("doc_id") % 2 + 1).cast("int"))
        .withColumn("frames", (lit(150) + (col("doc_id") % 11) * 37).cast("int"))
      val media = Media.genWavs(ids, "doc_id", "rate", "ch", "frames")
      Media.audioEnergy(media, "doc_id", "content", windowMs = 20)
        .select(col("doc_id").as("media_id"), col("window_idx"),
          col("start_ms"), col("n_samples"), col("sum_sq"), col("peak_abs"),
          (col("sum_sq") < col("n_samples").cast("long") * 5440L).as("silent"))
    },
    // every PCM sample re-derived from the generator formula
    // v(j) = (id·7 + j·13) mod 256 − 128, summed per header-cut window
    Oracle(
      """WITH ids AS (SELECT doc_id AS id,
        |    CASE WHEN doc_id % 3 = 0 THEN 8000 WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END AS rate,
        |    doc_id % 2 + 1 AS ch,
        |    150 + (doc_id % 11) * 37 AS frames
        |  FROM documents WHERE doc_id < 100),
        |  geom AS (SELECT id, rate * ch * 2 AS br, ch * 2 AS ba,
        |      frames * ch * 2 AS db,
        |      greatest(ch * 2, ((rate * ch * 2) * 20 // 1000) // (ch * 2) * (ch * 2)) AS wb
        |    FROM ids),
        |  w AS (SELECT id, br, wb, i, i * wb AS woff, least(wb, db - i * wb) AS n
        |    FROM geom, unnest(range(0, greatest(1, (db + wb - 1) // wb))) t(i)),
        |  s AS (SELECT id, i, woff, br, n // 2 AS nsamp,
        |      SUM(((id*7 + j*13) % 256 - 128) * ((id*7 + j*13) % 256 - 128)) AS ss,
        |      MAX(abs((id*7 + j*13) % 256 - 128)) AS pk
        |    FROM w, unnest(range(woff // 2, woff // 2 + n // 2)) tj(j)
        |    GROUP BY id, i, woff, br, n)
        |SELECT id AS media_id, CAST(i AS INT) AS window_idx,
        |  CAST(woff * 1000 // br AS BIGINT) AS start_ms,
        |  CAST(nsamp AS INT) AS n_samples, CAST(ss AS BIGINT) AS sum_sq,
        |  CAST(pk AS INT) AS peak_abs,
        |  ss < nsamp * 5440 AS silent
        |FROM s""".stripMargin)),

    // AUDIO near-dup pairs — the third modality joins the Hamming dedup
    // tier: energy-delta-sign fingerprint (gain-invariant), banded pair
    // join reused verbatim from the image tier. Odd ids are modeled
    // re-encodes of their even sibling (exactly one fingerprint bit
    // flipped — never identical, always in band reach)
    QueryCase("mm_audio_dedup", (s, dir) => {
      val ids = pngPairIds(s, dir, 150)
        .withColumn("nw", lit(65).cast("int"))
      val media = Media.genToneWavs(ids, "doc_id", "k", "p", "nw")
      val fp = Media.audioFingerprint(media, "doc_id", "content", windowMs = 20)
      Media.dhashNearPairs(fp, "doc_id", "afp", maxDist = 3)
    },
    // audio dedup: every window amplitude re-derived (window 0 forced to
    // 127/0 by the original first delta sign when p<>0 — the guaranteed
    // one-bit flip), delta-sign bits assembled into the signed 64-bit
    // fingerprint (equal window sizes make the energy comparison a pure
    // amplitude comparison), then the all-pairs Hamming filter the banded
    // join must equal exactly
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id // 2 AS k, doc_id % 2 AS p
        |  FROM documents WHERE doc_id < 150),
        |  amp AS (SELECT id, CAST(w AS INT) AS w,
        |      CASE WHEN p <> 0 AND w = 0 THEN
        |        CASE WHEN (k*31 + 10) % 120 > (k*31) % 120 THEN 127 ELSE 0 END
        |      ELSE (k*31 + w*w*7 + w*3) % 120 + 1 END AS a
        |    FROM ids, unnest(range(0, 65)) t(w)),
        |  bits AS (SELECT a1.id, a1.w AS bit
        |    FROM amp a1 JOIN amp a2 ON a2.id = a1.id AND a2.w = a1.w + 1
        |    WHERE a1.w < 64 AND a2.a > a1.a),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM ids i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id),
        |  h AS (SELECT id, CASE WHEN hi >= 2147483648
        |      THEN (hi - 4294967296) * 4294967296 + lo
        |      ELSE hi * 4294967296 + lo END AS fp FROM hs)
        |SELECT a.id AS left_id, b.id AS right_id,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hdist
        |FROM h a JOIN h b ON a.id < b.id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin)),

    // image+caption pair curation end-to-end: decode → dHash near-dup
    // representative selection (band join, drop the larger id of every
    // near pair) → caption length gate — the multimodal tier composed
    // with the text tier in one plan
    QueryCase("mm_pair_curation", (s, dir) => {
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 300)
      val ids = docs.select(col("doc_id"))
        .withColumn("k", floor(col("doc_id") / 2).cast("long"))
        .withColumn("p", (col("doc_id") % 2).cast("int"))
      val media = Media.genPatternPngs(ids, "doc_id", "k", "p", w = 9, h = 8)
      val meta = Media.decodeImageMeta(media, "doc_id", "content")
        .select(col("doc_id"), col("width"), col("height"), col("dhash"))
      val losers = Media.dhashNearPairs(meta, "doc_id", "dhash", maxDist = 3)
        .select(col("right_id").as("doc_id")).distinct()
      meta.join(losers, Seq("doc_id"), "left_anti")
        .join(docs, Seq("doc_id"))
        .filter(T.tokenCount(col("text")) >= 10L && col("width") >= 8)
        .select(col("doc_id").as("media_id"), col("dhash"),
          T.tokenCount(col("text")).as("n_tokens"))
    },
    // dHash pair suppression (all-pairs filter ≡ the band join) + the
    // caption token gate, composed exactly as the Spark plan does
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id // 2 AS k, doc_id % 2 AS p
        |    FROM documents WHERE doc_id < 300),
        |  g AS (SELECT id, x, y,
        |      ((k*31 + x*x*3 + y*y*5 + x*y*7) % 256
        |       + p * (CASE WHEN (x + y*9) % 29 = 0 THEN 1 ELSE 0 END)) % 256 AS v
        |    FROM ids, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT DISTINCT id FROM ids) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id),
        |  h AS (SELECT id,
        |      CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |           ELSE hi * 4294967296 + lo END AS dh
        |    FROM hs),
        |  losers AS (SELECT DISTINCT b.id FROM h a JOIN h b ON a.id < b.id
        |    WHERE bit_count(xor(a.dh, b.dh)) <= 3),
        |  tok AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
        |    FROM documents WHERE doc_id < 300)
        |SELECT h.id AS media_id, h.dh AS dhash, CAST(tok.nt AS BIGINT) AS n_tokens
        |FROM h LEFT JOIN losers ON losers.id = h.id
        |  JOIN tok ON tok.doc_id = h.id
        |WHERE losers.id IS NULL AND tok.nt >= 10""".stripMargin)),

    // EXIF-orientation normalization: the fixture stores each pattern
    // ROTATED/MIRRORED (all 8 CIPA orientations, lossless PNG + eXIf
    // chunk); a correct decoder returns the DISPLAY grid, so the oracle is
    // the plain pattern formula with zero orientation math — the hash
    // match proves the rotation recall hole is closed
    QueryCase("mm_image_orient", (s, dir) => {
      val ids = docIds(s, dir, 160)
        .withColumn("k", floor(col("doc_id") / 8).cast("long"))
        .withColumn("p", lit(0))
        .withColumn("o", (col("doc_id") % 8 + 1).cast("int"))
      val media = Media.genPatternPngsOriented(ids, "doc_id", "k", "p", "o",
        w = 9, h = 8)
      Media.decodeImageMeta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("width"), col("height"),
          col("mime"), col("dhash"))
    },
    // orientation-normalized decode: the oracle is the PLAIN display-grid
    // formula (k = doc_id//8, p=0) — no orientation math at all, because a
    // correct decoder undoes the stored rotation; dims are display 9x8 for
    // every one of the 8 stored orientations
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id // 8 AS k
        |    FROM documents WHERE doc_id < 160),
        |  g AS (SELECT id, x, y,
        |      (k*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM ids, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT DISTINCT id FROM ids) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id)
        |SELECT id AS media_id, 9 AS width, 8 AS height, 'image/png' AS mime,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash
        |FROM hs""".stripMargin)),

    // rotated near-dups surface in the dedup band join: same-k fixtures
    // differ by perturbation (p) AND stored orientation (o) — without
    // normalization the rotated copies would hash unrelated and the pair
    // set would silently lose them
    QueryCase("mm_image_dedup_orient", (s, dir) => {
      val ids = docIds(s, dir, 320)
        .withColumn("k", floor(col("doc_id") / 4).cast("long"))
        .withColumn("p", (col("doc_id") % 2).cast("int"))
        .withColumn("o", (col("doc_id") % 4 * 2 + 1).cast("int"))
      val media = Media.genPatternPngsOriented(ids, "doc_id", "k", "p", "o",
        w = 9, h = 8)
      val hashed = Media.decodeImageMeta(media, "doc_id", "content")
        .select(col("doc_id"), col("dhash"))
      Media.dhashNearPairs(hashed, "doc_id", "dhash", maxDist = 3)
    },
    // rotated near-dups: all-pairs Hamming filter over formula hashes with
    // k = doc_id//4, p = doc_id%2 — stored orientation does not appear
    // because normalization removes it; the pair set therefore contains
    // cross-orientation pairs the un-normalized decoder would lose
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id // 4 AS k, doc_id % 2 AS p
        |    FROM documents WHERE doc_id < 320),
        |  g AS (SELECT id, x, y,
        |      ((k*31 + x*x*3 + y*y*5 + x*y*7) % 256
        |       + p * (CASE WHEN (x + y*9) % 29 = 0 THEN 1 ELSE 0 END)) % 256 AS v
        |    FROM ids, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT DISTINCT id FROM ids) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id),
        |  h AS (SELECT id,
        |      CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |           ELSE hi * 4294967296 + lo END AS dh
        |    FROM hs)
        |SELECT a.id AS left_id, b.id AS right_id,
        |  CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS hdist
        |FROM h a JOIN h b ON a.id < b.id
        |WHERE bit_count(xor(a.dh, b.dh)) <= 3""".stripMargin)),

    // dirty-corpus quarantine, audio leg: odd ids carry non-WAV bytes; the
    // lenient decoder splits the stream in one pass, good rows bit-equal
    // to the strict path
    QueryCase("mm_audio_quarantine", (s, dir) => {
      val ids = wavParams(s, dir)
      val good = Media.genWavs(ids.filter(col("doc_id") % 2 === 0),
        "doc_id", "rate", "ch", "frames")
      val bad = ids.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"),
          concat(lit("not audio #"), col("doc_id").cast("string"))
            .cast("binary").as("content"))
      Media.decodeAudioMetaLenient(good.unionByName(bad), "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("decode_ok"),
          col("decode_err"), col("mime"), col("sample_rate"), col("channels"),
          col("bits"), col("n_frames"), col("duration_ms"))
    },
    // lenient audio: even ids re-derive the strict facts; odd ids are
    // sniffed octet-stream and quarantined with the parse-failure class
    Oracle(
      """WITH ids AS (SELECT doc_id AS id,
        |    CASE WHEN doc_id % 3 = 0 THEN 8000 WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END AS rate,
        |    CAST(doc_id % 2 + 1 AS INT) AS ch,
        |    100 + (doc_id % 50) * 10 AS frames
        |  FROM documents WHERE doc_id < 150)
        |SELECT id AS media_id, TRUE AS decode_ok, CAST(NULL AS VARCHAR) AS decode_err,
        |  'audio/wav' AS mime, CAST(rate AS INT) AS sample_rate, ch AS channels,
        |  16 AS bits, CAST(frames AS BIGINT) AS n_frames,
        |  CAST((frames * ch * 2 * 1000) // (rate * ch * 2) AS BIGINT) AS duration_ms
        |FROM ids WHERE id % 2 = 0
        |UNION ALL
        |SELECT id AS media_id, FALSE AS decode_ok,
        |  'IllegalArgumentException' AS decode_err,
        |  'application/octet-stream' AS mime, CAST(NULL AS INT) AS sample_rate,
        |  CAST(NULL AS INT) AS channels, CAST(NULL AS INT) AS bits,
        |  CAST(NULL AS BIGINT) AS n_frames, CAST(NULL AS BIGINT) AS duration_ms
        |FROM ids WHERE id % 2 = 1""".stripMargin)),

    // dirty-corpus quarantine, video leg: odd ids carry garbage; lenient
    // AVI decode quarantines in place
    QueryCase("mm_video_quarantine", (s, dir) => {
      val ids = aviParams(s, dir)
      val good = Media.genAvis(ids.filter(col("doc_id") % 2 === 0),
        "doc_id", "uspf", "frames", "w", "h")
      val bad = ids.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"),
          concat(lit("not video #"), col("doc_id").cast("string"))
            .cast("binary").as("content"))
      Media.decodeVideoMetaLenient(good.unionByName(bad), "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("decode_ok"),
          col("decode_err"), col("mime"), col("width"), col("height"),
          col("n_frames"), col("n_streams"), col("fps_x1000"),
          col("duration_ms"))
    },
    // lenient video: even ids re-derive the strict avih facts; odd ids
    // quarantine with the parse-failure class
    Oracle(
      """WITH ids AS (SELECT doc_id AS id,
        |    CASE WHEN doc_id % 3 = 0 THEN 41667 WHEN doc_id % 3 = 1 THEN 33333 ELSE 16667 END AS uspf,
        |    100 + (doc_id % 60) * 25 AS frames,
        |    320 + (doc_id % 4) * 160 AS w,
        |    240 + (doc_id % 4) * 120 AS h
        |  FROM documents WHERE doc_id < 150)
        |SELECT id AS media_id, TRUE AS decode_ok, CAST(NULL AS VARCHAR) AS decode_err,
        |  'video/avi' AS mime, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(frames AS INT) AS n_frames, 1 AS n_streams,
        |  CAST(1000000000 // uspf AS BIGINT) AS fps_x1000,
        |  CAST(uspf * frames // 1000 AS BIGINT) AS duration_ms
        |FROM ids WHERE id % 2 = 0
        |UNION ALL
        |SELECT id AS media_id, FALSE AS decode_ok,
        |  'IllegalArgumentException' AS decode_err,
        |  'application/octet-stream' AS mime, CAST(NULL AS INT) AS width,
        |  CAST(NULL AS INT) AS height, CAST(NULL AS INT) AS n_frames,
        |  CAST(NULL AS INT) AS n_streams, CAST(NULL AS BIGINT) AS fps_x1000,
        |  CAST(NULL AS BIGINT) AS duration_ms
        |FROM ids WHERE id % 2 = 1""".stripMargin)),

    // REAL frame content from video: LIST(movi) walk → per-frame codec
    // decode → dHash, one row per frame — frame-level dedup drops into the
    // existing Hamming tier; the oracle re-derives every frame's pixels
    // from the per-frame pattern formula (k·8+f)
    QueryCase("mm_video_frames", (s, dir) => {
      val ids = frameIds(s, dir)
      val media = Media.genPatternAvis(ids, "doc_id", "k", "n", w = 9, h = 8)
      Media.videoFrames(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash"))
    },
    // frame-level video decode: every frame f of id re-derives its pixels
    // from the per-frame formula (pattern k·8+f), then the dHash CTE —
    // the hash match proves the movi walk found every frame in order and
    // the codec round trip is lossless
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k, doc_id % 3 + 2 AS n
        |    FROM documents WHERE doc_id < 80),
        |  fr AS (SELECT id, k * 8 + f AS kf, CAST(f AS INT) AS f
        |    FROM ids, unnest(range(0, 5)) tf(f) WHERE f < n),
        |  g AS (SELECT id, f, x, y,
        |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f)
        |SELECT id AS media_id, f AS frame_idx, 9 AS width, 8 AS height,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash
        |FROM hs""".stripMargin)),

    // frame-level video DEDUP over the real container decode: groups of 4
    // videos share a pattern (trims — frame counts vary, so n_shared =
    // min frame count), and one 24-video mega-group drives its common
    // frame hashes past maxHashFreq=10 — those must contribute NO pair
    // evidence (the hot-frame cap), while n_left/n_right keep true counts
    QueryCase("mm_video_dedup", (s, dir) => {
      val ids = docIds(s, dir, 96)
        .withColumn("k", when(col("doc_id") < 24, 0L)
          .otherwise(floor(col("doc_id") / 4)).cast("long"))
        .withColumn("n", (col("doc_id") % 3 + 2).cast("int"))
      val media = Media.genPatternAvis(ids, "doc_id", "k", "n", w = 9, h = 8)
      // materialize: the pairing plan references frames from 5 branches,
      // each of which would otherwise re-decode every video (r15 audit)
      val frames = Media.videoFrames(media, "doc_id", "content")
        .localCheckpoint(true)
      Media.videoNearPairs(frames, "doc_id", "dhash",
        minShared = 2, maxHashFreq = 10)
    }, Oracle(videoDedupOracleSql)),

    // the SAME shared-frame dedup over a MIXED-container corpus: even ids
    // arrive as AVI, odd as MP4 — identical pattern frames hash
    // identically through both walks, so every group pairs ACROSS
    // containers (each group of 4 is 2 AVI + 2 MP4); the oracle is the
    // mm_video_dedup SQL verbatim — container never enters the algebra
    QueryCase("mm_video_dedup_mixed", (s, dir) => {
      val ids = docIds(s, dir, 96)
        .withColumn("k", when(col("doc_id") < 24, 0L)
          .otherwise(floor(col("doc_id") / 4)).cast("long"))
        .withColumn("n", (col("doc_id") % 3 + 2).cast("int"))
      val avis = Media.genPatternAvis(ids.filter(col("doc_id") % 2 === 0),
        "doc_id", "k", "n", w = 9, h = 8)
      val mp4s = Media.genPatternMp4s(ids.filter(col("doc_id") % 2 === 1),
        "doc_id", "k", "n", w = 9, h = 8)
      val frames = Media.videoFrames(avis.unionByName(mp4s),
        "doc_id", "content").localCheckpoint(true)
      Media.videoNearPairs(frames, "doc_id", "dhash",
        minShared = 2, maxHashFreq = 10)
    }, Oracle(videoDedupOracleSql)),

    // scene-cut detection over real frame decode: fixtures hold
    // bit-identical frames within a scene (prev_dist 0) and formula-
    // divergent hashes at each boundary; the running cut count is the
    // scene index — "one frame per scene" sampling is a filter away
    QueryCase("mm_video_scenes", (s, dir) => {
      val ids = docIds(s, dir, 60)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("n", ((col("doc_id") % 3 + 2) * 2).cast("int"))
        .withColumn("len", lit(2).cast("int"))
      val media = Media.genSceneAvis(ids, "doc_id", "k", "n", "len", w = 9, h = 8)
      val frames = Media.videoFrames(media, "doc_id", "content")
      Media.videoScenes(frames, "doc_id", "frame_idx", "dhash", cutDist = 8)
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("prev_dist"), col("is_cut"), col("scene_idx"))
    },
    // scene cuts: per-frame hashes re-derived with kf = k*16 + f//2 (two
    // identical frames per scene), lag-distance via self-join on f-1,
    // the same cut rule, and a running-sum window for the scene index
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k,
        |    CAST((doc_id % 3 + 2) * 2 AS INT) AS n
        |  FROM documents WHERE doc_id < 60),
        |  fr AS (SELECT id, k * 16 + f // 2 AS kf, CAST(f AS INT) AS f
        |    FROM ids, unnest(range(0, 8)) tf(f) WHERE f < n),
        |  g AS (SELECT id, f, x, y,
        |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f),
        |  h AS (SELECT id, f,
        |      CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |           ELSE hi * 4294967296 + lo END AS dh FROM hs),
        |  d AS (SELECT a.id, a.f,
        |      CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS prev_dist
        |    FROM h a LEFT JOIN h b ON b.id = a.id AND b.f = a.f - 1),
        |  c AS (SELECT id, f, prev_dist,
        |      COALESCE(prev_dist > 8, FALSE) AS is_cut FROM d)
        |SELECT id AS media_id, f AS frame_idx, prev_dist, is_cut,
        |  CAST(SUM(CASE WHEN is_cut THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY id ORDER BY f) AS INT) AS scene_idx
        |FROM c""".stripMargin)),

    // the A/V tier END-TO-END (the video mirror of src_warc_pipeline):
    // dirty AVI corpus → lenient quarantine gate → REAL frame decode →
    // scene cuts → keyframe sampling (one frame per scene) → video
    // near-dup pairs over the sampled keyframes — every stage
    // individually oracled above, the composition replayed wholesale
    QueryCase("mm_video_pipeline", (s, dir) => {
      val ids = docIds(s, dir, 90)
        .withColumn("k", floor(col("doc_id") / 4).cast("long"))
        .withColumn("n", lit(6).cast("int"))
        .withColumn("len", lit(2).cast("int"))
      val good = Media.genSceneAvis(ids.filter(col("doc_id") % 2 === 0),
        "doc_id", "k", "n", "len", w = 9, h = 8)
      val bad = ids.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"),
          concat(lit("junk #"), col("doc_id").cast("string"))
            .cast("binary").as("content"))
      val decoded = Media.decodeVideoMetaLenient(
        good.unionByName(bad), "doc_id", "content")
      val healthy = good.join(decoded.filter(col("decode_ok"))
        .select("doc_id"), Seq("doc_id"), "left_semi")
      val frames = Media.videoFrames(healthy, "doc_id", "content")
        .localCheckpoint(true)
      val keyframes = Media
        .videoScenes(frames, "doc_id", "frame_idx", "dhash", cutDist = 8)
        .filter(col("prev_dist").isNull || col("is_cut"))
        .select(col("doc_id"), col("dhash"))
      Media.videoNearPairs(keyframes, "doc_id", "dhash",
        minShared = 2, maxHashFreq = 1000)
    },
    // the A/V composite: even ids (odd ids quarantine and never reach
    // output) re-derive frames with kf = k*16 + f//2, keyframes = frame 0
    // + every >8-bit cut, then the videoNearPairs algebra over keyframe
    // hashes — pairs of videos sharing k must pair on their full
    // keyframe set
    Oracle(
      """WITH ids AS (SELECT doc_id AS id, doc_id // 4 AS k
        |  FROM documents WHERE doc_id < 90 AND doc_id % 2 = 0),
        |  fr AS (SELECT id, k * 16 + f // 2 AS kf, CAST(f AS INT) AS f
        |    FROM ids, unnest(range(0, 6)) tf(f)),
        |  g AS (SELECT id, f, x, y,
        |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f),
        |  h AS (SELECT id, f,
        |      CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |           ELSE hi * 4294967296 + lo END AS dh FROM hs),
        |  d AS (SELECT a.id, a.f, a.dh, bit_count(xor(a.dh, b.dh)) AS pd
        |    FROM h a LEFT JOIN h b ON b.id = a.id AND b.f = a.f - 1),
        |  vh AS (SELECT DISTINCT id, dh FROM d WHERE pd IS NULL OR pd > 8),
        |  sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS nf FROM vh GROUP BY 1),
        |  pairs AS (SELECT a.id AS l, b.id AS r, CAST(count(*) AS BIGINT) AS sh
        |    FROM vh a JOIN vh b ON a.dh = b.dh AND a.id < b.id
        |    GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT l AS left_id, r AS right_id, sh AS n_shared,
        |  sa.nf AS n_left, sb.nf AS n_right
        |FROM pairs JOIN sizes sa ON sa.id = l JOIN sizes sb ON sb.id = r""".stripMargin)),

    // RE-ENCODED video copies: each group of 3 = [original | lossy
    // re-encode (every frame perturbed — dHashes near but never equal) |
    // trim]. Plain exact-hash pairing misses the re-encode; clustering
    // the frame-hash vocabulary (Hamming ≤ 3 components) and pairing on
    // cluster representatives finds all three pairs per group
    QueryCase("mm_video_dedup_reenc", (s, dir) => {
      val ids = docIds(s, dir, 36)
        .withColumn("k", floor(col("doc_id") / 3).cast("long"))
        .withColumn("p", when(col("doc_id") % 3 === 1, 1).otherwise(0).cast("int"))
        .withColumn("n", when(col("doc_id") % 3 === 2, 2).otherwise(3).cast("int"))
      val media = Media.genPatternAvisPerturbed(ids, "doc_id", "k", "p", "n",
        w = 9, h = 8)
      val frames = Media.videoFrames(media, "doc_id", "content")
        .localCheckpoint(true)
      Media.videoNearPairsClustered(frames, "doc_id", "dhash",
        maxDist = 3, minShared = 2)
    },
    // re-encoded copies: the perturbed frame re-derived (pixel (0,0)
    // forced to 255/0 by the original (0,0)→(1,0) gradient sign when
    // p<>0 — the guaranteed one-bit dHash flip), all-pairs Hamming ≤ 3
    // over the hash VOCABULARY, recursive-CTE closure to min-hash
    // representatives (the operator's banded candidates +
    // connectedComponents are exact, so the all-pairs replay must
    // agree), then the videoNearPairs algebra on representatives
    Oracle(
      """WITH RECURSIVE ids AS (SELECT doc_id AS id, doc_id // 3 AS k,
        |    CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS p,
        |    CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 3 END AS n
        |  FROM documents WHERE doc_id < 36),
        |  fr AS (SELECT id, p, k * 8 + f AS kf, CAST(f AS INT) AS f
        |    FROM ids, unnest(range(0, 3)) tf(f) WHERE f < n),
        |  g AS (SELECT id, f, x, y,
        |      CASE WHEN p <> 0 AND x = 0 AND y = 0 THEN
        |        CASE WHEN (kf*31 + 3) % 256 > (kf*31) % 256 THEN 255 ELSE 0 END
        |      ELSE (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 END AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f),
        |  vh AS (SELECT DISTINCT id,
        |      CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |           ELSE hi * 4294967296 + lo END AS dh FROM hs),
        |  vocab AS (SELECT DISTINCT dh FROM vh),
        |  hp AS (SELECT a.dh AS ha, b.dh AS hb FROM vocab a JOIN vocab b
        |    ON a.dh < b.dh AND bit_count(xor(a.dh, b.dh)) <= 3),
        |  edges AS (SELECT ha AS s, hb AS d FROM hp UNION SELECT hb, ha FROM hp),
        |  walk AS (SELECT s AS h, s AS comp FROM edges
        |    UNION SELECT e.s, w.comp FROM edges e JOIN walk w ON e.d = w.h),
        |  rep AS (SELECT h, min(comp) AS r FROM walk GROUP BY h),
        |  vr AS (SELECT DISTINCT vh.id, COALESCE(rep.r, vh.dh) AS rp
        |    FROM vh LEFT JOIN rep ON vh.dh = rep.h),
        |  sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS nf FROM vr GROUP BY 1),
        |  pairs AS (SELECT a.id AS l, b.id AS r2, CAST(count(*) AS BIGINT) AS sh
        |    FROM vr a JOIN vr b ON a.rp = b.rp AND a.id < b.id
        |    GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT l AS left_id, r2 AS right_id, sh AS n_shared,
        |  sa.nf AS n_left, sb.nf AS n_right
        |FROM pairs JOIN sizes sa ON sa.id = l JOIN sizes sb ON sb.id = r2""".stripMargin)))
}
