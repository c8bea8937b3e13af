package graft.ext

import scala.jdk.CollectionConverters._

import graft.functions.{MinHashSignature, TextFunctions => T, VectorFunctions => V}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}

/** Deduplication for training-data pipelines: exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine. Each returns DataFrames (representative
  * rows or candidate pairs) so they compose with the rest of the engine.
  *
  * Scale shape: every variant is groupBy/join on a *hash*, never on raw
  * text — at 100 TB the shuffle carries 8-32 bytes per row, not documents.
  * LSH banding bounds the candidate-pair explosion to same-bucket pairs.
  */
object Dedup {

  /** Document-frequency cap without a hot-key funnel: drop postings whose
    * key appears more than `cap` times. Computed as a partial-aggregated
    * `groupBy.count` (one row per key per map task shuffles — a boilerplate
    * shingle in 1% of a 100 TB corpus contributes one tiny row per
    * partition, not its full posting list) followed by a broadcast anti-join
    * of the hot-key list, which is small by construction (only keys ABOVE
    * the cap). The postings relation itself never shuffles on an uncapped
    * hot key, and no single task ever materializes a hot key's postings —
    * unlike a `count().over(Window.partitionBy(key))`, which funnels every
    * posting of the hottest key into one task before filtering it.
    *
    * Deliberate trade: the count branch and the anti-join probe each
    * evaluate the postings relation, so the (codegen'd) explode computes
    * twice. Do NOT "fix" that by repartitioning the postings on `keyCols`
    * before calling — a pre-cap key-partitioned exchange routes the
    * hottest key's ENTIRE uncapped posting list through one reducer, which
    * is this function's whole reason to exist. Repartition only AFTER the
    * cap (per-key rows are then ≤ cap), where downstream joins need it.
    */
  private[ext] def dropHotKeys(postings: DataFrame, keyCols: Seq[String],
                               cap: Int): DataFrame = {
    val hot = postings.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > cap)
      .select(keyCols.map(col): _*)
    postings.join(broadcast(hot), keyCols, "left_anti")
  }

  /** The canonical 128-bit content hash every exact-dedup variant keys on.
    * Unambiguous content encoding: JSON delimits fields and keeps explicit
    * nulls, so ("ab","c")/("a","bc") and ("x",null)/(null,"x") don't collide
    * the way a plain concat would (collisions silently delete rows here).
    * Persist this column with a corpus ([[graft.streaming.Streams.ingestDedup]])
    * so increments never re-read content.
    */
  def contentHash(contentCols: Seq[String]): Column =
    md5(to_json(struct(contentCols.map(col): _*),
      Map("ignoreNullFields" -> "false").asJava))

  /** Exact dedup: keep the row with the smallest `idCol` per identical
    * content. Groups on a 128-bit content hash so the shuffle key is fixed
    * width (hash-groupBy; md5 collision odds are negligible at any corpus
    * size we target).
    */
  def exact(df: DataFrame, contentCols: Seq[String], idCol: String): DataFrame =
    firstPerKey(df, contentHash(contentCols), idCol)

  /** [[exact]] for callers that keep the content hash: `df` gains `__h`
    * ([[contentHash]]) and the window groups on that column, so each row
    * is hashed once. Same survivors as [[exact]].
    */
  def exactHashed(df: DataFrame, contentCols: Seq[String], idCol: String): DataFrame =
    firstPerKey(df.withColumn("__h", contentHash(contentCols)), col("__h"), idCol)

  private def firstPerKey(df: DataFrame, key: Column, idCol: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Cross-corpus exact-duplicate report: every (left id, right id) pair
    * whose content matches across two corpora — the "is my eval set
    * already inside my training set" / "how much do these two crawls
    * overlap" audit, at hash-join cost: both sides project down to
    * (id, hash-pair) before the join, so the shuffle carries fixed-width
    * keys regardless of document size, and content columns never move.
    * The join key is TWO independent hashes — md5 (128-bit) AND seeded
    * xxhash64 — because md5 collisions are practically constructible
    * (r12 advice: adversarial crawl content could forge or mask overlap
    * pairs in a contamination audit with a single chosen-prefix
    * collision); forging a pair now requires a simultaneous collision in
    * two unrelated hash families, and the shuffle key stays 24 bytes.
    * Not a byte-equality guarantee — callers needing cryptographic
    * certainty should equality-verify the surviving pairs against the
    * raw content (a bounded join: only the matched ids move).
    * Returns (left_id, right_id), one row per matching pair (a content
    * value with n left copies and m right copies yields n×m rows — the
    * complete evidence set; dedup either side first with [[exact]] if
    * only representative pairs are wanted).
    */
  def crossCorpusPairs(left: DataFrame, right: DataFrame,
                       contentCols: Seq[String], leftIdCol: String,
                       rightIdCol: String): DataFrame = {
    def keyed(df: DataFrame, idCol: String, outId: String) =
      df.select(col(idCol).as(outId), contentHash(contentCols).as("__h"),
        xxhash64(lit(0x9e3779b9L) +: contentCols.map(col): _*).as("__h2"))
    keyed(left, leftIdCol, "left_id")
      .join(keyed(right, rightIdCol, "right_id"), Seq("__h", "__h2"))
      .select("left_id", "right_id")
  }

  /** MinHash signature column: `numHashes` permutations approximated by
    * seeded xxhash64 over word `shingleN`-gram shingles. Deterministic
    * (seeds are literals). Empty-shingle docs get the hash of the raw text
    * so they only collide with identical text. Runs as the native
    * [[graft.functions.MinHashSignature]] kernel: one tokenize pass, each
    * shingle's bytes hashed once, inside whole-stage codegen.
    */
  def minhashSignature(text: Column, shingleN: Int = 3, numHashes: Int = 16): Column =
    Bridge.column(MinHashSignature(Bridge.expression(text), shingleN, numHashes))

  /** The distinct word-shingle hashes the exact-Jaccard stages count. */
  private def shingleSet(text: Column, shingleN: Int): Column =
    array_distinct(T.wordShingleHashes(text, shingleN))

  /** One-scan shingle preparation shared by the candidate and rescore
    * stages: (id, sig, __sh) — the MinHash signature the LSH banding keys
    * on and the distinct word-hash shingles the exact-Jaccard rescore
    * counts, both from ONE projection over the corpus, so a caller that
    * persists the result tokenizes the corpus once. Both columns are
    * native kernels, so the projection stays in whole-stage codegen.
    * Unpersisted use stays free: Catalyst prunes whichever column the
    * consumer doesn't read.
    */
  private[ext] def shingledFrame(df: DataFrame, idCol: String, textCol: String,
                                 shingleN: Int, numHashes: Int): DataFrame =
    df.select(col(idCol).as("id"),
      minhashSignature(col(textCol), shingleN, numHashes).as("sig"),
      shingleSet(col(textCol), shingleN).as("__sh"))

  /** MinHash + LSH banding: near-duplicate candidate pairs (idA < idB) whose
    * signatures collide in at least one band, with the estimated Jaccard
    * (fraction of agreeing minhashes). `bands * rowsPerBand` hashes are
    * computed; a pair is a candidate iff some band of `rowsPerBand`
    * consecutive hashes agrees — the classic S-curve knob.
    *
    * Plan shape: explode to (band, bucketHash) → ONE shuffle on the bucket,
    * shared (ReusedExchange) by three consumers: the hot-bucket count, the
    * broadcast anti-join that drops buckets above `maxBucketSize`, and both
    * sides of the within-bucket self-pairing → distinct pairs → signature
    * re-check. The signature (the dominant CPU cost here) is therefore
    * computed exactly once over the full corpus. Unlike the other
    * df-capped operators, the exact cap is applied AFTER the shuffle —
    * recomputing every signature for a pre-shuffle count pass would double
    * the dominant cost — and every post-shuffle consumer streams: the
    * count holds one counter per bucket and the anti-join probes a
    * broadcast set, so a hot bucket costs one task a bounded-memory scan,
    * never a window buffer.
    *
    * DEGENERATE buckets (a 100 TB corpus with millions of empty/boilerplate
    * documents sharing one signature) additionally get a sampled PRE-drop
    * before the exchange: bucket sizes are estimated from a seeded 1% doc
    * sample (signatures computed on the sample only — ~1% extra CPU) and
    * buckets whose ESTIMATE already exceeds the cap by a 3× safety factor
    * are anti-joined away before they ever shuffle, so the hottest bucket's
    * postings stop being a one-reducer straggler scan. The safety factor
    * (and a 10-sampled-row floor) makes a false positive — pre-dropping a
    * bucket the exact cap would have kept — require the binomial estimate
    * to overshoot 3×, vanishingly unlikely; everything in (cap, 3×cap] is
    * still dropped exactly by the post-shuffle cap, so results are
    * identical to the exact-only semantics.
    */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                            maxBucketSize: Int = 1000): DataFrame =
    minhashCandidatePairsShingled(
      shingledFrame(df, idCol, textCol, shingleN, bands * rowsPerBand),
      bands, rowsPerBand, maxBucketSize)

  /** [[minhashCandidatePairs]] → [[rescoreJaccard]] over ONE shared shingle
    * scan — the pair-level slice of the [[nearDupComponents]] composition,
    * for callers that want the confirmed (id_a, id_b, jaccard) pairs rather
    * than cluster labels. Composing the two public stages instead
    * tokenizes+shingles the corpus twice (each computes its own
    * [[shingledFrame]]) — a full redundant corpus scan at 100 TB. Results
    * are identical to the two-stage composition: both read the same
    * [[shingledFrame]] columns.
    */
  def minhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                      maxBucketSize: Int = 1000,
                      minJaccard: Double = 0.0): DataFrame = {
    val shingled = shingledCheckpointed(docs, idCol, textCol, shingleN,
      bands * rowsPerBand)
    rescoreJaccardShingled(shingled,
      minhashCandidatePairsShingled(shingled, bands, rowsPerBand, maxBucketSize),
      minJaccard)
  }

  /** (id, sig, band, bucket) LSH band postings of a [[shingledFrame]]
    * (whose `sig` has `bands * rowsPerBand` hashes) — the shape
    * [[buildNearIndex]] persists for the corpus and [[nearDedupIncremental]]
    * recomputes for each query batch, so stored and recomputed postings are
    * definitionally the same expression tree (identical text → identical
    * bucket, across builds and queries).
    */
  private[ext] def bandedSignatures(shingled: DataFrame, bands: Int,
                                    rowsPerBand: Int): DataFrame =
    shingled.select(col("id"), col("sig"),
        explode(transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(b.as("band"),
            xxhash64(array_join(transform(
              slice(col("sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand)),
              _.cast("string")), ","))
              .as("bucket")))).as("bb"))
      .select(col("id"), col("sig"), col("bb.band"), col("bb.bucket"))

  /** [[minhashCandidatePairs]] over a [[shingledFrame]] (persisted or not). */
  private[ext] def minhashCandidatePairsShingled(shingled: DataFrame,
                                                 bands: Int = 4, rowsPerBand: Int = 4,
                                                 maxBucketSize: Int = 1000): DataFrame = {
    val numHashes = bands * rowsPerBand
    def bandedOf(in: DataFrame): DataFrame = bandedSignatures(in, bands, rowsPerBand)

    val sampleP = 0.01
    val minSampled = math.max(3.0 * maxBucketSize * sampleP, 10.0)
    val estHot = bandedOf(shingled.sample(withReplacement = false, sampleP, 42L))
      .groupBy("band", "bucket").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minSampled)
      .select("band", "bucket")

    val banded = bandedOf(shingled)
      .join(broadcast(estHot), Seq("band", "bucket"), "left_anti")
      .repartition(col("band"), col("bucket"))

    val hot = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucketSize)
      .select("band", "bucket")
    val capped = banded.join(broadcast(hot), Seq("band", "bucket"), "left_anti")

    val l = capped.select(col("band"), col("bucket"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = capped.select(col("band"), col("bucket"), col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
          .cast("double") / numHashes).as("est_jaccard"))
      .groupBy("id_a", "id_b").agg(max("est_jaccard").as("est_jaccard"))
  }

  /** Exact word-n-gram Jaccard similarity for pairs sharing ≥1 shingle.
    * Inverted-index join: explode distinct shingles → pairs on shingle →
    * count shared → |A∩B| / (|A|+|B|-|A∩B|). Shuffle key is the shingle
    * hash; document size lookups broadcast when small, shuffle otherwise.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, minJaccard: Double = 0.0,
                        maxDocFreq: Int = 1000): DataFrame = {
    // eager localCheckpoint: tokenize+shingle the corpus ONCE. The plan
    // below reads `sh` four times (postings, the df-cap's count branch,
    // and one size lookup per pair side) and each lazy reference
    // re-evaluated the full shingle expression — measured 4× the scan CPU
    // of the actual similarity join (31 task-sec of 6.4 s wall at sf0.1,
    // guide §1.2 step 1: don't compute things twice). Stored form is
    // (id, array<bigint>) — the same bytes [[buildNearIndex]] persists per
    // corpus, spilled to executor disk when larger than memory.
    val sh = df.select(col(idCol).as("id"), shingleSet(col(textCol), shingleN).as("sh"))
      .localCheckpoint(true)
    val sizes = sh.select(col("id"), size(col("sh")).cast("bigint").as("n"))
    val inv0 = sh.select(col("id"), explode(col("sh")).as("sh_h"))
    // Hot-shingle (stop-shingle) cap: a boilerplate shingle shared by k docs
    // creates a k² pair blowup in the self-join below. Standard practice is a
    // document-frequency cutoff — drop shingles appearing in more than
    // `maxDocFreq` docs before pairing (they carry ~no Jaccard signal anyway;
    // note the dropped postings slightly under-count `inter` for affected
    // pairs — the price of boundedness at corpus scale). See [[dropHotKeys]]
    // for why this is a partial-agg + broadcast anti-join, not a count
    // window: the window shape funnels the hottest shingle's entire posting
    // list into one task before dropping it.
    // repartition on the join key AFTER the df-cap (capped postings are
    // skew-bounded; both self-join sides then consume one exchange). The
    // cap itself re-evaluates the explode for its count branch — 2× scan
    // CPU, accepted: pre-cap partitioning would funnel a hot shingle's
    // whole posting list through one reducer (see dropHotKeys)
    val inv = dropHotKeys(inv0, Seq("sh_h"), maxDocFreq).repartition(col("sh_h"))
    val shared = inv.as("a").join(inv.as("b"), col("a.sh_h") === col("b.sh_h"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    shared
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "inter", "n_a", "n_b", "jaccard")
  }

  /** Winnowing-fingerprint overlap pairs (Schleimer et al., SIGMOD'03 —
    * see `graft.functions.WinnowFingerprints`): pairs sharing at least
    * `minShared` selected rolling-hash fingerprints. Shift-robust (catches
    * copied passages at any offset, which word-shingle Jaccard dilutes)
    * and the signature is a few fingerprints per document, so the inverted
    * index is far smaller than a shingle index. Same bounded join shape:
    * explode fingerprints → document-frequency cap → self-join → count.
    * Defaults follow MOSS practice for text: k=25-char grams (small k makes
    * common English substrings collide across unrelated docs), w=16 →
    * any shared passage ≥ k+w-1 = 40 chars is guaranteed detected.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 25, w: Int = 16, minShared: Int = 1,
                  maxDocFreq: Int = 1000): DataFrame = {
    // fingerprint ONCE (eager checkpoint): the rolling-hash winnow is the
    // dominant per-row cost and the df-cap's count branch re-evaluated it
    // a second time over the full corpus (same single-scan rationale as
    // [[ngramJaccardPairs]]; a few selected fingerprints per doc, so the
    // stored form is far smaller than the corpus)
    val fps = df.select(col(idCol).as("id"),
      array_distinct(
        graft.functions.WinnowFingerprints.winnowCol(col(textCol), k, w)).as("fps"))
      .localCheckpoint(true)
    val inv0 = fps.select(col("id"), explode(col("fps")).as("fp"))
    // cap first, partition after — same skew rationale as ngramJaccardPairs
    val inv = dropHotKeys(inv0, Seq("fp"), maxDocFreq).repartition(col("fp"))
    inv.as("a").join(inv.as("b"), col("a.fp") === col("b.fp"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Exact word-n-gram Jaccard rescoring of a candidate-pair set — the
    * verification half of the LSH dedup pattern (candidates from MinHash /
    * SimHash / winnowing, precision restored by exact similarity on just
    * those pairs). The intersection count comes from an equijoin on
    * (doc id, shingle hash), so the work is linear in the candidates'
    * posting lists — never |A|×|B| per pair, never all-pairs.
    *
    * `pairs` needs (id_a, id_b) columns; rows whose docs share no shingle
    * are dropped (their Jaccard is 0, below any useful threshold).
    */
  def rescoreJaccard(docs: DataFrame, pairs: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3, minJaccard: Double = 0.0): DataFrame =
    // tokenize+shingle ONCE (eager checkpoint, pruned to the two columns
    // the rescore reads): the shingled frame feeds both posting sides and
    // both size lookups, so the lazy form re-tokenized the corpus up to
    // 4× per call (same single-scan rationale as [[ngramJaccardPairs]];
    // the composed pipelines already share [[shingledCheckpointed]])
    rescoreJaccardShingled(docs.select(col(idCol).as("id"),
        shingleSet(col(textCol), shingleN).as("__sh")).localCheckpoint(true),
      pairs, minJaccard)

  /** [[rescoreJaccard]] over a frame with (id, __sh) columns, such as a
    * [[shingledFrame]] (persisted or not).
    */
  private[ext] def rescoreJaccardShingled(shingled: DataFrame, pairs: DataFrame,
                                          minJaccard: Double = 0.0): DataFrame = {
    val sh = shingled.select(col("id"), col("__sh").as("sh"))
    val sizes = sh.select(col("id"), size(col("sh")).cast("bigint").as("n"))
    val inv = sh.select(col("id"), explode(col("sh")).as("sh_h"))
    // public API over arbitrary pair sets: duplicate (id_a,id_b) rows would
    // double-count the shingle intersection (jaccard could exceed 1.0)
    val inter = pairs.select("id_a", "id_b").distinct()
      .join(inv.withColumnRenamed("id", "id_a"), "id_a")
      .join(inv.withColumnRenamed("id", "id_b"), Seq("id_b", "sh_h"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact-equality rescoring of a candidate-pair set: keep only pairs whose
    * content is identical (the deterministic end of the LSH verify spectrum
    * — e.g. SimHash hamming-0 candidates verified as true exact duplicates).
    * Compares the same 128-bit JSON-delimited content hash as [[exact]], so
    * the join carries 16-byte hashes, not documents.
    */
  def rescoreExact(docs: DataFrame, pairs: DataFrame, idCol: String,
                   contentCols: Seq[String]): DataFrame = {
    val h = docs.select(col(idCol).as("id"),
      md5(to_json(struct(contentCols.map(col): _*),
        Map("ignoreNullFields" -> "false").asJava)).as("ch"))
    pairs.select("id_a", "id_b").distinct()
      .join(h.withColumnRenamed("id", "id_a").withColumnRenamed("ch", "ch_a"), "id_a")
      .join(h.withColumnRenamed("id", "id_b").withColumnRenamed("ch", "ch_b"), "id_b")
      .filter(col("ch_a") === col("ch_b"))
      .select("id_a", "id_b")
  }

  /** Per-document duplicated-span statistics: for each document, how many of
    * its distinct word `shingleN`-grams also appear in at least `minDf`
    * documents total (itself included). High `dup_pm` flags boilerplate-
    * heavy documents — navigation chrome, license headers, templated pages —
    * the SPAN-level signal that pairwise dedup misses (a page can be 60%
    * boilerplate yet near-duplicate of nothing). Filter on `dup_pm` before
    * pairwise dedup to shrink both the corpus and the hot-shingle tail.
    *
    * Plan shape: one explode → one exchange on the 8-byte shingle hash,
    * shared (ReusedExchange) by the df aggregation and the semi-join that
    * filters postings to `df ≥ minDf` shingles → one groupBy id. Unlike a
    * count window partitioned by the shingle, nothing buffers a hot
    * shingle's posting list: the aggregation holds one counter per distinct
    * key and the sort-merge semi-join streams the postings (its right side
    * is one row per qualifying shingle — too common a set to broadcast at
    * minDf=2). Shuffle carries hashes, never text; empty documents come
    * back with zero counts via the left join.
    */
  def spanStats(df: DataFrame, idCol: String, textCol: String,
                shingleN: Int = 3, minDf: Int = 2): DataFrame = {
    require(minDf >= 1)
    // tokenize+shingle ONCE (r20, guide §1.2): `sh` feeds the exploded
    // posting chain AND the per-doc size lookup (`nSh`) — two lazy
    // references, two full shingle evaluations before this checkpoint.
    // Stored form is the compact (id, distinct-hash array).
    val sh = df.select(col(idCol).as("id"), shingleSet(col(textCol), shingleN).as("sh"))
      .localCheckpoint(true)
    val inv = sh.select(col("id"), explode(col("sh")).as("sh_h"))
    // one explicit repartition on the shingle hash; the df aggregation AND
    // the semi-join left side both consume that same exchange (partitioning
    // already satisfies both), so the explode runs once and no operator
    // buffers a key's postings — the semi-join streams them, the agg holds
    // one counter per distinct key
    val inv2 = inv.repartition(col("sh_h"))
    val dup = inv2.groupBy("sh_h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf).select("sh_h")
    val counted = inv2.join(dup, Seq("sh_h"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("dup_shingles"))
    // n_shingles needs no second pass over the postings: it is the size of
    // the per-document distinct-shingle array
    val nSh = sh.select(col("id"), size(col("sh")).cast("bigint").as("n_shingles"))
    df.select(col(idCol).as("id"))
      .join(nSh, Seq("id"), "left").join(counted, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("dup_shingles"), lit(0L)).as("dup_shingles"))
      .withColumn("dup_pm",
        when(col("n_shingles") === 0, 0L).otherwise(
          floor(col("dup_shingles") * 1000.0 / col("n_shingles") + 0.5).cast("bigint")))
  }

  /** Drop every `fresh` row whose `keyCol` value already exists in
    * `stored` — the exact-identity admission primitive every continuous
    * ingest shares, shaped so the STORED side is scanned once and never
    * shuffled. It runs eagerly, in three steps:
    *  1. `fresh` is pinned (`localCheckpoint`, eager), so its upstream
    *     plan (parse, in-batch dedup window) runs once. The pin keeps the
    *     plan's coalesced partitioning: a micro-batch stays one partition
    *     and lands as one file;
    *  2. the pinned non-null keys broadcast INTO the stored key scan as a
    *     left-semi join, and the stored keys that hit are collected to the
    *     driver, deduplicated per partition (no `distinct` shuffle). This
    *     hit set holds at most the batch's distinct keys per stored
    *     partition;
    *  3. the result is the pin filtered by `NOT IN` the hit set. It reads
    *     only the pin, never `stored` again, so a caller may write it
    *     twice, or append to `stored`, without a second probe.
    * A direct `fresh LEFT ANTI stored` cannot broadcast (anti cannot
    * broadcast its left, and the stored side outgrows the threshold on
    * day one), so it degenerates to a sort-merge join that re-shuffles the
    * whole persisted key column every micro-batch — ~16 GB moved per batch
    * at 1B stored 16-byte hashes, daily, forever. This shape moves
    * O(batch) bytes at any corpus size; the same economics as
    * [[graft.ext.Media.dhashDupIds]] on the media side. Do not move the
    * hit set's `IN` onto the stored scan instead of the semi join: parquet
    * pushes the list down and the scan costs several times the join.
    * NULL keys never equi-match, so null-keyed fresh rows are always
    * admitted — same semantics as the plain anti-join, and as
    * [[admitNewByUniqueKey]] (the URL ingest's unparseable-URL passthrough
    * relies on it).
    *
    * The broadcast assumes `fresh` is BOUNDED (a micro-batch): its key set
    * must fit the driver and Spark's 8 GB broadcast hard limit. Streaming
    * call sites satisfy that by construction; for batch callers whose
    * increment is an arbitrary input, pass a finite `maxBroadcastKeys` —
    * the pinned distinct keys are counted, and past the threshold the
    * admission falls back to the plain shuffled left-anti join: slower
    * (the stored key column shuffles once) but it completes on any
    * increment size instead of failing the broadcast.
    */
  def admitNewByKey(fresh: DataFrame, stored: DataFrame, keyCol: String,
                    maxBroadcastKeys: Long = Long.MaxValue): DataFrame = {
    val pinned = fresh.localCheckpoint(true)
    val key = pinned(keyCol)
    if (maxBroadcastKeys != Long.MaxValue &&
        pinned.select(key).distinct().count() > maxBroadcastKeys) {
      // the using-column join moves the key first; keep fresh's order
      pinned.join(stored.select(col(keyCol)), Seq(keyCol), "left_anti")
        .select(pinned.columns.map(pinned(_)): _*)
    } else withoutHits(pinned, keyCol, storedHits(pinned, stored, keyCol))
  }

  /** [[admitNewByKey]] (broadcast shape) over ONE pin of `fresh`, probed
    * by each `(stored, key)` of `probes` in turn: each probe broadcasts
    * the pin already filtered by the earlier probes' hits. Every `key`
    * must be unique among the batch's rows — what [[exactHashed]] leaves
    * in `__h`, or an id after a `groupBy`. Null keys never match, so
    * null-keyed rows are admitted and counted.
    *
    * Returns the admitted rows with their count, with no job beyond the
    * pin and the probes: the pin's own job counts the batch
    * ([[graft.core.Pipeline.pin]]), and rows are admitted iff that count
    * exceeds the sum of the collected hits. The count is exact because
    * each hit removes exactly one row: a hit is a distinct non-null stored
    * key equal to the key of some row still in the filtered pin, and a
    * unique key names one row; a null key is never a hit; and a row a
    * probe removes is gone from every later probe's broadcast, so no row
    * is removed twice. This lets an ingest skip an all-duplicate batch's
    * write, which would otherwise leave a schema-only parquet file per
    * trigger. The pin's count can only err high (a re-run task), which
    * costs that empty write and never drops an admitted row.
    */
  private[graft] def admitNewByUniqueKey(fresh: DataFrame,
                                         probes: (DataFrame, String)*): graft.core.Pipeline.Pinned =
    probes.foldLeft(graft.core.Pipeline.pin(fresh)) { case (p, (stored, key)) =>
      val hits = storedHits(p.df, stored, key)
      p.copy(df = withoutHits(p.df, key, hits), rows = p.rows - hits.length)
    }

  /** The distinct stored keys that match a pinned batch's keys: the
    * batch's non-null keys broadcast into one scan of `stored`,
    * deduplicated per partition (no `distinct` shuffle), collected.
    */
  private def storedHits(pinned: DataFrame, stored: DataFrame,
                         keyCol: String): Array[Any] = {
    val key = pinned(keyCol)
    val probe = stored.select(col(keyCol))
      .join(broadcast(pinned.select(key).where(key.isNotNull)), Seq(keyCol), "left_semi")
    probe.mapPartitions(_.toSet.iterator)(Encoders.row(probe.schema))
      .collect().map(_.get(0)).distinct
  }

  private def withoutHits(pinned: DataFrame, keyCol: String,
                          hits: Array[Any]): DataFrame = {
    val key = pinned(keyCol)
    if (hits.isEmpty) pinned else pinned.where(key.isNull || !key.isin(hits: _*))
  }

  /** Incremental exact dedup: admit only the rows of `batch` whose content
    * is new — not already in `corpus`, and not earlier in the batch itself
    * (first-by-`idCol` wins, as in [[exact]]). This is the daily-ingest
    * shape: the corpus never rescans its content, only its content-hash
    * column is read, and that column is never shuffled — the admission
    * goes through [[admitNewByKey]] (batch hashes broadcast into the
    * stored side, bounded hit set collected back), so each increment
    * moves O(batch) bytes at any corpus size. The broadcast assumes the
    * increment is micro-batch-sized; when it is an arbitrary batch input,
    * pass a finite `maxBroadcastKeys` to fall back to the shuffled
    * anti-join past that many distinct content hashes (see
    * [[admitNewByKey]]).
    */
  def incrementalExact(batch: DataFrame, corpus: DataFrame,
                       contentCols: Seq[String], idCol: String,
                       maxBroadcastKeys: Long = Long.MaxValue): DataFrame = {
    val fresh = exactHashed(batch, contentCols, idCol)
    val seen = corpus.select(contentHash(contentCols).as("__h"))
    admitNewByKey(fresh, seen, "__h", maxBroadcastKeys).drop("__h")
  }

  /** SimHash near-dup candidate pairs: 64-bit simhash split into `bands`
    * bit-bands; pairs agreeing on any band are candidates, then filtered by
    * exact Hamming distance ≤ maxHamming. Same explode-shuffle shape as
    * MinHash LSH.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   bands: Int = 4, maxHamming: Int = 8): DataFrame = {
    val bits = 64 / bands
    // native codegen'd simhash expression: zero shuffle, scan-speed hashing
    // (the declarative higher-order form is CodegenFallback — see
    // graft.functions.SimHash64Text)
    val withH = df.select(col(idCol).as("id"),
      graft.functions.SimHash64Text.simhash64Native(col(textCol)).as("h"))
    val banded = withH.select(col("id"), col("h"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          call_function("shiftright", col("h"), b * lit(bits))
            .bitwiseAND(lit((1L << bits) - 1)).as("key")))).as("bb"))
      .select(col("id"), col("h"), col("bb.band"), col("bb.key"))
    val l = banded.select(col("band"), col("key"), col("id").as("id_a"), col("h").as("h_a"))
    val r = banded.select(col("band"), col("key"), col("id").as("id_b"), col("h").as("h_b"))
    l.join(r, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), T.hamming64(col("h_a"), col("h_b")).as("hamming"))
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over a candidate-pair graph — the step between
    * "near-dup pairs" and "keep one document per duplicate CLUSTER".
    * Per round: (1) min-label propagation — each node adopts the smallest
    * label among itself and its neighbors — then (2) pointer jumping — each
    * node re-reads the current label OF its label (path compression). The
    * jump doubles the propagation reach per round, so a chain of diameter D
    * converges in O(log D) rounds (reach ≥ 2^r), not D rounds as plain
    * neighbor-min would; near-clique duplicate clusters still converge in
    * 2-3. Each round is two hash-join shuffles keyed on id/label;
    * `localCheckpoint` cuts the lineage so plans don't grow with rounds.
    * Convergence is exact and type-agnostic (did ANY label change this
    * round — one limit-1 scan over the checkpointed round result, no
    * numeric-id assumption); if `maxIter` rounds pass without a fixpoint
    * the result would be silently split components, so this THROWS instead
    * of returning wrong data. Returns (id, comp) where comp = min id of
    * the component.
    *
    * Fault tolerance: the default `localCheckpoint` stores round results
    * only on executor block managers — fast, but losing an executor
    * mid-iteration fails the job (the truncated lineage cannot recompute).
    * For cluster runs pass `checkpointDir` (HDFS/S3 path): rounds then use
    * RELIABLE `checkpoint()`, surviving executor loss at the cost of one
    * distributed write per round. Local/test runs keep the fast default.
    *
    * The SparkContext checkpoint dir is GLOBAL state; this sets it to a
    * per-call subdirectory of `checkpointDir` and restores any previously
    * configured dir on exit, so concurrent application checkpoints are
    * never redirected here. Snapshots accumulate one full label table per
    * round, so after convergence every round's snapshot except the final
    * labels' (which the returned lazy DataFrame still reads) is deleted;
    * on non-convergence the whole subdirectory goes, since the throw
    * discards every result. Nothing leaks per invocation beyond the one
    * live snapshot backing the returned frame.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20,
                          checkpointDir: Option[String] = None): DataFrame =
    smallGraphComponents(pairs, idA, idB, SmallGraphEdgeCap).getOrElse(
      iterativeComponents(pairs, idA, idB, maxIter, checkpointDir))

  /** Edge cap for the driver-side union-find fast path. 2^19 edges ≈ a few
    * tens of MB of collected rows — bounded driver work by construction,
    * far below any broadcast-side table this engine already collects.
    */
  private[ext] val SmallGraphEdgeCap = 1 << 19

  /** Driver-side union-find over a SMALL pair graph — same (id, comp =
    * min id of component) contract as the distributed pointer-jumping
    * loop, in ONE bounded Spark job instead of O(log D) rounds × 3 jobs.
    *
    * Why it exists (r19 measurement): under AQE every exchange of every
    * round is its own Spark job, so the iterative path costs 15-20 jobs
    * even on a two-round graph; the confirmed near-dup pair set of a
    * daily batch is tiny next to the corpus (it is the DUPLICATES, not
    * the data), so the labels are cheaper to compute where the pair set
    * already fits: on the driver. `limit(cap+1).collect()` bounds driver
    * memory by construction — if more than `cap` edges exist the collect
    * stops there and the distributed path runs instead (one wasted
    * bounded job, never an unbounded collect). Falls back too for
    * non-integral id types (Catalyst's UTF8String byte order differs
    * from java.lang.String's UTF-16 order on supplementary characters —
    * the fast path must be bit-identical, so it only claims the types
    * where `least()` and Java agree) and for null ids (null never
    * equi-joins in the distributed path; preserving that corner exactly
    * is not worth replicating).
    *
    * Union-find with a final min-per-root pass computes exactly the
    * distributed fixpoint: comp(id) = min id reachable from id. Result
    * is a LocalRelation, so downstream joins against it broadcast.
    */
  private[ext] def smallGraphComponents(pairs: DataFrame, idA: String,
                                        idB: String, cap: Int): Option[DataFrame] = {
    val spark = pairs.sparkSession
    val sel = pairs.select(col(idA), col(idB))
    val dt = sel.schema.fields(0).dataType
    val integral = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!integral || sel.schema.fields(1).dataType != dt) return None
    val rows = sel.limit(cap + 1).collect()
    if (rows.length > cap) return None
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    // union-find, then min-label per root — identical to the fixpoint
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    rows.foreach { r =>
      val a = r.get(0); val b = r.get(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(ra, rb)
    }
    val minOf = new java.util.HashMap[Any, Any]()
    val it0 = parent.keySet().iterator()
    while (it0.hasNext) {
      val k = it0.next(); val r = find(k)
      val cur = minOf.get(r)
      if (cur == null ||
          k.asInstanceOf[Number].longValue < cur.asInstanceOf[Number].longValue)
        minOf.put(r, k)
    }
    val out = new java.util.ArrayList[Row](parent.size())
    val it1 = parent.keySet().iterator()
    while (it1.hasNext) {
      val k = it1.next()
      out.add(Row(k, minOf.get(find(k))))
    }
    val schema = StructType(Seq(StructField("id", dt), StructField("comp", dt)))
    Some(spark.createDataFrame(out, schema))
  }

  /** The distributed pointer-jumping loop behind [[connectedComponents]]
    * (the only path at > [[SmallGraphEdgeCap]] edges).
    */
  private[ext] def iterativeComponents(pairs: DataFrame, idA: String,
                                       idB: String, maxIter: Int,
                                       checkpointDir: Option[String]): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    val priorDir = sc.getCheckpointDir
    val callDir = checkpointDir.map(d =>
      s"$d/cc-${java.util.UUID.randomUUID()}")
    callDir.foreach(sc.setCheckpointDir)
    // one knob for every lineage cut below: reliable when a dir is given
    def cut(df: DataFrame): DataFrame =
      if (callDir.isDefined) df.checkpoint() else df.localCheckpoint()
    /** Hadoop-FS ops keep cleanup filesystem-agnostic (HDFS/S3/local). */
    def fs(path: String) = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(sc.hadoopConfiguration)
    def deleteCallDir(): Unit = callDir.foreach { d =>
      fs(d).delete(new org.apache.hadoop.fs.Path(d), true)
    }
    /** Drop every round snapshot except the newest `rdd-N` (largest N =
      * the final labels' checkpoint — RDD ids are monotonic). Reliable
      * checkpoints otherwise leak one label-table snapshot per round.
      */
    def pruneStaleRounds(): Unit = callDir.foreach { d =>
      val f = fs(d)
      val rddDirs = f.globStatus(new org.apache.hadoop.fs.Path(s"$d/*/rdd-*"))
      if (rddDirs != null && rddDirs.length > 1) {
        val keep = rddDirs.maxBy(_.getPath.getName.stripPrefix("rdd-").toLong)
        rddDirs.foreach { s =>
          if (s.getPath != keep.getPath) f.delete(s.getPath, true)
        }
      }
    }
    try {
    val fwd = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    val edges = cut(fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var labels = cut(edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbr = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("__nc")), "dst")
        .groupBy("src").agg(min("__nc").as("__minNbr"))
      val stepped = cut(labels
        .join(nbr.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"), col("comp").as("__prev"),
          least(col("comp"), coalesce(col("__minNbr"), col("comp"))).as("comp")))
      // a step-fixpoint IS the global fixpoint (edges are symmetric: if no
      // node improved, every edge has equal labels on both ends), so the
      // converged round skips the jump join entirely
      converged = stepped.filter(col("comp") =!= col("__prev")).isEmpty
      labels =
        if (converged) stepped.drop("__prev")
        else {
          // pointer jump through the *post-step* labels: comp := label[comp]
          // (labels only decrease, so the lookup can only improve the label);
          // stepped is checkpointed above so the self-join reads it twice
          // instead of recomputing the neighbor join twice
          cut(stepped
            .join(stepped.select(col("id").as("comp"), col("comp").as("__jump")),
              Seq("comp"), "left")
            .select(col("id"),
              least(col("comp"), coalesce(col("__jump"), col("comp"))).as("comp")))
        }
      iter += 1
    }
    if (!converged) {
      deleteCallDir() // every snapshot is garbage once we throw
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — the " +
          "pair graph has a component of diameter > ~2^" + maxIter +
          "; raise maxIter (results would otherwise be silently split)")
    }
    pruneStaleRounds()
    labels
    } finally {
      // restore the application's configured dir (or leave ours if none
      // was set — SparkContext has no public unset)
      priorDir.foreach(sc.setCheckpointDir)
    }
  }

  /** One representative per duplicate cluster: drops every document whose
    * component label is a smaller id (singletons — docs in no pair — are
    * kept as their own representative). Compose after any candidate+rescore
    * pipeline to materialize the deduplicated corpus.
    */
  def representatives(docs: DataFrame, components: DataFrame,
                      idCol: String): DataFrame = {
    val dupes = components.filter(col("comp") =!= col("id"))
      .select(col("id").as(idCol))
    docs.join(dupes, Seq(idCol), "left_anti")
  }

  /** The cluster step of every dedup pipeline here: pins the (id_a, id_b)
    * pairs with their count ([[graft.core.Pipeline.pin]], the pin's own
    * job) and labels the pin with [[connectedComponents]]. None when the
    * pin counted no pair, so an input with no duplicates spends no job on
    * the labels. The pair plan runs once: the labels read only the pin.
    */
  private def clusters(pairs: DataFrame,
                       checkpointDir: Option[String]): Option[DataFrame] = {
    val pinned = graft.core.Pipeline.pin(pairs.select("id_a", "id_b"))
    if (pinned.rows == 0L) None
    else Some(connectedComponents(pinned.df, checkpointDir = checkpointDir))
  }

  /** The (id, verdict) classification of the incremental dedups: an id of
    * `ids` whose within-batch cluster ([[clusters]] over `pairs`) has a
    * smaller id is `dup_batch`, as in [[representatives]]; a kept id among
    * `crossHits.id_a` (batch ids matched in the stored corpus) is
    * `dup_corpus`; the rest are `admitted`.
    */
  private def verdicts(ids: DataFrame, pairs: DataFrame, crossHits: DataFrame,
                       checkpointDir: Option[String]): DataFrame = {
    val comp = clusters(pairs, checkpointDir).fold(
        ids.select(col("id"), col("id").as("comp"))) { c =>
      ids.join(c, Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    }
    val crossDup = crossHits.select(col("id_a").as("id")).distinct()
      .withColumn("__x", lit(true))
    comp.join(crossDup, Seq("id"), "left")
      .select(col("id"),
        when(col("comp") =!= col("id"), lit("dup_batch"))
          .when(col("__x"), lit("dup_corpus"))
          .otherwise(lit("admitted")).as("verdict"))
  }

  /** Materialized [[shingledFrame]]: `localCheckpoint(true)` instead of
    * `persist()` (r19). Storage footprint is the same — persist's first
    * action materialized every column anyway — but the checkpoint also
    * TRUNCATES THE LOGICAL PLAN to a LogicalRDD. The shingled frame is
    * referenced 4-6× per composed dedup plan (sample pre-drop, banding,
    * rescore postings, size lookups, batch-vs-corpus banding), and each
    * unmaterialized reference would recompute the signature and shingle
    * kernels over the corpus and embed the upstream plan; before r19 the
    * measured cost was DRIVER PLANNING: `dedup_near_classify` spent
    * ~4.4 s of its ~12 s wall in two zero-job gaps analyzing a 274 KB
    * plan (guide §7.3 — very large plans; §3.3 — localCheckpoint to
    * truncate). Trade: lineage is gone, so an executor loss mid-pipeline
    * fails the job instead of recomputing — same trade the pipeline
    * already accepted for `confirmed.localCheckpoint` and the CC rounds.
    * The stored form is compact: per document its id, `numHashes` longs
    * of signature and its distinct shingle hashes.
    *
    * Storage release (r20, guide §5): the checkpointed RDD cannot be
    * unpersisted here — the RETURNED frame still references it lazily and
    * the caller consumes it after this function returns. Release is by
    * reachability: once the caller's terminal action drops the frame, the
    * ContextCleaner unpersists the RDD at the next GC (Bench forces one
    * per query; a long-lived driver session holds at most the checkpoints
    * of the pipelines still in scope). Callers that keep many dedup
    * results alive simultaneously hold their checkpoints alive too — drop
    * references (or collect results) to bound executor storage.
    */
  private def shingledCheckpointed(docs: DataFrame, idCol: String,
                                   textCol: String, shingleN: Int,
                                   numHashes: Int): DataFrame =
    shingledFrame(docs, idCol, textCol, shingleN, numHashes).localCheckpoint(true)

  /** Candidates → exact-Jaccard rescore → connected components over ONE
    * shared shingle scan — the composition [[nearDedup]] runs before
    * choosing representatives, exposed for callers that want the cluster
    * labels themselves. Composing the public `minhashCandidatePairs` +
    * `rescoreJaccard` instead tokenizes+shingles the corpus twice (each
    * computes its own shingle frame) — a full redundant corpus scan at
    * 100 TB. Returns (id, comp), non-singletons only (same contract as
    * [[connectedComponents]]).
    */
  def nearDupComponents(docs: DataFrame, idCol: String, textCol: String,
                        minJaccard: Double = 0.8, shingleN: Int = 3,
                        bands: Int = 4, rowsPerBand: Int = 4,
                        maxBucketSize: Int = 1000,
                        checkpointDir: Option[String] = None): DataFrame = {
    val shingled = shingledCheckpointed(docs, idCol, textCol, shingleN,
      bands * rowsPerBand)
    val confirmed = rescoreJaccardShingled(shingled,
      minhashCandidatePairsShingled(shingled, bands, rowsPerBand, maxBucketSize),
      minJaccard).localCheckpoint(true)
    connectedComponents(confirmed, checkpointDir = checkpointDir)
  }

  /** The whole near-dup pipeline as one call (and one config op):
    * MinHash+LSH candidates → exact-Jaccard rescore ≥ `minJaccard` →
    * connected components → one representative (min id) per cluster.
    * Every stage keeps its documented scale bound — banded candidates,
    * rescore linear in candidate posting lists, O(log D) label rounds —
    * so this composition is 100 TB-safe end to end. Returns the KEPT
    * documents with their original schema.
    *
    * Cost shape: the input is read exactly ONCE. One local checkpoint
    * holds the input's own columns next to the signature (`__sig`) and
    * the distinct shingle hashes (`__sh`); the pair pipeline reads its
    * (id, sig, __sh) projection and the kept rows come from the same
    * checkpoint, so an expensive upstream plan (a clean + quality filter)
    * never runs twice. The confirmed pairs are pinned with their count
    * ([[clusters]]): the pin's own job says whether any pair exists, and
    * the component labels read the pin, so the candidates→rescore plan
    * runs once and an input with no near-dups spends no job on labels.
    */
  def nearDedup(docs: DataFrame, idCol: String, textCol: String,
                minJaccard: Double = 0.8, shingleN: Int = 3,
                bands: Int = 4, rowsPerBand: Int = 4,
                maxBucketSize: Int = 1000,
                checkpointDir: Option[String] = None): DataFrame = {
    val withShingles = docs.select(col("*"),
        minhashSignature(col(textCol), shingleN, bands * rowsPerBand).as("__sig"),
        shingleSet(col(textCol), shingleN).as("__sh"))
      .localCheckpoint(true)
    val shingled = withShingles.select(col(idCol).as("id"), col("__sig").as("sig"),
      col("__sh"))
    val candidates = minhashCandidatePairsShingled(shingled,
      bands, rowsPerBand, maxBucketSize)
    val kept = withShingles.drop("__sig", "__sh")
    clusters(rescoreJaccardShingled(shingled, candidates, minJaccard), checkpointDir)
      .fold(kept)(representatives(kept, _, idCol))
  }

  /** [[nearDedup]] for the embedding modality: sign-LSH candidate pairs at
    * `threshold` cosine → connected components → one representative
    * (min id) per cluster. Same bounded shapes as the text pipeline
    * (banded multi-table LSH, O(log D) label rounds); identical vectors
    * collide in every table, so exact-duplicate recall is total. The
    * pairs are pinned with their count ([[clusters]]), so the LSH pair
    * plan runs once.
    */
  def nearDedupEmbeddings(docs: DataFrame, idCol: String, vecCol: String,
                          dim: Int, threshold: Double = 0.99,
                          bitsPerTable: Int = 16, tables: Int = 4,
                          checkpointDir: Option[String] = None): DataFrame =
    clusters(embeddingDupPairs(docs, idCol, vecCol, dim, threshold,
        bitsPerTable, tables), checkpointDir)
      .fold(docs)(representatives(docs, _, idCol))

  /** Embedding-cosine near-dup pairs: banded (multi-table) sign-LSH to bound
    * the pair space, exact cosine within buckets, keep pairs ≥ threshold.
    *
    * Scale shape: `tables` independent hash tables of `bitsPerTable` sign
    * bits each (different hyperplane seeds). A pair is a candidate iff it
    * collides in ANY table — the same band construction as MinHash LSH, so
    * recall comes from table count while 2^bitsPerTable buckets per table
    * keeps every within-bucket self-join small. A single-table/few-bits
    * setup (256 global buckets) would go quadratic at corpus scale.
    */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                        threshold: Double, bitsPerTable: Int = 16,
                        tables: Int = 4): DataFrame = {
    val withB = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          V.signLshBucket(col(vecCol), bitsPerTable, dim, seed = 42 + t)
            .as("bucket"))): _*)).as("tb"))
      .select(col("id"), col("v"), col("tb.tbl"), col("tb.bucket"))
    val l = withB.select(col("tbl"), col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val r = withB.select(col("tbl"), col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    l.join(r, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", V.cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
      .groupBy("id_a", "id_b").agg(max("cos").as("cos"))
  }

  // ---- clustered semantic dedup (SemDeDup shape) -----------------------

  /** Deterministic anchors for [[semanticDedup]]'s space partition: the `k`
    * corpus vectors whose ids sort first by (md5(id), id) — the repo's
    * standard hash-order sample (same idiom as `Curation`'s reproducible
    * sampling), so the partition is identical across runs, partitionings,
    * and engines (the DuckDB oracle re-derives the very same anchors with
    * `ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT k`). Cells are numbered
    * 0..k-1 in that hash order. The collect is k vectors — the same bounded
    * driver-side footprint class as an IVF coarse-centroid table, and the
    * `orderBy.limit(k)` plans as a distributed TakeOrdered (per-partition
    * top-k merged on the driver), never a global sort.
    *
    * Hash-order anchors, not k-means: trained centroids would partition the
    * space marginally better, but their iterative fit is
    * seed/order-sensitive — not replicable bit-for-bit by an external
    * oracle, and not stable across corpus repartitionings. SemDeDup's
    * guarantees only need SOME fixed partition with small cells; k scales
    * it (the paper's own clustering is an efficiency device, not a
    * semantics carrier).
    */
  private[graft] def semanticAnchors(df: DataFrame, idCol: String,
                                   vecCol: String, k: Int): Array[Array[Double]] = {
    require(k > 0, s"anchor count must be positive, got $k")
    df.select(col(idCol).as("__rawid"),
        md5(col(idCol).cast("string")).as("__h"),
        col(vecCol).cast("array<double>").as("__v"))
      .orderBy(col("__h"), col("__rawid"))
      .limit(k)
      .select("__v").collect().map(_.getSeq[Double](0).toArray)
  }

  /** Assign every row its anchor cell: argmax cosine over the anchor
    * literals, ties to the LOWEST cell index. A pure per-row projection —
    * k codegen'd [[graft.functions.VectorFunctions.cosine]] calls compared
    * via struct ordering (`greatest` on (cos, -cell) structs), ZERO
    * shuffle — which is what makes the SemDeDup shape viable at 100 TB:
    * the only exchange in the whole pipeline is the within-cell pair
    * join's hash partition on `cell`.
    */
  private[graft] def assignSemanticCells(df: DataFrame, vecCol: String,
                                       anchors: Array[Array[Double]]): DataFrame = {
    val scored = anchors.zipWithIndex.map { case (a, i) =>
      struct(V.cosine(col(vecCol), typedLit(a.toSeq)).as("cos"),
        lit(-i).as("negCell"))
    }
    val best =
      if (scored.length == 1) scored.head
      else greatest(scored: _*)
    df.withColumn("cell", -best.getField("negCell"))
  }

  /** Above this anchor count, cell assignment switches from the
    * literal-argmax projection ([[assignSemanticCells]] — k inlined cosine
    * expressions; ideal plan, hostile to codegen in the thousands) to the
    * per-partition argmax loop ([[assignSemanticCellsPartition]]). Both
    * break ties identically (lowest cell), proven equivalent by spec.
    */
  private val LiteralAssignMaxK = 128

  /** [[assignSemanticCells]] for LARGE k — the regime SemDeDup actually
    * runs at web scale (the paper uses ~50k clusters). A broadcast-join +
    * `max_by` form materializes rows × k joined rows before reducing them —
    * row overhead (~µs each), not arithmetic, dominates, which priced a
    * 200k-row × k=6400 assignment in HOURS. Here the anchors broadcast as
    * a plain array and each partition runs the argmax as a tight loop:
    * rows × k × dim fused multiply-adds, zero intermediate rows, zero
    * shuffle — the CPU shape of the SemDeDup paper's GPU k-means-assign
    * step, and the genuine per-partition-imperative case `mapPartitions`
    * exists for (no Expression can reduce over an unbounded anchor set
    * without materializing the pairing). Arithmetic replicates
    * [[graft.functions.CosineSimilarity]] exactly (left-to-right
    * accumulation, per-element double widening, `dot/sqrt(na*nb)`,
    * zero-norm → 0.0) and ties break to the lowest cell by
    * strictly-greater comparison — bit-identical verdicts to the literal
    * argmax, proven by spec. Null vector elements read as 0.0, same as the
    * native expression.
    */
  private[graft] def assignSemanticCellsPartition(df0: DataFrame,
                                                  anchors: Array[Array[Double]]): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    require(anchors.nonEmpty, "anchor set must be non-empty")
    val vIdx = df0.schema.fieldIndex("v")
    df0.schema(vIdx).dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => ()
      case t => throw new IllegalArgumentException(
        s"v must be array<float> or array<double>, got $t")
    }
    val out = StructType(
      StructField("cell", IntegerType, nullable = false) +: df0.schema.fields)
    val bc = df0.sparkSession.sparkContext.broadcast(anchors)
    df0.mapPartitions { rows =>
      val as = bc.value
      rows.map { r =>
        val seq = if (r.isNullAt(vIdx)) Seq.empty[Any] else r.getSeq[Any](vIdx)
        val v = new Array[Double](seq.length)
        var j = 0
        seq.foreach { x =>
          v(j) = x match {
            case null => 0.0
            case f: Float => f.toDouble
            case d: Double => d
          }
          j += 1
        }
        var best = 0; var bestCos = Double.NegativeInfinity
        var c = 0
        while (c < as.length) {
          val a = as(c)
          val n = math.min(v.length, a.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < n) {
            val xi = v(i); val yi = a(i)
            dot += xi * yi; na += xi * xi; nb += yi * yi
            i += 1
          }
          val den = na * nb
          val cos = if (den == 0.0) 0.0 else dot / math.sqrt(den)
          if (cos > bestCos) { bestCos = cos; best = c }
          c += 1
        }
        Row.fromSeq(best +: r.toSeq)
      }
    }(Encoders.row(out))
  }

  /** Dispatch: literal argmax for small k (ideal codegen'd plan),
    * partition-loop argmax beyond [[LiteralAssignMaxK]] (flat cost in k,
    * no row expansion). DedupSpec checks both against a declarative
    * broadcast-join + `max_by` reference. `df0` must be (id, v).
    */
  private def assignCells(df0: DataFrame,
                          anchors: Array[Array[Double]]): DataFrame =
    if (anchors.length <= LiteralAssignMaxK)
      assignSemanticCells(df0, "v", anchors).select("cell", "id", "v")
    else assignSemanticCellsPartition(df0, anchors).select("cell", "id", "v")

  /** Within-cell duplicate pairs, SemDeDup-style (public technique: Abbas
    * et al., "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540): partition the embedding
    * space into `k` cells around deterministic anchors
    * ([[semanticAnchors]]), then compare pairs ONLY within a cell and keep
    * those with cosine ≥ `threshold`. Returns (cell, id_a, id_b, cos).
    *
    * Scale shape vs [[embeddingDupPairs]]: LSH multiplies the corpus by
    * `tables` and relies on 2^bits buckets staying small; the SemDeDup
    * partition is HARD (each row lands in exactly one cell), so the pair
    * space is Σ |cell|²/2 with no per-pair dedup aggregation afterwards,
    * and `k` tunes cell size directly (the paper runs ~50k clusters at
    * web scale — size k so N/k rows fit one task). The price is recall at
    * cell boundaries: a near-dup pair straddling two cells is missed —
    * exact copies are immune (identical vectors score identical anchor
    * cosines and share a cell by construction), which is also why the
    * oracle can gate this exactly. `maxCellSize` (off by default) drops
    * whole oversized cells via the [[dropHotKeys]] broadcast anti-join —
    * deterministic, so a capped run stays oracle-able. An empty `df` has
    * no anchors and yields no pairs.
    */
  def semanticDupPairs(df: DataFrame, idCol: String, vecCol: String,
                       k: Int = 64, threshold: Double = 0.99,
                       maxCellSize: Int = Int.MaxValue): DataFrame = {
    val anchors = semanticAnchors(df, idCol, vecCol, k)
    val df0 = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val assigned =
      if (anchors.isEmpty) df0.select(lit(0).as("cell"), col("id"), col("v")).limit(0)
      else assignCells(df0, anchors)
    withinCellPairs(assigned, threshold, maxCellSize)
  }

  /** The pair half of [[semanticDupPairs]] over an already-assigned
    * (cell, id, v) frame — shared with [[semanticDedupIncremental]]'s
    * within-batch stage so both compute cells exactly once.
    */
  private def withinCellPairs(assigned0: DataFrame, threshold: Double,
                              maxCellSize: Int): DataFrame = {
    val assigned =
      if (maxCellSize == Int.MaxValue) assigned0
      else dropHotKeys(assigned0, Seq("cell"), maxCellSize)
    val l = assigned.select(col("cell"), col("id").as("id_a"), col("v").as("v_a"))
    val r = assigned.select(col("cell"), col("id").as("id_b"), col("v").as("v_b"))
    l.join(r, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", V.cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select("cell", "id_a", "id_b", "cos")
  }

  /** The full SemDeDup pipeline: [[semanticDupPairs]] → connected
    * components → one representative (min id) per duplicate cluster.
    * Returns the KEPT rows with their original schema, same contract as
    * [[nearDedup]]/[[nearDedupEmbeddings]]. The pairs are pinned with
    * their count ([[clusters]]), so the within-cell join runs once and an
    * input with no duplicates (an empty one included) is returned as is.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int = 64, threshold: Double = 0.99,
                    maxCellSize: Int = Int.MaxValue,
                    checkpointDir: Option[String] = None): DataFrame =
    clusters(semanticDupPairs(df, idCol, vecCol, k, threshold, maxCellSize),
        checkpointDir)
      .fold(df)(representatives(df, _, idCol))

  // ---- incremental near-dedup against a persisted signature index ------

  /** Format stamp for [[buildNearIndex]] layouts. The LSH parameters are
    * part of the format: postings built at one (shingleN, bands,
    * rowsPerBand) joined against a batch banded at another silently
    * collapse recall to ~zero — a parameter drift IS an incompatible
    * encoding, caught the same way as the raw-vs-residual PQ codes.
    */
  private[graft] def nearIndexFormat(shingleN: Int, bands: Int, rowsPerBand: Int) =
    s"near-lsh:v1:n=$shingleN,b=$bands,r=$rowsPerBand"

  /** Persist the corpus side of incremental near-dedup at `dir`:
    * `buckets/` = (band, bucket, id) LSH band postings, `shingles/` =
    * (id, sh) distinct word-shingle hashes (what the exact rescore
    * consumes). What is deliberately NOT stored is the corpus text — at
    * 100 TB the entire point is that daily ingest never re-tokenizes the
    * corpus: the batch joins against stored postings and rescores against
    * stored shingle hashes (~a few hundred longs per document).
    * Written under one [[IndexFormat.commit]].
    */
  def buildNearIndex(docs: DataFrame, idCol: String, textCol: String,
                     dir: String, shingleN: Int = 3,
                     bands: Int = 4, rowsPerBand: Int = 4): Unit =
    writeNearIndex(docs, None, idCol, textCol, dir, shingleN, bands,
      rowsPerBand, SaveMode.Overwrite)

  /** Append `docs` (typically a batch's admitted survivors) to a
    * [[buildNearIndex]] layout, so tomorrow's batch dedups against today's
    * admissions too. Both appends sit in one [[IndexFormat.commit]], so a
    * failure between them leaves an unstamped index that readers reject,
    * never a half-appended one they trust.
    */
  def appendNearIndex(docs: DataFrame, idCol: String, textCol: String,
                      dir: String, shingleN: Int = 3,
                      bands: Int = 4, rowsPerBand: Int = 4): Unit = {
    IndexFormat.check(docs.sparkSession, dir, nearIndexFormat(shingleN, bands, rowsPerBand))
    writeNearIndex(docs, None, idCol, textCol, dir, shingleN, bands,
      rowsPerBand, SaveMode.Append)
  }

  /** Append admitted `docs` to BOTH the corpus parquet and the signature
    * index under ONE commit marker. The ingest loop's correctness depends
    * on it: if the corpus append landed while the index was still
    * stamped, a crash before the index append would leave a valid-looking
    * index that lacks the batch's signatures, and the replayed batch would
    * re-classify its own rows as `admitted` and append them to the corpus a
    * second time — silent duplication. With the corpus append inside the
    * window, a crash anywhere in it leaves an unstamped index that every
    * reader rejects loudly ([[IndexFormat.check]]) until the operator
    * repairs it.
    */
  def appendCorpusAndNearIndex(docs: DataFrame, corpusPath: String,
                               idCol: String, textCol: String, dir: String,
                               shingleN: Int = 3, bands: Int = 4,
                               rowsPerBand: Int = 4): Unit = {
    IndexFormat.check(docs.sparkSession, dir, nearIndexFormat(shingleN, bands, rowsPerBand))
    writeNearIndex(docs, Some(corpusPath), idCol, textCol, dir, shingleN,
      bands, rowsPerBand, SaveMode.Append)
  }

  /** The one write body of the near family: `docs` written to `corpus`
    * (when given), then the postings and shingle rows, all in `mode` and
    * inside one [[IndexFormat.commit]].
    */
  private[graft] def writeNearIndex(docs: DataFrame, corpus: Option[String],
                             idCol: String, textCol: String, dir: String,
                             shingleN: Int, bands: Int, rowsPerBand: Int,
                             mode: SaveMode): Unit =
    IndexFormat.commit(docs.sparkSession, dir,
        nearIndexFormat(shingleN, bands, rowsPerBand)) {
      corpus.foreach(docs.write.mode(mode).parquet(_))
      val shingled = shingledFrame(docs, idCol, textCol, shingleN,
        bands * rowsPerBand).persist()
      try {
        bandedSignatures(shingled, bands, rowsPerBand)
          .select("band", "bucket", "id")
          .write.mode(mode).parquet(s"$dir/buckets")
        shingled.select(col("id"), col("__sh").as("sh"))
          .write.mode(mode).parquet(s"$dir/shingles")
      } finally {
        shingled.unpersist(blocking = false)
        ()
      }
    }

  /** Compact a [[buildNearIndex]] layout after many [[appendNearIndex]]
    * batches: every daily append adds a few parquet files to `buckets/` and
    * `shingles/`, and after a year of ingest the classify path's scan is
    * listing-bound (thousands of KB-sized files), not data-bound. Rewrites
    * both dirs into ceil(rows/targetRowsPerFile) evenly-sized files with
    * identical contents — classify results are unchanged by construction
    * (same rows, different file boundaries; see the spec).
    *
    * Crash safety: the expensive rewrites land in hidden `.compact_*` temp
    * dirs while the index stays stamped and readable; only the swap itself
    * runs inside the commit-marker window (rename old out, new in, delete
    * old). A crash mid-swap leaves an unstamped dir with remnants that
    * [[IndexFormat.dataExists]] still reports as present, so ingest fails
    * loudly instead of bootstrapping over the corpus.
    */
  def compactNearIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                       shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                       targetRowsPerFile: Long = 4000000L): Unit =
    IndexMaintenance.compactStamped(spark, dir,
      nearIndexFormat(shingleN, bands, rowsPerBand),
      Seq("buckets" -> Nil, "shingles" -> Nil), targetRowsPerFile)

  /** Two-sided exact-Jaccard rescore: `shA`/`shB` are (id, sh) shingle-hash
    * frames for the pair's A side (batch, recomputed) and B side (corpus,
    * read from the index); `pairs` is (id_a ∈ A, id_b ∈ B). Both inverted
    * postings are semi-join-pruned to the ids that actually appear in
    * `pairs` BEFORE exploding — on a 100 TB corpus the B side is point
    * lookups over candidate ids, never a corpus scan.
    */
  private[ext] def rescoreJaccardTwoSided(shA: DataFrame, shB: DataFrame,
                                          pairs: DataFrame,
                                          minJaccard: Double): DataFrame = {
    val p = pairs.select("id_a", "id_b").distinct()
    val aSel = shA.join(p.select(col("id_a").as("id")).distinct(), Seq("id"), "left_semi")
    val bSel = shB.join(p.select(col("id_b").as("id")).distinct(), Seq("id"), "left_semi")
    val szA = aSel.select(col("id").as("id_a"), size(col("sh")).cast("bigint").as("n_a"))
    val szB = bSel.select(col("id").as("id_b"), size(col("sh")).cast("bigint").as("n_b"))
    val invA = aSel.select(col("id").as("id_a"), explode(col("sh")).as("sh_h"))
    val invB = bSel.select(col("id").as("id_b"), explode(col("sh")).as("sh_h"))
    p.join(invA, "id_a").join(invB, Seq("id_b", "sh_h"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(szA, "id_a").join(szB, "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Incremental near-dedup: classify every document of a daily `batch`
    * against a [[buildNearIndex]] corpus WITHOUT touching the corpus text.
    * Returns (id, verdict) with verdict ∈ {dup_batch, dup_corpus,
    * admitted}: within-batch near-dup components keep their min id
    * (everything else in the component is `dup_batch` — mirroring
    * [[nearDedup]]'s representative rule), and a kept id with an exact
    * Jaccard ≥ `minJaccard` against some indexed document is `dup_corpus`.
    * Callers admit the `admitted` rows and [[appendNearIndex]] them.
    *
    * Scale shape (the reason this operator exists): the batch side is the
    * only side that tokenizes — its banded signatures BROADCAST against
    * the corpus postings (a daily batch is bounded; the corpus is not), so
    * the stored postings stream through a broadcast join with zero
    * corpus-side shuffle, and the rescore reads only the candidate ids'
    * stored shingle rows. Batch-internal pairs reuse the full
    * [[minhashCandidatePairsShingled]] machinery (df caps and all) over
    * the persisted-once batch shingle frame, and `maxBucketSize` caps the
    * CORPUS postings side of the cross join too — a degenerate stored
    * bucket is dropped whole rather than fanned out against the batch.
    */
  def nearDedupIncremental(batch: DataFrame, idCol: String, textCol: String,
                           indexDir: String, minJaccard: Double = 0.8,
                           shingleN: Int = 3, bands: Int = 4,
                           rowsPerBand: Int = 4, maxBucketSize: Int = 1000,
                           checkpointDir: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    IndexFormat.check(spark, indexDir, nearIndexFormat(shingleN, bands, rowsPerBand))
    // batch-sized by contract (a daily batch), so the eager checkpoint is
    // bounded; see [[shingledCheckpointed]] for the plan-size rationale
    val shingled = shingledCheckpointed(batch, idCol, textCol, shingleN,
      bands * rowsPerBand)
    // within-batch: candidates → exact rescore
    val confirmed = rescoreJaccardShingled(shingled,
      minhashCandidatePairsShingled(shingled, bands, rowsPerBand, maxBucketSize),
      minJaccard)
    // batch vs corpus: broadcast the batch's band postings over the
    // stored corpus postings, then exact-rescore the candidate pairs.
    // The corpus side gets the SAME (band,bucket) df-cap as the
    // within-batch pairs: one degenerate stored bucket (boilerplate docs
    // sharing a signature) would otherwise fan out against every batch
    // posting in it — the cap drops such buckets whole, the documented
    // price of boundedness. Semi-join first so the cap's count aggregate
    // touches only buckets the batch actually probes, keeping the
    // corpus-side work proportional to the batch, not the corpus.
    val batchBanded = bandedSignatures(shingled, bands, rowsPerBand)
      .select(col("band"), col("bucket"), col("id").as("id_a"))
    val probed = spark.read.parquet(s"$indexDir/buckets")
      .join(broadcast(batchBanded.select("band", "bucket").distinct()),
        Seq("band", "bucket"), "left_semi")
    val crossCand = dropHotKeys(probed, Seq("band", "bucket"), maxBucketSize)
      .withColumnRenamed("id", "id_b")
      .join(broadcast(batchBanded), Seq("band", "bucket"))
      .select("id_a", "id_b")
    verdicts(shingled.select("id"), confirmed,
      rescoreJaccardTwoSided(shingled.select(col("id"), col("__sh").as("sh")),
        spark.read.parquet(s"$indexDir/shingles"), crossCand, minJaccard),
      checkpointDir)
  }

  // ---- incremental semantic dedup against a persisted cell index -------

  /** Format stamp for [[buildSemanticIndex]] layouts. Anchor count and
    * dimension are part of the format: a batch assigned with k' ≠ k
    * anchors lands in different cells than the stored corpus (silent
    * recall collapse), and [[graft.functions.CosineSimilarity]] scores
    * mismatched dimensions over the common prefix without erroring — both
    * drifts must fail loudly at [[IndexFormat.check]] instead.
    */
  private[graft] def semanticIndexFormat(k: Int, dim: Int) = s"sem-cells-v1:k=$k,dim=$dim"

  /** Persist the corpus side of incremental semantic dedup at `dir`:
    * `anchors/` = (cell, v) — the k deterministic hash-ordered anchors,
    * FROZEN at build time (every later batch must be assigned with the
    * same anchors or cells stop meaning the same thing) — and `vectors/`
    * = (cell, id, v) corpus vectors with their cell, stored in the
    * corpus's own element type (float stays float — half the bytes of
    * double at 100 TB). Written under one [[IndexFormat.commit]].
    */
  def buildSemanticIndex(docs: DataFrame, idCol: String, vecCol: String,
                         dir: String, k: Int = 64, dim: Int = 64): Unit = {
    val anchors = semanticAnchors(docs, idCol, vecCol, k)
    require(anchors.nonEmpty, "cannot build a semantic index over an empty corpus")
    require(anchors.length == k,
      s"corpus has only ${anchors.length} rows — pass k <= that (got k=$k)")
    require(anchors.forall(_.length == dim),
      s"anchor dimension ${anchors.head.length} != declared dim $dim")
    writeSemanticIndex(docs, None, idCol, vecCol, dir, k, dim, anchors,
      SaveMode.Overwrite)
  }

  /** The stored anchors, in cell order — k rows, the bounded driver-side
    * collect every classify/append starts from.
    */
  private def readSemanticAnchors(spark: org.apache.spark.sql.SparkSession,
                                  dir: String): Array[Array[Double]] =
    spark.read.parquet(s"$dir/anchors").orderBy("cell")
      .select("v").collect().map(_.getSeq[Double](0).toArray)

  /** The anchor count `k` a [[buildSemanticIndex]] layout was stamped
    * with, parsed from the `_meta` stamp — zero Spark jobs. None when the
    * stamp is missing or names another format; [[IndexFormat.check]]
    * reports those states.
    */
  private[graft] def semanticIndexK(spark: org.apache.spark.sql.SparkSession,
                                    dir: String): Option[Int] = {
    val Stamp = """sem-cells-v1:k=(\d+),dim=\d+""".r
    IndexFormat.readFormat(spark, dir).collect { case Stamp(k) => k.toInt }
  }

  /** Incremental semantic dedup: classify a daily `batch` of embeddings
    * against a [[buildSemanticIndex]] corpus. Returns (id, verdict) with
    * verdict ∈ {dup_batch, dup_corpus, admitted} — the same contract and
    * precedence as [[nearDedupIncremental]]: within-batch within-cell
    * components keep their min id (rest = `dup_batch`), and a kept id
    * with cosine ≥ `threshold` against some stored vector in its cell is
    * `dup_corpus`.
    *
    * Scale shape: the batch assigns to cells in a zero-shuffle projection
    * over the stored anchors, then BROADCASTS over `vectors/` — the
    * stored corpus streams through the join partition-local, never
    * shuffles, and is touched only in the batch's cells (all k of them in
    * the worst case; per-cell work is |batch ∩ cell| × |corpus ∩ cell|
    * cosines, which `k` bounds — the SemDeDup paper's answer is simply a
    * large k). `maxCellSize` (off by default) caps BOTH sides: oversized
    * batch cells are dropped from the pair stage and oversized stored
    * cells from the cross stage, each via the deterministic whole-cell
    * [[dropHotKeys]] drop.
    */
  def semanticDedupIncremental(batch: DataFrame, idCol: String, vecCol: String,
                               dir: String, k: Int = 64, dim: Int = 64,
                               threshold: Double = 0.99,
                               maxCellSize: Int = Int.MaxValue,
                               checkpointDir: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    IndexFormat.check(spark, dir, semanticIndexFormat(k, dim))
    val anchors = readSemanticAnchors(spark, dir)
    // batch-sized by contract — eager checkpoint truncates the assigned
    // subtree out of the final plan (same rationale as the near-dedup
    // classify path's [[shingledCheckpointed]])
    val assigned = assignCells(
      batch.select(col(idCol).as("id"), col(vecCol).as("v")), anchors)
      .localCheckpoint(true)
    val stored0 = spark.read.parquet(s"$dir/vectors")
    val stored =
      if (maxCellSize == Int.MaxValue) stored0
      else dropHotKeys(stored0, Seq("cell"), maxCellSize)
    val crossHits = stored
      .join(broadcast(assigned.select(col("cell"), col("id").as("id_a"),
        col("v").as("v_a"))), Seq("cell"))
      .filter(V.cosine(col("v"), col("v_a")) >= threshold)
    verdicts(assigned.select("id"), withinCellPairs(assigned, threshold, maxCellSize),
      crossHits, checkpointDir)
  }

  /** Append `docs` (a batch's admitted survivors) to a
    * [[buildSemanticIndex]] layout: assign with the STORED anchors (never
    * re-derive — the partition is frozen at build) and append to
    * `vectors/` under one [[IndexFormat.commit]].
    */
  def appendSemanticIndex(docs: DataFrame, idCol: String, vecCol: String,
                          dir: String, k: Int = 64, dim: Int = 64): Unit = {
    val spark = docs.sparkSession
    IndexFormat.check(spark, dir, semanticIndexFormat(k, dim))
    writeSemanticIndex(docs, None, idCol, vecCol, dir, k, dim,
      readSemanticAnchors(spark, dir), SaveMode.Append)
  }

  /** Append admitted `docs` to BOTH the corpus parquet and the semantic
    * index under ONE commit marker — same rationale as
    * [[appendCorpusAndNearIndex]]: a crash anywhere in the window leaves
    * an unstamped index every reader rejects loudly.
    */
  def appendCorpusAndSemanticIndex(docs: DataFrame, corpusPath: String,
                                   idCol: String, vecCol: String, dir: String,
                                   k: Int = 64, dim: Int = 64): Unit = {
    val spark = docs.sparkSession
    IndexFormat.check(spark, dir, semanticIndexFormat(k, dim))
    writeSemanticIndex(docs, Some(corpusPath), idCol, vecCol, dir, k, dim,
      readSemanticAnchors(spark, dir), SaveMode.Append)
  }

  /** The one write body of the semantic family, inside one
    * [[IndexFormat.commit]]: a build (`Overwrite`) freezes `anchors`, an
    * append reuses the stored ones; `docs` is appended to `corpus` (when
    * given), then its cell-assigned vectors are written in `mode`.
    */
  private def writeSemanticIndex(docs: DataFrame, corpus: Option[String],
                                 idCol: String, vecCol: String, dir: String,
                                 k: Int, dim: Int,
                                 anchors: Array[Array[Double]],
                                 mode: SaveMode): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    IndexFormat.commit(spark, dir, semanticIndexFormat(k, dim)) {
      if (mode == SaveMode.Overwrite)
        anchors.zipWithIndex.toSeq.map { case (v, i) => (i, v.toSeq) }.toDF("cell", "v")
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/anchors")
      corpus.foreach(docs.write.mode(SaveMode.Append).parquet(_))
      assignCells(
          docs.select(col(idCol).as("id"), col(vecCol).as("v")), anchors)
        .write.mode(mode).parquet(s"$dir/vectors")
    }
  }

  /** Compact `vectors/` after many daily appends (anchors are written
    * once and never appended). Same crash-safe swap as every family:
    * [[IndexMaintenance.compactStamped]].
    */
  def compactSemanticIndex(spark: org.apache.spark.sql.SparkSession,
                           dir: String, k: Int = 64, dim: Int = 64,
                           targetRowsPerFile: Long = 4000000L): Unit =
    IndexMaintenance.compactStamped(spark, dir, semanticIndexFormat(k, dim),
      Seq("vectors" -> Nil), targetRowsPerFile)

  /** Erase documents from a [[buildNearIndex]] layout: both postings dirs
    * are rewritten without the given ids ([[IndexMaintenance.deleteStamped]]
    * — filtered compaction under the commit marker), so a later batch
    * carrying the same content classifies `admitted` again. The erasure
    * pass every retention/right-to-be-forgotten pipeline needs; the CORPUS
    * parquet is the caller's to rewrite (it is not part of the index
    * layout).
    */
  def deleteFromNearIndex(spark: org.apache.spark.sql.SparkSession,
                          dir: String, ids: DataFrame, shingleN: Int = 3,
                          bands: Int = 4, rowsPerBand: Int = 4,
                          targetRowsPerFile: Long = 4000000L): Unit =
    IndexMaintenance.deleteStamped(spark, dir,
      nearIndexFormat(shingleN, bands, rowsPerBand),
      Seq(("buckets", Nil, "id"), ("shingles", Nil, "id")), ids,
      targetRowsPerFile)

  /** Erase vectors from a [[buildSemanticIndex]] layout. Honesty note: the
    * k FROZEN anchors are sample vectors chosen at build time — if an
    * erased document seeded an anchor, that direction (but none of the
    * document's rows) remains until the index is rebuilt; strict erasure
    * of anchor donors requires [[buildSemanticIndex]] from the surviving
    * corpus (which re-partitions every cell).
    */
  def deleteFromSemanticIndex(spark: org.apache.spark.sql.SparkSession,
                              dir: String, ids: DataFrame,
                              k: Int = 64, dim: Int = 64,
                              targetRowsPerFile: Long = 4000000L): Unit =
    IndexMaintenance.deleteStamped(spark, dir, semanticIndexFormat(k, dim),
      Seq(("vectors", Nil, "id")), ids, targetRowsPerFile)
}
