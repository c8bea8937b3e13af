package graft

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Measure.{noop, time}
import graft.ext.{Bloom, Bpe, Curation, Dedup, IndexFormat, Ivf, IvfPq, Lm, Media, Pdf, Search,
  SearchIndex, Similarity, Spans, Urls}
import graft.sources.Warc
import graft.streaming.Streams

/** The scaling probes behind SCALING.md, run as
  * `Measure scale <probe> <args…>`. Each probe builds its input untimed,
  * times its sections, and prints one result line per measurement
  * (`SCALE_*`, `SOAK_*` or `KF_ECON`). Probes that take a `<multiplier>`
  * replicate their input that many times; soaks take a day count. Scratch
  * indexes go under `/tmp/graft_scale_*` / `/tmp/graft_soak_*`, suffixed
  * with the run's `<label>`.
  */
object ScaleProbes {

  val table: ListMap[String, Probe] = ListMap(
    "av-soak" -> Probe("<video|videokf|audio|pdf|warc> <days> <perDay> <label>", avSoak),
    "bloom" -> Probe("<sfDir> <multiplier> <label>", bloom),
    "bloom-soak" -> Probe("<sfDir> <days> <label>", bloomSoak),
    "bpe" -> Probe("<sfDir> <multiplier> <label>", bpe),
    "decontam" -> Probe("<sfDir> <multiplier> <label>", decontam),
    "decontam-soak" -> Probe("<sfDir> <days> <label>", decontamSoak),
    "hamming" -> Probe("<sfDir> <multiplier> <label>", hamming),
    "index-append" -> Probe("<sfDir> <multiplier> <label>", indexAppend),
    "lm" -> Probe("<sfDir> <multiplier> <label>", lm),
    "media" -> Probe("<multiplier> <label> [full|nopairs|audio|video]", media),
    "mp4-keyframes" -> Probe("<videos> <framesList> <step> <label>", mp4Keyframes),
    "near-incremental" -> Probe("<corpusDir> <baseSfDir> <label>", nearIncremental),
    "near-soak" -> Probe("<baseSfDir> <days> <batchSize> <label>", nearSoak),
    "search-index" -> Probe("<sfDir> <multiplier> <label>", searchIndex),
    "semantic" -> Probe("<sfDir> <multiplier> <label>", semantic),
    "semantic-soak" -> Probe("<sfDir> <days> <batch> <label>", semanticSoak),
    "sig-soak" -> Probe("<days> <perDay> <label>", sigSoak),
    "spans" -> Probe("<sfDir> <multiplier> <label>", spans),
    "urls" -> Probe("<sfDir> <multiplier> <label>", urls))

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def delete(spark: SparkSession, dir: String): Unit = {
    fs(spark).delete(new Path(dir), true); ()
  }

  private def parquetFiles(spark: SparkSession, dir: String): Int =
    fs(spark).listStatus(new Path(dir)).count(_.getPath.getName.endsWith(".parquet"))

  /** `mult` verbatim replicas of `base`, ids stepped by `idStep` per
    * replica.
    */
  private def idReplicas(base: DataFrame, idCol: String, mult: Int,
                         idStep: Long): DataFrame =
    (0 until mult).map(r => base.withColumn(idCol, col(idCol) + r.toLong * idStep))
      .reduce(_ unionByName _)

  /** `mult` replicas of (`doc_id`, `text`): ids step by 1M per replica,
    * and every token of replica r > 0 gets a `·rN` suffix, so replicas
    * share no shingles and corpus growth is real.
    */
  private def suffixedReplicas(base: DataFrame, mult: Int): DataFrame =
    (0 until mult).map { r =>
      base.select((col("doc_id") + r.toLong * 1000000L).as("doc_id"),
        (if (r == 0) col("text")
         else regexp_replace(col("text"), "(\\S+)", "$1" + s"·r$r")).as("text"))
    }.reduce(_ unionByName _)

  private def verdictCounts(v: DataFrame): Map[String, Long] =
    v.groupBy("verdict").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def avg3(secs: Seq[Double], first: Boolean): Double =
    (if (first) secs.take(3) else secs.takeRight(3)).sum / math.min(3, secs.size)

  /** Bloom membership dedup: a fixed batch classified against corpora of
    * growing size. Claims under test: (1) build is one linear scan whose
    * only cross-node traffic is the fixed-size bitmap (partitions × m/8
    * bytes, independent of row count); (2) classify is map-only over the
    * batch — cost flat in corpus size, because the corpus is represented
    * by the same m/8-byte broadcast no matter how many rows fed it. Corpus
    * replicas have disjoint content, so the batch's true-duplicate set
    * stays fixed — flagged counts only grow by false positives, whose rate
    * the printed line exposes. Prints one SCALE_BLOOM line.
    */
  private def bloom(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(sfDir, multS, label) = args
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val corpusBase = docs.filter(col("doc_id") % 5 =!= 0)
    val corpus = suffixedReplicas(corpusBase, multS.toInt)
      .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
    val nCorpus = corpus.count()

    // fixed batch: held-out docs + planted replica-0 copies (true dups)
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .unionByName(corpusBase.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 9000000L))
      .localCheckpoint(true)
    val nBatch = batch.count()
    val nTrueDup = corpusBase.filter(col("doc_id") % 7 === 0).count()

    // m sized for the LARGEST corpus this harness runs (100×): ~10 bits
    // per doc at sf0.01 × 100 ≈ 400k docs → 2^22 bits = 512 KB bitmap
    val m = 1L << 22
    val k = 7
    val (buildSec, bits) = time(Bloom.build(corpus, "text", k, m))
    val setBits = bits.map(java.lang.Long.bitCount).map(_.toLong).sum
    val (classifySec, flagged) = noop(
      Bloom.flagDuplicates(batch, "text", bits, k, m).filter(col("maybe_dup")))

    println(f"SCALE_BLOOM label=$label corpus=$nCorpus batch=$nBatch " +
      f"build_sec=$buildSec%.2f classify_sec=$classifySec%.2f " +
      f"flagged=$flagged true_dups=$nTrueDup set_bits=$setBits " +
      f"fill_pct=${setBits * 100.0 / m}%.2f")
  }

  /** 100-day append/classify soak for the PERSISTED Bloom bitmap
    * (`writeBits`/`readBits`/`orInto`, the ops behind the `bloomAppend`
    * config path and `Streams.ingestBloomDedup`): disjoint-content batches
    * arrive daily and OR into the stored bitmap; the SAME fixed batch is
    * classified every day through the persisted read path. Claims:
    *  (1) per-day classify stays FLAT at any corpus age — the corpus is
    *      the same m/8-byte bitmap no matter how many days fed it;
    *  (2) append cost is flat too — build(day) + a fixed-size OR + rewrite;
    *  (3) true duplicates are flagged on EVERY day (no false negatives,
    *      asserted); flagged growth beyond the planted dups is false
    *      positives only, priced by the printed fill-rate column.
    * End of soak: the erasure path — rebuild from survivors (drop the
    * day-0 shard, the `bloomRebuild` config op) — is timed, and the
    * planted day-0 dups must flag NOVEL afterwards while later-day dups
    * still flag (asserted).
    * Prints one SOAK_BLOOM line per sampled day + a SOAK_BLOOM_SUMMARY line.
    */
  private def bloomSoak(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(sfDir, daysS, label) = args
    val days = daysS.toInt
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    // day-d arrivals carry a ·dD token suffix: disjoint content from every
    // other day, so corpus growth is real
    val dayBase = docs.filter(col("doc_id") % 5 =!= 0).localCheckpoint(true)
    def dayBatch(day: Int) =
      dayBase.select((col("doc_id") + day.toLong * 1000000L).as("doc_id"),
        (if (day == 0) col("text")
         else regexp_replace(col("text"), "(\\S+)", "$1" + s"·d$day")).as("text"))

    // fixed classify batch: held-out docs (never ingested) + planted
    // copies of day-0 content (true dups from day 0 on) + planted copies
    // of day-1 content (true dups from day 1 on)
    val heldOut = docs.filter(col("doc_id") % 5 === 0)
    val day0Dups = dayBase.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
    val day1Dups = dayBase.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 910000000L).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1·d1").as("text"))
    val batch = heldOut.unionByName(day0Dups).unionByName(day1Dups)
      .localCheckpoint(true)
    val nBatch = batch.count()
    val nPlanted = day0Dups.count()

    // m sized for the EVENTUAL corpus (days × dayBase): ~100 days × ~4k
    // docs at sf0.01 ≈ 400k docs → 2^22 bits at k=7 ≈ 1% FP when full
    val m = 1L << 22
    val k = 7
    val bitsPath = s"/tmp/graft_soak_bloom_$label/bits"
    delete(spark, s"/tmp/graft_soak_bloom_$label")
    Bloom.writeBits(spark, bitsPath, Bloom.build(dayBatch(0), "text", k, m))

    def classifyTimed(): (Double, Long) = noop(
      Bloom.flagDuplicates(batch, "text", Bloom.readBits(spark, bitsPath), k, m)
        .filter(col("maybe_dup")))
    def fillPct(): Double =
      Bloom.readBits(spark, bitsPath).map(java.lang.Long.bitCount).map(_.toLong).sum *
        100.0 / m

    val (_, flagged0) = classifyTimed()
    assert(flagged0 >= nPlanted,
      s"day 0: $flagged0 flagged < $nPlanted planted day-0 dups — false negative")
    val daySecs = (1 to days).map { day =>
      val (appendSec, _) = time {
        Bloom.writeBits(spark, bitsPath, Bloom.orInto(Bloom.readBits(spark, bitsPath),
          Bloom.build(dayBatch(day), "text", k, m)))
      }
      val (sec, flagged) = classifyTimed()
      // no false negatives, ever: day-0 and (from day 1) day-1 plants flag
      val floor = nPlanted * 2
      assert(flagged >= floor,
        s"day $day: $flagged flagged < $floor planted dups — false negative")
      if (day <= 3 || day % 10 == 0 || day > days - 3)
        println(f"SOAK_BLOOM day=$day%3d append_sec=$appendSec%.2f " +
          f"classify_sec=$sec%.2f flagged=$flagged fill_pct=${fillPct()}%.2f")
      sec
    }

    // erasure: rebuild from survivors (drop day 0, keep days 1..N) — the
    // bloomRebuild config path; day-0 plants must flag novel afterwards
    val (rebuildSec, _) = time {
      val survivors = (1 to days).map(dayBatch).reduce(_ unionByName _)
      Bloom.writeBits(spark, bitsPath, Bloom.build(survivors, "text", k, m))
    }
    val bitsR = Bloom.readBits(spark, bitsPath)
    val day0After = Bloom.flagDuplicates(day0Dups, "text", bitsR, k, m)
      .filter(col("maybe_dup")).count()
    val day1After = Bloom.flagDuplicates(day1Dups, "text", bitsR, k, m)
      .filter(col("maybe_dup")).count()
    assert(day1After == nPlanted, s"rebuild lost day-1 dups: $day1After")

    println(f"SOAK_BLOOM_SUMMARY label=$label batch_docs=$nBatch days=$days " +
      f"docs_per_day=${dayBase.count()} first3_avg_sec=${avg3(daySecs, first = true)}%.2f " +
      f"last3_avg_sec=${avg3(daySecs, first = false)}%.2f fill_pct=${fillPct()}%.2f " +
      f"rebuild_sec=$rebuildSec%.2f day0_flagged_after_erase=$day0After " +
      f"day1_flagged_after_erase=$day1After planted_per_day=$nPlanted")
  }

  /** BPE tokenizer tier: train the merge table on corpora of growing size,
    * then count tokens for a FIXED batch against each. Claims under test
    * (see [[graft.ext.Bpe]]):
    *  1. training's cluster work is ONE word-count aggregation — the merge
    *     loop runs on a table capped at `maxTrainWords`, so train time
    *     tracks the count shuffle, not merges × corpus;
    *  2. applying the tokenizer to a fixed batch is FLAT in training-corpus
    *     size (the merge table is `maxMerges` rows whatever it was trained
    *     on).
    * Suffixed replicas grow the distinct-word space with the multiplier —
    * the training cap must cut an ever-wider candidate set.
    * Prints one SCALE_BPE line.
    */
  private def bpe(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(sfDir, multS, label) = args
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val ref = suffixedReplicas(docs, multS.toInt)
      .localCheckpoint(true)
    val nRef = ref.count()
    val batch = docs.localCheckpoint(true)
    val nBatch = batch.count()

    val (trainSec, merges) = time(Bpe.trainMerges(ref, "text", maxMerges = 200,
      maxTrainWords = 65536))
    val counts = Bpe.tokenCounts(batch, "doc_id", "text", merges)
    val (applySec, counted) = noop(counts)
    val totalBpe = counts.agg(sum("n_bpe_tokens")).head.getLong(0)

    println(f"SCALE_BPE label=$label ref_docs=$nRef batch_docs=$nBatch " +
      f"merges=${merges.size} counted=$counted total_bpe=$totalBpe " +
      f"train_sec=$trainSec%.2f apply_sec=$applySec%.2f")
  }

  /** Persisted decontamination index: a fixed training batch classified
    * against benchmark indexes of growing size. The stored DISTINCT
    * shingle hashes broadcast (eval sets are the small side by nature), so
    * the training batch — the 100 TB side — never shuffles: classify time
    * is flat in the batch and only weakly dependent on index size until
    * the broadcast itself becomes the cost. Benchmark replicas share no
    * shingles, so verdict counts must be identical at every scale.
    * Shingles are 5-grams: at 3-grams the synthetic corpus is so
    * self-similar that the survivor count degenerates to zero.
    * Prints one SCALE_DECONTAM line.
    */
  private def decontam(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(sfDir, multS, label) = args
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    // eval side: every tenth doc, replicated mult× with disjoint shingles
    val evalBase = docs.filter(col("doc_id") % 10 === 0)
    val eval = suffixedReplicas(evalBase, multS.toInt)
      .localCheckpoint(true)
    val nEval = eval.count()

    // fixed batch: the non-eval docs plus planted copies of replica-0 eval
    // content — the contaminated set is identical at every mult
    val batch = docs.filter(col("doc_id") % 10 =!= 0)
      .unionByName(evalBase.select((col("doc_id") + 900000000L).as("doc_id"),
        col("text")))
      .localCheckpoint(true)
    val nBatch = batch.count()

    val idx = s"/tmp/graft_scale_dc_$label"
    delete(spark, idx)
    val (buildSec, _) = time(
      Curation.buildDecontamIndex(eval, "doc_id", "text", idx, shingleN = 5))
    val (classifySec, surviving) = noop(
      Curation.decontaminateIncremental(batch, "doc_id", "text", idx, shingleN = 5))
    println(f"SCALE_DECONTAM label=$label eval_docs=$nEval batch_docs=$nBatch " +
      f"surviving=$surviving build_sec=$buildSec%.2f classify_sec=$classifySec%.2f")
  }

  /** 100-day append/classify soak for the persisted DECONTAMINATION index:
    * benchmarks arrive daily (`appendDecontamIndex` with per-day token
    * suffixes, so each day's eval set shares no shingles with any other),
    * and the SAME fixed training batch is classified every day. Classify
    * broadcasts the stored distinct shingles over the batch, so per-day
    * classify stays FLAT while the index grows ~days×. End of soak:
    * fragmented-vs-compacted classify + compaction cost.
    * Survivor invariant: only the build-day benchmarks share shingles with
    * the planted contamination, so the surviving-row count must be
    * IDENTICAL on every day (asserted).
    * Prints one SOAK_DC line per sampled day + a SOAK_DC_SUMMARY line.
    */
  private def decontamSoak(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(sfDir, daysS, label) = args
    val days = daysS.toInt
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    // eval side: every tenth doc; day-d arrivals carry a ·dD suffix on
    // every token (disjoint 5-gram shingles from every other day)
    val evalBase = docs.filter(col("doc_id") % 10 === 0).localCheckpoint(true)
    def dayEval(day: Int) =
      evalBase.select((col("doc_id") + day.toLong * 1000000L).as("doc_id"),
        (if (day == 0) col("text")
         else regexp_replace(col("text"), "(\\S+)", "$1" + s"·d$day")).as("text"))

    // fixed batch: non-eval docs + planted copies of day-0 eval content
    val batch = docs.filter(col("doc_id") % 10 =!= 0)
      .unionByName(evalBase.select((col("doc_id") + 900000000L).as("doc_id"),
        col("text")))
      .localCheckpoint(true)
    val nBatch = batch.count()

    val idx = s"/tmp/graft_soak_dcidx_$label"
    delete(spark, idx)
    Curation.buildDecontamIndex(dayEval(0), "doc_id", "text", idx, shingleN = 5)
    def shingleFiles(): Int = parquetFiles(spark, s"$idx/shingles")
    def classifyTimed(): (Double, Long) = noop(
      Curation.decontaminateIncremental(batch, "doc_id", "text", idx, shingleN = 5))

    val (_, survivors0) = classifyTimed()
    val daySecs = (1 to days).map { day =>
      Curation.appendDecontamIndex(dayEval(day), "doc_id", "text", idx, shingleN = 5)
      val (sec, surviving) = classifyTimed()
      assert(surviving == survivors0,
        s"day $day: $surviving survivors != day-0 $survivors0 — disjoint-" +
          "shingle day evals must not change which batch rows survive")
      if (day <= 3 || day % 10 == 0 || day > days - 3)
        println(f"SOAK_DC day=$day%3d classify_sec=$sec%.2f " +
          f"shingle_files=${shingleFiles()} surviving=$surviving")
      sec
    }

    val (fragSec, _) = classifyTimed()
    val filesBefore = shingleFiles()
    val (compactSec, _) = time(Curation.compactDecontamIndex(spark, idx, shingleN = 5))
    val filesAfter = shingleFiles()
    val (compSec, survivorsC) = classifyTimed()
    assert(survivorsC == survivors0, "compaction changed classify results")

    println(f"SOAK_DC_SUMMARY label=$label batch_docs=$nBatch days=$days " +
      f"eval_docs_per_day=${evalBase.count()} " +
      f"first3_avg_sec=${avg3(daySecs, first = true)}%.2f " +
      f"last3_avg_sec=${avg3(daySecs, first = false)}%.2f frag_classify_sec=$fragSec%.2f " +
      f"files_before=$filesBefore compact_sec=$compactSec%.2f " +
      f"files_after=$filesAfter compacted_classify_sec=$compSec%.2f")
  }

  /** The 1-bit Hamming ANN tier (`Similarity.hammingTopKMany`): sign-bit
    * signatures make the batch candidate scan the cheapest in the engine —
    * 8 bytes/row at dim 64 (vs 64 B for int8 codes, 256 B for float32) and
    * an xor+popcount kernel — so batch search time should track the 1-bit
    * table's size, several times below the int8 tier on the identical
    * corpus. Persists BOTH the sign-bit signature table and the int8 code
    * table and times the same 64-query batch top-k through each kernel,
    * reporting on-disk table bytes alongside seconds.
    * Prints one SCALE_HAMMING line.
    */
  private def hamming(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(sfDir, multS, label) = args
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val corpus = idReplicas(base, "vec_id", multS.toInt, 10000000L).localCheckpoint(true)
    val nCorpus = corpus.count()

    def dirBytes(p: String): Long = {
      val f = new java.io.File(p)
      Option(f.listFiles()).map(_.filter(_.isFile).map(_.length()).sum).getOrElse(0L)
    }

    // pay-once signature/code writes (the ingest-side cost, timed for the
    // record but not the claim)
    val sigDir = s"/tmp/graft_scale_hamm_sig_$label"
    val codeDir = s"/tmp/graft_scale_hamm_int8_$label"
    val (sigWriteSec, _) = time(
      Similarity.writeSignBits(corpus, "vec_id", "embedding", 64, sigDir))
    val (codeWriteSec, _) = time(
      Similarity.writeCodes(corpus, "vec_id", "embedding", codeDir))

    val sigs = spark.read.parquet(sigDir)
    val codes = spark.read.parquet(codeDir)
    // 64 queries so the per-row kernel work dominates the fixed scan cost
    // (64 words xor+popcount vs 64×64 multiply-adds per corpus row)
    val queriesSig = sigs.filter(col("vec_id").between(1L, 64L)).localCheckpoint(true)
    val queriesCode = codes.filter(col("vec_id").between(1L, 64L))
      .select("vec_id", "code").localCheckpoint(true)

    // best-of-2 per kernel: the first run also warms file listings/JIT;
    // single runs at this duration carry ±0.3 s host noise
    def best2(df: => DataFrame): (Double, Long) = {
      val (s0, n0) = noop(df)
      val (s1, n1) = noop(df)
      (math.min(s0, s1), math.max(n0, n1))
    }
    val (hammSec, nH) = best2(
      Similarity.hammingTopKMany(sigs, "vec_id", queriesSig, "vec_id", k = 10))
    val (int8Sec, nI) = best2(
      Similarity.int8TopKMany(codes, "vec_id", queriesCode, "vec_id", k = 10))

    println(f"SCALE_HAMMING label=$label corpus_rows=$nCorpus " +
      f"sig_bytes=${dirBytes(sigDir)} code_bytes=${dirBytes(codeDir)} " +
      f"sig_write_sec=$sigWriteSec%.2f code_write_sec=$codeWriteSec%.2f " +
      f"hamming_batch_sec=$hammSec%.2f int8_batch_sec=$int8Sec%.2f " +
      f"hamming_rows=$nH int8_rows=$nI")
  }

  /** ANN index append (`Ivf.appendIndex` / `IvfPq.appendIndex`): assignment
    * is batch × nLists centroid flops and the write is batch rows, so
    * appending a fixed-size daily batch must cost the same against a 1×
    * and a 100× corpus. Builds the index at `multiplier`× the embeddings
    * table, persists it, then times the append of a fixed 500-vector batch
    * and one nProbe=1 search from the re-read index.
    * Prints one SCALE_APPEND line per index family.
    */
  private def indexAppend(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(sfDir, multS, label) = args
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val corpus = idReplicas(base, "vec_id", multS.toInt, 10000000L).localCheckpoint(true)
    val nCorpus = corpus.count()
    val batch = base.limit(500)
      .select((col("vec_id") + 900000000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val qv = base.filter(col("vec_id") === 1L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)

    // IVF: build+persist (pay-once), then the daily append + one search
    val ivfDir = s"/tmp/graft_scale_ivf_$label"
    val (ivfBuildSec, _) = time {
      Ivf.writeIndex(Ivf.build(corpus, "vec_id", "embedding", nLists = 64, maxIter = 3),
        ivfDir)
    }
    val (ivfAppendSec, _) = time(
      Ivf.appendIndex(spark, ivfDir, batch, "vec_id", "embedding"))
    val (ivfSearchSec, nHits) = noop {
      val loaded = Ivf.readIndex(spark, ivfDir)
      Ivf.search(loaded.assigned, loaded, "vec_id", "embedding", qv,
        k = 10, nProbe = 1)
    }
    println(f"SCALE_APPEND family=ivf label=$label corpus_rows=$nCorpus " +
      f"build_sec=$ivfBuildSec%.2f append_sec=$ivfAppendSec%.2f " +
      f"search_sec=$ivfSearchSec%.2f hits=$nHits")

    // IVF-PQ: the composed index, same protocol
    val pqDir = s"/tmp/graft_scale_ivfpq_$label"
    val (pqBuildSec, _) = time {
      IvfPq.writeIndex(IvfPq.build(corpus, "vec_id", "embedding",
        dim = 64, m = 8, nLists = 64, maxIter = 3), pqDir)
    }
    val (pqAppendSec, _) = time(
      IvfPq.appendIndex(spark, pqDir, batch, "vec_id", "embedding"))
    val (pqSearchSec, nHits2) = noop(IvfPq.search(IvfPq.readIndex(spark, pqDir),
      "vec_id", qv, k = 10, nProbe = 1))
    println(f"SCALE_APPEND family=ivfpq label=$label corpus_rows=$nCorpus " +
      f"build_sec=$pqBuildSec%.2f append_sec=$pqAppendSec%.2f " +
      f"search_sec=$pqSearchSec%.2f hits=$nHits2")
  }

  /** Unigram- and bigram-LM quality tier: train on reference corpora of
    * growing size, then score a FIXED batch against each. Claims:
    *  1. the trained artifact is BOUNDED — `maxVocab + 1` rows no matter
    *     how large the reference (the cap binds, the broadcast never grows);
    *  2. scoring a fixed batch is therefore FLAT in reference size;
    *  3. training grows with the reference, but as one map-side-combined
    *     token count + a TakeOrdered head (token-cardinality rows on the
    *     wire, never text).
    * Suffixed replicas grow vocabulary CARDINALITY with the multiplier —
    * the hard case for claim 1 (cap 256 here).
    * Prints one SCALE_LM and one SCALE_LM_BIGRAM line.
    */
  private def lm(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(sfDir, multS, label) = args
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang")
    val en = docs.filter(col("lang") === "en").select("doc_id", "text")
    val ref = suffixedReplicas(en, multS.toInt).localCheckpoint(true)
    val nRef = ref.count()
    val batch = docs.select("doc_id", "text").localCheckpoint(true)
    val nBatch = batch.count()

    val dir = s"/tmp/graft_scale_lm_$label"
    delete(spark, dir)
    val (trainSec, _) = time(
      Lm.writeModel(spark, Lm.unigramModel(ref, "text", maxVocab = 256), dir))
    val modelRows = Lm.readModel(spark, dir).count()
    val (scoreSec, scored) = noop(
      Lm.scoreUnigram(batch, "doc_id", "text", Lm.readModel(spark, dir)))
    println(f"SCALE_LM label=$label ref_docs=$nRef batch_docs=$nBatch " +
      f"model_rows=$modelRows scored=$scored " +
      f"train_sec=$trainSec%.2f score_sec=$scoreSec%.2f")

    // the bigram tier under the same protocol: both tables are capped
    // (maxVocab unigrams, maxBigrams conditionals), so scoring the fixed
    // batch must stay flat while training pays one extra pair-count
    // aggregation over the reference
    val bdir = s"/tmp/graft_scale_lm_bi_$label"
    delete(spark, bdir)
    val (biTrainSec, _) = time(Lm.writeBigramModel(spark,
      Lm.bigramModel(ref, "text", maxVocab = 256, maxBigrams = 1024), bdir))
    val biModel = Lm.readBigramModel(spark, bdir)
    val biRows = biModel.bigram.count()
    val (biScoreSec, biScored) = noop(Lm.scoreBigram(batch, "doc_id", "text", biModel))
    println(f"SCALE_LM_BIGRAM label=$label ref_docs=$nRef bigram_rows=$biRows " +
      f"scored=$biScored train_sec=$biTrainSec%.2f " +
      f"score_sec=$biScoreSec%.2f")
  }

  /** Real-codec media tier: decode+dHash over a corpus of N real PNGs
    * (base 2,000 images × multiplier), plus the band-join pair stage over
    * the hashes. Decode is a per-row codec call with NO shuffle (cost must
    * scale ~linearly), and `Media.dhashNearPairs` shuffles only fixed-width
    * (band, key, id, hash) rows — pair cost tracks candidate pairs, never
    * N². Modes:
    *  - `full` (default) / `nopairs`: decode, and (full only) the pair
    *    stage — the synthetic pattern family is self-similar, so at 100×
    *    the pair stage measures the fixture's density, not the join;
    *  - `audio`: the other per-row scan legs — imageStats over the PNG
    *    corpus and audioEnergy over a WAV corpus (2,000 clips × multiplier,
    *    16 kHz mono ~0.5 s each), both shuffle-free;
    *  - `video`: `Media.videoNearPairs` on its real input shape (a
    *    frame-hash table; 20,000 videos × multiplier × 8 frames): groups of
    *    4 share all content frames (emitted pairs linear in N) and every
    *    video carries one N-frequency intro frame that must die in the
    *    broadcast-anti-join df-cap, never reaching the self-join.
    * Prints one SCALE_MEDIA (or SCALE_MEDIA_AUDIO / SCALE_MEDIA_VIDEO) line.
    */
  private def media(spark: SparkSession, args: Seq[String]): Unit = {
    val multS +: label +: rest = args
    val mode = rest.headOption.getOrElse("full")
    val n = 2000L * multS.toInt
    val parts = spark.sparkContext.defaultParallelism
    // 48x40 gray patterns (thumbnail-ish size, 1920 px decoded per image);
    // every other image is a perturbed near-dup of its even neighbor, so
    // the pair stage has real work at every scale
    def pngs(): DataFrame = {
      val ids = spark.range(n).select(col("id"),
        (col("id") / 2).cast("long").as("k"), (col("id") % 2).cast("int").as("p"))
        .repartition(parts)
      Media.genPatternPngs(ids, "id", "k", "p", w = 48, h = 40)
        .localCheckpoint(true) // encode cost OUT of the decode clock
    }

    mode match {
      case "audio" =>
        val (statsSec, nStats) = noop(Media.imageStats(pngs(), "id", "content")
          .filter(col("luma_min") < col("luma_max")))
        // audio leg: 16 kHz mono clips, 8,000 frames (~0.5 s) each, windowed
        // at 25 ms -> ~32 windows and 8k real sample reads per clip
        val clips = spark.range(n).select(col("id"),
          lit(16000).as("rate"), lit(1).as("ch"), lit(8000).as("frames"))
          .repartition(parts)
        val wavs = Media.genWavs(clips, "id", "rate", "ch", "frames").localCheckpoint(true)
        val (energySec, nWin) = noop(Media.audioEnergy(wavs, "id", "content", windowMs = 25))
        println(f"SCALE_MEDIA_AUDIO label=$label images=$n stats_sec=$statsSec%.2f " +
          f"stats_imgs_per_sec=${nStats / statsSec}%.0f clips=$n windows=$nWin " +
          f"energy_sec=$energySec%.2f samples_per_sec=${n * 8000 / energySec}%.0f")

      case "video" =>
        // hashes go through xxhash64 so the synthetic keys spread like real
        // dHashes; frame 0 is the SAME intro frame for every video (the
        // crawl black-frame case)
        val nV = n * 10
        val frames = spark.range(nV).select(col("id").as("vid"),
            explode(sequence(lit(0), lit(7))).as("f"))
          .select(col("vid"),
            when(col("f") === 0, xxhash64(lit(-1L)))
              .otherwise(xxhash64((floor(col("vid") / 4) * 8).cast("long")
                + col("f"))).as("h"))
          .repartition(parts).localCheckpoint(true)
        val (sec, nPairs) = noop(
          Media.videoNearPairs(frames, "vid", "h", minShared = 2, maxHashFreq = 1000))
        println(f"SCALE_MEDIA_VIDEO label=$label videos=$nV frames=${nV * 8} " +
          f"pairs=$nPairs pair_sec=$sec%.2f pairs_per_sec=${nPairs / sec}%.0f")

      case "full" | "nopairs" =>
        val media = pngs()
        val (decodeSec, hashed) = time {
          Media.decodeImageMeta(media, "id", "content")
            .select(col("id"), col("dhash")).localCheckpoint(true)
        }
        val (pairSec, pairs) =
          if (mode == "full") noop(Media.dhashNearPairs(hashed, "id", "dhash", maxDist = 3))
          else (-1.0, -1L)
        println(f"SCALE_MEDIA label=$label images=$n decode_hash_sec=$decodeSec%.2f " +
          f"images_per_sec=${n / decodeSec}%.0f pair_join_sec=$pairSec%.2f pairs=$pairs")

      case other => throw new IllegalArgumentException(s"media mode $other")
    }
  }

  /** MP4 keyframe-sampling economy: scene representatives from
    * `Media.mp4Keyframes` (decode ONLY the sync samples' byte ranges)
    * versus the full `Media.videoFrames` walk + per-frame decode. The AVI
    * pipeline must decode EVERY frame to find scene cuts; the MP4 pipeline
    * reads the container's own sync table, so its cost scales with
    * keyframe count, not duration. `framesList` is comma-separated
    * (e.g. `32 60,240,960 12 <label>`).
    * Prints one KF_ECON line per frame count (full vs keyframe seconds).
    */
  private def mp4Keyframes(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(videosS, framesList, stepS, label) = args
    val nVideos = videosS.toInt
    val step = stepS.toInt
    framesList.split(",").map(_.trim.toInt).foreach { nFrames =>
      val ids = spark.range(nVideos).select(
        col("id"), col("id").as("k"),
        lit(nFrames).cast("int").as("n"), lit(step).cast("int").as("s"))
      // materialize generation OUTSIDE the timed region: both paths read
      // the same persisted binaries, so the measured delta is decode only
      val media = Media.genPatternMp4sKeyframed(ids, "id", "k", "n", "s", w = 9, h = 8)
        .localCheckpoint(true)
      // warm both paths once (JIT/codegen), then measure
      noop(Media.videoFrames(media, "id", "content"))
      noop(Media.mp4Keyframes(media, "id", "content"))
      val (fullSec, fullRows) = noop(Media.videoFrames(media, "id", "content"))
      val (kfSec, kfRows) = noop(Media.mp4Keyframes(media, "id", "content"))
      println(f"KF_ECON label=$label videos=$nVideos frames=$nFrames " +
        f"step=$step full_rows=$fullRows full_sec=$fullSec%.2f " +
        f"kf_rows=$kfRows kf_sec=$kfSec%.2f speedup=${fullSec / kfSec}%.1f")
    }
  }

  /** `Dedup.nearDedupIncremental`'s reason to exist: with the corpus held
    * as a persisted signature index, classifying a FIXED-SIZE daily batch
    * should stay near-flat as the corpus grows (index build is the linear,
    * pay-once part; classify reads stored postings + candidate shingle rows
    * only, never corpus text). Corpus = a GenScaleCorpus output (or the
    * base sf dir); batch = 250 verbatim copies of base documents
    * (dup_corpus — exercises the cross rescore's point lookups) + 250
    * token-suffixed novels (admitted — the no-match path).
    * Prints one SCALE_NEAR_INC line.
    */
  private def nearIncremental(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(corpusDir, baseSfDir, label) = args
    val corpus = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select("doc_id", "text")
    val nCorpus = corpus.count()

    val base = spark.read.parquet(s"$baseSfDir/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").limit(500)
    // ids far above any replica range (GenScaleCorpus caps below +1000000)
    val batch = base.limit(250)
      .select((col("doc_id") + 50000000L).as("doc_id"), col("text"))
      .unionByName(base.orderBy(col("doc_id").desc).limit(250)
        .select((col("doc_id") + 60000000L).as("doc_id"),
          // per-token suffix — novel shingles, same length profile
          array_join(transform(split(col("text"), "\\s+"), t => concat(t, lit("·q"))), " ")
            .as("text")))
      .localCheckpoint(true)  // batch prep excluded from the classify clock

    val idx = s"/tmp/graft_scale_nearidx_$label"
    val (buildSec, _) = time(Dedup.buildNearIndex(corpus, "doc_id", "text", idx))
    val verdicts =
      Dedup.nearDedupIncremental(batch, "doc_id", "text", idx, minJaccard = 0.5)
    val (classifySec, _) = noop(verdicts)
    println(f"SCALE_NEAR_INC label=$label corpus_rows=$nCorpus " +
      f"build_sec=$buildSec%.2f classify_sec=$classifySec%.2f " +
      f"verdicts=${verdictCounts(verdicts)}")
  }

  /** Multi-day soak for the incremental near-dedup index — what
    * `near-incremental` cannot measure: N days of `Dedup.appendNearIndex`.
    * Runs the real daily loop — classify a fixed-size batch, append the
    * admissions to corpus + index — and records per day: classify seconds,
    * verdicts, and the parquet file counts of `buckets/` and `shingles/`
    * (every append adds files; an uncompacted index's scan becomes
    * listing-bound, which `Dedup.compactNearIndex` exists to fix). After
    * the loop: one classify on the fragmented index, compaction, and one
    * more classify — the before/after pair that prices compaction.
    * Day-d batch = `batchSize/2` verbatim copies of base docs (dup_corpus)
    * + `batchSize/2` day-suffixed novels (admitted — these grow the index).
    * Prints one `SOAK day=…` line per day and a final `SOAK_SUMMARY` line.
    */
  private def nearSoak(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(baseSfDir, daysS, batchS, label) = args
    val days = daysS.toInt
    val batchSize = batchS.toInt
    val base = spark.read.parquet(s"$baseSfDir/documents.parquet")
      .select("doc_id", "text").localCheckpoint(true)
    val nBase = base.count()

    val idx = s"/tmp/graft_soak_nearidx_$label"
    delete(spark, idx)
    Dedup.buildNearIndex(base, "doc_id", "text", idx)
    def files(): Int =
      parquetFiles(spark, s"$idx/buckets") + parquetFiles(spark, s"$idx/shingles")

    val half = batchSize / 2
    def dayBatch(day: Int) = {
      val copies = base.orderBy("doc_id").limit(half)
        .select((col("doc_id") + 50000000L + day * 100000L).as("doc_id"), col("text"))
      val novels = base.orderBy(col("doc_id").desc).limit(half)
        .select((col("doc_id") + 60000000L + day * 100000L).as("doc_id"),
          array_join(transform(split(col("text"), "\\s+"),
            t => concat(t, lit(s"·q$day"))), " ").as("text"))
      copies.unionByName(novels).localCheckpoint(true)
    }

    // eager localCheckpoint forces full materialization inside the clock;
    // the checkpointed frame then feeds both the verdict tally and the
    // admitted-side append without re-running the classify
    def classifyTimed(batch: DataFrame): (Double, DataFrame) = time {
      Dedup.nearDedupIncremental(batch, "doc_id", "text", idx, minJaccard = 0.5)
        .localCheckpoint(true)
    }

    val daySecs = (1 to days).map { day =>
      val batch = dayBatch(day)
      val (sec, v) = classifyTimed(batch)
      val admitted = batch.join(
        v.filter(col("verdict") === "admitted").select(col("id").as("doc_id")),
        Seq("doc_id"), "left_semi").localCheckpoint(true)
      Dedup.appendNearIndex(admitted, "doc_id", "text", idx)
      println(f"SOAK day=$day%3d classify_sec=$sec%.2f " +
        f"buckets_files=${parquetFiles(spark, s"$idx/buckets")} " +
        f"shingles_files=${parquetFiles(spark, s"$idx/shingles")} " +
        f"verdicts=${verdictCounts(v)}")
      sec
    }

    // fragmented vs compacted: same batch, same index contents
    val probe = dayBatch(days + 1)
    val (fragSec, _) = classifyTimed(probe)
    val filesBefore = files()
    val (compactSec, _) = time(Dedup.compactNearIndex(spark, idx))
    val filesAfter = files()
    val (compSec, _) = classifyTimed(probe)

    println(f"SOAK_SUMMARY label=$label base_rows=$nBase days=$days " +
      f"batch=$batchSize first3_avg_sec=${avg3(daySecs, first = true)}%.2f " +
      f"last3_avg_sec=${avg3(daySecs, first = false)}%.2f " +
      f"frag_classify_sec=$fragSec%.2f files_before=$filesBefore " +
      f"compact_sec=$compactSec%.2f files_after=$filesAfter " +
      f"compacted_classify_sec=$compSec%.2f")
  }

  /** Persisted BM25 index (`SearchIndex`) against the scan form
    * (`Search.bm25TopK`). The scan form re-tokenizes EVERY document's text
    * per query; the indexed form reads only the query terms' postings — a
    * bkt-pruned, `w IN`-filtered parquet scan of (id, tf, dl) rows — so
    * per-query bytes track the terms' document frequency, never the corpus
    * text. Appending a fixed daily batch must cost the batch, not the
    * corpus. Prints one SCALE_SEARCH line.
    */
  private def searchIndex(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(sfDir, multS, label) = args
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = idReplicas(base, "doc_id", multS.toInt, 10000000L).localCheckpoint(true)
    val nCorpus = corpus.count()
    val terms = Seq("hash", "join", "vector")

    // the per-query cost WITHOUT an index: full corpus tokenize per query
    val (scanSec, scanHits) = noop(
      Search.bm25TopK(corpus, "doc_id", "text", terms, k = 20))

    // pay-once build, then the per-query cost FROM the index
    val dir = s"/tmp/graft_scale_sidx_$label"
    delete(spark, dir)
    val (buildSec, _) = time(
      SearchIndex.build(corpus, "doc_id", "text", dir, nBuckets = 64))
    val (querySec, idxHits) = noop(
      SearchIndex.bm25TopKIndexed(spark, dir, terms, k = 20, idColName = "doc_id"))

    // fixed 500-doc daily append: must cost the batch, not the corpus
    val batch = base.limit(500)
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    val (appendSec, _) = time(SearchIndex.append(batch, "doc_id", "text", dir))

    println(f"SCALE_SEARCH label=$label corpus_rows=$nCorpus " +
      f"scan_query_sec=$scanSec%.2f build_sec=$buildSec%.2f " +
      f"indexed_query_sec=$querySec%.2f append_sec=$appendSec%.2f " +
      f"hits_scan=$scanHits hits_idx=$idxHits")
  }

  /** `Dedup.semanticDedupIncremental`, measured honestly: the SemDeDup
    * cross stage compares each batch row against its whole stored cell, so
    * classify cost is O(batch × corpus / k) — LINEAR in the corpus at fixed
    * k. The scale lever is k itself. A fixed 500-vector batch (250 verbatim
    * copies → dup_corpus, 250 negations → admitted) is classified at (a) k
    * frozen at its 1× value and (b) k grown with the corpus.
    * Prints one SCALE_SEM line.
    */
  private def semantic(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(sfDir, multS, label) = args
    val mult = multS.toInt
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // replicas keep the base vectors (classify cost depends on row counts,
    // not values); ids stay below the batch's +50M/+60M ranges
    val corpus = idReplicas(base, "vec_id", mult, 1000000L).localCheckpoint(true)
    val nCorpus = corpus.count()

    // fixed batch: 250 verbatim copies (dup_corpus path) + 250 negations
    // (admitted path — negation is far from everything at 0.999 cosine)
    val batch = base.limit(250)
      .select((col("vec_id") + 50000000L).as("vec_id"), col("embedding"))
      .unionByName(base.orderBy(col("vec_id").desc).limit(250)
        .select((col("vec_id") + 60000000L).as("vec_id"),
          transform(col("embedding"), x => negate(x)).as("embedding")))
      .localCheckpoint(true)

    def run(k: Int, tag: String): (Double, Double, Map[String, Long]) = {
      val idx = s"/tmp/graft_scale_sem_${label}_$tag"
      delete(spark, idx)
      val (buildSec, _) = time(Dedup.buildSemanticIndex(corpus, "vec_id", "embedding",
        idx, k = k, dim = 64))
      val verdicts = Dedup.semanticDedupIncremental(batch,
        "vec_id", "embedding", idx, k = k, dim = 64, threshold = 0.999)
      val (classifySec, _) = noop(verdicts)
      (buildSec, classifySec, verdictCounts(verdicts))
    }

    val kFixed = 64
    val kScaled = 64 * mult
    val (bF, cF, vF) = run(kFixed, "fixedk")
    val (bS, cS, vS) = run(kScaled, "scaledk")
    println(f"SCALE_SEM label=$label corpus_rows=$nCorpus " +
      f"k_fixed=$kFixed build_fixed_sec=$bF%.2f classify_fixed_sec=$cF%.2f " +
      f"k_scaled=$kScaled build_scaled_sec=$bS%.2f classify_scaled_sec=$cS%.2f " +
      s"verdicts_fixed=$vF verdicts_scaled=$vS")
  }

  /** 100-day append/classify soak for the persisted SEMANTIC index — the
    * near-soak protocol applied to `Dedup.buildSemanticIndex`: build once
    * over the base corpus, then every day classify a fixed-size batch
    * (half verbatim copies → dup_corpus, half day-signed novel vectors →
    * admitted), append the admissions, and time ONLY the classify.
    * SemDeDup classify compares each batch row against its whole stored
    * cell, so per-day cost grows ∝ corpus/k as admissions accrete; the
    * soak measures (1) that the creep is bounded by corpus growth (no
    * fragmentation blow-up on top); (2) that compaction restores the file
    * count without changing results; (3) that a REBUILD with k scaled to
    * the grown corpus returns classify to its day-1 cost.
    * Day d's novels are the base vectors times a ±1 pattern keyed on
    * (d, i): near-orthogonal to the originals AND to other days' novels.
    * Prints one SOAK_SEM line per sampled day + a SOAK_SEM_SUMMARY line.
    */
  private def semanticSoak(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(sfDir, daysS, batchS, label) = args
    val days = daysS.toInt
    val batchSize = batchS.toInt
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint(true)
    val nBase = base.count()
    val k0 = 64

    val idx = s"/tmp/graft_soak_semidx_$label"
    delete(spark, idx)
    Dedup.buildSemanticIndex(base, "vec_id", "embedding", idx, k = k0, dim = 64)
    def vectorFiles(): Int = parquetFiles(spark, s"$idx/vectors")

    val half = batchSize / 2
    def dayBatch(day: Int) = {
      val copies = base.orderBy("vec_id").limit(half)
        .select((col("vec_id") + 50000000L + day * 100000L).as("vec_id"),
          col("embedding"))
      val novels = base.orderBy(col("vec_id").desc).limit(half)
        .select((col("vec_id") + 60000000L + day * 100000L).as("vec_id"),
          zip_with(col("embedding"),
            transform(sequence(lit(0), lit(63)),
              i => when(pmod(xxhash64(lit(day), i), lit(2)) === 0, 1.0f)
                .otherwise(-1.0f)),
            (x, s) => x * s).as("embedding"))
      copies.unionByName(novels).localCheckpoint(true)
    }

    // eager localCheckpoint inside the clock: the verdicts feed both the
    // tally and the admitted-side append without re-running the classify
    def classifyTimed(batch: DataFrame, kk: Int, at: String = idx): (Double, DataFrame) =
      time {
        Dedup.semanticDedupIncremental(batch, "vec_id", "embedding", at, k = kk,
          dim = 64, threshold = 0.99).localCheckpoint(true)
      }

    val daySecs = (1 to days).map { day =>
      val batch = dayBatch(day)
      val (sec, v) = classifyTimed(batch, k0)
      val admitted = batch.join(
        v.filter(col("verdict") === "admitted").select(col("id").as("vec_id")),
        Seq("vec_id"), "left_semi").localCheckpoint(true)
      Dedup.appendSemanticIndex(admitted, "vec_id", "embedding", idx, k = k0, dim = 64)
      if (day <= 3 || day % 10 == 0 || day > days - 3)
        println(f"SOAK_SEM day=$day%3d classify_sec=$sec%.2f " +
          f"vector_files=${vectorFiles()} verdicts=${verdictCounts(v)}")
      sec
    }

    // fragmented vs compacted: same probe, same index contents
    val probe = dayBatch(days + 1)
    val (fragSec, _) = classifyTimed(probe, k0)
    val filesBefore = vectorFiles()
    val (compactSec, _) = time(Dedup.compactSemanticIndex(spark, idx, k = k0, dim = 64))
    val filesAfter = vectorFiles()
    val (compSec, _) = classifyTimed(probe, k0)

    // the k lever: rebuild over the grown corpus with k scaled by the
    // growth factor — classify must land back near its day-1 cost
    val grown = spark.read.parquet(s"$idx/vectors")
      .select(col("id").as("vec_id"), col("v").as("embedding"))
      .localCheckpoint(true)
    val nGrown = grown.count()
    val kScaled = math.max(k0, (k0.toLong * nGrown / math.max(nBase, 1L)).toInt)
    val idx2 = s"/tmp/graft_soak_semidx_${label}_rescaled"
    delete(spark, idx2)
    val (rebuildSec, _) = time(Dedup.buildSemanticIndex(grown, "vec_id", "embedding",
      idx2, k = kScaled, dim = 64))
    val (rescaledSec, _) = classifyTimed(probe, kScaled, at = idx2)

    println(f"SOAK_SEM_SUMMARY label=$label base_rows=$nBase days=$days " +
      f"batch=$batchSize first3_avg_sec=${avg3(daySecs, first = true)}%.2f " +
      f"last3_avg_sec=${avg3(daySecs, first = false)}%.2f " +
      f"grown_rows=$nGrown frag_classify_sec=$fragSec%.2f " +
      f"files_before=$filesBefore compact_sec=$compactSec%.2f " +
      f"files_after=$filesAfter compacted_classify_sec=$compSec%.2f " +
      f"k_scaled=$kScaled rebuild_sec=$rebuildSec%.2f " +
      f"rescaled_classify_sec=$rescaledSec%.2f")
  }

  /** 100-day append/classify soak for the PERSISTED media-dedup signature
    * index (the layout behind `Streams.ingestImageDedup` / video / audio):
    * disjoint signature batches arrive daily and admit through
    * `Media.dhashDupIds` against the stored table; the SAME fixed probe
    * batch is classified every day through the persisted read path.
    * Signatures are fed directly (xxhash64-spread 64-bit words) to isolate
    * the INDEX lifecycle from decode cost. Claims:
    *  (1) classify is ONE column-pruned scan of the signature table plus a
    *      broadcast of the bounded probe batch — no shuffle at any age;
    *  (2) append cost is flat — the admitted batch writes its own rows;
    *  (3) planted day-0/day-1 copies classify as dups on EVERY day
    *      (asserted);
    *  (4) end of soak: `Media.compactSigIndex` collapses ~1 file/day to
    *      one file, then `Media.eraseSigIndex` retires the day-0 ids — the
    *      day-0 plants must classify NOVEL afterwards while day-1 plants
    *      still flag (asserted).
    * Prints one SOAK_SIG line per sampled day + a SOAK_SIG_SUMMARY line.
    */
  private def sigSoak(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(daysS, perDayS, label) = args
    val days = daysS.toInt
    val perDay = perDayS.toLong
    val fmt = "audiodedup:v1:windowMs=20:maxDist=3:bandBits=16"
    val root = s"/tmp/graft_soak_sig_$label/idx"
    val sigs = s"$root/sigs"
    delete(spark, s"/tmp/graft_soak_sig_$label")

    // day-d arrivals: ids d·10M+i, signatures hashed from a day-disjoint
    // domain — distinct content every day, so table growth is real
    def dayBatch(day: Int) = spark.range(perDay).select(
      (col("id") + day.toLong * 10000000L).as("aid"),
      xxhash64(col("id") + day.toLong * 10000000L).as("afp"))

    // fixed probe: held-out novel signatures (a domain no day touches) +
    // planted copies of day-0 and day-1 content under fresh ids
    val nPlant = 57L
    // plant i re-uses day-d item i * 17, which must exist
    require(perDay > (nPlant - 1) * 17, s"sig-soak needs perDay > ${(nPlant - 1) * 17}")
    val heldOut = spark.range(200).select(
      (col("id") + 900000000L).as("aid"),
      xxhash64(col("id") - 1000000000L).as("afp"))
    def plants(day: Int, idBase: Long) = spark.range(nPlant).select(
      (col("id") + idBase).as("aid"),
      xxhash64(col("id") * 17L + day.toLong * 10000000L).as("afp"))
    val probe = heldOut.unionByName(plants(0, 910000000L))
      .unionByName(plants(1, 920000000L)).localCheckpoint(true)
    val nProbe = probe.count()

    dayBatch(0).write.parquet(sigs)
    IndexFormat.stamp(spark, root, fmt)

    def classifyTimed(expectFloor: Long, tag: String): (Double, Long) = {
      val (sec, dups) = noop(
        Media.dhashDupIds(probe, "aid", "afp", spark.read.parquet(sigs), "afp"))
      assert(dups >= expectFloor,
        s"$tag: $dups flagged < $expectFloor planted dups — false negative")
      (sec, dups)
    }

    classifyTimed(nPlant, "day 0")
    val daySecs = (1 to days).map { day =>
      val batch = dayBatch(day)
      val (appendSec, _) = time {
        IndexFormat.check(spark, root, fmt)
        val admitted = batch.join(
          Media.dhashDupIds(batch, "aid", "afp", spark.read.parquet(sigs), "afp"),
          Seq("aid"), "left_anti").localCheckpoint(true)
        IndexFormat.invalidate(spark, root)
        admitted.write.mode(SaveMode.Append).parquet(sigs)
        IndexFormat.stamp(spark, root, fmt)
      }
      // from day 1 on both plant sets are in the table
      val (sec, dups) = classifyTimed(nPlant * 2, s"day $day")
      if (day <= 3 || day % 10 == 0 || day > days - 3)
        println(f"SOAK_SIG day=$day%3d append_sec=$appendSec%.2f " +
          f"classify_sec=$sec%.2f flagged=$dups " +
          f"sig_rows=${(day + 1) * perDay}")
      sec
    }

    // maintenance: compact ~1 file/day to one file, then erase day 0
    val (compactSec, _) = time(Media.compactSigIndex(spark, root))
    val nFiles = parquetFiles(spark, sigs)
    val (postCompactSec, _) = classifyTimed(nPlant * 2, "post-compact")

    val (eraseSec, _) = time(Media.eraseSigIndex(spark, root, "aid",
      spark.range(perDay).select(col("id").as("aid"))))
    val day0After = Media.dhashDupIds(plants(0, 910000000L),
      "aid", "afp", spark.read.parquet(sigs), "afp").count()
    val day1After = Media.dhashDupIds(plants(1, 920000000L),
      "aid", "afp", spark.read.parquet(sigs), "afp").count()
    assert(day0After == 0, s"erase left day-0 plants flagged: $day0After")
    assert(day1After == nPlant, s"erase lost day-1 dups: $day1After")

    println(f"SOAK_SIG_SUMMARY label=$label days=$days per_day=$perDay " +
      f"probe_rows=$nProbe first3_avg_sec=${avg3(daySecs, first = true)}%.2f " +
      f"last3_avg_sec=${avg3(daySecs, first = false)}%.2f compact_sec=$compactSec%.2f " +
      f"files_after_compact=$nFiles post_compact_classify_sec=$postCompactSec%.2f " +
      f"erase_sec=$eraseSec%.2f day0_after_erase=$day0After " +
      f"day1_after_erase=$day1After")
  }

  /** `Spans.duplicateSpans` / `removeDuplicateSpans`: suffixed replicas
    * share NO shingles, so the planted duplicate structure — a boilerplate
    * suffix on every third doc plus a verbatim copy of every seventh, per
    * replica — is identical at every scale and the span count must grow
    * exactly linearly (a correctness check). The shuffles carry
    * (id, pos, hash) postings and (hash, count) pairs, both linear in
    * corpus tokens, so the expected curve is ~linear time.
    * Prints one SCALE_SPANS line.
    */
  private def spans(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(sfDir, multS, label) = args
    val base0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val planted = base0.withColumn("text",
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" LICENSE HEADER COMMON TO MANY DOCUMENTS IN CORPUS")))
        .otherwise(col("text")))
      .unionByName(base0.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
    val corpus = suffixedReplicas(planted, multS.toInt)
      .localCheckpoint(true)
    val nDocs = corpus.count()

    val (findSec, nSpans) = noop(Spans.duplicateSpans(corpus, "doc_id", "text"))
    val stripped = Spans.removeDuplicateSpans(corpus, "doc_id", "text")
    val (stripSec, _) = noop(stripped)
    val nRemoved = stripped.agg(sum("n_removed")).head.getLong(0)
    println(f"SCALE_SPANS label=$label docs=$nDocs spans=$nSpans " +
      f"removed_tokens=$nRemoved find_sec=$findSec%.2f strip_sec=$stripSec%.2f")
  }

  /** URL-curation tier (`Urls`): normalization is scan-bound (pure regex
    * projection, no shuffle — PlanShapeSpec pins the plan) and URL-level
    * dedup's one shuffle carries (canonical-url, id) keys. Every page id
    * appears as TWO decorated variants (case/port/slash/params/fragment)
    * that must collapse, plus a malformed row per 10 pages.
    * Prints one SCALE_URLS line.
    */
  private def urls(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(sfDir, multS, label) = args
    val base = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id")
    val ids = idReplicas(base, "doc_id", multS.toInt, 10000000L)
    val k = floor(col("doc_id") / 2).cast("long")
    val urls = ids.select(col("doc_id"),
        when(col("doc_id") % 20 === 19, lit("not a url"))
          .otherwise(concat(
            when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
            lit("://Site"), (k % 997).cast("string"),
            when(col("doc_id") % 2 === 0, lit(".Example.COM:443"))
              .otherwise(lit(".example.com")),
            lit("/docs/"), k.cast("string"),
            when(col("doc_id") % 2 === 0, lit("/?utm_source=feed&b=2&a=1#frag"))
              .otherwise(lit("?a=1&b=2")))).as("url"))
      .localCheckpoint(true)
    val nRows = urls.count()

    val (normSec, nNorm) = noop(urls.select(Urls.normalizeUrl(col("url")).as("u"))
      .filter(col("u").isNotNull))
    val (dedupSec, nKept) = noop(Urls.dedupByUrl(urls, "doc_id", "url"))
    println(f"SCALE_URLS label=$label rows=$nRows normalized=$nNorm " +
      f"kept=$nKept norm_sec=$normSec%.2f dedup_sec=$dedupSec%.2f")
  }

  /** 100-day arrival soak for the STREAMING ingest tiers: drives the REAL
    * ingest batch bodies end to end, daily — container decode, in-batch
    * dedup, persisted-index admission, and the commit-marker window — with
    * real AVI/MP4/WAV/PDF/WARC payloads. Modalities:
    *  - `video` → `Streams.ingestVideoDedupBatch`: days alternate AVI and
    *    MP4 containers, and every day ≥ 1 carries planted RE-CONTAINERED
    *    copies of day-0/day-1 content under fresh ids (opposite container,
    *    audio-first MP4, fragmented MP4) — each must classify dup;
    *  - `videokf` → the same under `admit = "keyframe"`, `maxFrames = 8`,
    *    plus 12-frame keyframed MP4s (over the cap) whose 4 sync samples
    *    carry day-0 content: keyframe admission must CLASSIFY each dup;
    *  - `audio` → `Streams.ingestAudioDedupBatch`: plants are 1-bit-
    *    perturbed re-levelled copies;
    *  - `pdf` → `Streams.ingestPdfBatch`: plants are re-COMPRESSED copies;
    *  - `warc` → `Streams.ingestWarcBatch`: plants are re-compressed
    *    re-crawls.
    * Asserted, not just measured: (1) every planted dup is rejected on
    * every day — corpus row count tracks the novel count EXACTLY; (2) no
    * video payload is quarantined; (3) end-of-soak maintenance: compact →
    * plants still reject; erase day-0 → day-0 plants re-ADMIT while day-1
    * plants still reject. Needs `days` ≥ 2 and `perDay` ≥ 25 (the plant
    * count).
    * Prints one SOAK_AV line per sampled day + a SOAK_AV_SUMMARY line.
    */
  private def avSoak(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(modality, daysS, perDayS, label) = args
    val days = daysS.toInt
    val perDay = perDayS.toLong
    val nPlant = 25
    // the plants re-drop day-0/day-1 items 0 until nPlant, and the
    // maintenance checks need day-1 content in the index
    require(days >= 2 && perDay >= nPlant, s"av-soak needs days >= 2, perDay >= $nPlant")

    val root = s"/tmp/graft_soak_av_${modality}_$label"
    delete(spark, root)
    val (corpus, idx, quar) = (s"$root/corpus", s"$root/idx", s"$root/quar")

    // novel item i of day d: id = d·1M + i, pattern = d·10M + i (day-
    // disjoint content); plants re-use day-p patterns under fresh ids
    def ids(day: Int, n: Long, idBase: Long): DataFrame =
      spark.range(n).select(
        (col("id") + idBase).as("mid"),
        (col("id") + day.toLong * 10000000L).as("k"))

    // noise fixtures, not the pattern/tone ones: the oracle fixtures fold
    // their hash/fingerprint spaces to ≤256 values BY DESIGN (so SQL can
    // replay them), which floods a 60k-item soak with chance dups; the
    // noise generators give effectively unique signatures, so exact
    // corpus-count assertions hold
    def videos(day: Int, n: Long, idBase: Long, mp4: Boolean): DataFrame =
      Media.genNoiseVideos(
        ids(day, n, idBase).withColumn("n", lit(3)).withColumn("mp4", lit(mp4)),
        "mid", "k", "n", "mp4", 9, 8)
    def wavs(day: Int, n: Long, idBase: Long, perturb: Int): DataFrame =
      Media.genNoiseWavs(
        ids(day, n, idBase).withColumn("p", lit(perturb)).withColumn("nw", lit(65)),
        "mid", "k", "p", "nw")
    // genPdfs/genWarcs derive their CONTENT from the id column, so
    // generate keyed on the day-disjoint pattern k (plants re-use
    // day-0/1 k's → identical content → dup), then attach the fresh id
    def pdfs(day: Int, n: Long, idBase: Long, flipFlate: Boolean): DataFrame = {
      val base = ids(day, n, idBase).withColumn("np", lit(2))
        .withColumn("flate",
          if (flipFlate) col("mid") % 2 === 1 else col("mid") % 2 === 0)
      Pdf.genPdfs(base.select(col("k"), col("np"), col("flate")), "k", "np", "flate")
        .join(base.select(col("mid"), col("k")), Seq("k"))
        .select(col("mid"), col("content"))
    }
    def warcs(day: Int, n: Long, idBase: Long, flipGz: Boolean): DataFrame = {
      val base = ids(day, n, idBase).withColumn("nr", lit(2))
        .withColumn("gz",
          if (flipGz) col("mid") % 2 === 1 else col("mid") % 2 === 0)
      Warc.genWarcs(base.select(col("k"), col("nr"), col("gz")), "k", "nr", "gz")
        .join(base.select(col("mid"), col("k")), Seq("k"))
        .select(col("mid"), col("content"))
    }

    // a day's batch: perDay novel items + (day ≥ 1) re-drops of day-0 and
    // day-1 content under fresh ids — every plant must classify dup
    def withPlants(novel: DataFrame, day: Int, p0: => DataFrame,
                   p1: => DataFrame): DataFrame =
      if (day == 0) novel
      else if (day == 1) novel.unionByName(p0)
      else novel.unionByName(p0).unionByName(p1)
    def dayBatch(day: Int): DataFrame = modality match {
      case "video" | "videokf" =>
        val novel = videos(day, perDay, day.toLong * 1000000L, mp4 = day % 2 == 1)
        // plants re-containered OPPOSITE to their origin day's container
        val p0 = videos(0, nPlant, 900000000L + day * 10000L, mp4 = true)
        val p1 = videos(1, nPlant, 910000000L + day * 10000L, mp4 = false)
        // + AUDIO-FIRST MP4 re-containers of day-0 content (the crawl
        // track order): each must classify dup via the hdlr-dispatched
        // frame walk — a positional reader would quarantine these
        val p2 = Media.genNoiseVideosAvOrder(
          ids(0, nPlant, 920000000L + day * 10000L).withColumn("n", lit(3)),
          "mid", "k", "n", 9, 8)
        // + FRAGMENTED (DASH) re-packagings of day-1 content — the third
        // container form; classifies dup through the moof/trun walk
        val p3 = Media.genNoiseFmp4s(
          ids(1, nPlant, 930000000L + day * 10000L).withColumn("n", lit(3)),
          "mid", "k", "n", 9, 8)
        // videokf only: LONG keyframed MP4s (4 scenes × 3 = 12 frames,
        // OVER the maxFrames=8 cap) whose sync samples carry day-0
        // content — keyframe admission must CLASSIFY each one dup on its
        // 4 keyframe decodes (the hour-long-outlier plant)
        val p4 = if (modality != "videokf") None else Some(
          Media.genNoiseKeyframedMp4s(
            ids(0, nPlant, 940000000L + day * 10000L)
              .withColumn("scenes", lit(4)).withColumn("step", lit(3)),
            "mid", "k", "scenes", "step", 9, 8))
        if (day == 0) novel
        else if (day == 1) p4.foldLeft(novel.unionByName(p0))(_ unionByName _)
        else p4.foldLeft(novel.unionByName(p0).unionByName(p1).unionByName(p2)
          .unionByName(p3))(_ unionByName _)
      case "audio" =>
        withPlants(wavs(day, perDay, day.toLong * 1000000L, perturb = 0), day,
          wavs(0, nPlant, 900000000L + day * 10000L, perturb = 1),
          wavs(1, nPlant, 910000000L + day * 10000L, perturb = 1))
      case "pdf" =>
        withPlants(pdfs(day, perDay, day.toLong * 1000000L, flipFlate = false), day,
          pdfs(0, nPlant, 900000000L + day * 10000L, flipFlate = true),
          pdfs(1, nPlant, 910000000L + day * 10000L, flipFlate = true))
      case "warc" => // plants are re-COMPRESSED re-crawls (gz toggled)
        withPlants(warcs(day, perDay, day.toLong * 1000000L, flipGz = false), day,
          warcs(0, nPlant, 900000000L + day * 10000L, flipGz = true),
          warcs(1, nPlant, 910000000L + day * 10000L, flipGz = true))
      case other => throw new IllegalArgumentException(s"modality $other")
    }

    def ingest(batch: DataFrame, batchId: Long): Unit = modality match {
      case "video" => Streams.ingestVideoDedupBatch(
        batch, batchId, corpus, idx, quar, "mid", "content")
      // keyframe-admission soak: cap 8 < the 12-frame keyframed plants,
      // so only the sync-sample economy keeps them classifiable
      case "videokf" => Streams.ingestVideoDedupBatch(
        batch, batchId, corpus, idx, quar, "mid", "content",
        maxFrames = 8, admit = "keyframe")
      case "audio" => Streams.ingestAudioDedupBatch(
        batch, batchId, corpus, idx, quar, "mid", "content")
      case "pdf" => Streams.ingestPdfBatch(
        batch, batchId, corpus, idx, quar, "mid", "content")
      case "warc" => Streams.ingestWarcBatch(
        batch, batchId, corpus, idx, quar, "mid", "content")
    }
    val hashIndex = modality == "pdf" || modality == "warc"
    // corpus rows per novel item: PDF stores one row per PAGE (2),
    // WARC one per RECORD (warcinfo + 2 request/response pairs = 5)
    val rowsPerItem = modality match {
      case "pdf" => 2L
      case "warc" => 5L
      case _ => 1L
    }
    val indexSub = if (hashIndex) "hashes" else "sigs"
    def corpusRows(): Long = spark.read.parquet(corpus).count()
    def indexRows(): Long = spark.read.parquet(s"$idx/$indexSub").count()

    // ---- the soak --------------------------------------------------------
    val daySecs = (0 until days).map { day =>
      val batch = dayBatch(day).localCheckpoint(true) // time INGEST, not gen
      val (sec, _) = time(ingest(batch, day.toLong))
      val got = corpusRows()
      val want = (day + 1) * perDay * rowsPerItem
      assert(got == want,
        s"day $day: corpus $got != $want — a planted dup was admitted " +
          "or novel content was dropped")
      if (day <= 3 || day % 10 == 0 || day >= days - 3)
        println(f"SOAK_AV modality=$modality day=$day%3d ingest_sec=$sec%.2f " +
          f"corpus_rows=$got index_rows=${indexRows()}")
      sec
    }

    // the video ingest must REJECT every plant as a dup, never quarantine
    // it: rejection and quarantine are different verdicts
    if (modality == "video" || modality == "videokf") {
      val q = spark.read.parquet(quar).count()
      assert(q == 0, s"video soak quarantined $q payloads — decode regression" +
        (if (modality == "videokf")
          " (an over-cap keyframed plant quarantining instead of" +
            " classifying means the keyframe admission economy regressed)"
        else ""))
    }

    // ---- maintenance: compact → classify → erase day-0 → re-admit -------
    val (compactSec, _) = time {
      if (hashIndex) Streams.compactHashIndex(spark, idx)
      else Media.compactSigIndex(spark, idx)
    }
    val nFiles = parquetFiles(spark, s"$idx/$indexSub")

    // post-compact: a plants-only day admits nothing
    def plantsOnly(): DataFrame =
      dayBatch(math.max(days, 2)).filter(col("mid") >= 900000000L).localCheckpoint(true)
    val preRows = corpusRows()
    val (postCompactSec, _) = time(ingest(plantsOnly(), days.toLong))
    assert(corpusRows() == preRows, "post-compact plants admitted")

    // erase day-0, then day-0 plants must RE-ADMIT while day-1 still reject
    val (eraseSec, _) = time {
      if (hashIndex) {
        val idc = if (modality == "pdf") "doc_id" else "file_id"
        Streams.eraseHashIndex(spark, idx,
          spark.read.parquet(corpus).filter(col(idc) < 1000000L).select("__h"))
      } else Media.eraseSigIndex(spark, idx, "mid",
        spark.range(perDay).select(col("id").as("mid")))
    }
    ingest(plantsOnly(), days.toLong + 1)
    val afterErase = corpusRows()
    val wantGrowth = nPlant * rowsPerItem // day-0 plants only; day-1 reject
    assert(afterErase == preRows + wantGrowth,
      s"post-erase: corpus $afterErase != ${preRows + wantGrowth} — " +
        "erasure dropped too much or too little")

    println(f"SOAK_AV_SUMMARY modality=$modality label=$label days=$days " +
      f"per_day=$perDay first3_avg_sec=${avg3(daySecs, first = true)}%.2f " +
      f"last3_avg_sec=${avg3(daySecs, first = false)}%.2f " +
      f"compact_sec=$compactSec%.2f files_after_compact=$nFiles " +
      f"post_compact_ingest_sec=$postCompactSec%.2f erase_sec=$eraseSec%.2f " +
      f"post_erase_readmitted=$wantGrowth")
  }
}
