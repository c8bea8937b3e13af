package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.Pipeline.{Pinned, pin}

/** Structured Streaming layer. The reference's "streaming" is a push loop —
  * one MQ delivery per DAG walk, no event time, no windows, no late-data
  * handling (`/root/reference/src/Sources/Amqp.php:89-103`, SURVEY.md §2
  * streaming audit). Here the same sources become micro-batch streams with
  * real event-time semantics: watermarks, tumbling/sliding/session windows,
  * and state-bounded dedup — all checkpointable and exactly-once into
  * idempotent sinks, which also replaces the reference's Redis locks.
  */
object Streams {
  private val nameCounter = new AtomicInteger(0)

  /** File-arrival stream over a directory — the streaming FindFiles
    * (`src/Sources/FindFiles.php:53-74`): new files become new micro-batches.
    */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
                 format: String = "parquet",
                 options: Map[String, String] = Map.empty): DataFrame =
    options.foldLeft(
      spark.readStream.schema(schema).format(format)
        .option("pathGlobFilter", s"*.$format")) {
      case (r, (k, v)) => r.option(k, v)
    }.load(dir)

  /** Tumbling/sliding event-time windowed aggregation with a watermark. */
  def windowedCounts(df: DataFrame, tsCol: String, windowDur: String,
                     slideDur: Option[String], watermarkDelay: String,
                     groupCols: Seq[String]): DataFrame = {
    val win = slideDur.fold(window(col(tsCol), windowDur))(s => window(col(tsCol), windowDur, s))
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(win +: groupCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("wstart") +: groupCols.map(col) :+ col("cnt"): _*)
  }

  /** Session windows (gap-based) — new capability vs the reference. */
  def sessionCounts(df: DataFrame, tsCol: String, gap: String,
                    watermarkDelay: String, groupCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap) +: groupCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(col("session_window.start").as("wstart") +: groupCols.map(col) :+ col("cnt"): _*)

  /** Streaming dedup with state bounded by the watermark — the streaming
    * form of the ClickHouse flag dedup (SURVEY.md §2.3); never unbounded
    * `dropDuplicates` on a stream.
    */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, delay: String,
                           keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keys)

  /** Custom per-key streaming state via `flatMapGroupsWithState` — the
    * escape hatch for semantics windows can't express (SURVEY.md §7.3).
    * Emits one row per key per micro-batch with the running count and sum
    * over ALL batches so far. State is one tiny row per key and NEVER
    * EXPIRES in this overload — correct only for bounded key domains
    * (status codes, device models); for unbounded keys (user ids) use the
    * event-time-timeout overload below, or state grows forever. The
    * reference's only cross-run state is its ClickHouse flag column +
    * Redis locks (SURVEY.md §2.3) — this is the checkpointed,
    * exactly-once form.
    */
  def runningTotals(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import df.sparkSession.implicits._
    val pairs = df.select(col(keyCol).cast("string"), col(valueCol).cast("double"))
      .as[(String, Double)]
    pairs.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (String, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          rows.foreach { case (_, v) => n += 1; s += v }
          state.update((n, s))
          Iterator((key, n, s))
      }
      .toDF(keyCol, "running_count", "running_sum")
  }

  /** [[runningTotals]] with BOUNDED state: a key's state is evicted once
    * the event-time watermark passes its last event by `idleTimeout` —
    * the 100 TB-safe form for unbounded key domains (user ids), where
    * NoTimeout state grows with every key ever seen. A key that reappears
    * after eviction restarts its totals from zero (the price of
    * boundedness; widen `idleTimeout` to trade memory for history).
    * `tsCol` must be the event-time column; the watermark is applied here.
    */
  def runningTotalsExpiring(df: DataFrame, keyCol: String, valueCol: String,
                            tsCol: String, watermarkDelay: String,
                            idleTimeout: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import df.sparkSession.implicits._
    val idleMs = durationMs(idleTimeout)
    // watermark AFTER the cast: casting creates a fresh attribute, and a
    // watermark tagged on the pre-cast column would not survive it. Casts
    // are try_cast — Spark 4's default ANSI mode makes a plain cast THROW
    // on a malformed string, killing the query — and rows whose event time
    // or value is null/uncastable are dropped BEFORE the state op: they
    // carry no event time (the watermark can't evict them) or no value,
    // and a null in the typed tuple would NPE the task. One bad record
    // must not kill a continuous query.
    val rows3 = df
      .select(col(keyCol).cast("string").as("__k"),
        col(valueCol).try_cast("double").as("__v"),
        col(tsCol).try_cast("timestamp").as("__t"))
      .filter(col("__t").isNotNull && col("__v").isNotNull)
      .withWatermark("__t", watermarkDelay)
      .as[(String, Double, java.sql.Timestamp)]
    rows3.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double, Long), (String, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[(Long, Double, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val (n0, s0, t0) = state.getOption.getOrElse((0L, 0.0, Long.MinValue))
            var n = n0; var s = s0; var maxTs = t0
            rows.foreach { case (_, v, t) =>
              n += 1; s += v; if (t.getTime > maxTs) maxTs = t.getTime
            }
            state.update((n, s, maxTs))
            // evict when the watermark passes last-event + idle; clamp above
            // the current watermark (late-but-admitted events could otherwise
            // place the timeout in the past, which Spark rejects)
            state.setTimeoutTimestamp(
              math.max(maxTs + idleMs, state.getCurrentWatermarkMs() + 1))
            Iterator((key, n, s))
          }
      }
      .toDF(keyCol, "running_count", "running_sum")
  }

  /** "N unit" duration → milliseconds (seconds/minutes/hours/days). */
  private def durationMs(d: String): Long = {
    val Array(n, unit) = d.trim.toLowerCase.split("\\s+")
    val base = unit.stripSuffix("s") match {
      case "second" => 1000L
      case "minute" => 60000L
      case "hour"   => 3600000L
      case "day"    => 86400000L
      case other    => throw new IllegalArgumentException(s"unsupported unit: $other")
    }
    n.toLong * base
  }

  /** Stream-stream inner join within an event-time interval — the
    * attribution/funnel primitive (e.g. click → purchase within 30 min).
    * Both sides carry the SAME watermark delay and the join condition
    * bounds `rightTs` to `[leftTs, leftTs + maxGap]`, so Spark can evict
    * buffered state as the watermark advances — state is
    * O(rate × (delay + maxGap)) per key range, never unbounded. Column
    * names must be disjoint across the two sides (alias before calling for
    * self-joins). Inner join in append mode: each matched pair is emitted
    * exactly once.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCond: org.apache.spark.sql.Column,
                   leftTs: String, rightTs: String, watermarkDelay: String,
                   maxGap: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r, keyCond &&
      col(rightTs) >= col(leftTs) &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $maxGap"))
  }

  /** The reference's `cron:` scheduling modes mapped to triggers
    * (`/root/reference/src/Scheduler.php:79-96`): interval N seconds →
    * ProcessingTime; -1 (run once) → AvailableNow.
    */
  def triggerOf(cron: Int): Trigger =
    if (cron == -1) Trigger.AvailableNow()
    else Trigger.ProcessingTime(math.max(cron, 1) * 1000L)

  /** Deliver a stream to an arbitrary batch sink via `foreachBatch` — the
    * reference's core end-to-end shape (`Sources\Amqp` → `Sinks\Pdo`,
    * SURVEY.md §3 E2): each micro-batch runs the batch writer, and the
    * checkpoint makes delivery exactly-once for idempotent writers
    * (upsert/update) where the reference is at-most-once per message.
    */
  def foreachBatchSink(df: DataFrame, checkpoint: String,
                       trigger: Trigger = Trigger.AvailableNow())(
      fn: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .foreachBatch((b: DataFrame, id: Long) => fn(b, id))
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Streaming corpus ingest with exact content dedup — the daily-feed
    * shape of an LLM training-data pipeline run continuously: each
    * micro-batch admits only rows whose content is new (not in the stored
    * corpus, not earlier in the batch) and appends them to `corpusPath`.
    * The corpus rows are written WITH their content-hash column (`__h`,
    * [[graft.ext.Dedup.contentHash]]), so each batch reads ONLY that column
    * back — a column-pruned scan of fixed-width hashes. Without the stored
    * hash, every batch would re-read and re-hash the full content of the
    * whole corpus.
    *
    * Per micro-batch: each row is hashed once and the in-batch min-id
    * survivors are computed once and pinned; the corpus format comes from
    * the file listing and one footer read on the driver (no schema
    * inference job); the pinned hashes broadcast into one scan of the
    * stored `__h` column, whose hits return to the driver; the batch minus
    * those hits is appended as one file ([[graft.ext.Dedup.admitNewByKey]]).
    * A small batch into a hash-format corpus runs 5 Spark jobs: the window
    * shuffle, the pin, the key broadcast, the stored probe and the write.
    * Bytes moved are O(batch); bytes read are the stored `__h` column.
    *
    * Delivery is idempotent BY CONSTRUCTION, not just by checkpoint: a
    * replayed micro-batch re-probes a corpus that already holds its
    * content, admits zero rows, and appends nothing — so
    * failure/retry cannot double-ingest content even across checkpoint
    * loss. (Which ID survives for duplicated content follows batch arrival
    * order; the admitted CONTENT set is order-independent.)
    */
  def ingestDedup(stream: DataFrame, corpusPath: String, contentCols: Seq[String],
                  idCol: String, checkpoint: String,
                  trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, _) =>
      ingestDedupBatch(batch, corpusPath, contentCols, idCol)
    }

  /** Streaming corpus ingest with eval-set DECONTAMINATION before the
    * [[ingestDedup]] admission: each micro-batch first drops every row
    * sharing a shingle with the persisted decontamination index at
    * `indexDir` ([[graft.ext.Curation.decontaminateIncremental]] — stored
    * benchmark hashes broadcast over the batch; the index must be BUILT
    * before the stream starts and may be appended to between batches as
    * new benchmarks land — later batches see the wider index immediately),
    * then the survivors flow through the exact content-hash dedup
    * admission. Replay safety composes: the decontam filter is a pure
    * function of (batch, index) and the dedup anti-join re-admits nothing
    * whose content the corpus already holds, so a replayed batch appends
    * nothing even if the index grew in between (a row admitted before an
    * index append stays admitted — decontamination governs ingest, not
    * retroactive deletion; re-screen the corpus with
    * [[graft.ext.Curation.decontaminateIncremental]] for that).
    */
  def ingestDecontam(stream: DataFrame, corpusPath: String, indexDir: String,
                     contentCols: Seq[String], idCol: String, textCol: String,
                     checkpoint: String, shingleN: Int = 3,
                     trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, _) =>
      val clean = graft.ext.Curation.decontaminateIncremental(
        batch, idCol, textCol, indexDir, shingleN)
      ingestDedupBatch(clean, corpusPath, contentCols, idCol)
    }

  /** Streaming corpus ingest with BLOOM membership admission — the
    * map-only sibling of [[ingestDedup]] for corpora too large to anti-join
    * per batch: the stored corpus is represented by an m-bit bitmap at
    * `bloomDir` (fixed m/8 bytes regardless of corpus rows), each
    * micro-batch is in-batch exact-deduped (min-id per content, the
    * [[graft.ext.Dedup.exact]] rule) then tested against the bitmap
    * scan-side, admitted rows append to `corpusPath`, and their bits OR
    * into the bitmap so the NEXT batch sees them. The batch side never
    * shuffles against corpus state and the corpus is never re-read —
    * continuous ingest is O(batch) per batch at ANY corpus size, the
    * trade being the Bloom false-positive rate (novel rows dropped at
    * ~fill^k; never the reverse — duplicates are always caught).
    *
    * Crash discipline is the contract of the shared ingest step
    * (`bootstrapOrAdmit`), written out here because two things differ: the
    * bootstrap writes even an empty batch, and the append's writer ORs
    * into the bitmap its admission read. Appends run inside one
    * [[graft.ext.IndexFormat.commit]] over corpus + bitmap; a replayed
    * COMMITTED batch re-tests against a bitmap that already holds its
    * bits and appends nothing.
    */
  def ingestBloomDedup(stream: DataFrame, corpusPath: String, bloomDir: String,
                       idCol: String, textCol: String, checkpoint: String,
                       k: Int = 7, mBits: Long = 1L << 22,
                       trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, _) =>
      val spark = batch.sparkSession
      val fmt = s"bloom:v1:k=$k:m=$mBits"
      val bitsPath = s"$bloomDir/bits"
      val fresh = graft.ext.Dedup.exact(batch, Seq(textCol), idCol)
        .localCheckpoint(true)
      if (!graft.ext.IndexFormat.dataExists(spark, bloomDir)) {
        // bootstrap: a replay overwrites identical content (corpusPath
        // belongs to this ingest), then the stamp commits the bitmap
        graft.ext.IndexFormat.commit(spark, bloomDir, fmt) {
          fresh.write.mode(SaveMode.Overwrite).parquet(corpusPath)
          graft.ext.Bloom.writeBits(spark, bitsPath,
            graft.ext.Bloom.build(fresh, textCol, k, mBits))
        }
      } else {
        graft.ext.IndexFormat.check(spark, bloomDir, fmt)
        val bits = graft.ext.Bloom.readBits(spark, bitsPath)
        // own the bitmap broadcast for exactly this batch: the eager
        // localCheckpoint materializes every admitted row, after which the
        // broadcast is dead weight — destroying it here keeps a long-running
        // stream at ONE bitmap-sized block, not one leaked per micro-batch
        val bc = spark.sparkContext.broadcast(bits)
        val Pinned(admitted, n, _) =
          try pin(graft.ext.Bloom.flagDuplicatesBc(fresh, textCol, bc, k, mBits)
            .filter(!col("maybe_dup")).drop("maybe_dup"))
          finally bc.destroy()
        if (n > 0) graft.ext.IndexFormat.commit(spark, bloomDir, fmt) {
          admitted.write.mode(SaveMode.Append).parquet(corpusPath)
          graft.ext.Bloom.writeBits(spark, bitsPath, graft.ext.Bloom.orInto(
            bits, graft.ext.Bloom.build(admitted, textCol, k, mBits)))
        }
      }
    }

  /** Streaming IMAGE ingest with perceptual dedup — the multimodal member
    * of the exactly-once ingest family: each micro-batch of (id, content)
    * payloads is decoded leniently ([[graft.ext.Media.decodeImageMetaLenient]]
    * — a dirty crawl must not fail the stream), undecodable rows land in a
    * per-batch quarantine partition, decodable rows are in-batch
    * near-deduped by dHash band join (min-id representative, the
    * `mm_pair_curation` rule), then admitted against the PERSISTED
    * signature table at `indexDir/sigs` via [[graft.ext.Media.dhashDupIds]]
    * (batch side broadcast — the corpus never shuffles and classify cost
    * stays flat as the signature table grows). Admitted rows append to
    * `corpusPath` WITH their dhash; their signatures append to the index
    * so the NEXT batch dedups against them too.
    *
    * Exactly-once discipline is the contract of the step every stamped
    * ingest shares (`bootstrapOrAdmit`), dispatching on the signature
    * data; a replayed COMMITTED batch re-classifies its own rows as dups
    * (their hashes are in the index, Hamming 0 ≤ maxDist). Every
    * quarantining ingest (this one, audio, video, WARC, PDF) writes its
    * quarantine rows to `quarantinePath/batch_id=N` with Overwrite before
    * that step, so a replay rewrites the same partition instead of
    * appending it twice (O(batch), no scan of the existing quarantine).
    *
    * Upgrade note (applies to every ingest's quarantine): the quarantine
    * schema has evolved (payload column added; WARC/PDF column order
    * changed), so a quarantine root holding pre-upgrade `batch_id=N`
    * partitions next to new ones has mixed parquet schemas — read such a
    * root with `option("mergeSchema", true)` (plain `read.parquet` infers
    * from one sampled footer and can silently drop the payload column), or
    * rewrite it once, or point upgraded ingests at a fresh quarantine path.
    */
  def ingestImageDedup(stream: DataFrame, corpusPath: String, indexDir: String,
                       quarantinePath: String, idCol: String, contentCol: String,
                       checkpoint: String, maxDist: Int = 3, bandBits: Int = 16,
                       trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, batchId) =>
      ingestImageDedupBatch(batch, batchId, corpusPath, indexDir,
        quarantinePath, idCol, contentCol, maxDist, bandBits)
    }

  /** One micro-batch of [[ingestImageDedup]] — the idempotent unit the
    * stream repeats, exposed so the config layer
    * ([[graft.core.Config]] sink `ingestImageDedup`) can ride its own
    * `foreachBatch` delivery (or run a one-shot batch ingest at
    * `batchId=0`). All exactly-once guarantees live HERE; the streaming
    * wrapper adds only the checkpointed trigger loop.
    */
  def ingestImageDedupBatch(batch: DataFrame, batchId: Long,
                            corpusPath: String, indexDir: String,
                            quarantinePath: String, idCol: String,
                            contentCol: String, maxDist: Int = 3,
                            bandBits: Int = 16): Unit = {
      val spark = batch.sparkSession
      require(!batch.columns.contains("dhash"),
        "'dhash' is a reserved corpus column — rename it upstream")
      val fmt = s"imagededup:v1:maxDist=$maxDist:bandBits=$bandBits"
      val sigsPath = s"$indexDir/sigs"
      val decoded = graft.ext.Media
        .decodeImageMetaLenient(batch, idCol, contentCol).localCheckpoint(true)
      val good = decoded.filter(col("decode_ok"))
        .select(col(idCol), col(contentCol), col("dhash"))
      // in-batch representatives: drop the larger id of every near pair
      val losers = graft.ext.Media
        .dhashNearPairs(good, idCol, "dhash", maxDist, bandBits)
        .select(col("right_id").as(idCol))
      val reps = good.join(losers, Seq(idCol), "left_anti")
      decoded.filter(!col("decode_ok"))
        .select(col(idCol), col(contentCol), col("decode_err"), col("mime"))
        .write.mode(SaveMode.Overwrite).parquet(s"$quarantinePath/batch_id=$batchId")
      bootstrapOrAdmit(spark, sigsPath, indexDir, fmt)(reps,
        pin(reps.join(graft.ext.Media.dhashDupIds(reps, idCol, "dhash",
            spark.read.parquet(sigsPath), "dhash", maxDist, bandBits),
          Seq(idCol), "left_anti")),
        (rows, _, mode) => graft.ext.IndexFormat.commit(spark, indexDir, fmt) {
          rows.write.mode(mode).parquet(corpusPath)
          rows.select(col(idCol), col("dhash")).write.mode(mode).parquet(sigsPath)
        })
    }

  /** The one bootstrap-or-admit step of every stamped stream ingest
    * ([[ingestImageDedupBatch]], [[ingestAudioDedupBatch]],
    * [[ingestVideoDedupBatch]], [[ingestWarcBatch]], [[ingestPdfBatch]],
    * [[ingestNearDedup]], [[ingestSemanticDedup]], [[ingestVectors]] and
    * [[ingestSearchDocs]]), and the crash-window contract they share:
    *  - dispatch keys off DATA presence at `dataPath`
    *    ([[graft.ext.IndexFormat.dataExists]]), never the `_meta` stamp:
    *    the stamp is legitimately absent inside a commit window, and
    *    reading that state as "no index" would send a replay into the
    *    bootstrap branch, which overwrites the index with one batch;
    *  - bootstrap: `bootstrap` is pinned with its row count
    *    ([[graft.core.Pipeline.pin]]) and, unless empty, written with
    *    Overwrite, so a replayed bootstrap rewrites identical content
    *    instead of appending it twice (corpus and index paths belong to the
    *    ingest). An empty first batch (say, all quarantined) does not
    *    bootstrap: an empty write would leave a schema-less data dir the
    *    next batch cannot read;
    *  - otherwise: [[graft.ext.IndexFormat.check]] against `fmt`, then
    *    `admit`, which returns the admitted rows pinned with their count,
    *    so neither the emptiness decision nor the writes re-run the probe;
    *    unless nothing was admitted, an Append;
    *  - `write(rows, rowCount, mode)` opens the batch's one
    *    [[graft.ext.IndexFormat.commit]], and an append writes corpus and
    *    index inside it: a crash anywhere in the window leaves data
    *    without a stamp, and the next batch fails loudly at `check`
    *    instead of re-admitting or dropping rows;
    *  - a replayed COMMITTED batch re-probes an index that already holds
    *    its rows, admits nothing and appends nothing: idempotent by
    *    construction, across checkpoint loss too.
    */
  private def bootstrapOrAdmit(spark: SparkSession, dataPath: String,
                               indexDir: String, fmt: => String)(
      bootstrap: => DataFrame, admit: => Pinned,
      write: (DataFrame, Long, SaveMode) => Unit): Unit = {
    val (p, mode) =
      if (!graft.ext.IndexFormat.dataExists(spark, dataPath))
        (pin(bootstrap), SaveMode.Overwrite)
      else {
        graft.ext.IndexFormat.check(spark, indexDir, fmt)
        (admit, SaveMode.Append)
      }
    if (p.rows > 0) write(p.df, p.rows, mode)
  }

  /** Streaming AUDIO ingest with fingerprint dedup — the audio member of
    * the exactly-once ingest family, completing the modality triple
    * ([[ingestImageDedup]] / [[ingestVideoDedup]] / this): each
    * micro-batch of (id, content) WAV payloads decodes leniently
    * (undecodable rows AND clips at any PCM depth other than the 16-bit
    * the fingerprint reads → per-batch quarantine partition, payloads
    * included — never a batch failure), healthy clips
    * get the gain-invariant energy-delta-sign fingerprint
    * ([[graft.ext.Media.audioFingerprint]] — a re-levelled copy
    * fingerprints identically), the batch in-dedups via the banded
    * Hamming pair join (min-id representative), and representatives
    * admit against the persisted fingerprint table via
    * [[graft.ext.Media.dhashDupIds]] — the batch side broadcast, the
    * signature table never shuffled, classify cost flat as it grows.
    * Exactly-once discipline and quarantine as [[ingestImageDedup]].
    */
  def ingestAudioDedup(stream: DataFrame, corpusPath: String, indexDir: String,
                       quarantinePath: String, idCol: String, contentCol: String,
                       checkpoint: String, windowMs: Int = 20, maxDist: Int = 3,
                       bandBits: Int = 16,
                       trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, batchId) =>
      ingestAudioDedupBatch(batch, batchId, corpusPath, indexDir,
        quarantinePath, idCol, contentCol, windowMs, maxDist, bandBits)
    }

  /** One micro-batch of [[ingestAudioDedup]] — see
    * [[ingestImageDedupBatch]] for the batch-function contract.
    */
  def ingestAudioDedupBatch(batch: DataFrame, batchId: Long,
                            corpusPath: String, indexDir: String,
                            quarantinePath: String, idCol: String,
                            contentCol: String, windowMs: Int = 20,
                            maxDist: Int = 3, bandBits: Int = 16): Unit = {
      val spark = batch.sparkSession
      require(!batch.columns.contains("afp"),
        "'afp' is a reserved corpus column — rename it upstream")
      val fmt = s"audiodedup:v1:windowMs=$windowMs:maxDist=$maxDist:bandBits=$bandBits"
      val sigsPath = s"$indexDir/sigs"
      val decoded = graft.ext.Media
        .decodeAudioMetaLenient(batch, idCol, contentCol).localCheckpoint(true)
      // the fingerprint reads 16-bit PCM only — a clip at any other depth
      // is a QUARANTINE row, not a batch failure (a failed batch replays
      // forever: one 24-bit WAV must not wedge the stream). The payload
      // rides along so quarantined clips stay triage-able after the
      // source batch is gone.
      val quarantine = decoded.filter(!col("decode_ok") ||
          !(col("bits") <=> lit(16)))
        .select(col(idCol), col(contentCol),
          coalesce(col("decode_err"),
            format_string("UnsupportedBitDepth(%d)", col("bits")))
            .as("decode_err"),
          col("mime"))
      val clips = decoded.filter(col("decode_ok") && col("bits") === 16)
        .select(col(idCol), col(contentCol))
      val good = graft.ext.Media
        .audioFingerprint(clips, idCol, contentCol, windowMs)
        .select(col(idCol), col("afp"))
        .join(clips, Seq(idCol))
      val losers = graft.ext.Media
        .dhashNearPairs(good, idCol, "afp", maxDist, bandBits)
        .select(col("right_id").cast(good.schema(idCol).dataType).as(idCol))
      val reps = good.join(losers, Seq(idCol), "left_anti")
      quarantine.write.mode(SaveMode.Overwrite).parquet(s"$quarantinePath/batch_id=$batchId")
      bootstrapOrAdmit(spark, sigsPath, indexDir, fmt)(reps,
        pin(reps.join(graft.ext.Media.dhashDupIds(reps, idCol, "afp",
            spark.read.parquet(sigsPath), "afp", maxDist, bandBits),
          Seq(idCol), "left_anti")),
        (rows, _, mode) => graft.ext.IndexFormat.commit(spark, indexDir, fmt) {
          rows.write.mode(mode).parquet(corpusPath)
          rows.select(col(idCol), col("afp")).write.mode(mode).parquet(sigsPath)
        })
    }

  /** Streaming VIDEO ingest with frame-level dedup — the video member of
    * the exactly-once ingest family: each micro-batch of (id, content)
    * AVI payloads decodes leniently at BOTH levels — container
    * ([[graft.ext.Media.decodeVideoMetaLenient]]) and frame payloads
    * ([[graft.ext.Media.videoFramesLenient]]; a valid-container AVI with
    * one rotten frame quarantines the video, never the batch) — with all
    * failures landing in the per-batch quarantine partition WITH their
    * payloads. Healthy videos explode to per-frame dHashes, the batch
    * in-dedups via [[graft.ext.Media.videoNearPairs]] (min-id
    * representative per ≥`minShared`-shared-frame group), and
    * representatives admit in two stages: first by EXACT ID against the
    * corpus (so a replayed committed batch — including degenerate videos
    * with fewer than `minShared` distinct frames, which the shared-frame
    * rule could never re-classify — admits nothing), then by shared
    * frames against the PERSISTED frame-signature table at
    * `indexDir/sigs`: a batch video sharing ≥ `minShared` distinct frame
    * hashes with ANY stored video is a dup. Both stored tables (corpus
    * ids, frame signatures) are scanned with the bounded batch side
    * broadcast into them — never shuffled — and the stored sigs carry
    * the same `maxHashFreq` hot-hash cap as the in-batch pairing, so a
    * corpus-frequent black/intro frame cannot multiply the admission
    * join. Admitted videos append (id, content, n_frames) to
    * `corpusPath` and their (id, dhash) frames to the signature table,
    * so the NEXT batch dedups against them too.
    *
    * Exactly-once discipline and quarantine as [[ingestImageDedup]].
    *
    * ==Admission modes (`admit`)==
    *
    * `"fullFrame"` (the DEFAULT): every healthy video contributes EVERY
    * frame's dHash — maximum trim/overlap recall, but an MP4 whose frame
    * count exceeds `maxFrames` quarantines even when its `stss` declares
    * a few hundred cheap sync samples (the hour-long-outlier guard has no
    * cheaper signal to fall back to).
    *
    * `"keyframe"`: MP4 payloads contribute their SYNC-SAMPLE dHashes
    * ([[graft.ext.Media.videoKeySigsLenient]]) — an hour-long
    * `stss`-carrying MP4 classifies on its keyframes instead of
    * quarantining at the cap, which is the whole keyframe economy applied
    * to admission (`maxFrames` then bounds the KEYFRAME count, so the
    * no-`stss`/all-intra degenerate shapes still quarantine; AVI has no
    * sync declaration and keeps the full walk + cap). The DELIBERATE
    * trade-off — why full-frame stays the default: keyframe signature
    * sets are strict SUBSETS of full-frame sets, so two videos are
    * flagged only when their shared content spans ≥ `minShared` SYNC
    * samples — a trimmed copy whose overlap contains fewer than
    * `minShared` scene starts is ADMITTED where full-frame admission
    * would have caught it (recall degrades with scene sparsity, never
    * precision: every keyframe match is still an exact frame match).
    * Cross-container note: an AVI re-drop of stored MP4 content still
    * classifies — the AVI's full frame set is a superset of the stored
    * keyframe signatures. The index format stamp embeds the mode, so
    * pointing one mode at the other's signature table fails loudly
    * instead of silently answering with the wrong recall contract.
    */
  def ingestVideoDedup(stream: DataFrame, corpusPath: String, indexDir: String,
                       quarantinePath: String, idCol: String, contentCol: String,
                       checkpoint: String, minShared: Int = 2,
                       maxHashFreq: Int = 1000,
                       maxFrames: Int = DefaultMaxFramesPerVideo,
                       admit: String = "fullFrame",
                       trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, batchId) =>
      ingestVideoDedupBatch(batch, batchId, corpusPath, indexDir,
        quarantinePath, idCol, contentCol, minShared, maxHashFreq, maxFrames,
        admit)
    }

  /** Per-video frame cap the continuous video ingest runs under BY
    * DEFAULT: one video's frames decode inside ONE task, so an hour-long
    * outlier in a crawl batch would otherwise balloon a single task's
    * memory without limit (100 000 frames ≈ 55 min at 30 fps — generous
    * for crawl video, far below the OOM cliff for the frame sizes this
    * tier decodes). An over-cap video QUARANTINES with its payload, like
    * every other per-video failure — it is never silently truncated,
    * because a frame-prefix signature set would poison the dedup tier.
    */
  val DefaultMaxFramesPerVideo: Int = 100000

  /** One micro-batch of [[ingestVideoDedup]] — see
    * [[ingestImageDedupBatch]] for the batch-function contract.
    */
  def ingestVideoDedupBatch(batch: DataFrame, batchId: Long,
                            corpusPath: String, indexDir: String,
                            quarantinePath: String, idCol: String,
                            contentCol: String, minShared: Int = 2,
                            maxHashFreq: Int = 1000,
                            maxFrames: Int = DefaultMaxFramesPerVideo,
                            admit: String = "fullFrame"): Unit = {
      val spark = batch.sparkSession
      require(admit == "fullFrame" || admit == "keyframe",
        s"admit must be 'fullFrame' or 'keyframe', got '$admit'")
      // the admission mode is PART of the index format: keyframe and
      // full-frame signature tables answer different recall contracts
      // (keyframe sets are subsets — see ingestVideoDedup's mode note),
      // so pointing one mode at the other's table must fail loudly
      val fmt = s"videodedup:v1:minShared=$minShared" +
        (if (admit == "keyframe") ":admit=keyframe" else "")
      val sigsPath = s"$indexDir/sigs"
      val decoded = graft.ext.Media
        .decodeVideoMetaLenient(batch, idCol, contentCol).localCheckpoint(true)
      val container = decoded.filter(col("decode_ok"))
        .select(col(idCol), col(contentCol), col("n_frames"), col("mime"))
      // frame payloads decode under their OWN lenient pass: the container
      // check above validates only the avih header, and a valid-container
      // AVI carrying one rotten frame payload must quarantine the VIDEO,
      // never fail the batch (a failed batch replays on restart, wedging
      // the stream permanently)
      // maxFrames: the hour-long-outlier guard (DefaultMaxFramesPerVideo)
      // — an over-cap video quarantines as one row WITH payload below.
      // In keyframe mode the cap bounds the KEYFRAME count for MP4s, so
      // an hour-long stss-carrying file classifies instead of quarantining
      val framesL = (if (admit == "keyframe")
          graft.ext.Media.videoKeySigsLenient(
            container.select(col(idCol), col(contentCol)), idCol, contentCol,
            maxFrames)
        else
          graft.ext.Media.videoFramesLenient(
            container.select(col(idCol), col(contentCol)), idCol, contentCol,
            maxFrames))
        .localCheckpoint(true)
      val badFrames = framesL.filter(!col("frame_ok"))
        .select(col(idCol), col("frame_err"))
      // one quarantine partition per batch: container failures and frame
      // failures together, each WITH its payload so quarantined rows stay
      // re-processable after the source batch is gone
      val quarantine = decoded.filter(!col("decode_ok"))
        .select(col(idCol), col(contentCol), col("decode_err"), col("mime"))
        .unionByName(container.join(broadcast(badFrames), Seq(idCol))
          .select(col(idCol), col(contentCol),
            col("frame_err").as("decode_err"), col("mime")))
      val good = container
        .join(broadcast(badFrames.select(col(idCol))), Seq(idCol), "left_anti")
        .select(col(idCol), col(contentCol), col("n_frames"))
      // a failed video emits ONLY its one frame_ok=false row, so the
      // healthy frame table is a plain filter
      val frames = framesL.filter(col("frame_ok"))
        .select(col(idCol), col("dhash")).distinct().localCheckpoint(true)
      // in-batch representatives: drop the larger id of every pair
      val losers = graft.ext.Media.videoNearPairs(frames, idCol, "dhash",
          minShared, maxHashFreq)
        .select(col("right_id").cast(good.schema(idCol).dataType).as(idCol))
      val reps = good.join(losers, Seq(idCol), "left_anti")
      val repFrames = frames.join(reps.select(col(idCol)), Seq(idCol), "left_semi")
      quarantine.write.mode(SaveMode.Overwrite).parquet(s"$quarantinePath/batch_id=$batchId")
      bootstrapOrAdmit(spark, sigsPath, indexDir, fmt)(reps, {
        // exact-id admission FIRST: a replayed COMMITTED batch's videos are
        // already in the corpus BY ID — including degenerate ones (fewer
        // than minShared distinct frames, or zero frames) that the
        // shared-frame rule can never re-classify against their own stored
        // signatures. The corpus id column is scanned with the batch ids
        // broadcast into it (Dedup.admitNewByKey), never shuffled.
        val novel = graft.ext.Dedup.admitNewByKey(reps,
          spark.read.parquet(corpusPath).select(col(idCol)), idCol)
        val novelFrames = repFrames
          .join(broadcast(novel.select(col(idCol))), Seq(idCol), "left_semi")
        // batch frames broadcast; stored sigs scan (id, hash) only. The
        // stored side carries the same hot-hash cap as the in-batch
        // pairing: a black/intro frame hash present in the batch AND in
        // millions of stored videos would multiply the join output by its
        // corpus frequency. Counting the cap costs a second column-pruned
        // scan of the sig table — two bounded scans beat one unbounded
        // join blow-up; dropped hot hashes under-count n_shared, so the
        // admission is conservative exactly like videoNearPairs' cap.
        val stored = spark.read.parquet(sigsPath)
          .select(col(idCol).as("__sid"), col("dhash"))
        val batchHashes = broadcast(novelFrames.select(col("dhash")).distinct())
        val matched = stored.join(batchHashes, Seq("dhash"), "left_semi")
        val hot = matched.groupBy(col("dhash"))
          .agg(count(lit(1)).as("__sf"))
          .filter(col("__sf") > maxHashFreq)
          .select(col("dhash"))
        val dupIds = matched
          .join(broadcast(hot), Seq("dhash"), "left_anti")
          .join(broadcast(novelFrames.select(col(idCol).as("__bid"), col("dhash"))),
            Seq("dhash"))
          .groupBy(col("__bid"), col("__sid"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") >= minShared)
          .select(col("__bid").as(idCol)).distinct()
        pin(novel.join(broadcast(dupIds), Seq(idCol), "left_anti"))
      }, (rows, _, mode) => graft.ext.IndexFormat.commit(spark, indexDir, fmt) {
        rows.write.mode(mode).parquet(corpusPath)
        // a bootstrap writes every representative's frames as they are;
        // an append keeps only the admitted videos' frames
        (if (mode == SaveMode.Overwrite) repFrames
         else repFrames.join(rows.select(col(idCol)), Seq(idCol), "left_semi"))
          .write.mode(mode).parquet(sigsPath)
      })
    }

  /** Streaming WARC CRAWL ingest — crawls arrive as daily `.warc.gz`
    * segment drops, so the batch tier ([[graft.sources.Warc.warcRecords]])
    * needs this arrival-driven sibling: each micro-batch of
    * (id, content) WARC files parses leniently
    * ([[graft.sources.Warc.warcRecordsLenient]] — one rotten segment
    * lands as ONE quarantine row instead of failing a 100 TB ingest),
    * healthy files explode to records, and records admit by exact content
    * identity `md5(json(target_uri, body))` — a re-crawl of an unchanged
    * page appends nothing — first within the batch (min `rec_uid` wins),
    * then against the PERSISTED identity table at `indexDir/hashes`
    * (a column-pruned scan of fixed-width hashes; corpus record bodies
    * are never re-read).
    *
    * Exactly-once discipline and quarantine as [[ingestImageDedup]],
    * dispatching on the hash data at `indexDir/hashes`.
    */
  def ingestWarc(stream: DataFrame, corpusPath: String, indexDir: String,
                 quarantinePath: String, idCol: String, contentCol: String,
                 checkpoint: String,
                 trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, batchId) =>
      ingestWarcBatch(batch, batchId, corpusPath, indexDir, quarantinePath,
        idCol, contentCol)
    }

  /** One micro-batch of [[ingestWarc]] — see [[ingestImageDedupBatch]]
    * for the batch-function contract.
    */
  def ingestWarcBatch(batch: DataFrame, batchId: Long, corpusPath: String,
                      indexDir: String, quarantinePath: String,
                      idCol: String, contentCol: String): Unit = {
      val spark = batch.sparkSession
      val fmt = "warcingest:v1:md5(uri,body)"
      val hashesPath = s"$indexDir/hashes"
      val parsed = graft.sources.Warc
        .warcRecordsLenient(batch, idCol, contentCol).localCheckpoint(true)
      // quarantine keeps the raw segment bytes (joined back from the
      // batch — the lenient record schema deliberately drops them): a
      // rotten segment stays triage-able after the source batch is gone
      val quarantine = batch.select(col(idCol), col(contentCol))
        .join(broadcast(parsed.filter(!col("decode_ok"))
          .select(col(idCol), col("decode_err"))), Seq(idCol))
      val outCols = Seq("rec_uid", "file_id", "rec_idx", "warc_type",
        "record_id", "target_uri", "warc_date", "content_type", "body", "__h")
      val recs = parsed.filter(col("decode_ok"))
        .select(
          concat_ws(":", col(idCol).cast("string"), col("rec_idx")).as("rec_uid"),
          col(idCol).as("file_id"), col("rec_idx"), col("warc_type"),
          col("record_id"), col("target_uri"), col("warc_date"),
          col("content_type"), col("body"))
      val fresh = graft.ext.Dedup.exactHashed(recs, Seq("target_uri", "body"), "rec_uid")
      quarantine.write.mode(SaveMode.Overwrite).parquet(s"$quarantinePath/batch_id=$batchId")
      bootstrapOrAdmit(spark, hashesPath, indexDir, fmt)(fresh,
        // batch hashes broadcast into the stored table; the hit set comes
        // back bounded — the identity table is scanned, never shuffled.
        // The admitted frame reads only the pinned batch, so the appends
        // cannot re-probe the table they grow. `__h` is unique per batch
        graft.ext.Dedup.admitNewByUniqueKey(fresh, spark.read.parquet(hashesPath) -> "__h"),
        hashedWriter(spark, indexDir, fmt, outCols, corpusPath, hashesPath))
    }

  /** Streaming PDF ingest — document drops arrive as files, so the batch
    * extraction tier ([[graft.ext.Pdf.pdfText]]) gets the same
    * arrival-driven sibling as WARC ([[ingestWarc]]): each micro-batch of
    * (id, content) PDF payloads extracts leniently
    * ([[graft.ext.Pdf.pdfTextLenient]] — a corrupt document lands as ONE
    * quarantine row, never failing the stream), healthy documents explode
    * to per-content-stream page text, and pages admit by exact content
    * identity `md5(json(text))` — a re-dropped or mirrored document's
    * pages append nothing — first within the batch (min `page_uid` wins),
    * then against the persisted identity table at `indexDir/hashes`
    * (column-pruned fixed-width scan; corpus text never re-read).
    * Exactly-once discipline and quarantine as [[ingestWarc]].
    */
  def ingestPdf(stream: DataFrame, corpusPath: String, indexDir: String,
                quarantinePath: String, idCol: String, contentCol: String,
                checkpoint: String,
                trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, batchId) =>
      ingestPdfBatch(batch, batchId, corpusPath, indexDir, quarantinePath,
        idCol, contentCol)
    }

  /** One micro-batch of [[ingestPdf]] — see [[ingestImageDedupBatch]]
    * for the batch-function contract.
    */
  def ingestPdfBatch(batch: DataFrame, batchId: Long, corpusPath: String,
                     indexDir: String, quarantinePath: String,
                     idCol: String, contentCol: String): Unit = {
      val spark = batch.sparkSession
      val fmt = "pdfingest:v1:md5(text)"
      val hashesPath = s"$indexDir/hashes"
      val parsed = graft.ext.Pdf
        .pdfTextLenient(batch, idCol, contentCol).localCheckpoint(true)
      // quarantine keeps the raw document bytes, same rationale as
      // ingestWarc's quarantine join
      val quarantine = batch.select(col(idCol), col(contentCol))
        .join(broadcast(parsed.filter(!col("decode_ok"))
          .select(col(idCol), col("decode_err"))), Seq(idCol))
      val outCols = Seq("page_uid", "doc_id", "stream_idx", "pdf_version",
        "text", "__h")
      val pages = parsed.filter(col("decode_ok"))
        .select(
          concat_ws(":", col(idCol).cast("string"), col("stream_idx")).as("page_uid"),
          col(idCol).as("doc_id"), col("stream_idx"), col("pdf_version"),
          col("text"))
      val fresh = graft.ext.Dedup.exactHashed(pages, Seq("text"), "page_uid")
      quarantine.write.mode(SaveMode.Overwrite).parquet(s"$quarantinePath/batch_id=$batchId")
      bootstrapOrAdmit(spark, hashesPath, indexDir, fmt)(fresh,
        // same admission shape as ingestWarc: stored hashes scanned, never
        // shuffled — see Dedup.admitNewByUniqueKey
        graft.ext.Dedup.admitNewByUniqueKey(fresh, spark.read.parquet(hashesPath) -> "__h"),
        hashedWriter(spark, indexDir, fmt, outCols, corpusPath, hashesPath))
    }

  /** The WARC/PDF writer: one commit window in which the corpus gets
    * `outCols` and the identity table only the content hash `__h`.
    */
  private def hashedWriter(spark: SparkSession, indexDir: String, fmt: String,
                           outCols: Seq[String], corpusPath: String,
                           hashesPath: String)(rows: DataFrame, n: Long,
                                               mode: SaveMode): Unit =
    graft.ext.IndexFormat.commit(spark, indexDir, fmt) {
      rows.select(outCols.map(col): _*).write.mode(mode).parquet(corpusPath)
      rows.select("__h").write.mode(mode).parquet(hashesPath)
    }

  private val HashStampFamilies = Seq("warcingest:v1:", "pdfingest:v1:")

  private def hashIndexFormat(spark: SparkSession, indexDir: String): String = {
    val fmt = graft.ext.IndexFormat.readFormat(spark, indexDir).getOrElse(
      throw new IllegalStateException(
        s"index at $indexDir has no _meta format stamp — refusing to " +
          "maintain an unstamped (possibly torn) index; repair or rebuild it"))
    require(HashStampFamilies.exists(fmt.startsWith),
      s"index at $indexDir has format '$fmt' — not a WARC/PDF ingest " +
        "identity index; use the owning family's maintenance pass")
    fmt
  }

  /** Compact a WARC/PDF ingest identity index ([[ingestWarc]] /
    * [[ingestPdf]]'s `indexDir/hashes`) after daily streaming appends —
    * the same one-small-file-per-batch accretion every other persisted
    * family already compacts ([[graft.ext.Media.compactSigIndex]]):
    * after a year a classify scan is listing-bound before it is
    * data-bound. Staged rewrite + commit-marker discipline via
    * [[graft.ext.IndexMaintenance.compactStamped]].
    */
  def compactHashIndex(spark: SparkSession, indexDir: String,
                       targetRowsPerFile: Long = 4000000L): Unit =
    graft.ext.IndexMaintenance.compactStamped(spark, indexDir,
      hashIndexFormat(spark, indexDir), Seq("hashes" -> Nil),
      targetRowsPerFile)

  /** Erase content hashes from a WARC/PDF ingest identity index — the
    * right-to-be-forgotten pass for the crawl ingests: `hashes` is a
    * single-column frame of `__h` values (compute them from the corpus
    * rows being erased with [[graft.ext.Dedup.contentHash]] over the SAME
    * columns the ingest hashed — (target_uri, body) for WARC, (text) for
    * PDF). A filtered compaction (delete list broadcast, index streamed)
    * outside the commit-marker window. Erases IDENTITY only: the corpus
    * rows at the ingest's `corpusPath` are caller-owned plain parquet and
    * must be rewritten in the same maintenance job. Post-erasure, the
    * erased content would be re-ADMITTED if it arrives again — that is
    * what forgetting means here.
    */
  def eraseHashIndex(spark: SparkSession, indexDir: String,
                     hashes: DataFrame,
                     targetRowsPerFile: Long = 4000000L): Unit =
    graft.ext.IndexMaintenance.deleteStamped(spark, indexDir,
      hashIndexFormat(spark, indexDir), Seq(("hashes", Nil, "__h")), hashes,
      targetRowsPerFile)

  /** Streaming corpus ingest with LM QUALITY GATING before the
    * [[ingestDedup]] admission: each micro-batch is scored against the
    * persisted unigram model at `modelDir` ([[graft.ext.Lm.readModel]] →
    * broadcast token join, the batch never shuffles its text), rows whose
    * mean token log-probability is below `minAvgLpMilli` milli-nats are
    * dropped, and the survivors flow through the exact content-hash dedup
    * admission. Zero-token rows never pass (their score of 0 is absence of
    * evidence, not fluency), so the gate also sheds empty documents.
    *
    * The model must be trained ([[graft.ext.Lm.writeModel]]) before the
    * stream starts and may be RETRAINED between batches — the next batch
    * scores against the new model immediately (each batch re-reads the
    * stamp; a torn retrain fails the batch loudly rather than scoring
    * against half a model). Replay safety composes exactly as
    * [[ingestDecontam]]: the gate is a pure function of (batch, model) and
    * the dedup anti-join re-admits nothing the corpus already holds; a row
    * admitted under an older model stays admitted — gating governs ingest,
    * not retroactive deletion (re-screen the corpus with
    * [[graft.ext.Lm.scoreUnigram]] for that).
    */
  def ingestQualityGated(stream: DataFrame, corpusPath: String, modelDir: String,
                         contentCols: Seq[String], idCol: String, textCol: String,
                         minAvgLpMilli: Long, checkpoint: String,
                         trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, _) =>
      val model = graft.ext.Lm.readModel(batch.sparkSession, modelDir)
      val scored = graft.ext.Lm.scoreUnigram(batch, idCol, textCol, model,
        extraCols = batch.columns.filterNot(_ == idCol).toSeq)
      val kept = scored
        .filter(col("n_tokens") > 0 && col("avg_lp_milli") >= minAvgLpMilli)
        .select(batch.columns.map(col): _*)
      ingestDedupBatch(kept, corpusPath, contentCols, idCol)
    }

  /** Streaming corpus ingest gated by the composite GOPHER heuristic rule
    * ([[graft.functions.TextFunctions.gopherKeep]] — Rae et al. Table A1)
    * before the exact content-hash dedup admission: rows failing any
    * sub-rule (word count, word length, symbol ratio, bullet/ellipsis
    * lines, alphabetic fraction, stopwords) are dropped, survivors dedup
    * as [[ingestDedup]]. The rule is a pure per-row predicate (no model
    * artifact, no joins), so replay safety is exactly [[ingestDedup]]'s:
    * a replayed batch re-applies the same filter and the anti-join admits
    * nothing the corpus already holds.
    */
  def ingestGopherGated(stream: DataFrame, corpusPath: String,
                        contentCols: Seq[String], idCol: String, textCol: String,
                        checkpoint: String, minWords: Long = 50L,
                        maxWords: Long = 100000L, minStopHits: Int = 2,
                        trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, _) =>
      ingestDedupBatch(
        batch.filter(graft.functions.TextFunctions.gopherKeep(
          col(textCol), minWords, maxWords, minStopHits)),
        corpusPath, contentCols, idCol)
    }

  private def ingestDedupBatch(batch: org.apache.spark.sql.DataFrame,
                               corpusPath: String, contentCols: Seq[String],
                               idCol: String): Unit = {
      require(!batch.columns.exists(_.equalsIgnoreCase("__h")),
        "'__h' is the reserved corpus content-hash column — rename it upstream")
      val spark = batch.sparkSession
      val fresh = graft.ext.Dedup.exactHashed(batch, contentCols, idCol)
      // a corpus NEVER mixes formats: a pre-hash-format corpus (no __h in
      // its schema) would read half-null __h after a mixed append, and
      // null hash keys never match an equi-join — silent re-ingestion. So
      // legacy corpora stay legacy (hashes recomputed from content each
      // batch — the documented slow path) and only corpora created by this
      // version get the pruned fixed-width-hash scan.
      // both admission paths go through Dedup.admitNewByKey: the stored
      // hash column (or the recomputed legacy hashes) is scanned with the
      // bounded batch hashes broadcast into it, never shuffled per batch
      // `__h` is unique per batch (exactHashed), so the admission knows
      // without a job whether it admitted anything: an all-duplicate
      // batch writes no file
      def admit(stored: DataFrame) = {
        val p = graft.ext.Dedup.admitNewByUniqueKey(fresh, stored -> "__h")
        (p.df, p.rows > 0)
      }
      val ((admitted, any), outCols) = corpusColumns(spark, corpusPath) match {
        case None => ((fresh, true), batch.columns :+ "__h")
        case Some(cols) if cols("__h") =>
          (admit(storedKeys(spark, corpusPath, "__h")), batch.columns :+ "__h")
        case Some(_) =>
          (admit(spark.read.parquet(corpusPath)
              .select(graft.ext.Dedup.contentHash(contentCols).as("__h"))),
            batch.columns)
      }
      // fixed column order: every corpus file carries the identical schema
      if (any)
        admitted.select(outCols.map(col): _*)
          .write.mode(SaveMode.Append).parquet(corpusPath)
  }

  /** The column names of the corpus at `corpusPath`, or None when it has
    * no data yet (no directory, or one without a `*.parquet` file). Read
    * on the driver from one footer: a corpus never mixes formats, so any
    * file speaks for all, and Spark's own schema inference would read one
    * footer too, in a job of its own.
    */
  private def corpusColumns(spark: SparkSession, corpusPath: String): Option[Set[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(corpusPath)
    // globStatus returns null (not empty) for zero matches on some
    // filesystems — an existing-but-empty corpus dir reads as absent
    Option(path.getFileSystem(conf).globStatus(new org.apache.hadoop.fs.Path(path, "*.parquet")))
      .flatMap(_.headOption)
      .map(graft.sources.FileSource.parquetSchema(_, conf).fieldNames.toSet)
  }

  /** The stored string key columns `keys` of an ingest corpus, read with
    * their known schema (no inference job).
    */
  private def storedKeys(spark: SparkSession, corpusPath: String, keys: String*): DataFrame =
    spark.read.schema(StructType(keys.map(StructField(_, StringType)))).parquet(corpusPath)

  /** Streaming corpus ingest with URL-level dedup BEFORE the content-hash
    * admission — the C4-shaped crawl-ingest path ([[graft.ext.Urls]]):
    * each micro-batch (1) canonicalizes its URL column and keeps one row
    * per canonical URL within the batch (smallest `idCol`), (2) anti-joins
    * the corpus's STORED canonical-URL column `__u` (a column-pruned scan
    * of short strings — the corpus is never re-normalized, same economics
    * as `__h`), then (3) flows through the exact content-hash dedup
    * admission, storing both `__u` and `__h`. Rows whose URL fails to
    * normalize (NULL `__u`) skip the URL stage on BOTH sides — a
    * malformed URL is no evidence of sameness — but still content-dedup.
    *
    * Replay safety composes: a replayed batch's URLs and content hashes
    * are both already in the corpus, so it appends nothing — idempotent by
    * construction across checkpoint loss, same contract as [[ingestDedup]].
    * The corpus at `corpusPath` must be created by THIS ingest (the stored
    * `__u`/`__h` columns are its format; a foreign corpus fails loudly).
    */
  def ingestUrlDedup(stream: DataFrame, corpusPath: String, urlCol: String,
                     contentCols: Seq[String], idCol: String, checkpoint: String,
                     trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, _) =>
      require(!batch.columns.exists(c =>
        c.equalsIgnoreCase("__h") || c.equalsIgnoreCase("__u")),
        "'__h'/'__u' are reserved corpus columns — rename them upstream")
      val spark = batch.sparkSession
      // within-batch URL dedup first (cheapest), then content-exact
      val urlKept = graft.ext.Urls.dedupByUrl(batch, idCol, urlCol)
        .withColumnRenamed("url_norm", "__u")
      val fresh = graft.ext.Dedup.exactHashed(urlKept, contentCols, idCol)
      val (admitted, any) = corpusColumns(spark, corpusPath) match {
        case None => (fresh, true)
        case Some(cols) =>
          require(cols("__u") && cols("__h"),
            s"corpus at $corpusPath lacks the stored __u/__h columns — it was " +
              "not created by ingestUrlDedup (refusing to silently re-ingest)")
          val stored = storedKeys(spark, corpusPath, "__u", "__h")
          // one pin, two probes: stored __u, then stored __h, each scanned
          // with the remaining batch keys broadcast into it, never shuffled
          // per batch. NULL __u never equi-joins, so malformed-URL rows
          // pass to the content stage on both sides. Non-null `__u` is
          // unique per batch (dedupByUrl keeps one row per canonical URL)
          // and `__h` is too, so an all-duplicate batch is known without a
          // job and writes no file
          val p = graft.ext.Dedup.admitNewByUniqueKey(fresh,
            stored.select("__u") -> "__u", stored.select("__h") -> "__h")
          (p.df, p.rows > 0)
      }
      val outCols = batch.columns :+ "__u" :+ "__h"
      if (any)
        admitted.select(outCols.map(col): _*)
          .write.mode(SaveMode.Append).parquet(corpusPath)
    }

  /** Streaming corpus ingest with NEAR-duplicate dedup — [[ingestDedup]]'s
    * fuzzy sibling, built on the persisted signature index
    * ([[graft.ext.Dedup.buildNearIndex]]): each micro-batch classifies
    * against the index ([[graft.ext.Dedup.nearDedupIncremental]] — the
    * corpus is never re-tokenized), appends only `admitted` rows to
    * `corpusPath`, and appends their signatures to the index so the NEXT
    * batch dedups against them too. The first batch bootstraps: in-batch
    * near-dedup picks representatives, which seed both corpus and index.
    *
    * Replay safety: an admitted row's signatures enter the index in the
    * same batch, so a replayed batch re-classifies its own rows as
    * `dup_corpus` and appends nothing. Crash windows are the contract of
    * the shared ingest step (`bootstrapOrAdmit`); corpus and index are
    * written in one commit window, the Overwrite bootstrap included.
    */
  def ingestNearDedup(stream: DataFrame, corpusPath: String, indexDir: String,
                      idCol: String, textCol: String, checkpoint: String,
                      minJaccard: Double = 0.8, shingleN: Int = 3,
                      bands: Int = 4, rowsPerBand: Int = 4,
                      trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, _) =>
      bootstrapOrAdmit(batch.sparkSession, indexDir, indexDir,
          graft.ext.Dedup.nearIndexFormat(shingleN, bands, rowsPerBand))(
        graft.ext.Dedup.nearDedup(batch, idCol, textCol,
          minJaccard, shingleN, bands, rowsPerBand),
        pin(batch.join(
          graft.ext.Dedup.nearDedupIncremental(batch, idCol, textCol, indexDir,
              minJaccard, shingleN, bands, rowsPerBand)
            .filter(col("verdict") === "admitted")
            .select(col("id").as(idCol)),
          Seq(idCol), "left_semi")),
        (rows, _, mode) => graft.ext.Dedup.writeNearIndex(rows, Some(corpusPath),
          idCol, textCol, indexDir, shingleN, bands, rowsPerBand, mode))
    }

  /** Streaming corpus ingest with SEMANTIC (embedding-cosine) dedup — the
    * SemDeDup sibling of [[ingestNearDedup]], built on the persisted cell
    * index ([[graft.ext.Dedup.buildSemanticIndex]]): each micro-batch
    * classifies against the frozen anchors + stored cell vectors
    * ([[graft.ext.Dedup.semanticDedupIncremental]]), appends only
    * `admitted` rows to `corpusPath`, and appends their cell-assigned
    * vectors to the index so the NEXT batch dedups against them too. The
    * first batch bootstraps: in-batch [[graft.ext.Dedup.semanticDedup]]
    * picks representatives, which seed corpus, anchors, and index — the
    * anchors are frozen from that first batch (the SemDeDup incremental
    * contract: cells must mean the same thing forever, so k should be
    * sized for the EVENTUAL corpus, not the first batch).
    *
    * Crash windows are the contract of the shared ingest step
    * (`bootstrapOrAdmit`); appends write corpus and index in the one window
    * of [[graft.ext.Dedup.appendCorpusAndSemanticIndex]].
    */
  def ingestSemanticDedup(stream: DataFrame, corpusPath: String, indexDir: String,
                          idCol: String, vecCol: String, checkpoint: String,
                          k: Int = 64, dim: Int = 64, threshold: Double = 0.99,
                          trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, _) =>
      val spark = batch.sparkSession
      // the bootstrap may have built with fewer anchors than the
      // configured k (a first batch smaller than k), and every later
      // classify/append must pass the k the STAMP carries. Read from the
      // stamp once per batch (no Spark job); a missing or foreign stamp
      // falls back to the configured k and fails at IndexFormat.check
      lazy val kIndex = graft.ext.Dedup.semanticIndexK(spark, indexDir).getOrElse(k)
      bootstrapOrAdmit(spark, indexDir, indexDir,
          graft.ext.Dedup.semanticIndexFormat(kIndex, dim))(
        graft.ext.Dedup.semanticDedup(batch, idCol, vecCol, k, threshold),
        pin(batch.join(
          graft.ext.Dedup.semanticDedupIncremental(batch, idCol, vecCol,
              indexDir, kIndex, dim, threshold)
            .filter(col("verdict") === "admitted")
            .select(col("id").as(idCol)),
          Seq(idCol), "left_semi")),
        (rows, n, mode) =>
          if (mode == SaveMode.Append)
            graft.ext.Dedup.appendCorpusAndSemanticIndex(rows, corpusPath,
              idCol, vecCol, indexDir, kIndex, dim)
          else {
            rows.write.mode(SaveMode.Overwrite).parquet(corpusPath)
            graft.ext.Dedup.buildSemanticIndex(rows, idCol, vecCol, indexDir,
              math.min(k.toLong, n).toInt, dim)
          })
    }

  /** Streaming embedding ingest into a persisted IVF index — the vector
    * sibling of [[ingestDedup]]: each micro-batch keeps one row per id
    * (min arrival wins within the batch), anti-joins the corpus on the
    * stored id column (column-pruned scan — vectors are never re-read),
    * and appends the genuinely-new rows to BOTH the corpus parquet and
    * the index via [[graft.ext.Ivf.appendCorpusAndIndex]], so the next
    * batch's searches see them. The first batch bootstraps: it trains the
    * coarse quantizer ([[graft.ext.Ivf.build]] — the standard
    * train-on-initial-sample bootstrap) and seeds corpus + index.
    *
    * Crash windows are the contract of the shared ingest step
    * (`bootstrapOrAdmit`); a replayed batch's ids are already in the
    * corpus, so its anti-join admits nothing.
    */
  def ingestVectors(stream: DataFrame, corpusPath: String, indexDir: String,
                    idCol: String, vecCol: String, checkpoint: String,
                    nLists: Int = 64,
                    trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, _) =>
      val spark = batch.sparkSession
      val perId = batch.select(col(idCol), col(vecCol))
        .groupBy(col(idCol)).agg(first(col(vecCol)).as(vecCol))
      bootstrapOrAdmit(spark, indexDir, indexDir, graft.ext.Ivf.FormatId)(perId,
        // stored id column scanned, never shuffled; the id is unique per
        // batch after the groupBy (Dedup.admitNewByUniqueKey)
        graft.ext.Dedup.admitNewByUniqueKey(perId,
          spark.read.parquet(corpusPath).select(col(idCol)) -> idCol),
        (rows, n, mode) =>
          if (mode == SaveMode.Append)
            graft.ext.Ivf.appendCorpusAndIndex(rows, corpusPath, idCol, vecCol,
              indexDir)
          else {
            // a coarse quantizer cannot have more cells than training
            // points — clamp to the bootstrap batch size (rebuild when the
            // corpus has outgrown the day-1 placement; appends never refit)
            rows.write.mode(SaveMode.Overwrite).parquet(corpusPath)
            graft.ext.Ivf.writeIndex(graft.ext.Ivf.build(rows, idCol, vecCol,
              nLists = math.min(nLists.toLong, n).toInt, maxIter = 3), indexDir)
          })
    }

  /** Streaming document ingest into a persisted BM25 inverted index
    * ([[graft.ext.SearchIndex]]) — the search sibling of [[ingestVectors]]:
    * each micro-batch keeps one row per id, anti-joins the index's own
    * `docs/` dir on the stored id column (a two-column frame — document
    * text is never re-read), and appends the genuinely-new rows' postings
    * so the next query sees them. The first batch bootstraps the index.
    *
    * Crash windows are the contract of the shared ingest step
    * (`bootstrapOrAdmit`), with one commit window over postings + docs +
    * stats; a replayed batch's ids are already in `docs/`, so its
    * anti-join admits nothing.
    */
  def ingestSearchDocs(stream: DataFrame, indexDir: String,
                       idCol: String, textCol: String, checkpoint: String,
                       nBuckets: Int = 64,
                       trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, _) =>
      val spark = batch.sparkSession
      val base = graft.ext.SearchIndex.baseOf(
        batch.select(col(idCol).cast("long").as(idCol), col(textCol))
          .groupBy(col(idCol)).agg(first(col(textCol)).as(textCol)),
        idCol, textCol)
      // appends keep the bucket count the index was built with
      lazy val storedBuckets = graft.ext.SearchIndex.readNBuckets(spark, indexDir)
      bootstrapOrAdmit(spark, indexDir, indexDir,
          graft.ext.SearchIndex.formatId(storedBuckets))(base,
        // stored doc-id column scanned, never shuffled; the id is unique per
        // batch after the groupBy (Dedup.admitNewByUniqueKey)
        graft.ext.Dedup.admitNewByUniqueKey(base,
          spark.read.parquet(s"$indexDir/docs").select("id") -> "id"),
        (rows, _, mode) => graft.ext.SearchIndex.writeBase(rows, indexDir,
          if (mode == SaveMode.Append) storedBuckets else nBuckets, mode))
    }

  /** Stream → JDBC upsert: each micro-batch goes through the batched,
    * retrying [[graft.sources.JdbcSink.upsert]] writer. Idempotent template
    * (MERGE / ON DUPLICATE KEY) + checkpointed offsets = exactly-once.
    */
  def toJdbcUpsert(df: DataFrame, url: String, sqlTemplate: String,
                   checkpoint: String, batchSize: Int = 1000,
                   trigger: Trigger = Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(df, checkpoint, trigger) { (batch, _) =>
      graft.sources.JdbcSink.upsert(batch, url, sqlTemplate, batchSize)
    }

  /** Run a streaming DataFrame to completion against currently-available
    * input and return the result as a batch DataFrame (memory sink,
    * `complete` mode). Used by parity tests to compare streaming plans
    * against batch oracles.
    */
  def runToMemoryComplete(spark: SparkSession, streamed: DataFrame,
                          outputMode: String = "complete"): DataFrame = {
    val name = s"graft_mem_${nameCounter.incrementAndGet()}"
    val q = streamed.writeStream.outputMode(outputMode)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }
}
