package graft.ext

import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus-curation operators for training-data pipelines:
  * hash-based sampling, train/val/test splits, domain-mixture (stratified)
  * sampling, greedy sequence packing, and eval-set decontamination.
  *
  * Everything here keys on a **content-independent deterministic hash** of a
  * row key (md5 prefix → 16-bit bucket), never on `rand()`:
  *  - reproducible across runs, engines, partitionings and cluster sizes —
  *    re-running the pipeline on 100 TB yields byte-identical splits, so
  *    downstream training jobs can be resumed / audited;
  *  - a row's fate is a pure function of its key — samples are stable under
  *    corpus growth (new rows don't reshuffle old rows between splits);
  *  - filter-only operators (sample/split/mixture) are scan-side predicates:
  *    zero shuffle, full codegen, pushed into the scan's residual filter.
  *
  * Reference anchor: the reference pipeline has no curation tier (its scope
  * ends at relational sync); these extend the engine for LLM-corpus work per
  * SURVEY.md §2-ext.
  */
object Curation {

  /** Deterministic bucket in [0, buckets): fold the first 4 hex chars of
    * md5(key ‖ ':' ‖ salt) to a 16-bit int, mod `buckets`. `buckets` must be
    * ≤ 65536 (and divide 65536 for perfectly uniform buckets — 2^k, 1000 is
    * uniform to ±0.8‰ which is fine for sampling).
    *
    * Cross-engine note: DuckDB mirrors this exactly via instr-folding of the
    * same md5 hex prefix (see `SparkEntry.duckBucket`), which is what makes
    * every curation operator hash-verifiable.
    */
  def hashBucket(key: Column, buckets: Int, salt: String = "graft"): Column = {
    require(buckets > 0 && buckets <= 65536, s"buckets must be in [1, 65536], got $buckets")
    conv(substring(md5(concat(key.cast("string"), lit(":" + salt))), 1, 4), 16, 10)
      .cast("int") % buckets
  }

  /** Collision-safe composite key for multi-column identities: JSON-encode
    * the struct (same field-delimiting trick as [[Dedup.exact]], so
    * ("ab","c") and ("a","bc") never collide the way a plain concat would).
    * Feed the result to any keyCol-taking op via a derived column:
    * {{{ df.withColumn("__key", Curation.compositeKey(col("a"), col("b"))) }}}
    */
  def compositeKey(cols: Column*): Column = {
    require(cols.nonEmpty)
    to_json(struct(cols: _*),
      scala.jdk.CollectionConverters.MapHasAsJava(
        Map("ignoreNullFields" -> "false")).asJava)
  }

  /** Keep a deterministic `keepPerMille`/1000 sample of rows by key hash.
    * Pure filter — no shuffle, no state, stable under corpus growth.
    */
  def sampleByHash(df: DataFrame, keyCol: String, keepPerMille: Int,
                   salt: String = "graft"): DataFrame = {
    require(keepPerMille >= 0 && keepPerMille <= 1000)
    df.filter(hashBucket(col(keyCol), 1000, salt) < keepPerMille)
  }

  /** Deterministic global "shuffle" for training order: sort by
    * md5(key ‖ ':' ‖ salt) — byte-identical across runs, partitionings and
    * cluster sizes (vs `orderBy(rand())`, which is neither reproducible nor
    * stable under retries). Executed as `repartitionByRange` on the hash +
    * `sortWithinPartitions`: range partition boundaries come from a sampled
    * sketch, so no single task ever globally sorts — writing the result
    * preserves order across sequentially-numbered output files. A new salt
    * is a fresh epoch permutation. Adds the sort key as `shuffleKeyCol`
    * (keep it: resuming a run re-sorts by the stored key without
    * re-hashing).
    */
  def shuffleByHash(df: DataFrame, keyCol: String, salt: String = "graft",
                    numPartitions: Int = 0,
                    shuffleKeyCol: String = "shuffle_key"): DataFrame = {
    val keyed = df.withColumn(shuffleKeyCol,
      md5(concat(col(keyCol).cast("string"), lit(":" + salt))))
    val ranged =
      if (numPartitions > 0) keyed.repartitionByRange(numPartitions, col(shuffleKeyCol))
      else keyed.repartitionByRange(col(shuffleKeyCol))
    ranged.sortWithinPartitions(shuffleKeyCol)
  }

  /** Deterministic train/val/test split: adds a `split` column from the key
    * hash. Defaults 800/100/100 per-mille. A row's split never changes when
    * other rows are added or the data is repartitioned.
    */
  def splitByHash(df: DataFrame, keyCol: String, trainPerMille: Int = 800,
                  valPerMille: Int = 100, salt: String = "graft"): DataFrame = {
    require(trainPerMille + valPerMille <= 1000)
    val b = hashBucket(col(keyCol), 1000, salt)
    df.withColumn("split",
      when(b < trainPerMille, "train")
        .when(b < trainPerMille + valPerMille, "val")
        .otherwise("test"))
  }

  /** Domain-mixture sampling: per-stratum keep rates (per-mille), e.g.
    * upsample curated sources and downsample crawl data when composing a
    * pretraining mix. Filter-only (the rate map rides along as a literal
    * MapType), so it scales like a scan regardless of stratum skew —
    * the 100 TB-safe way to stratify, vs. the window-rank variant below.
    */
  def mixtureByHash(df: DataFrame, keyCol: String, strataCol: String,
                    ratesPerMille: Map[String, Int], defaultPerMille: Int,
                    salt: String = "graft"): DataFrame = {
    val rates = map(ratesPerMille.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val rate = coalesce(element_at(rates, col(strataCol)), lit(defaultPerMille))
    df.filter(hashBucket(col(keyCol), 1000, salt) < rate)
  }

  /** Deterministic upsampling: emit each row `ratePerMille/1000` times in
    * expectation — whole copies plus one hash-gated fractional copy, so
    * 3200‰ yields 3 copies always and a 4th for a fixed 20% of keys.
    * The >1× half of mixture weighting (epochs over curated data);
    * `copy_idx` distinguishes repeats for downstream shuffling. Explode of
    * a per-row sequence — no shuffle, no state, reproducible.
    */
  def upsampleByHash(df: DataFrame, keyCol: String, ratePerMille: Int,
                     salt: String = "graft"): DataFrame = {
    require(ratePerMille >= 0)
    val whole = ratePerMille / 1000
    val frac = ratePerMille % 1000
    val copies = lit(whole) +
      when(hashBucket(col(keyCol), 1000, salt) < frac, 1).otherwise(0)
    // sequence(1, 0) counts DOWN in Spark — zero-copy rows need an
    // explicit empty array, not a degenerate sequence
    df.withColumn("copy_idx", explode(
      when(copies >= 1, sequence(lit(1), copies))
        .otherwise(array().cast("array<int>"))))
  }

  /** Deterministic negative sampling over a DENSE id space [1, maxId]: for
    * each query row, `n` pseudo-random corpus ids derived from
    * md5(query ‖ k) — the contrastive-training counterpart of
    * [[splitByHash]] (reproducible negatives, no RNG state, no shuffle;
    * collisions with the query id are dropped). For sparse id spaces,
    * compute a dense index first (zipWithIndex-style) and map back.
    */
  def negativeSampleDense(queries: DataFrame, queryIdCol: String,
                          maxId: Long, n: Int, salt: String = "graft"): DataFrame = {
    require(n > 0 && maxId > 1 && maxId <= 65536,
      "dense negative sampling draws from a 16-bit hash; maxId must be <= 65536")
    val negId = graft.functions.ExprOps.let(col("__k")) { k =>
      (conv(substring(md5(concat(col(queryIdCol).cast("string"),
        lit(":" + salt + ":"), k.cast("string"))), 1, 4), 16, 10)
        .cast("long") % maxId) + 1
    }
    queries.withColumn("__k", explode(sequence(lit(1), lit(n))))
      .withColumn("neg_id", negId)
      .filter(col("neg_id") =!= col(queryIdCol))
      .drop("__k")
  }

  /** Per-stratum corpus statistics — the PLANNING input every mixture op
    * consumes: you cannot set [[mixtureByHash]] rates or
    * [[sampleToTokenBudget]] budgets without knowing what each stratum
    * holds. One partial-aggregated groupBy (map-side combine; the shuffle
    * carries one row per stratum per partition); integer math only, so the
    * report is hash-exact cross-engine. NULL token counts read as 0, same
    * convention as the budget fill. Output: (strataCol, n_docs, n_tokens,
    * mean_tokens = floor division).
    */
  def tokenStats(df: DataFrame, strataCol: String, tokensCol: String): DataFrame =
    df.groupBy(strataCol).agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col(tokensCol).cast("bigint"), lit(0L))).as("n_tokens"))
      .withColumn("mean_tokens", expr("n_tokens div n_docs"))

  /** Exactly-N-per-stratum deterministic sample: rank rows within each
    * stratum by (key hash, key) and keep the first `n`. Uses a window
    * partitioned by the stratum — right for bounded-cardinality strata
    * (sources, languages); for heavy-tailed strata at corpus scale prefer
    * [[mixtureByHash]] (no shuffle, no per-stratum funnel).
    */
  def stratifiedFixedN(df: DataFrame, keyCol: String, strataCol: String, n: Int,
                       salt: String = "graft"): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(hashBucket(col(keyCol), 65536, salt), col(keyCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n).drop("__rn")
  }

  /** Fill each stratum to a TOKEN budget (not a row count) — the unit data
    * mixes are actually specified in: "50 B tokens of web, 5 B of code".
    * Rows are admitted in deterministic (key hash, key) order while the
    * stratum's cumulative `tokensCol` stays within its budget; the first
    * row that would overflow is dropped and, cumsum being monotone, so is
    * everything after it (strict prefix fill — simple, reproducible, and
    * exactly mirrorable in an oracle; a best-fit repack would admit a few
    * more tokens at the cost of both).
    *
    * `budgets` maps stratum value → token budget; strata not listed get
    * `defaultBudget` (0 = drop unlisted strata entirely). Same windowed
    * shape and same caveat as [[stratifiedFixedN]]: right for
    * bounded-cardinality strata; for heavy-tailed strata prefer
    * [[mixtureByHash]] with rates derived from per-stratum token totals.
    *
    * NULL token counts read as 0 (`coalesce` before the cumulative sum), so
    * a null-token row is admitted budget-free wherever it falls in the
    * prefix — consistently, instead of the null-propagation lottery where a
    * mid-stratum null inherited the previous cumsum but a stratum-leading
    * null nulled the filter and was dropped. Keys must be unique: duplicate
    * keys share a hash prefix position, making which duplicate survives the
    * budget cut nondeterministic (same contract as every hash-keyed op
    * here — document ids are unique by construction). That precondition is
    * ENFORCED when `checkUniqueKeys` is set: one cheap aggregate finds any
    * duplicated key and fails fast naming it, instead of silently returning
    * a run-dependent sample. Off by default because the extra pass over the
    * input is real money at corpus scale and ids are usually unique by
    * construction — turn it on when the key column's provenance is unknown.
    */
  def sampleToTokenBudget(df: DataFrame, keyCol: String, strataCol: String,
                          tokensCol: String, budgets: Map[String, Long],
                          defaultBudget: Long = 0L,
                          salt: String = "graft",
                          checkUniqueKeys: Boolean = false): DataFrame = {
    require(budgets.values.forall(_ >= 0) && defaultBudget >= 0,
      "token budgets must be non-negative")
    if (checkUniqueKeys) {
      // NULL keys count as duplicates of each other ON PURPOSE: hashBucket
      // of a null key is null, so every null-key row ties at the same
      // NULLS-FIRST position in the stratum order — a single null row is
      // admitted deterministically at the stratum head, but which of
      // SEVERAL nulls survives a mid-null budget cut is arbitrary, the
      // exact hazard this guard exists for (verified by CurationSpec)
      val dup = df.groupBy(col(keyCol)).count()
        .filter(col("count") > 1).limit(1).collect()
      if (dup.nonEmpty) {
        val v = dup.head.get(0)
        val shown = if (v == null)
          "NULL (all null keys tie at the same null hash position)"
        else s"'$v'"
        throw new IllegalArgumentException(
          s"sampleToTokenBudget keys must be unique, but '$keyCol' value " +
            s"$shown appears ${dup.head.getLong(1)} times — which " +
            "duplicate survives the budget cut would be nondeterministic; " +
            "dedup first (e.g. Dedup.exactByKey)")
      }
    }
    val w = Window.partitionBy(col(strataCol))
      .orderBy(hashBucket(col(keyCol), 65536, salt), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budget = budgets.foldLeft(lit(defaultBudget)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.withColumn("__cum",
        sum(coalesce(col(tokensCol).cast("bigint"), lit(0L))).over(w))
      .filter(col("__cum") <= budget)
      .drop("__cum")
  }

  /** Greedy sequence packing: assign documents to fixed-token-budget bins by
    * filling bins in key order within a hash shard — the standard
    * concat-and-chunk packing used to build pretraining examples, expressed
    * as a cumulative-sum window.
    *
    * Output adds: `shard` (hash shard), `bin` (bin index within the shard —
    * the bin a document STARTS in; a document may straddle into bin+1, the
    * chunker's concern), `bin_offset` (token offset of the document within
    * its bin).
    *
    * Scale shape: ONE window partitioned by `shard` ordered by key — shards
    * bound partition size (pick shards ≈ corpus_tokens / (executor-sized
    * chunk)), so no global sort and no single-partition funnel; each shard
    * packs independently and deterministically.
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    maxTokensPerBin: Int, shards: Int,
                    salt: String = "graft"): DataFrame = {
    require(maxTokensPerBin > 0 && shards > 0)
    val shard = hashBucket(col(idCol), shards, salt)
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("shard", shard)
      .withColumn("__cum", sum(col(tokensCol)).over(w) - col(tokensCol))
      .withColumn("bin", floor(col("__cum") / maxTokensPerBin).cast("bigint"))
      .withColumn("bin_offset", (col("__cum") % maxTokensPerBin).cast("bigint"))
      .drop("__cum")
  }

  /** Materialize the packed training EXAMPLES that [[packSequences]] only
    * assigns: one row per (shard, bin) with the member documents'
    * `textCol` concatenated in deterministic bin order (`sep`-joined),
    * plus doc/token counts. A document belongs to the bin it STARTS in —
    * it may straddle into bin+1 by up to its own length; the downstream
    * chunker ([[chunkByTokens]]) owns the hard cut, same contract as
    * [[packSequences]].
    *
    * Scale shape: the packing window is per-shard (bounded — pick shards ≈
    * corpus_tokens / executor-chunk), then ONE partial-agg'd groupBy per
    * (shard, bin); an aggregation buffer holds one bin's documents, which
    * is bounded by the bin's token budget, not the corpus. The concat
    * orders by (bin_offset, id) via array_sort on structs, so output text
    * is byte-identical across partitionings and engines.
    */
  def packExamples(df: DataFrame, idCol: String, textCol: String,
                   tokensCol: String, maxTokensPerBin: Int, shards: Int,
                   salt: String = "graft", sep: String = " "): DataFrame = {
    val packed = packSequences(df, idCol, tokensCol, maxTokensPerBin, shards, salt)
    packed.groupBy("shard", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(tokensCol).cast("bigint")).as("n_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("bin_offset"), col(idCol), col(textCol)))),
            x => x.getField(textCol)),
          sep).as("text"))
  }

  /** Split documents into fixed-token-count chunks with overlap — context-
    * window example prep. Chunk i covers tokens [i·step, i·step+chunkTokens)
    * with step = chunkTokens − overlapTokens; chunks are emitted while
    * i·step < n_tokens, so trailing text is never dropped (the last chunk
    * may be short). Empty docs yield no rows. One explode expression —
    * distributed, stateless, codegen'd.
    */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 && overlapTokens < chunkTokens)
    val step = chunkTokens - overlapTokens
    val chunks = graft.functions.ExprOps.let(T.tokens(col(textCol))) { t =>
      // sequence(0, -1) counts DOWN in Spark, so guard the empty doc
      when(size(t) === 0, array().cast("array<struct<chunk_idx:int,chunk:string>>"))
        .otherwise(transform(
          sequence(lit(0), ceil(size(t).cast("double") / step).cast("int") - 1),
          i => struct(i.as("chunk_idx"),
            array_join(slice(t, i * step + 1, lit(chunkTokens)), " ").as("chunk"))))
    }
    df.select(col(idCol), explode(chunks).as("__c"))
      .select(col(idCol), col("__c.chunk_idx").cast("bigint").as("chunk_idx"),
        col("__c.chunk"))
  }

  /** First-fit-decreasing sequence packing — the padding-minimizing
    * sibling of [[packSequences]] for the case where documents must NOT
    * straddle bins (each example = whole documents + padding): within a
    * hash shard, documents are taken largest-first and placed into the
    * FIRST open bin with room (classic FFD — provably ≤ 11/9·OPT + 1
    * bins, Johnson 1973, vs unbounded waste for arrival-order packing of
    * adversarial size mixes). Documents larger than the budget get their
    * own (over-full) bin — truncation is the chunker's job.
    *
    * Scale shape: each shard packs independently inside one task (shards
    * bound partition size — pick shards ≈ corpus_tokens / executor-chunk);
    * the per-shard state is one `remaining` counter per open bin, bounded
    * by shard_tokens / budget. Deterministic: shard → one partition,
    * (tokens desc, id) order fixes the FFD sequence, so the assignment is
    * identical across runs and partitionings. `idCol` must be
    * long-castable (it orders the tie-break). Returns the input columns
    * plus `shard` and `bin`.
    */
  def packSequencesFirstFitDec(df: DataFrame, idCol: String, tokensCol: String,
                               maxTokensPerBin: Int, shards: Int,
                               salt: String = "graft"): DataFrame = {
    require(maxTokensPerBin > 0 && shards > 0)
    import df.sparkSession.implicits._
    val prepped = df.select(col(idCol).cast("long").as("id"),
        coalesce(col(tokensCol).cast("long"), lit(0L)).as("t"),
        hashBucket(col(idCol), shards, salt).as("shard"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), desc("t"), col("id"))
    val assigned = prepped.as[(Long, Long, Int)].mapPartitions { it =>
      var curShard = Int.MinValue
      val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
      it.map { case (id, t, shard) =>
        if (shard != curShard || bins.isEmpty) { curShard = shard; bins.clear() }
        var b = 0
        while (b < bins.length && bins(b) < t) b += 1
        if (b == bins.length) bins += maxTokensPerBin.toLong
        bins(b) -= t
        (id, shard, b.toLong)
      }
    }.toDF(idCol, "shard", "bin")
    df.join(assigned, Seq(idCol))
  }

  /** Sentence-aware chunking — the RAG/pretraining segmenter that never
    * splits mid-sentence: the document is segmented with
    * [[graft.functions.TextFunctions.sentencesOf]], then consecutive
    * sentences pack greedily into chunks whose whitespace-token count
    * stays ≤ `maxTokens` (a single sentence longer than the budget gets
    * its own oversized chunk — truncating it would lose content, and the
    * downstream tokenizer's own truncation is the right place for that
    * policy). The whole fold is ONE higher-order expression per row — no
    * window, no shuffle, no UDF — so it runs at scan speed over any corpus
    * size, like [[chunkByTokens]]. Output: (id, chunk_idx, chunk), chunks
    * joined with single spaces in sentence order.
    */
  def chunkBySentences(df: DataFrame, idCol: String, textCol: String,
                       maxTokens: Int): DataFrame = {
    require(maxTokens > 0)
    val folded = graft.functions.ExprOps.let(T.sentencesOf(col(textCol))) { ss =>
      graft.functions.ExprOps.let(
        aggregate(ss,
          struct(array().cast("array<string>").as("chunks"),
            lit("").as("cur"), lit(0L).as("curToks")),
          (acc, s) => graft.functions.ExprOps.let(T.tokenCount(s)) { t =>
            when(acc.getField("curToks") > 0L &&
                acc.getField("curToks") + t > maxTokens.toLong,
              struct(
                concat(acc.getField("chunks"), array(acc.getField("cur"))).as("chunks"),
                s.as("cur"), t.as("curToks")))
            .otherwise(struct(
              acc.getField("chunks").as("chunks"),
              when(acc.getField("curToks") === 0L, s)
                .otherwise(concat_ws(" ", acc.getField("cur"), s)).as("cur"),
              (acc.getField("curToks") + t).as("curToks")))
          })) { st =>
        when(st.getField("curToks") > 0L,
          concat(st.getField("chunks"), array(st.getField("cur"))))
          .otherwise(st.getField("chunks"))
      }
    }
    df.select(col(idCol), posexplode(folded))
      .select(col(idCol), col("pos").cast("bigint").as("chunk_idx"),
        col("col").as("chunk"))
  }

  /** Keep the top `keepFraction` of each stratum by a score column —
    * per-source quality-percentile filtering (e.g. "keep each source's best
    * half by quality score"). Rank-based, so it adapts per stratum instead
    * of using one global threshold that over-prunes weak sources. One
    * window per stratum (`percent_rank` over score desc, tie-broken by
    * `tieCol` for determinism) — same bounded-strata caveat as
    * [[stratifiedFixedN]].
    */
  def topQuantileByGroup(df: DataFrame, strataCol: String, scoreCol: String,
                         tieCol: String, keepFraction: Double): DataFrame = {
    require(keepFraction > 0 && keepFraction <= 1)
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col(scoreCol).desc, col(tieCol))
    df.withColumn("__pr", percent_rank().over(w))
      .filter(col("__pr") <= keepFraction).drop("__pr")
  }

  /** Per-stratum hard cap by score: keep each stratum's top `cap` rows by
    * (`scoreCol` desc, `tieCol`) — the absolute-count sibling of
    * [[topQuantileByGroup]] (fractional) and [[stratifiedFixedN]]
    * (hash-ordered). This is the per-domain cap used when composing a
    * pretraining mix: no single source may contribute more than N documents,
    * and the N it does contribute are its best. One window per stratum —
    * same bounded-cardinality-strata caveat as [[stratifiedFixedN]]; for
    * heavy-tailed strata pre-filter with [[mixtureByHash]] so the capped
    * stratum's partition fits an executor.
    */
  def capPerStratum(df: DataFrame, strataCol: String, scoreCol: String,
                    tieCol: String, cap: Int): DataFrame = {
    require(cap > 0)
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col(scoreCol).desc, col(tieCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= cap).drop("__rn")
  }

  /** Weighted Bernoulli sample: keep each row with probability
    * `weightPerMilleCol`/1000 — per-ROW continuous weights (e.g. a quality
    * score), vs [[mixtureByHash]]'s per-STRATUM rate map. Deterministic via
    * the key hash, so the sample is reproducible across runs/engines and a
    * row's fate is stable under corpus growth. Pure scan-side predicate:
    * zero shuffle, codegen'd, pushed to the scan when the weight is a
    * stored column.
    */
  def sampleByWeight(df: DataFrame, keyCol: String, weightPerMille: Column,
                     salt: String = "graft"): DataFrame =
    df.filter(hashBucket(col(keyCol), 1000, salt) < weightPerMille)

  /** Eval-set decontamination: drop training documents that share at least
    * one distinct word `shingleN`-gram with any eval document (the standard
    * n-gram-overlap contamination rule). Inverted-index join on the shingle
    * hash — the shuffle carries 8-byte hashes, and the eval side is distinct
    * per shingle, so the join is linear in the train postings (never
    * pair-quadratic). `maxDocFreq` additionally drops boilerplate shingles
    * (train-side document frequency) so ubiquitous n-grams don't flag the
    * whole corpus as contaminated — same df-cutoff rationale as
    * [[Dedup.ngramJaccardPairs]].
    */
  /** The audit companion to [[decontaminate]] (which only DROPS): which
    * eval document contaminated which train document, and how strongly —
    * (train_id, eval_id, shared_shingles) for pairs sharing ≥ `minShared`
    * distinct word `shingleN`-grams. Run it before committing a decon cut:
    * a report full of 1-shingle matches means the threshold is too eager, a
    * handful of high-overlap pairs means real leakage.
    *
    * Scale shape: BOTH inverted indexes are df-capped (partial agg +
    * broadcast anti-join — a shingle too common in either set is
    * boilerplate, carries no leakage signal, and is exactly what would
    * make the shingle join quadratic); the join then carries 8-byte
    * hashes and the pair count is one partial-agg'd groupBy.
    */
  def contaminationReport(train: DataFrame, eval: DataFrame, idCol: String,
                          textCol: String, shingleN: Int = 3,
                          maxDocFreq: Int = 10000,
                          minShared: Long = 1L): DataFrame = {
    def inv(df: DataFrame, as: String) = df
      .select(col(idCol).as(as), explode(array_distinct(
        T.wordShingleHashes(col(textCol), shingleN))).as("__sh"))
    val t = Dedup.dropHotKeys(inv(train, "train_id"), Seq("__sh"), maxDocFreq)
    val e = Dedup.dropHotKeys(inv(eval, "eval_id"), Seq("__sh"), maxDocFreq)
    t.join(e, "__sh")
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= minShared)
  }

  // ---- persisted decontamination index (daily-ingest shape) ------------

  /** Format stamp for [[buildDecontamIndex]] layouts. The shingle width is
    * part of the format: a batch shingled with n' ≠ n never matches the
    * stored hashes (silent zero-contamination), so the drift must fail
    * loudly at [[IndexFormat.check]] instead.
    */
  private def decontamFormat(shingleN: Int) = s"decontam-v1:n=$shingleN"

  private def evalPostings(eval: DataFrame, idCol: String, textCol: String,
                           shingleN: Int): DataFrame =
    eval.select(col(idCol).as("eval_id"),
      explode(array_distinct(T.wordShingleHashes(col(textCol), shingleN)))
        .as("sh"))

  /** Persist the eval side of decontamination at `dir`: `shingles/` =
    * distinct-per-doc (eval_id, sh) postings of every held-out document.
    * Eval sets are the SMALL, slowly-changing side of decontamination
    * (benchmarks are thousands of documents; the training corpus is the
    * 100 TB side), so the index stores 8-byte hashes per posting — the
    * eval text is shingled exactly once, at build/append time, and every
    * later training batch classifies against hashes alone.
    * Written under one [[IndexFormat.commit]].
    */
  def buildDecontamIndex(eval: DataFrame, idCol: String, textCol: String,
                         dir: String, shingleN: Int = 3): Unit =
    writeDecontamIndex(eval, idCol, textCol, dir, shingleN,
      org.apache.spark.sql.SaveMode.Overwrite)

  /** Append a NEW eval set (a benchmark added after the index was built)
    * after a format [[IndexFormat.check]], under one
    * [[IndexFormat.commit]]. The caller's contract is that
    * each append carries eval ids not already stored (re-appending an id
    * would double its postings and inflate [[contaminationReportIndexed]]
    * counts; [[decontaminateIncremental]] is insensitive to duplicates).
    */
  def appendDecontamIndex(eval: DataFrame, idCol: String, textCol: String,
                          dir: String, shingleN: Int = 3): Unit = {
    IndexFormat.check(eval.sparkSession, dir, decontamFormat(shingleN))
    writeDecontamIndex(eval, idCol, textCol, dir, shingleN,
      org.apache.spark.sql.SaveMode.Append)
  }

  private def writeDecontamIndex(eval: DataFrame, idCol: String,
                                 textCol: String, dir: String, shingleN: Int,
                                 mode: org.apache.spark.sql.SaveMode): Unit =
    IndexFormat.commit(eval.sparkSession, dir, decontamFormat(shingleN)) {
      evalPostings(eval, idCol, textCol, shingleN)
        .write.mode(mode).parquet(s"$dir/shingles")
    }

  /** [[decontaminate]] against a [[buildDecontamIndex]] layout: drop every
    * `batch` row sharing any (batch-side df-capped) shingle with the stored
    * eval sets. Same semantics as the two-frame op, but the eval side is
    * never re-shingled — and the join inverts the scale asymmetry: the
    * stored DISTINCT shingle hashes (bounded by eval-set size) BROADCAST
    * over the batch postings, so the training batch — the 100 TB side —
    * never shuffles at all; contamination is decided map-side against a
    * broadcast hash set, and the only exchanges left are the df-cap's
    * partial agg and the final distinct of contaminated ids (both
    * batch-id-sized).
    */
  def decontaminateIncremental(batch: DataFrame, idCol: String,
                               textCol: String, dir: String,
                               shingleN: Int = 3,
                               maxDocFreq: Int = 10000): DataFrame = {
    val spark = batch.sparkSession
    IndexFormat.check(spark, dir, decontamFormat(shingleN))
    val stored = spark.read.parquet(s"$dir/shingles").select("sh").distinct()
    val inv = batch.select(col(idCol), explode(array_distinct(
      T.wordShingleHashes(col(textCol), shingleN))).as("sh"))
    val contaminated = Dedup.dropHotKeys(inv, Seq("sh"), maxDocFreq)
      .join(broadcast(stored), Seq("sh"))
      .select(idCol).distinct()
    batch.join(contaminated, Seq(idCol), "left_anti")
  }

  /** [[contaminationReport]] against the stored postings: (train_id,
    * eval_id, shared_shingles) for every batch×eval pair sharing at least
    * `minShared` distinct shingles. Same broadcast shape as
    * [[decontaminateIncremental]] — stored postings broadcast, batch never
    * shuffles before the pair-count agg.
    */
  def contaminationReportIndexed(batch: DataFrame, idCol: String,
                                 textCol: String, dir: String,
                                 shingleN: Int = 3,
                                 maxDocFreq: Int = 10000,
                                 minShared: Long = 1L): DataFrame = {
    val spark = batch.sparkSession
    IndexFormat.check(spark, dir, decontamFormat(shingleN))
    val stored = spark.read.parquet(s"$dir/shingles")
    val inv = batch.select(col(idCol).as("train_id"), explode(array_distinct(
      T.wordShingleHashes(col(textCol), shingleN))).as("sh"))
    Dedup.dropHotKeys(inv, Seq("sh"), maxDocFreq)
      .join(broadcast(stored), Seq("sh"))
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= minShared)
  }

  /** Compact `shingles/` after many benchmark appends — same crash-safe
    * swap as every stamped index family.
    */
  def compactDecontamIndex(spark: org.apache.spark.sql.SparkSession,
                           dir: String, shingleN: Int = 3,
                           targetRowsPerFile: Long = 4000000L): Unit =
    IndexMaintenance.compactStamped(spark, dir, decontamFormat(shingleN),
      Seq("shingles" -> Nil), targetRowsPerFile)

  /** Retire benchmarks from the index by eval id
    * ([[IndexMaintenance.deleteStamped]]): their shingles stop
    * contaminating future batches — the complement of
    * [[appendDecontamIndex]] when an eval set is deprecated or was
    * ingested by mistake.
    */
  def deleteFromDecontamIndex(spark: org.apache.spark.sql.SparkSession,
                              dir: String, evalIds: DataFrame,
                              shingleN: Int = 3,
                              targetRowsPerFile: Long = 4000000L): Unit =
    IndexMaintenance.deleteStamped(spark, dir, decontamFormat(shingleN),
      Seq(("shingles", Nil, "eval_id")), evalIds, targetRowsPerFile)

  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, shingleN: Int = 3,
                    maxDocFreq: Int = 10000): DataFrame = {
    def inv(df: DataFrame) = df
      .select(col(idCol), explode(array_distinct(
        T.wordShingleHashes(col(textCol), shingleN))).as("__sh"))
    val trainInv = inv(train)
    val evalShingles = inv(eval).select("__sh").distinct()
    // df-cap via partial-agg + broadcast anti-join (see Dedup.dropHotKeys):
    // a count window — or a pre-cap repartition on the shingle — would
    // funnel the hottest shingle's full posting list into one task; the
    // cap's count branch re-evaluating the explode is the accepted price
    val contaminated = Dedup.dropHotKeys(trainInv, Seq("__sh"), maxDocFreq)
      .join(evalShingles, "__sh")
      .select(idCol).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }
}
