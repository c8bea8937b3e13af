package graft.ext

import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Statistical quality models over a document corpus — the "cheap model"
  * tier every published pretraining pipeline runs before any neural
  * scoring: unigram language-model scoring (the CCNet perplexity-bucket
  * recipe), importance weighting for target-matched data selection (DSIR),
  * and a Naive-Bayes quality classifier (the fastText-classifier shape:
  * linear in token counts, trained from cheap labels).
  *
  * Reference scope: the reference pipeline (amuluowin/rabbit-data-pipeline)
  * stops at row-shaping transforms; this tier is part of the repo's
  * large-scale training-data extension (SURVEY.md §7.1), same as `Dedup` /
  * `Curation`.
  *
  * Design rules shared by every op here, chosen for 100 TB:
  *
  *  - '''Models are bounded, corpora are not.''' Every trained artifact
  *    (vocab, bucket table, log-odds table) is capped by construction —
  *    `maxVocab` tokens or `buckets` hash buckets — so the scoring join is
  *    always a BROADCAST of the model against one linear scan of the
  *    corpus. No scoring path shuffles corpus text.
  *  - '''Integer milli-log scores.''' Per-token log-probabilities are
  *    rounded to integer milli-nats ONCE, in the (bounded) model table;
  *    per-document scores are then integer SUMS, which are associative and
  *    commutative — the result is independent of partitioning and
  *    aggregation order, so the same number falls out of a 1000-executor
  *    cluster, a local[2] test, and the DuckDB oracle. (A double
  *    accumulation would be order-dependent and unverifiable; this is the
  *    same trick as [[Search.rareTokenStats]]'s integer per-milles.)
  *  - '''One corpus scan per score.''' Documents are tokenized with
  *    `explode_outer` (empty documents keep a row and score 0/prior rather
  *    than vanishing), joined to the broadcast model, and re-aggregated by
  *    document id — the shuffle carries one partially-aggregated row per
  *    document, not per token.
  */
object Lm {

  /** floor(1000·ln(x) + 0.5) as BIGINT — one rounded milli-nat log,
    * computed once per MODEL row (never per corpus row), so any last-ulp
    * libm disagreement between engines would have to land within 1e-12 of
    * a .5 boundary on a few thousand model entries to matter — the same
    * exposure the repo already carries on `round(ln(·), 4)` TF-IDF scores.
    */
  private def milliLog(x: Column): Column =
    floor(log(x) * 1000 + lit(0.5)).cast("bigint")

  /** floor(1000·(ln(a) − ln(b)) + 0.5) as BIGINT — a rounded milli-nat
    * log-ratio. a and b are each a smoothed probability spelled as one
    * division, so both engines evaluate the identical IEEE expression tree.
    */
  private def milliLogRatio(a: Column, b: Column): Column =
    floor((log(a) - log(b)) * 1000 + lit(0.5)).cast("bigint")

  /** explode_outer so zero-token documents keep one (null-token) row —
    * every scoring op here is a total function of the corpus.
    */
  private def outerToks(textCol: String): Column =
    explode_outer(T.tokens(lower(col(textCol))))

  // ---------------------------------------------------------------------
  // Unigram language model (CCNet-style perplexity proxy)
  // ---------------------------------------------------------------------

  /** Train an add-one-smoothed unigram LM on `ref` and return the scoring
    * model: one row per kept vocabulary token `(w, lp_milli)` plus a single
    * `w IS NULL` row holding the out-of-vocabulary log-probability.
    *
    * The vocabulary is the `maxVocab` most frequent reference tokens (ties
    * broken by the token string, so the cut is deterministic cross-engine);
    * everything else scores as OOV. `lp(w) = ln((c(w)+1) / (N+V+1))` where
    * N = total reference token count and V = kept vocabulary size — not a
    * renormalized distribution over the capped vocab, but the standard
    * practical smoothing, and monotone in the corpus statistics that
    * matter. The model is at most `maxVocab + 1` rows regardless of corpus
    * size: training is one token-count aggregation (map-side combined on
    * the token) + a TakeOrdered head — the only shuffles in this file that
    * grow with the corpus, and they carry (token, count) pairs, not text.
    */
  def unigramModel(ref: DataFrame, textCol: String,
                   maxVocab: Int = 65536): DataFrame = {
    require(maxVocab > 0, s"maxVocab must be positive, got $maxVocab")
    val t = ref.select(explode(T.tokens(lower(col(textCol)))).as("w"))
    val counts = t.groupBy("w").agg(count(lit(1)).as("c"))
    val kept = counts.orderBy(desc("c"), col("w")).limit(maxVocab)
    val stats = counts.agg(coalesce(sum("c"), lit(0L)).as("n_tok"))
      .crossJoin(kept.agg(count(lit(1)).as("v")))
    val denom = col("n_tok") + col("v") + lit(1)
    // the model is bounded (≤ maxVocab+1 rows) but was returned LAZY, so
    // every consumer broadcast — scoreUnigram reads it twice (vocab + OOV
    // row), bigramModel three more times — re-ran the full token-count
    // training over the reference corpus. Eager localCheckpoint pins the
    // tiny table after ONE training pass (r19; guide §1.2 — don't compute
    // things twice; same bounded-artifact contract as writeModel)
    kept.crossJoin(broadcast(stats))
      .select(col("w"), milliLog((col("c") + lit(1.0)) / denom).as("lp_milli"))
      .unionByName(stats.select(lit(null).cast("string").as("w"),
        milliLog(lit(1.0) / denom).as("lp_milli")))
      .localCheckpoint(true)
  }

  /** Score every document against a [[unigramModel]]: mean per-token
    * log-probability in milli-nats (higher = more reference-like; the
    * integer stand-in for negative perplexity). Empty documents score 0
    * with `n_tokens = 0` — kept, not dropped, so the output is a total
    * function of the corpus.
    *
    * One corpus scan: explode_outer → broadcast left-join on the token →
    * per-doc integer sum. `extraCols` are carried through the aggregation
    * (grouping keys — functionally dependent on the id).
    */
  def scoreUnigram(docs: DataFrame, idCol: String, textCol: String,
                   model: DataFrame, extraCols: Seq[String] = Nil): DataFrame = {
    val vocab = model.filter(col("w").isNotNull)
    val oov = model.filter(col("w").isNull).select(col("lp_milli").as("__oov_lp"))
    val keyCols = (idCol +: extraCols).map(col)
    val t = docs.select(keyCols :+ outerToks(textCol).as("w"): _*)
    t.join(broadcast(vocab), Seq("w"), "left")
      .crossJoin(broadcast(oov))
      .select(keyCols :+ col("w") :+
        when(col("w").isNull, lit(null).cast("bigint"))
          .otherwise(coalesce(col("lp_milli"), col("__oov_lp"))).as("__lp"): _*)
      .groupBy(keyCols: _*)
      .agg(count(col("w")).as("n_tokens"),
        coalesce(sum("__lp"), lit(0L)).as("sum_lp_milli"))
      .withColumn("avg_lp_milli",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(floor(col("sum_lp_milli").cast("double") / col("n_tokens")
            + lit(0.5)).cast("bigint")))
  }

  /** CCNet-style perplexity bucketing: score each document against the
    * reference LM, then label it `head` / `middle` / `tail` WITHIN ITS
    * LANGUAGE by the per-language `lo`/`hi` quantiles of the mean
    * log-probability (CCNet buckets per language for exactly this reason —
    * a single global threshold just rediscovers the language mix).
    *
    * Thresholds are computed with the exact `percentile` AGGREGATE, not an
    * `ntile` window — an aggregation partial-combines map-side and never
    * funnels a language through one task the way a global-sort window
    * would; the |languages|-row threshold table then broadcast-joins back.
    * At 100 TB the same shape holds with `percentile_approx` (mergeable
    * sketch, constant memory) — the exact aggregate is registered because
    * it is oracle-verifiable; swapping it is a one-line change.
    *
    * Empty documents (score 0 = "perfectly average" only by accident) are
    * excluded from both the thresholds and the output. Quantile fractions
    * should be binary-exact (.25/.75) so the interpolation arithmetic is
    * reproducible cross-engine.
    */
  def pplBuckets(docs: DataFrame, idCol: String, textCol: String,
                 langCol: String, model: DataFrame,
                 lo: Double = 0.25, hi: Double = 0.75): DataFrame = {
    require(lo < hi && lo > 0 && hi < 1, s"need 0 < lo < hi < 1, got $lo/$hi")
    // scored is read twice (per-language thresholds, then the bucket
    // labeling join) and each lazy read re-tokenized + re-scored the
    // corpus. The pinned form is 4 narrow columns per document — tens of
    // bytes/doc against KB-sized text, so the executor-storage trade holds
    // at any corpus size (guide §5 persist-when-reused)
    val scored = scoreUnigram(docs, idCol, textCol, model, Seq(langCol))
      .filter(col("n_tokens") > 0)
      .localCheckpoint(true)
    val thr = scored.groupBy(langCol).agg(
      percentile(col("avg_lp_milli"), lit(lo)).as("__q_lo"),
      percentile(col("avg_lp_milli"), lit(hi)).as("__q_hi"))
    scored.join(broadcast(thr), langCol)
      .select(col(idCol), col(langCol), col("avg_lp_milli"),
        when(col("avg_lp_milli") > col("__q_hi"), lit("head"))
          .when(col("avg_lp_milli") < col("__q_lo"), lit("tail"))
          .otherwise(lit("middle")).as("bucket"))
  }

  // ---------------------------------------------------------------------
  // Persisted model artifact
  // ---------------------------------------------------------------------

  /** Format stamp for persisted unigram models (written under
    * [[IndexFormat.commit]], so a torn write is rejected loudly by
    * [[readModel]]).
    */
  val FormatId = "unigram-lm-v1"

  /** Persist a [[unigramModel]] under `dir/vocab` with a `_meta` stamp.
    * The model is ≤ maxVocab+1 rows — one file; train daily, score always.
    * Retraining is a full rebuild by design: the artifact is minutes to
    * recompute at any corpus size (token-count aggregation + TakeOrdered),
    * and an append-merge would need raw counts plus cross-generation
    * smoothing constants for marginal gain.
    */
  def writeModel(spark: SparkSession, model: DataFrame, dir: String): Unit = {
    IndexFormat.commit(spark, dir, FormatId) {
      model.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/vocab")
    }
  }

  /** Read a stamped model for [[scoreUnigram]] / [[pplBuckets]]. Fails
    * loudly on a missing or foreign-format stamp.
    */
  def readModel(spark: SparkSession, dir: String): DataFrame = {
    IndexFormat.check(spark, dir, FormatId)
    spark.read.parquet(s"$dir/vocab")
  }

  // ---------------------------------------------------------------------
  // Bigram language model with stupid backoff (Brants et al., EMNLP'07,
  // "Large Language Models in Machine Translation") — one step closer to
  // CCNet's KenLM than the unigram proxy, with the same bounded-model /
  // integer-score discipline
  // ---------------------------------------------------------------------

  /** floor(1000·ln(0.4) + 0.5): the stupid-backoff penalty in milli-nats.
    * A constant, not a tuned weight — that is the published method's whole
    * point (no held-out EM at web scale).
    */
  val BackoffMilli: Long = -916L

  /** A trained bigram LM: `unigram` is exactly [[unigramModel]]'s output
    * (vocab + OOV row); `bigram` holds `(w1, w2, lp2_milli)` — the rounded
    * milli-nat log CONDITIONAL `ln(c(w1,w2)/c(w1))` for the `maxBigrams`
    * most frequent vocab-vocab bigrams. Both tables are bounded by
    * construction and broadcast at any corpus size.
    */
  final case class BigramLm(unigram: DataFrame, bigram: DataFrame)

  /** Train a bigram LM with stupid backoff on `ref`: the unigram tier is
    * [[unigramModel]] verbatim; the bigram tier counts adjacent
    * (in-vocab, in-vocab) token pairs, keeps the `maxBigrams` most
    * frequent (ties by the pair, so the cut is deterministic), and stores
    * the UNSMOOTHED conditional `c(w1,w2)/c(w1)` — backoff, not
    * discounting, handles the unseen mass, per the published method.
    * Training is two token-count aggregations (map-side combined) + two
    * TakeOrdered heads; nothing else scales with the corpus.
    */
  def bigramModel(ref: DataFrame, textCol: String, maxVocab: Int = 65536,
                  maxBigrams: Int = 262144): BigramLm = {
    require(maxBigrams > 0, s"maxBigrams must be positive, got $maxBigrams")
    val uni = unigramModel(ref, textCol, maxVocab)
    val vocab = uni.filter(col("w").isNotNull).select("w")
    // raw (uncapped) unigram counts feed the conditional's denominator —
    // recomputed here rather than threaded out of unigramModel to keep
    // that signature stable; one extra pass over (token, count) pairs
    val t = ref.select(explode(T.tokens(lower(col(textCol)))).as("w"))
    val c1 = t.groupBy("w").agg(count(lit(1)).as("c1"))
      .join(broadcast(vocab), Seq("w"), "left_semi")
    val pairRows = ref.select(explode(pairArray(textCol)).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .filter(col("w1").isNotNull)
    val c12 = pairRows
      .join(broadcast(vocab.withColumnRenamed("w", "w1")), Seq("w1"), "left_semi")
      .join(broadcast(vocab.withColumnRenamed("w", "w2")), Seq("w2"), "left_semi")
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .orderBy(desc("c12"), col("w1"), col("w2")).limit(maxBigrams)
    val bi = c12.join(broadcast(c1.withColumnRenamed("w", "w1")), Seq("w1"))
      .select(col("w1"), col("w2"),
        milliLog(col("c12").cast("double") / col("c1")).as("lp2_milli"))
      // bounded (≤ maxBigrams rows) — pin after one pair-count pass so
      // scoreBigram's broadcast doesn't re-run bigram training (the
      // unigram side is already pinned by unigramModel)
      .localCheckpoint(true)
    BigramLm(uni, bi)
  }

  /** Per-document pair rows: position i carries (w1 = token i−1 or NULL at
    * the document start, w2 = token i). Built from the token ARRAY in one
    * projection — no per-token window, no extra shuffle.
    */
  private def pairArray(textCol: String): Column =
    graft.functions.ExprOps.let(T.tokens(lower(col(textCol)))) { t =>
      when(size(t) === 0, array().cast("array<struct<w1:string,w2:string>>"))
        .otherwise(transform(sequence(lit(1), size(t)), i =>
          struct(
            when(i === 1, lit(null).cast("string"))
              .otherwise(element_at(t, i - 1)).as("w1"),
            element_at(t, i).as("w2"))))
    }

  /** Score every document against a [[BigramLm]]: per-token milli-nat
    * log-probability where token i scores the bigram conditional
    * `lp(w_i | w_{i−1})` when that bigram is in the model, and backs off
    * to `ln(0.4) + lp_unigram(w_i)` otherwise (document starts always use
    * the unigram tier). Same output shape and totality contract as
    * [[scoreUnigram]]: empty documents keep a row with `n_tokens = 0`,
    * scores are integer sums — partitioning-independent and
    * oracle-exact. One corpus scan; both model tables broadcast.
    */
  def scoreBigram(docs: DataFrame, idCol: String, textCol: String,
                  model: BigramLm, extraCols: Seq[String] = Nil): DataFrame = {
    val vocab = model.unigram.filter(col("w").isNotNull)
      .select(col("w").as("w2"), col("lp_milli").as("__lp_u"))
    val oov = model.unigram.filter(col("w").isNull)
      .select(col("lp_milli").as("__oov_lp"))
    val keyCols = (idCol +: extraCols).map(col)
    val rows = docs.select(keyCols :+ explode_outer(pairArray(textCol)).as("p"): _*)
      .select(keyCols :+ col("p.w1").as("w1") :+ col("p.w2").as("w2"): _*)
    rows
      .join(broadcast(vocab), Seq("w2"), "left")
      .crossJoin(broadcast(oov))
      .join(broadcast(model.bigram), Seq("w1", "w2"), "left")
      .select(keyCols :+ col("w2") :+
        graft.functions.ExprOps.let(coalesce(col("__lp_u"), col("__oov_lp"))) { u =>
          when(col("w2").isNull, lit(null).cast("bigint"))
            .otherwise(when(col("w1").isNull, u)
              .otherwise(coalesce(col("lp2_milli"), lit(BackoffMilli) + u)))
        }.as("__lp"): _*)
      .groupBy(keyCols: _*)
      .agg(count(col("w2")).as("n_tokens"),
        coalesce(sum("__lp"), lit(0L)).as("sum_lp_milli"))
      .withColumn("avg_lp_milli",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(floor(col("sum_lp_milli").cast("double") / col("n_tokens")
            + lit(0.5)).cast("bigint")))
  }

  /** Format stamp for persisted bigram models. */
  val BigramFormatId = "bigram-lm-v1"

  /** Persist a [[BigramLm]] under `dir/{vocab,bigrams}` with one
    * [[IndexFormat.commit]] over both tables (a torn write is rejected
    * loudly by [[readBigramModel]]).
    */
  def writeBigramModel(spark: SparkSession, model: BigramLm, dir: String): Unit =
    IndexFormat.commit(spark, dir, BigramFormatId) {
      model.unigram.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/vocab")
      model.bigram.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/bigrams")
    }

  /** Read a stamped bigram model for [[scoreBigram]]. */
  def readBigramModel(spark: SparkSession, dir: String): BigramLm = {
    IndexFormat.check(spark, dir, BigramFormatId)
    BigramLm(spark.read.parquet(s"$dir/vocab"),
      spark.read.parquet(s"$dir/bigrams"))
  }

  // ---------------------------------------------------------------------
  // DSIR importance weighting (Xie et al., "Data Selection for Language
  // Models via Importance Resampling" — hashed n-gram feature variant)
  // ---------------------------------------------------------------------

  /** Importance-weight every document toward a target slice and keep the
    * top `k`: weight(x) = Σ_tokens log p_target(bucket(w)) / p_raw(bucket(w)),
    * with tokens folded into `buckets` md5 hash buckets (DSIR's hashed
    * n-gram trick — the feature space is FIXED-size, so both bucket-count
    * tables are ≤ `buckets` rows and broadcast no matter how large the
    * corpus or target are). Counts are add-one smoothed over the bucket
    * space; per-bucket log-ratios are rounded to integer milli-nats once,
    * so document weights are order-independent integer sums.
    *
    * `isTarget` is any boolean Column over `docs`' rows (e.g.
    * `col("source") === "wiki"`). Raw statistics are taken over ALL of
    * `docs`, target statistics over the `isTarget` slice — one tokenize
    * pass computes both (the flag rides along the explode). Documents with
    * no tokens are not selectable (an empty document has weight 0, which
    * would outrank every negatively-weighted real document).
    *
    * The deterministic top-k (TakeOrdered on weight, ties by id) is the
    * verifiable registered form; production DSIR samples WITH the weights
    * via Gumbel noise — that variant is `sampleByWeight`-shaped and drops
    * in by replacing the final limit.
    */
  def dsirTopK(docs: DataFrame, idCol: String, textCol: String,
               isTarget: Column, k: Int, buckets: Int = 256,
               salt: String = "graft"): DataFrame = {
    require(k > 0)
    dsirWeights(docs, idCol, textCol, isTarget, buckets, salt)
      .orderBy(desc("weight_milli"), col(idCol))
      .limit(k)
      .select(col(idCol), col("weight_milli"), col("n_tokens"))
  }

  /** Unranked per-document importance weights — the shared core of
    * [[dsirTopK]] and [[dsirSampleK]]: (idCol, n_tokens, weight_milli),
    * tokenless documents absent.
    */
  private def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                          isTarget: Column, buckets: Int,
                          salt: String): DataFrame = {
    require(buckets > 0)
    val t = docs
      .select(col(idCol).as("id"), isTarget.as("__tgt"),
        explode(T.tokens(lower(col(textCol)))).as("w"))
      .withColumn("b", Curation.hashBucket(col("w"), buckets, salt))
    // bounded (≤ buckets rows) — pin after ONE tokenize+count pass; lazy,
    // the totals broadcast and the lw broadcast each re-ran it (two extra
    // full-corpus tokenize passes per call)
    val byBucket = t.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("ct"))
      .localCheckpoint(true)
    val totals = byBucket.agg(
      coalesce(sum("cr"), lit(0L)).as("nr"),
      coalesce(sum("ct"), lit(0L)).as("nt"))
    val lw = byBucket.crossJoin(broadcast(totals)).select(col("b"),
      milliLogRatio(
        (col("ct") + lit(1.0)) / (col("nt") + lit(buckets)),
        (col("cr") + lit(1.0)) / (col("nr") + lit(buckets))).as("lw"))
    t.join(broadcast(lw), "b")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"), sum("lw").as("weight_milli"))
      .select(col("id").as(idCol), col("n_tokens"), col("weight_milli"))
  }

  /** DSIR's actual sampler: Gumbel-top-k resampling — keep the `k`
    * documents maximizing `log-weight + Gumbel noise`, which samples
    * WITHOUT replacement with probability ∝ exp(log-weight) = the
    * importance weight (the Gumbel-max trick). The noise is derived from
    * the row key (md5 → uniform in (0,1) → −ln(−ln(u))), NOT `rand()` —
    * the same determinism contract as every sampler in [[Curation]]: the
    * selected set is byte-identical across runs, partitionings and
    * cluster sizes, and a new `salt` is a fresh draw. The sample key is
    * rounded before ranking (ties then broken by id) so the cut is
    * reproducible cross-engine. Same bounded shapes as [[dsirTopK]]:
    * bucket tables broadcast, selection is TakeOrdered.
    */
  def dsirSampleK(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, k: Int, buckets: Int = 256,
                  salt: String = "graft"): DataFrame = {
    require(k > 0)
    val weighted = dsirWeights(docs, idCol, textCol, isTarget, buckets, salt)
    val u = (Curation.hashBucket(col(idCol), 65536, salt + "-gumbel")
      .cast("double") + lit(0.5)) / lit(65536.0)
    val gumbel = -log(-log(u))
    weighted
      .withColumn("sample_key",
        round(col("weight_milli").cast("double") / 1000.0 + gumbel, 6))
      .orderBy(desc("sample_key"), col(idCol))
      .limit(k)
      .select(col(idCol), col("weight_milli"), col("sample_key"))
  }

  // ---------------------------------------------------------------------
  // Naive-Bayes quality classifier (fastText-shaped linear scorer)
  // ---------------------------------------------------------------------

  /** Train a multinomial Naive-Bayes classifier on a deterministic hash
    * split of `docs` and score the HELD-OUT documents: per-token log-odds
    * `llr(w) = ln((c⁺(w)+1)/(N⁺+V)) − ln((c⁻(w)+1)/(N⁻+V))` over the
    * `maxVocab` most frequent training tokens, a smoothed document-count
    * prior, and `score(x) = prior + Σ llr(w)` with out-of-vocabulary
    * tokens contributing 0 (the standard NB treatment — unknown evidence
    * is no evidence). `predicted = score > 0`.
    *
    * This is the pipeline shape of a fastText quality classifier — a
    * bounded linear model trained from cheap labels (`labelIs`: any
    * boolean Column, e.g. "is it from a curated source") and applied in
    * one broadcast-join scan — with NB's closed-form training instead of
    * SGD, which makes it deterministic and DuckDB-verifiable end to end.
    * Train/test assignment uses [[Curation.hashBucket]] on the id (stable
    * under growth and repartitioning, same contract as `splitByHash`).
    *
    * Training shuffles (token, count) pairs once; N⁺/N⁻/V/prior are
    * one-row broadcast aggregates; scoring is explode_outer → broadcast
    * join → per-doc integer sum, so held-out empty documents score exactly
    * `prior`. Output: (id, label, n_tokens, score_milli, predicted).
    */
  def nbTrainScore(docs: DataFrame, idCol: String, textCol: String,
                   labelIs: Column, trainPerMille: Int = 600,
                   maxVocab: Int = 65536, salt: String = "graft"): DataFrame = {
    require(trainPerMille > 0 && trainPerMille < 1000)
    require(maxVocab > 0)
    val isTrain = Curation.hashBucket(col(idCol), 1000, salt) < trainPerMille
    val labeled = docs.withColumn("__lab", labelIs)

    val train = labeled.filter(isTrain)
    val tt = train.select(col("__lab"),
      explode(T.tokens(lower(col(textCol)))).as("w"))
    val counts = tt.groupBy("w").agg(
      sum(when(col("__lab"), 1L).otherwise(0L)).as("cp"),
      sum(when(col("__lab"), 0L).otherwise(1L)).as("cn"))
    // total-count vocabulary cut (cp+cn), ties by token
    val vocabKept = counts
      .orderBy((col("cp") + col("cn")).desc, col("w")).limit(maxVocab)
    // both model tables are bounded (stats = 1 row, llr ≤ maxVocab rows)
    // but were lazy, so the llr broadcast and the prior broadcast each
    // re-ran token-count training over the train split. Pin each after one
    // pass (same bounded-model rationale as [[unigramModel]])
    val stats = counts.agg(
      coalesce(sum("cp"), lit(0L)).as("np"),
      coalesce(sum("cn"), lit(0L)).as("nn"))
      .crossJoin(vocabKept.agg(count(lit(1)).as("v")))
      .crossJoin(train.agg(
        coalesce(sum(when(col("__lab"), 1L).otherwise(0L)), lit(0L)).as("dp"),
        coalesce(sum(when(col("__lab"), 0L).otherwise(1L)), lit(0L)).as("dn")))
      .localCheckpoint(true)
    val llr = vocabKept.crossJoin(broadcast(stats)).select(col("w"),
      milliLogRatio(
        (col("cp") + lit(1.0)) / (col("np") + col("v")),
        (col("cn") + lit(1.0)) / (col("nn") + col("v"))).as("llr"))
      .localCheckpoint(true)
    val prior = stats.select(
      milliLogRatio(col("dp") + lit(1.0), col("dn") + lit(1.0)).as("__prior"))

    val heldOut = labeled.filter(!isTrain)
    heldOut.select(col(idCol).as("id"), col("__lab").as("label"),
      outerToks(textCol).as("w"))
      .join(broadcast(llr), Seq("w"), "left")
      .crossJoin(broadcast(prior))
      .groupBy("id", "label", "__prior")
      .agg(count(col("w")).as("n_tokens"),
        coalesce(sum(coalesce(col("llr"), lit(0L))), lit(0L)).as("__sum"))
      .select(col("id").as(idCol), col("label"), col("n_tokens"),
        (col("__prior") + col("__sum")).as("score_milli"),
        (col("__prior") + col("__sum") > 0).as("predicted"))
  }
}
