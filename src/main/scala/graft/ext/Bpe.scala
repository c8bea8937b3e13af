package graft.ext

import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training and application (Sennrich et al.,
  * "Neural Machine Translation of Rare Words with Subword Units") — the
  * real-subword upgrade for every token-denominated curation op
  * ([[Curation.sampleToTokenBudget]], `chunkByTokens`, `packSequences`,
  * [[graft.functions.TextFunctions.approxBpeTokenCount]]'s cheap
  * stand-in): train a merge table ON the corpus, then count/pack in the
  * tokenizer's actual units.
  *
  * Scale shape, chosen for 100 TB:
  *
  *  - '''Training never iterates over the corpus.''' One corpus scan
  *    aggregates (word, count) — map-side combined, vocabulary-bounded —
  *    and the merge loop runs on the `maxTrainWords` most frequent words
  *    ON THE DRIVER (the table is capped by construction; this is how
  *    production subword trainers work too: pre-tokenize to word counts,
  *    learn merges from the count table, never from running text).
  *    `maxMerges` iterations over ≤ `maxTrainWords` short arrays is
  *    driver-trivial; the only cluster work is the initial count.
  *  - '''Application tokenizes each DISTINCT word once.''' The corpus
  *    explodes to (id, word); the distinct-word relation — orders of
  *    magnitude smaller than the token stream — runs the merge loop per
  *    word in `mapPartitions` with the rank table in the closure (a few
  *    thousand string pairs), and per-document counts come from joining
  *    the (word, token-count) result back and integer-summing. The join
  *    is word-keyed; AQE broadcasts it when small, and at any size it
  *    carries (word, small-int) pairs, never text.
  *  - '''The model is bounded''' (`maxMerges` rows) and persists under the
  *    same [[IndexFormat]] commit-marker discipline as every stamped
  *    artifact in the repo.
  *
  * Determinism: merge selection breaks count ties on the (left, right)
  * pair lexicographically; application resolves rank ties (impossible by
  * construction, ranks are unique) and scans left-to-right — token counts
  * are a pure function of (text, merges), independent of partitioning.
  */
object Bpe {

  val FormatId = "bpe-merges-v1"

  /** Learn `maxMerges` merges from the corpus's `maxTrainWords` most
    * frequent words (ties broken by the word string — a deterministic
    * training set). Returns the ordered merge list; fewer than `maxMerges`
    * if the training words fuse completely first.
    */
  def trainMerges(docs: DataFrame, textCol: String, maxMerges: Int,
                  maxTrainWords: Int = 65536): Seq[(String, String)] = {
    require(maxMerges >= 0 && maxTrainWords > 0)
    val counts = docs
      .select(explode(T.tokens(lower(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("w")).limit(maxTrainWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // mutable word table: symbol arrays weighted by word frequency
    val words: Array[(Array[String], Long)] =
      counts.map { case (w, c) => (w.map(_.toString).toArray, c) }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var continue = maxMerges > 0
    while (continue) {
      val pairCounts = scala.collection.mutable.HashMap[(String, String), Long]()
      for ((syms, c) <- words; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        pairCounts(p) = pairCounts.getOrElse(p, 0L) + c
      }
      if (pairCounts.isEmpty) continue = false
      else {
        val best = pairCounts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }._1
        merges += best
        val fused = best._1 + best._2
        var wi = 0
        while (wi < words.length) {
          val (syms, c) = words(wi)
          if (syms.length > 1) {
            val out = scala.collection.mutable.ArrayBuffer[String]()
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
                out += fused; i += 2
              } else { out += syms(i); i += 1 }
            }
            words(wi) = (out.toArray, c)
          }
          wi += 1
        }
        continue = merges.size < maxMerges
      }
    }
    merges.toSeq
  }

  /** Tokenize one word with the trained merges: start from characters,
    * repeatedly fuse the best-ranked (lowest-rank) adjacent pair,
    * leftmost-first, until no adjacent pair is mergeable — the standard
    * BPE application order. Pure function; exposed for specs and the
    * per-partition apply.
    */
  private[ext] def applyWord(ranks: Map[(String, String), Int])(
      word: String): Array[String] = {
    var syms = word.map(_.toString).toArray
    var done = syms.length <= 1
    while (!done) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestIdx = i }
        i += 1
      }
      if (bestIdx < 0) done = true
      else {
        val out = new Array[String](syms.length - 1)
        var j = 0
        while (j < bestIdx) { out(j) = syms(j); j += 1 }
        out(bestIdx) = syms(bestIdx) + syms(bestIdx + 1)
        j = bestIdx + 1
        while (j < out.length) { out(j) = syms(j + 1); j += 1 }
        syms = out
        done = syms.length <= 1
      }
    }
    syms
  }

  /** Per-document token counts under the trained tokenizer:
    * (id, n_words, n_bpe_tokens). Empty documents keep a row with zeros.
    * Distinct words tokenize once; per-document counts are integer sums
    * (order-independent, partitioning-independent).
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[(String, String)]): DataFrame = {
    val ranks = merges.zipWithIndex.toMap
    val sp = docs.sparkSession
    import sp.implicits._
    val toks = docs.select(col(idCol).as("id"),
      explode_outer(T.tokens(lower(col(textCol)))).as("w"))
    val wordLens = toks.select("w").where(col("w").isNotNull).distinct()
      .as[String]
      .mapPartitions { it =>
        val f = applyWord(ranks) _
        it.map(w => (w, f(w).length.toLong))
      }.toDF("w", "__bpe_len")
    toks.join(wordLens, Seq("w"), "left")
      .groupBy("id")
      .agg(count(col("w")).as("n_words"),
        coalesce(sum("__bpe_len"), lit(0L)).as("n_bpe_tokens"))
      .select(col("id").as(idCol), col("n_words"), col("n_bpe_tokens"))
  }

  /** Persist the merge table under `dir/merges` (rank, left, right) with
    * the repo's stamp discipline; [[readMerges]] restores training order
    * and fails loudly on a torn or foreign artifact.
    */
  def writeMerges(spark: SparkSession, merges: Seq[(String, String)],
                  dir: String): Unit = {
    import spark.implicits._
    IndexFormat.commit(spark, dir, FormatId) {
      merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
        .toDF("rank", "left", "right")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/merges")
    }
  }

  def readMerges(spark: SparkSession, dir: String): Seq[(String, String)] = {
    IndexFormat.check(spark, dir, FormatId)
    spark.read.parquet(s"$dir/merges")
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** Parse the public `merges.txt` tokenizer format — ranked merge pairs,
    * one `left right` pair per line, rank = line order, with an optional
    * leading `#version: …` header (the format GPT-2-family BPE tokenizers
    * publish their merge tables in). This is the interop seam for
    * production pipelines whose token budgets are specified in a REAL
    * tokenizer's units: load the published table here and feed the
    * existing apply path ([[tokenCounts]], the token-budget curation ops)
    * instead of training in-corpus merges with [[trainMerges]].
    *
    * Strict by design: a malformed line (not exactly two space-separated
    * fields) fails loudly with its line number — a silently skipped merge
    * would shift every later rank and mis-tokenize the whole corpus.
    * Blank lines and a `#version` FIRST line are the only tolerated
    * non-pair content.
    */
  def parseMergesText(lines: IterableOnce[String]): Seq[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var lineNo = 0
    for (raw <- lines.iterator) {
      lineNo += 1
      val line = raw.stripLineEnd
      if (line.nonEmpty && !(lineNo == 1 && line.startsWith("#version"))) {
        require(!line.startsWith("#version"),
          s"merges.txt line $lineNo: '#version' header only allowed on line 1 " +
            "(a mid-file header means concatenated or corrupt vocab files)")
        val parts = line.split(" ", -1)
        require(parts.length == 2 && parts(0).nonEmpty && parts(1).nonEmpty,
          s"merges.txt line $lineNo is not a 'left right' pair: '$line'")
        out += ((parts(0), parts(1)))
      }
    }
    out.toSeq
  }

  /** Load a `merges.txt` file from any Hadoop-visible path. Driver-side
    * read on purpose: a published merge table is a bounded artifact (tens
    * of thousands of short lines) whose ORDER is the ranking — the same
    * bounded-model reasoning as [[readMerges]], and a distributed text
    * read would have to re-sort by a line number it no longer has.
    */
  def loadMergesText(spark: SparkSession, path: String): Seq[(String, String)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      parseMergesText(src.getLines())
    } finally in.close()
  }
}
