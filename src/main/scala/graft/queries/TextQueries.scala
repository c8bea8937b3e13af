package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{TextFunctions => T}
import graft.SparkEntry.{cachedArtifact, tmpDir}

/** Text analysis: stats, language id, quality signals, unigram and bigram
  * LMs, BPE, token statistics, cleaning and redaction.
  */
object TextQueries {

  /** Unigram LM over the English slice — the stored model
    * `text_lm_persisted` scores against.
    */
  private def cachedLmModelDir(s: SparkSession, sfDir: String): String =
    cachedArtifact(sfDir, "lm_model_cached") { dir =>
      val en = Tables(s, sfDir).documents.filter(col("lang") === "en")
      graft.ext.Lm.writeModel(s,
        graft.ext.Lm.unigramModel(en, "text", maxVocab = 4096), dir)
    }

  /** Bigram LM — `text_lm_bigram_persisted` scores against the STORED
    * artifact, proving the two-table round trip is lossless.
    */
  private def cachedBigramModelDir(s: SparkSession, sfDir: String): String =
    cachedArtifact(sfDir, "lm_bigram_cached") { dir =>
      val en = Tables(s, sfDir).documents.filter(col("lang") === "en")
      graft.ext.Lm.writeBigramModel(s,
        graft.ext.Lm.bigramModel(en, "text", maxVocab = 4096, maxBigrams = 512),
        dir)
    }

  /** BPE merge table over `documents` — the tokenizer `text_bpe_counts`
    * applies.
    */
  private def cachedBpeMergesDir(s: SparkSession, sfDir: String): String =
    cachedArtifact(sfDir, "bpe_merges_cached") { dir =>
      graft.ext.Bpe.writeMerges(s,
        graft.ext.Bpe.trainMerges(Tables(s, sfDir).documents, "text",
          maxMerges = 200), dir)
    }

  /** The text_lm_bigram / text_lm_bigram_persisted oracle: the full
    * stupid-backoff pipeline re-derived in DuckDB (see the `text_lm_bigram`
    * case comments for the construction).
    */
  private val bigramScoreOracleSql: String =
    """WITH rt AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |    FROM documents WHERE lang = 'en' AND length(trim(text)) > 0),
        |  counts AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM rt GROUP BY 1),
        |  kept AS (SELECT w, c FROM counts ORDER BY c DESC, w LIMIT 4096),
        |  st AS (SELECT (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM counts) AS n_tok,
        |                (SELECT CAST(count(*) AS BIGINT) FROM kept) AS v),
        |  vocab AS (SELECT w, CAST(floor(ln((c + 1.0) / (n_tok + v + 1)) * 1000 + 0.5) AS BIGINT) AS lp
        |    FROM kept CROSS JOIN st),
        |  oov AS (SELECT CAST(floor(ln(1.0 / (n_tok + v + 1)) * 1000 + 0.5) AS BIGINT) AS lp FROM st),
        |  rtl AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |    FROM documents WHERE lang = 'en' AND length(trim(text)) > 0),
        |  rp AS (SELECT doc_id, unnest(list_transform(range(2, len(t) + 1),
        |      i -> struct_pack(w1 := t[i-1], w2 := t[i]))) AS p FROM rtl),
        |  bp AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM rp),
        |  bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bp
        |    JOIN kept k1 ON bp.w1 = k1.w
        |    JOIN kept k2 ON bp.w2 = k2.w
        |    GROUP BY w1, w2 ORDER BY c12 DESC, w1, w2 LIMIT 512),
        |  bi AS (SELECT w1, w2, CAST(floor(ln(CAST(c12 AS DOUBLE) / c.c) * 1000 + 0.5) AS BIGINT) AS lp2
        |    FROM bc JOIN counts c ON bc.w1 = c.w),
        |  dt AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |    FROM documents WHERE length(trim(text)) > 0),
        |  dp AS (SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
        |      i -> struct_pack(w1 := CASE WHEN i = 1 THEN CAST(NULL AS VARCHAR) ELSE t[i-1] END, w2 := t[i]))) AS p FROM dt),
        |  dr AS (SELECT doc_id, p.w1 AS dw1, p.w2 AS dw2 FROM dp),
        |  sc AS (SELECT doc_id, dw2,
        |      CASE WHEN dw1 IS NULL THEN coalesce(v.lp, o.lp)
        |           ELSE coalesce(b.lp2, -916 + coalesce(v.lp, o.lp)) END AS lp
        |    FROM dr LEFT JOIN vocab v ON dr.dw2 = v.w
        |    LEFT JOIN bi b ON dr.dw1 = b.w1 AND dr.dw2 = b.w2
        |    CROSS JOIN oov o),
        |  agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |      CAST(sum(lp) AS BIGINT) AS sum_lp_milli FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_tokens, sum_lp_milli,
        |  CAST(floor(CAST(sum_lp_milli AS DOUBLE) / n_tokens + 0.5) AS BIGINT) AS avg_lp_milli
        |FROM agg
        |UNION ALL
        |SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |FROM documents WHERE length(trim(text)) = 0""".stripMargin

  /** DuckDB rendering of [[graft.ext.Lm.unigramModel]] (English reference
    * slice, maxVocab 4096) + [[graft.ext.Lm.scoreUnigram]] over
    * `documents` — shared by `text_lm_score` and `text_lm_persisted` (the
    * stored model round-trips losslessly, so both queries have the same
    * oracle).
    */
  private val lmScoreOracleSql: String =
    """WITH rt AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |    FROM documents WHERE lang = 'en' AND length(trim(text)) > 0),
      |  counts AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM rt GROUP BY 1),
      |  kept AS (SELECT w, c FROM counts ORDER BY c DESC, w LIMIT 4096),
      |  st AS (SELECT (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM counts) AS n_tok,
      |                (SELECT CAST(count(*) AS BIGINT) FROM kept) AS v),
      |  vocab AS (SELECT w,
      |      CAST(floor(ln((c + 1.0) / (n_tok + v + 1)) * 1000 + 0.5) AS BIGINT) AS lp
      |    FROM kept CROSS JOIN st),
      |  oov AS (SELECT CAST(floor(ln(1.0 / (n_tok + v + 1)) * 1000 + 0.5) AS BIGINT) AS lp
      |    FROM st),
      |  dt AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |    FROM documents WHERE length(trim(text)) > 0),
      |  ds AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |      CAST(sum(coalesce(vocab.lp, oov.lp)) AS BIGINT) AS sum_lp
      |    FROM dt LEFT JOIN vocab USING (w) CROSS JOIN oov GROUP BY doc_id)
      |SELECT d.doc_id, CAST(coalesce(ds.n_tokens, 0) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(ds.sum_lp, 0) AS BIGINT) AS sum_lp_milli,
      |  CAST(CASE WHEN ds.n_tokens IS NULL THEN 0
      |    ELSE floor(CAST(ds.sum_lp AS DOUBLE) / ds.n_tokens + 0.5) END AS BIGINT) AS avg_lp_milli
      |FROM documents d LEFT JOIN ds USING (doc_id)""".stripMargin

  def cases: Seq[QueryCase] = Seq(
    QueryCase("text_stats", (s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        T.tokenCount(col("text")).as("n_tokens"),
        T.approxBpeTokenCount(col("text")).as("n_bpe"),
        T.punctPerMille(col("text")).as("punct_pm"),
        T.avgWordLenMilli(col("text")).as("awl_milli")),
      Oracle(
        """SELECT doc_id,
          |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
          |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END
          |    + length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS BIGINT) AS n_bpe,
          |  CAST(CASE WHEN length(text) = 0 THEN 0
          |    ELSE floor((length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) * 1000.0 / length(text) + 0.5) END AS BIGINT) AS punct_pm,
          |  CAST(floor(length(regexp_replace(trim(text), '\s+', '', 'g')) * 1000.0 /
          |    greatest(CASE WHEN length(trim(text)) = 0 THEN 0
          |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1) + 0.5) AS BIGINT) AS awl_milli
          |FROM documents""".stripMargin)),

    QueryCase("text_langid", (s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        T.langId(col("text")).as("lang_pred")),
      Oracle(
        """SELECT doc_id, CASE
          |  WHEN en = 0 AND de = 0 AND fr = 0 THEN 'und'
          |  WHEN en >= de AND en >= fr THEN 'en'
          |  WHEN de >= fr THEN 'de'
          |  ELSE 'fr' END AS lang_pred
          |FROM (SELECT doc_id,
          |  (CASE WHEN instr(' ' || lower(text) || ' ', ' the ') > 0 THEN 1 ELSE 0 END
          |   + CASE WHEN instr(' ' || lower(text) || ' ', ' and ') > 0 THEN 1 ELSE 0 END
          |   + CASE WHEN instr(' ' || lower(text) || ' ', ' of ') > 0 THEN 1 ELSE 0 END
          |   + CASE WHEN instr(' ' || lower(text) || ' ', ' a ') > 0 THEN 1 ELSE 0 END) AS en,
          |  (CASE WHEN instr(' ' || lower(text) || ' ', ' der ') > 0 THEN 1 ELSE 0 END
          |   + CASE WHEN instr(' ' || lower(text) || ' ', ' und ') > 0 THEN 1 ELSE 0 END
          |   + CASE WHEN instr(' ' || lower(text) || ' ', ' die ') > 0 THEN 1 ELSE 0 END
          |   + CASE WHEN instr(' ' || lower(text) || ' ', ' ein ') > 0 THEN 1 ELSE 0 END) AS de,
          |  (CASE WHEN instr(' ' || lower(text) || ' ', ' le ') > 0 THEN 1 ELSE 0 END
          |   + CASE WHEN instr(' ' || lower(text) || ' ', ' la ') > 0 THEN 1 ELSE 0 END
          |   + CASE WHEN instr(' ' || lower(text) || ' ', ' et ') > 0 THEN 1 ELSE 0 END
          |   + CASE WHEN instr(' ' || lower(text) || ' ', ' un ') > 0 THEN 1 ELSE 0 END) AS fr
          |FROM documents)""".stripMargin)),

    QueryCase("text_quality", (s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        T.qualityPerMille(col("text")).as("quality_pm")),
      Oracle(
        """SELECT doc_id, CAST(floor(
          |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
          |  * (1.0 - least(CAST(punct_pm AS DOUBLE) / 300.0, 1.0)) * 1000 + 0.5) AS BIGINT) AS quality_pm
          |FROM (SELECT doc_id,
          |  CASE WHEN length(trim(text)) = 0 THEN 0
          |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
          |  CASE WHEN length(text) = 0 THEN 0
          |    ELSE floor((length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) * 1000.0 / length(text) + 0.5) END AS punct_pm
          |FROM documents)""".stripMargin)),

    QueryCase("text_fingerprint", (s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        T.fingerprint(col("text")).as("fp")),
      Oracle(
        """SELECT doc_id, CASE WHEN len(s) = 0 THEN md5(text)
          |  ELSE list_aggregate(list_transform(s, x -> md5(x)), 'min') END AS fp
          |FROM (SELECT doc_id, text, CASE WHEN len(w) < 3 THEN []
          |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END AS s
          |  FROM (SELECT doc_id, text, CASE WHEN length(trim(text)) = 0 THEN []
          |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM documents))""".stripMargin)),

    // same scoring against the STORED model (the deployment shape: train
    // daily, score every batch): stamped-artifact read → broadcast join.
    // Oracle identical to text_lm_score — the model round-trips losslessly
    QueryCase("text_lm_persisted", (s, dir) =>
      graft.ext.Lm.scoreUnigram(Tables(s, dir).documents, "doc_id", "text",
        graft.ext.Lm.readModel(s, cachedLmModelDir(s, dir))),
      // the persisted-model variant scores against a lossless round-trip of
      // the same model — same oracle
      Oracle(lmScoreOracleSql),
      primer = Some((s, dir) => { cachedLmModelDir(s, dir); () })),

    // corpus vocabulary head: top-30 tokens by frequency with doc frequency
    QueryCase("text_top_tokens", (s, dir) =>
      graft.ext.Search.topTokens(Tables(s, dir).documents,
        "doc_id", "text", k = 30),
      // same whitespace tokenization as text_tfidf_topk; top-30 by tf is a
      // deterministic SET (ties broken by token), so order-insensitive compare
      // is safe. count(*)/count(DISTINCT) are BIGINT in DuckDB already, but
      // cast anyway per the HUGEINT rule.
      Oracle(
        """WITH toks AS (SELECT doc_id AS id,
          |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
          |  FROM documents WHERE length(trim(text)) > 0)
          |SELECT token, CAST(count(*) AS BIGINT) AS tf,
          |  CAST(count(DISTINCT id) AS BIGINT) AS df
          |FROM toks GROUP BY 1 ORDER BY tf DESC, token LIMIT 30""".stripMargin)),

    // corpus-relative rare-token ratio (integer-only "poor man's
    // perplexity"): per-mille of a doc's token occurrences that appear ≤ 2
    // times in the whole corpus
    QueryCase("text_rare_tokens", (s, dir) =>
      graft.ext.Search.rareTokenStats(Tables(s, dir).documents,
        "doc_id", "text", maxCount = 2L),
      Oracle(
        """WITH tok AS (SELECT doc_id AS id,
          |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
          |  FROM documents WHERE length(trim(text)) > 0),
          |  tf AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
          |  rc AS (SELECT t.id, CAST(count(*) AS BIGINT) AS rare
          |    FROM tok t JOIN tf ON t.w = tf.w WHERE tf.c <= 2 GROUP BY t.id),
          |  nt AS (SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
          |  FROM documents)
          |SELECT nt.doc_id, nt.n_tokens,
          |  CAST(coalesce(rc.rare, 0) AS BIGINT) AS rare_tokens,
          |  CAST(CASE WHEN nt.n_tokens = 0 THEN 0
          |    ELSE floor(coalesce(rc.rare, 0) * 1000.0 / nt.n_tokens + 0.5) END AS BIGINT) AS rare_pm
          |FROM nt LEFT JOIN rc ON nt.doc_id = rc.id""".stripMargin)),

    // TF-IDF keyword extraction: top-3 terms per document
    QueryCase("text_tfidf_topk", (s, dir) =>
      graft.ext.Search.tfidfTopTerms(Tables(s, dir).documents,
        "doc_id", "text", k = 3),
      Oracle(
        """WITH toks AS (SELECT doc_id AS id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
          |    FROM documents WHERE length(trim(text)) > 0),
          |  tf AS (SELECT id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
          |  dft AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
          |  n AS (SELECT count(*) AS n_docs FROM documents),
          |  s AS (SELECT id, w, round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS score
          |    FROM tf JOIN dft USING (w) CROSS JOIN n)
          |SELECT id AS doc_id, w AS term, score, CAST(rn AS BIGINT) AS rank FROM (
          |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY score DESC, w) AS rn FROM s)
          |WHERE rn <= 3""".stripMargin)),

    // real-subword token counts: BPE merges trained ON this corpus
    // (200 merges, stamped artifact), applied per DISTINCT word. Counts
    // are exact under the trained tokenizer — not DuckDB-expressible
    // (the merge loop), so rows-only with the value-tying gate below
    QueryCase("text_bpe_counts", (s, dir) =>
      graft.ext.Bpe.tokenCounts(Tables(s, dir).documents, "doc_id", "text",
        graft.ext.Bpe.readMerges(s, cachedBpeMergesDir(s, dir))),
      Gate("text_bpe_counts_gate"),
      primer = Some((s, dir) => { cachedBpeMergesDir(s, dir); () })),

    // the gate ties text_bpe_counts to DuckDB-computable ground truth:
    // row count and TOTAL WORD COUNT must match the documents table
    // exactly, and the two tokenizer invariants (≥1 token per word,
    // ≤ non-space characters per doc) must have zero violations
    QueryCase("text_bpe_counts_gate", (s, dir) => {
      val d = Tables(s, dir).documents
      val counts = graft.ext.Bpe.tokenCounts(d, "doc_id", "text",
        graft.ext.Bpe.readMerges(s, cachedBpeMergesDir(s, dir)))
      counts.join(d.select(col("doc_id"),
          length(regexp_replace(col("text"), "\\s", "")).cast("bigint")
            .as("__nsc")), "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("total_words"),
          sum(when(col("n_bpe_tokens") < col("n_words"), 1L).otherwise(0L))
            .as("viol_low"),
          sum(when(col("n_bpe_tokens") > col("__nsc"), 1L).otherwise(0L))
            .as("viol_high"))
    },
    // ground truth for the BPE gate: row count and exact total word count
    // from the documents table; the invariant violation counters must be
    // zero by the tokenizer's construction (≥1 token per word, tokens
    // concatenate back to the word so ≤ non-space chars)
    Oracle(
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END), 0) AS BIGINT) AS total_words,
        |  CAST(0 AS BIGINT) AS viol_low, CAST(0 AS BIGINT) AS viol_high
        |FROM documents""".stripMargin),
      primer = Some((s, dir) => { cachedBpeMergesDir(s, dir); () })),

    // external-tokenizer interop: a hand-built 20-merge fixture vocab in
    // the public merges.txt format (ranked pairs, #version header) loaded
    // through the REAL file parser, persisted+restamped, then applied by
    // the same tokenCounts path — gate shape identical to
    // text_bpe_counts_gate (row/word totals vs DuckDB, zero invariant
    // violations), proving rank order survives the text round trip
    QueryCase("text_bpe_external", (s, dir) => {
      val d = Tables(s, dir).documents
      val file = java.nio.file.Paths.get(tmpDir(dir, "bpe_external"), "merges.txt")
      java.nio.file.Files.createDirectories(file.getParent)
      // 20 ranked merges over common English letter pairs; 'in g' fuses a
      // PRODUCT of merge 5, so multi-level application is exercised
      java.nio.file.Files.write(file, ("#version: 0.2\n" +
        Seq("t h", "th e", "a n", "an d", "i n", "e r", "o n", "r e",
          "h e", "a t", "e s", "o u", "i s", "i t", "a l", "a r",
          "s t", "t o", "o f", "in g").mkString("\n") + "\n").getBytes("UTF-8"))
      val loaded = graft.ext.Bpe.loadMergesText(s, file.toString)
      val mdir = tmpDir(dir, "bpe_external_idx")
      graft.ext.Bpe.writeMerges(s, loaded, mdir)
      val counts = graft.ext.Bpe.tokenCounts(d, "doc_id", "text",
        graft.ext.Bpe.readMerges(s, mdir))
      counts.join(d.select(col("doc_id"),
          length(regexp_replace(col("text"), "\\s", "")).cast("bigint")
            .as("__nsc")), "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("total_words"),
          sum(when(col("n_bpe_tokens") < col("n_words"), 1L).otherwise(0L))
            .as("viol_low"),
          sum(when(col("n_bpe_tokens") > col("__nsc"), 1L).otherwise(0L))
            .as("viol_high"))
    },
    // external merges gate: same ground truth as text_bpe_counts_gate —
    // the merge table changes WHICH subwords words split into, never the
    // word totals or the two tokenizer invariants
    Oracle(
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END), 0) AS BIGINT) AS total_words,
        |  CAST(0 AS BIGINT) AS viol_low, CAST(0 AS BIGINT) AS viol_high
        |FROM documents""".stripMargin)),

    // CCNet-style unigram LM scoring: train an add-one-smoothed LM on the
    // English slice, score EVERY document by mean milli-nat token
    // log-probability. The model is bounded (≤ maxVocab+1 rows) and
    // broadcast; scoring is one corpus scan with integer sums, so the
    // result is partitioning-independent and hash-exact vs DuckDB
    QueryCase("text_lm_score", (s, dir) => {
      val d = Tables(s, dir).documents
      graft.ext.Lm.scoreUnigram(d, "doc_id", "text",
        graft.ext.Lm.unigramModel(d.filter(col("lang") === "en"), "text",
          maxVocab = 4096))
    },
    // mirrors Lm.unigramModel + Lm.scoreUnigram: per-token milli-nat
    // log-probs rounded ONCE in the ≤4096-row model table, per-doc integer
    // sums; the smoothed-probability expression is spelled identically in
    // both engines so every double op is the same IEEE op
    Oracle(lmScoreOracleSql)),

    // bigram LM with stupid backoff (Brants et al. EMNLP'07): one step
    // closer to CCNet's KenLM than the unigram proxy. maxBigrams = 512
    // BINDS on this fixture (907 distinct vocab-vocab bigrams), so the
    // deterministic (count desc, pair) cut is exercised, not just declared
    QueryCase("text_lm_bigram", (s, dir) => {
      val d = Tables(s, dir).documents
      graft.ext.Lm.scoreBigram(d, "doc_id", "text",
        graft.ext.Lm.bigramModel(d.filter(col("lang") === "en"), "text",
          maxVocab = 4096, maxBigrams = 512))
    },
    // the full bigram pipeline re-derived: unigram tier = lmScoreOracleSql's
    // model; bigram tier = vocab∩vocab adjacent-pair counts cut at 512
    // (count desc, pair — the cut BINDS here), unsmoothed conditionals;
    // scoring = bigram hit, else -916 (milli-ln 0.4) + unigram/OOV
    Oracle(bigramScoreOracleSql)),

    // the deployment shape for the bigram tier: score against the STORED
    // two-table model — oracle identical to text_lm_bigram (the round trip
    // is lossless by construction)
    QueryCase("text_lm_bigram_persisted", (s, dir) =>
      graft.ext.Lm.scoreBigram(Tables(s, dir).documents, "doc_id", "text",
        graft.ext.Lm.readBigramModel(s, cachedBigramModelDir(s, dir))),
      // persisted-model variant scores against a lossless round-trip of the
      // same two tables — same oracle
      Oracle(bigramScoreOracleSql),
      primer = Some((s, dir) => { cachedBigramModelDir(s, dir); () })),

    // per-source corpus dashboard: counts/tokens/languages exactly, plus an
    // HLL sketch (approx_count_distinct — mergeable, constant memory, the
    // 100 TB path for distinct counts) tolerance-gated at ±5% vs the exact
    // distinct, same oracle pattern as q5_approx_percentile
    QueryCase("corpus_stats", (s, dir) => {
      // fingerprint (minhash-over-shingles) is the expensive scalar here —
      // project it ONCE per row; the three distinct-aggregates then read a
      // 32-char column instead of re-deriving the shingle pipeline each
      val d = Tables(s, dir).documents.select(col("source"), col("lang"),
        T.tokenCount(col("text")).as("__ntok"), T.fingerprint(col("text")).as("__fp"))
      d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        (abs(approx_count_distinct(col("__fp"), 0.02) - countDistinct(col("__fp")))
          .cast("double") / countDistinct(col("__fp")) <= 0.05).as("hll_ok"))
    }, Oracle(
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS total_tokens,
        |  count(DISTINCT lang) AS n_langs, true AS hll_ok
        |FROM documents GROUP BY source""".stripMargin)),

    // dirt (markup, control chars, ragged whitespace) is injected on both
    // engines identically — the synthetic docs are already clean, so the
    // query would otherwise verify an identity map
    QueryCase("text_clean", (s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        T.cleanText(concat(lit("<b>Hi</b>\t "), col("text"),
          lit("  <br/> end\u0001"))).as("clean")),
      Oracle(
        """SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(
          |  '<b>Hi</b>' || chr(9) || ' ' || text || '  <br/> end' || chr(1),
          |  '<[^>]*>', ' ', 'g'), '[\x00-\x1f\x7f]', '', 'g'), '\s+', ' ', 'g')) AS clean
          |FROM documents""".stripMargin)),

    // PII (an email, an IP, a phone number keyed by doc_id) appended on both
    // engines, then masked; the raw text also passes through the same
    // regexes, so accidental in-corpus matches are mirrored too
    QueryCase("text_redact", (s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        T.redactPii(concat(col("text"), lit(" contact: user"), col("doc_id"),
          lit("@example.com or 10.0.0.1 or +1 (555) 010-"), col("doc_id")))
          .as("redacted")),
      Oracle(
        """SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
          |  text || ' contact: user' || CAST(doc_id AS VARCHAR)
          |    || '@example.com or 10.0.0.1 or +1 (555) 010-' || CAST(doc_id AS VARCHAR),
          |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |  '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
          |  '\+?[0-9][0-9()\[\] .-]{6,}[0-9]', '<PHONE>', 'g') AS redacted
          |FROM documents""".stripMargin)),

    // heuristic quality signals: repetition (dup n-gram), caps, digits
    QueryCase("text_signals", (s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        T.dupNgramPerMille(col("text"), 2).as("dup2_pm"),
        T.dupNgramPerMille(col("text"), 3).as("dup3_pm"),
        T.capsPerMille(col("text")).as("caps_pm"),
        T.digitPerMille(col("text")).as("digit_pm")),
      Oracle(
        """WITH tok AS (SELECT doc_id, text, CASE WHEN length(trim(text)) = 0 THEN []
          |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM documents),
          |  sh AS (SELECT doc_id, text,
          |    CASE WHEN len(w) < 2 THEN []
          |      ELSE list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' ')) END AS s2,
          |    CASE WHEN len(w) < 3 THEN []
          |      ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END AS s3
          |  FROM tok)
          |SELECT doc_id,
          |  CAST(CASE WHEN len(s2) = 0 THEN 0
          |    ELSE floor((len(s2) - len(list_distinct(s2))) * 1000.0 / len(s2) + 0.5) END AS BIGINT) AS dup2_pm,
          |  CAST(CASE WHEN len(s3) = 0 THEN 0
          |    ELSE floor((len(s3) - len(list_distinct(s3))) * 1000.0 / len(s3) + 0.5) END AS BIGINT) AS dup3_pm,
          |  CAST(CASE WHEN length(text) = 0 THEN 0
          |    ELSE floor((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) * 1000.0 / length(text) + 0.5) END AS BIGINT) AS caps_pm,
          |  CAST(CASE WHEN length(text) = 0 THEN 0
          |    ELSE floor((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1000.0 / length(text) + 0.5) END AS BIGINT) AS digit_pm
          |FROM sh""".stripMargin)),

    // Gopher repetition filters (Rae et al. arXiv:2112.11446 Table A1):
    // line-level duplicate fractions + the top-3-gram character fraction.
    // The fixture injects line structure (docs are single-line): even ids
    // carry their text twice as two lines plus a unique tail line, odd ids
    // once plus the tail — line signals fire on evens, stay 0 on odds.
    QueryCase("text_repetition", (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val mtext = when(col("doc_id") % 2 === 0,
        concat_ws("\n", col("text"), col("text"),
          concat(lit("END "), col("doc_id"))))
        .otherwise(concat_ws("\n", col("text"),
          concat(lit("END "), col("doc_id"))))
      d.select(col("doc_id"),
        T.dupLinePerMille(mtext).as("dup_line_pm"),
        T.dupLineCharPerMille(mtext).as("dup_line_char_pm"),
        T.topNgramCharPerMille(col("text"), 3).as("top3gram_pm"))
    }, Oracle(
      """WITH mt AS (SELECT doc_id, text,
        |    CASE WHEN doc_id % 2 = 0 THEN concat_ws(chr(10), text, text, 'END ' || doc_id)
        |         ELSE concat_ws(chr(10), text, 'END ' || doc_id) END AS mtext FROM documents),
        |  ln AS (SELECT doc_id, list_filter(list_transform(string_split(mtext, chr(10)),
        |    l -> trim(l)), l -> length(l) > 0) AS ls FROM mt),
        |  lstat AS (SELECT doc_id,
        |    CAST(CASE WHEN len(ls) = 0 THEN 0
        |      ELSE floor((len(ls) - len(list_distinct(ls))) * 1000.0 / len(ls) + 0.5) END AS BIGINT) AS dup_line_pm,
        |    CAST(CASE WHEN coalesce(list_sum(list_transform(ls, l -> length(l))), 0) = 0 THEN 0
        |      ELSE floor(coalesce(list_sum(list_transform(
        |          list_filter(ls, l -> len(list_filter(ls, l2 -> l2 = l)) >= 2),
        |          l -> length(l))), 0) * 1000.0
        |        / list_sum(list_transform(ls, l -> length(l))) + 0.5) END AS BIGINT) AS dup_line_char_pm
        |    FROM ln),
        |  tok AS (SELECT doc_id, text, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM documents),
        |  sh AS (SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS sng FROM tok),
        |  cnt AS (SELECT doc_id, sng, count(*) AS c FROM sh GROUP BY 1, 2),
        |  top AS (SELECT doc_id, sng, c FROM (SELECT doc_id, sng, c,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, sng ASC) AS rn FROM cnt)
        |    WHERE rn = 1)
        |SELECT l.doc_id, l.dup_line_pm, l.dup_line_char_pm,
        |  CAST(coalesce(floor(t.c * length(t.sng) * 1000.0 / nullif(length(d.text), 0) + 0.5), 0) AS BIGINT) AS top3gram_pm
        |FROM lstat l JOIN documents d ON l.doc_id = d.doc_id
        |LEFT JOIN top t ON l.doc_id = t.doc_id""".stripMargin)),

    // Unicode-script densities + dominant-script label: the fixture mixes
    // Cyrillic / CJK tails into the Latin corpus so every class fires
    QueryCase("text_script", (s, dir) => {
      val mtext = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" привет мир"))
          .when(col("doc_id") % 3 === 1, lit(" 你好 世界"))
          .otherwise(lit("")))
      Tables(s, dir).documents.select(col("doc_id"),
        T.latinPerMille(mtext).as("latin_pm"),
        T.cyrillicPerMille(mtext).as("cyrillic_pm"),
        T.cjkPerMille(mtext).as("cjk_pm"),
        T.dominantScript(mtext).as("script"))
    },
    // script densities re-derived with the same literal char classes; ties
    // and the und-fallback replicated
    Oracle(
      """WITH mt AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' привет мир'
        |         WHEN doc_id % 3 = 1 THEN ' 你好 世界'
        |         ELSE '' END AS t FROM documents),
        |  sig AS (SELECT doc_id,
        |    CAST(CASE WHEN length(t) = 0 THEN 0 ELSE floor((length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))) * 1000.0 / length(t) + 0.5) END AS BIGINT) AS latin_pm,
        |    CAST(CASE WHEN length(t) = 0 THEN 0 ELSE floor((length(t) - length(regexp_replace(t, '[Ѐ-ӿ]', '', 'g'))) * 1000.0 / length(t) + 0.5) END AS BIGINT) AS cyrillic_pm,
        |    CAST(CASE WHEN length(t) = 0 THEN 0 ELSE floor((length(t) - length(regexp_replace(t, '[一-鿿]', '', 'g'))) * 1000.0 / length(t) + 0.5) END AS BIGINT) AS cjk_pm
        |  FROM mt)
        |SELECT doc_id, latin_pm, cyrillic_pm, cjk_pm,
        |  CASE WHEN latin_pm = 0 AND cyrillic_pm = 0 AND cjk_pm = 0 THEN 'und'
        |       WHEN latin_pm >= cyrillic_pm AND latin_pm >= cjk_pm THEN 'latin'
        |       WHEN cyrillic_pm >= cjk_pm THEN 'cyrillic'
        |       ELSE 'cjk' END AS script
        |FROM sig""".stripMargin)),

    // Luhn-validated card masking: id%4=0 and %4=2 carry checksum-VALID
    // numbers (masked), %4=1 a checksum-broken lookalike (kept) — the
    // precision a pattern-only redactor cannot express
    QueryCase("text_redact_cc", (s, dir) => {
      val mtext = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" card 4111 1111 1111 1111 end"))
          .when(col("doc_id") % 4 === 1, lit(" ref 4111 1111 1111 1112 end"))
          .when(col("doc_id") % 4 === 2, lit(" acct 5500-0000-0000-0004 ok"))
          .otherwise(lit("")))
      Tables(s, dir).documents.select(col("doc_id"),
        T.redactCreditCards(mtext).as("redacted"))
    },
    // candidates from the same regex, Luhn re-derived per candidate, only
    // validated ones replaced (list_reduce folds replace over them)
    Oracle(
      """WITH mt AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' card 4111 1111 1111 1111 end'
        |         WHEN doc_id % 4 = 1 THEN ' ref 4111 1111 1111 1112 end'
        |         WHEN doc_id % 4 = 2 THEN ' acct 5500-0000-0000-0004 ok'
        |         ELSE '' END AS t FROM documents)
        |SELECT doc_id,
        |  list_reduce(list_prepend(t, list_filter(regexp_extract_all(t, '[0-9][0-9 -]{10,17}[0-9]'),
        |    c -> length(regexp_replace(c, '[^0-9]', '', 'g')) BETWEEN 13 AND 19
        |      AND CAST(list_sum(list_transform(range(1, length(regexp_replace(c, '[^0-9]', '', 'g')) + 1), i ->
        |        CASE WHEN (length(regexp_replace(c, '[^0-9]', '', 'g')) - i) % 2 = 1
        |          THEN CASE WHEN CAST(regexp_replace(c, '[^0-9]', '', 'g')[i] AS INT) * 2 > 9
        |               THEN CAST(regexp_replace(c, '[^0-9]', '', 'g')[i] AS INT) * 2 - 9
        |               ELSE CAST(regexp_replace(c, '[^0-9]', '', 'g')[i] AS INT) * 2 END
        |          ELSE CAST(regexp_replace(c, '[^0-9]', '', 'g')[i] AS INT) END)) AS BIGINT) % 10 = 0)),
        |    (a, b) -> replace(a, b, '<CC>')) AS redacted
        |FROM mt""".stripMargin)),

    // the composite Gopher quality rule (Rae et al. Table A1): all seven
    // sub-signals as integer per-milles plus the keep bit. The fixture
    // injects rule-triggering structure (docs are single-line, no bullets/
    // ellipses/symbols): id%3=0 adds a bullet line, id%4=0 an
    // ellipsis-ended line, id%5=0 a symbol-run line — so every rule fires
    // on some docs and not others
    QueryCase("text_gopher_quality", (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val mtext = concat_ws("\n",
        when(col("doc_id") % 3 === 0, lit("- bullet item"))
          .otherwise(concat(lit("intro "), col("doc_id"))),
        col("text"),
        when(col("doc_id") % 4 === 0, lit("wait for it..."))
          .otherwise(concat(lit("END "), col("doc_id"))),
        when(col("doc_id") % 5 === 0, lit("### ## #")).otherwise(lit("tail")))
      d.select(col("doc_id"),
        T.tokenCount(mtext).as("n_words"),
        T.avgWordLenMilli(mtext).as("mean_wlen_milli"),
        T.symbolWordRatioPerMille(mtext).as("symbol_pm"),
        T.bulletLinePerMille(mtext).as("bullet_line_pm"),
        T.ellipsisLinePerMille(mtext).as("ellipsis_line_pm"),
        T.alphaWordPerMille(mtext).as("alpha_word_pm"),
        T.stopwordHits(regexp_replace(mtext, "\\s+", " "), T.GopherStopwords)
          .cast("bigint").as("stop_hits"))
        // keep derived from the PROJECTED signals (gopherKeep would
        // re-evaluate every regex — 2× the scan work for the same bit).
        // minStopHits relaxed to 1 on the fixture (its SQL-word vocabulary
        // carries only 'the' from the Gopher list; the production default
        // of 2 would make keep constant-0 and gate nothing)
        .withColumn("keep",
          (col("n_words").between(50L, 100000L) &&
            col("mean_wlen_milli").between(3000L, 10000L) &&
            col("symbol_pm") <= 100L && col("bullet_line_pm") < 900L &&
            col("ellipsis_line_pm") < 300L && col("alpha_word_pm") >= 800L &&
            col("stop_hits") >= 1L).cast("bigint"))
    },
    // the seven Gopher sub-signals + keep, re-derived rule by rule; the
    // whitespace-normalized padded-instr stopword probe matches the Spark
    // side exactly (minStopHits=1 on this fixture — see the query comment)
    Oracle(
      """WITH mt AS (SELECT doc_id,
        |    concat_ws(chr(10),
        |      CASE WHEN doc_id % 3 = 0 THEN '- bullet item' ELSE 'intro ' || doc_id END,
        |      text,
        |      CASE WHEN doc_id % 4 = 0 THEN 'wait for it...' ELSE 'END ' || doc_id END,
        |      CASE WHEN doc_id % 5 = 0 THEN '### ## #' ELSE 'tail' END) AS mtext
        |  FROM documents),
        |  tok AS (SELECT doc_id, mtext,
        |    CASE WHEN length(trim(mtext)) = 0 THEN [] ELSE regexp_split_to_array(trim(mtext), '\s+') END AS w,
        |    list_filter(list_transform(string_split(mtext, chr(10)), l -> trim(l)), l -> length(l) > 0) AS ls,
        |    ' ' || lower(regexp_replace(mtext, '\s+', ' ', 'g')) || ' ' AS pad
        |  FROM mt),
        |  sig AS (SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(floor(length(regexp_replace(trim(mtext), '\s+', '', 'g')) * 1000.0 / greatest(len(w), 1) + 0.5) AS BIGINT) AS mean_wlen_milli,
        |    CAST(floor((
        |        (length(mtext) - length(replace(mtext, '#', '')))
        |        + (length(mtext) - length(regexp_replace(mtext, '\.{3}', '', 'g'))) / 3
        |        + (length(mtext) - length(replace(mtext, '…', '')))
        |      ) * 1000.0 / greatest(len(w), 1) + 0.5) AS BIGINT) AS symbol_pm,
        |    CAST(CASE WHEN len(ls) = 0 THEN 0 ELSE floor(len(list_filter(ls, l -> regexp_matches(l, '^[-*•]'))) * 1000.0 / len(ls) + 0.5) END AS BIGINT) AS bullet_line_pm,
        |    CAST(CASE WHEN len(ls) = 0 THEN 0 ELSE floor(len(list_filter(ls, l -> regexp_matches(l, '(\.{3}|…)$'))) * 1000.0 / len(ls) + 0.5) END AS BIGINT) AS ellipsis_line_pm,
        |    CAST(CASE WHEN len(w) = 0 THEN 0 ELSE floor(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) * 1000.0 / len(w) + 0.5) END AS BIGINT) AS alpha_word_pm,
        |    CAST((CASE WHEN instr(pad, ' the ') > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN instr(pad, ' be ') > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN instr(pad, ' to ') > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN instr(pad, ' of ') > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN instr(pad, ' and ') > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN instr(pad, ' that ') > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN instr(pad, ' have ') > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN instr(pad, ' with ') > 0 THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
        |  FROM tok)
        |SELECT doc_id, n_words, mean_wlen_milli, symbol_pm, bullet_line_pm,
        |  ellipsis_line_pm, alpha_word_pm, stop_hits,
        |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000 AND mean_wlen_milli BETWEEN 3000 AND 10000
        |    AND symbol_pm <= 100 AND bullet_line_pm < 900 AND ellipsis_line_pm < 300
        |    AND alpha_word_pm >= 800 AND stop_hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM sig""".stripMargin)),

    // C4 line-level cleaning (Raffel et al. 2020 §2.2): the fixture mixes
    // keepable lines (≥5 words, terminal punct) with boilerplate the rule
    // must strip — no-punct body text, enable-JS banners, short lines —
    // and the oracle replays the keep rule token-for-token
    QueryCase("text_c4_clean", (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val mtext = concat_ws("\n",
        concat(lit("Intro words for doc "), col("doc_id"), lit(" ok.")),
        col("text"),
        lit("Please enable javascript to view this page."),
        when(col("doc_id") % 3 === 0, lit("Too short line."))
          .otherwise(lit("This line has six words total.")),
        concat(lit("Tail marker words for doc "), col("doc_id"), lit("?")))
      d.select(col("doc_id"),
        size(split(mtext, "\n")).cast("bigint").as("n_lines"),
        size(split(T.c4CleanLines(mtext), "\n")).cast("bigint").as("n_kept"),
        T.c4CleanLines(mtext).as("clean_text"))
    },
    // the C4 line-keep rule replayed token-for-token: terminal punct,
    // ≥5 space-separated words, no 'javascript'
    Oracle(
      """WITH mt AS (SELECT doc_id, concat_ws(chr(10),
        |    'Intro words for doc ' || doc_id || ' ok.',
        |    text,
        |    'Please enable javascript to view this page.',
        |    CASE WHEN doc_id % 3 = 0 THEN 'Too short line.'
        |         ELSE 'This line has six words total.' END,
        |    'Tail marker words for doc ' || doc_id || '?') AS mtext
        |  FROM documents),
        |  ln AS (SELECT doc_id, string_split(mtext, chr(10)) AS ls FROM mt),
        |  kp AS (SELECT doc_id, ls, list_filter(ls, l ->
        |      (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
        |        OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
        |      AND len(list_filter(string_split(trim(l), ' '), w -> len(w) > 0)) >= 5
        |      AND NOT contains(lower(trim(l)), 'javascript')) AS ks
        |    FROM ln)
        |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(ks) AS BIGINT) AS n_kept,
        |  array_to_string(ks, chr(10)) AS clean_text
        |FROM kp""".stripMargin)),

    // HTML → visible text: the fixture wraps each doc in a full page
    // (head/title/style/script/comment/entities) and the extractor must
    // recover exactly title + heading + body text + decoded tail — the
    // oracle replicates the same construction AND extraction in DuckDB
    QueryCase("text_html_extract", (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val html = concat(
        lit("<html><head><title>T"), col("doc_id"),
        lit("</title><style>p { color: red; }</style>"),
        lit("<script>var x = 1 && s[0];</script></head>"),
        lit("<body><h1>Doc "), col("doc_id"), lit("</h1><p>"), col("text"),
        lit("</p><!-- hidden\ncomment --><div>tail &amp; &lt;q&gt; &quot;z&quot; &#39;y&#39;&nbsp;end</div></body></html>"))
      d.select(col("doc_id"), T.htmlToText(html).as("extracted"))
    },
    // same page construction, same extraction pipeline: script/style/comment
    // drop → tag strip → entity decode (&amp; last) → whitespace collapse
    Oracle(
      """WITH h AS (SELECT doc_id,
        |    '<html><head><title>T' || doc_id || '</title><style>p { color: red; }</style>' ||
        |    '<script>var x = 1 && s[0];</script></head><body><h1>Doc ' || doc_id || '</h1><p>' || text ||
        |    '</p><!-- hidden' || chr(10) || 'comment --><div>tail &amp; &lt;q&gt; &quot;z&quot; &#39;y&#39;&nbsp;end</div></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id, trim(regexp_replace(
        |  replace(replace(replace(replace(replace(replace(
        |    regexp_replace(regexp_replace(html, '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
        |      '(?s)<!--.*?-->|<[^>]*>', ' ', 'g'),
        |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |  '\s+', ' ', 'g')) AS extracted
        |FROM h""".stripMargin)))
}
