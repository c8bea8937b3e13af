package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.{Curation, Dedup}
import graft.functions.{TextFunctions => T}
import graft.SparkEntry.{duckBucket, tmpDir}

/** Corpus curation: deterministic md5-keyed sampling and splits (pure
  * scan-side predicates, reproducible across engines and partitionings; see
  * `Curation`), mixtures, token budgets, packing, decontamination, URL
  * curation and the pretrain pipeline.
  */
object CurateQueries {

  /** DuckDB rendering of [[graft.functions.TextFunctions.qualityPerMille]]
    * over `documents`: projects `doc_id`, any `extraCols`, and `quality_pm`.
    */
  private def duckQualityPm(extraCols: String*): String = {
    val extra = extraCols.map(c => s"$c, ").mkString
    s"""SELECT doc_id, ${extra}CAST(floor(
       |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
       |    * (1.0 - least(CAST(punct_pm AS DOUBLE) / 300.0, 1.0)) * 1000 + 0.5) AS BIGINT) AS quality_pm
       |  FROM (SELECT doc_id, $extra
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
       |    CASE WHEN length(text) = 0 THEN 0
       |      ELSE floor((length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))) * 1000.0 / length(text) + 0.5) END AS punct_pm
       |  FROM documents)""".stripMargin
  }

  /** The URL fixture: each page id k = doc_id/2 forks into two messy
    * variants (case-shuffled scheme/host, default port, trailing slash,
    * tracking params, fragment, param order) of one canonical URL.
    */
  private def messyUrls(s: SparkSession, dir: String): DataFrame = {
    val k = floor(col("doc_id") / 2).cast("long")
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
      lit("://Site"), (k % 7).cast("string"),
      when(col("doc_id") % 2 === 0, lit(".Example.COM:443"))
        .otherwise(lit(".example.com")),
      lit("/docs/"), k.cast("string"),
      when(col("doc_id") % 2 === 0, lit("/?utm_source=feed&b=2&a=1#frag"))
        .otherwise(lit("?a=1&b=2")))
    Tables(s, dir).documents.select(col("doc_id"), url.as("url"))
  }

  def cases: Seq[QueryCase] = Seq(
    // deterministic training-order shuffle: the permutation key is the
    // oracle (order-insensitive hash compare); the range-sort execution
    // contract is unit-tested in CurationSpec
    QueryCase("curate_shuffle", (s, dir) =>
      Curation.shuffleByHash(Tables(s, dir).documents, "doc_id", numPartitions = 8)
        .select("doc_id", "shuffle_key"),
      Oracle(
        """SELECT doc_id,
          |  md5(CAST(doc_id AS VARCHAR) || ':graft') AS shuffle_key
          |FROM documents""".stripMargin)),

    // per-source quality-percentile filter: keep each source's best half
    QueryCase("curate_quality_topk", (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"), col("source"),
        T.qualityPerMille(col("text")).as("quality_pm"))
      Curation.topQuantileByGroup(d, "source", "quality_pm", "doc_id", 0.5)
    }, Oracle(
      """SELECT doc_id, source, quality_pm FROM (
        |  SELECT doc_id, source, CAST(floor(
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
        |    * (1.0 - least(CAST(punct_pm AS DOUBLE) / 300.0, 1.0)) * 1000 + 0.5) AS BIGINT) AS quality_pm
        |  FROM (SELECT doc_id, source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    CASE WHEN length(text) = 0 THEN 0
        |      ELSE floor((length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) * 1000.0 / length(text) + 0.5) END AS punct_pm
        |  FROM documents))
        |QUALIFY percent_rank() OVER (PARTITION BY source
        |  ORDER BY quality_pm DESC, doc_id) <= 0.5""".stripMargin)),

    // CCNet perplexity buckets: head/middle/tail within each language by
    // the per-language quartiles of the LM score — exact `percentile`
    // AGGREGATE (map-side combinable), never an ntile window; the
    // |languages|-row threshold table broadcast-joins back
    QueryCase("curate_ppl_buckets", (s, dir) => {
      val d = Tables(s, dir).documents
      graft.ext.Lm.pplBuckets(d, "doc_id", "text", "lang",
        graft.ext.Lm.unigramModel(d.filter(col("lang") === "en"), "text",
          maxVocab = 4096))
    },
    // per-language quartile thresholds via quantile_cont — same R-7
    // interpolation as Spark's exact `percentile` aggregate
    Oracle(
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
        |  dt AS (SELECT doc_id, lang,
        |      unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |    FROM documents WHERE length(trim(text)) > 0),
        |  scored AS (SELECT doc_id, lang,
        |      CAST(floor(CAST(sum(coalesce(vocab.lp, oov.lp)) AS DOUBLE) / count(*)
        |        + 0.5) AS BIGINT) AS avg_lp_milli
        |    FROM dt LEFT JOIN vocab USING (w) CROSS JOIN oov GROUP BY doc_id, lang),
        |  thr AS (SELECT lang, quantile_cont(avg_lp_milli, 0.25) AS q_lo,
        |      quantile_cont(avg_lp_milli, 0.75) AS q_hi
        |    FROM scored GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.avg_lp_milli,
        |  CASE WHEN s.avg_lp_milli > t.q_hi THEN 'head'
        |       WHEN s.avg_lp_milli < t.q_lo THEN 'tail'
        |       ELSE 'middle' END AS bucket
        |FROM scored s JOIN thr t USING (lang)""".stripMargin)),

    // DSIR data selection: importance-weight every document toward the
    // src0 slice over 256 hashed unigram buckets (both count tables are
    // ≤256 rows → broadcast regardless of corpus size), keep the top 100
    // by integer milli-nat weight
    QueryCase("curate_dsir", (s, dir) =>
      graft.ext.Lm.dsirTopK(Tables(s, dir).documents, "doc_id", "text",
        col("source") === "src0", k = 100, buckets = 256),
      // mirrors Lm.dsirTopK: md5 token buckets (same fold as every curation
      // oracle), add-one smoothed milli-nat log-ratios per bucket, integer
      // per-doc sums, deterministic top-100 (ties by doc_id)
      Oracle(
        s"""WITH dt AS (SELECT doc_id, source,
           |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
           |  FROM documents WHERE length(trim(text)) > 0),
           |  tb AS (SELECT doc_id, source, ${duckBucket("w", 256, "graft")} AS b FROM dt),
           |  bc AS (SELECT b, CAST(count(*) AS BIGINT) AS cr,
           |      CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ct
           |    FROM tb GROUP BY 1),
           |  tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt FROM bc),
           |  lw AS (SELECT b, CAST(floor((ln((ct + 1.0) / (nt + 256))
           |      - ln((cr + 1.0) / (nr + 256))) * 1000 + 0.5) AS BIGINT) AS lw
           |    FROM bc CROSS JOIN tot),
           |  s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |      CAST(sum(lw) AS BIGINT) AS weight_milli
           |    FROM tb JOIN lw USING (b) GROUP BY 1)
           |SELECT doc_id, weight_milli, n_tokens FROM s
           |ORDER BY weight_milli DESC, doc_id LIMIT 100""".stripMargin)),

    // DSIR's actual sampler: Gumbel-top-k resampling ∝ importance weight,
    // noise derived from md5 of the id (never rand()) — deterministic,
    // cross-engine reproducible selection
    QueryCase("curate_dsir_sample", (s, dir) =>
      graft.ext.Lm.dsirSampleK(Tables(s, dir).documents, "doc_id", "text",
        col("source") === "src0", k = 100, buckets = 256),
      // mirrors Lm.dsirSampleK: same weight CTEs as curate_dsir, then the
      // Gumbel-max key (md5-uniform → −ln(−ln u)) rounded before ranking
      Oracle(
        s"""WITH dt AS (SELECT doc_id, source,
           |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
           |  FROM documents WHERE length(trim(text)) > 0),
           |  tb AS (SELECT doc_id, source, ${duckBucket("w", 256, "graft")} AS b FROM dt),
           |  bc AS (SELECT b, CAST(count(*) AS BIGINT) AS cr,
           |      CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ct
           |    FROM tb GROUP BY 1),
           |  tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt FROM bc),
           |  lw AS (SELECT b, CAST(floor((ln((ct + 1.0) / (nt + 256))
           |      - ln((cr + 1.0) / (nr + 256))) * 1000 + 0.5) AS BIGINT) AS lw
           |    FROM bc CROSS JOIN tot),
           |  s AS (SELECT doc_id, CAST(sum(lw) AS BIGINT) AS weight_milli
           |    FROM tb JOIN lw USING (b) GROUP BY 1)
           |SELECT doc_id, weight_milli,
           |  round(CAST(weight_milli AS DOUBLE) / 1000.0
           |    + (-ln(-ln((${duckBucket("CAST(doc_id AS VARCHAR)", 65536, "graft-gumbel")} + 0.5) / 65536.0))), 6) AS sample_key
           |FROM s ORDER BY sample_key DESC, doc_id LIMIT 100""".stripMargin)),

    // Naive-Bayes quality classifier (fastText-shaped): train on a 60%
    // hash split with "from a curated source" labels, score the held-out
    // docs with broadcast per-token log-odds + smoothed prior
    QueryCase("curate_nb_quality", (s, dir) =>
      graft.ext.Lm.nbTrainScore(Tables(s, dir).documents, "doc_id", "text",
        col("source").isin("src0", "src1", "src2", "src3", "src4"),
        trainPerMille = 600, maxVocab = 4096),
      // mirrors Lm.nbTrainScore: 60% md5 hash split, total-count-capped
      // vocabulary, per-token milli-nat log-odds + smoothed doc-count prior
      Oracle(
        s"""WITH lab AS (SELECT doc_id, text,
           |    source IN ('src0','src1','src2','src3','src4') AS lab,
           |    ${duckBucket("CAST(doc_id AS VARCHAR)", 1000, "graft")} AS hb
           |  FROM documents),
           |  tt AS (SELECT lab, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
           |    FROM lab WHERE hb < 600 AND length(trim(text)) > 0),
           |  counts AS (SELECT w,
           |      CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS cp,
           |      CAST(sum(CASE WHEN lab THEN 0 ELSE 1 END) AS BIGINT) AS cn
           |    FROM tt GROUP BY 1),
           |  kept AS (SELECT w, cp, cn FROM counts ORDER BY (cp + cn) DESC, w LIMIT 4096),
           |  st AS (SELECT (SELECT CAST(coalesce(sum(cp), 0) AS BIGINT) FROM counts) AS np,
           |                (SELECT CAST(coalesce(sum(cn), 0) AS BIGINT) FROM counts) AS nn,
           |                (SELECT CAST(count(*) AS BIGINT) FROM kept) AS v,
           |                (SELECT CAST(coalesce(sum(CASE WHEN lab THEN 1 ELSE 0 END), 0) AS BIGINT)
           |                   FROM lab WHERE hb < 600) AS dp,
           |                (SELECT CAST(coalesce(sum(CASE WHEN lab THEN 0 ELSE 1 END), 0) AS BIGINT)
           |                   FROM lab WHERE hb < 600) AS dn),
           |  llr AS (SELECT w, CAST(floor((ln((cp + 1.0) / (np + v))
           |      - ln((cn + 1.0) / (nn + v))) * 1000 + 0.5) AS BIGINT) AS llr
           |    FROM kept CROSS JOIN st),
           |  pr AS (SELECT CAST(floor((ln(dp + 1.0) - ln(dn + 1.0)) * 1000 + 0.5) AS BIGINT) AS prior
           |    FROM st),
           |  ht AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
           |    FROM lab WHERE hb >= 600 AND length(trim(text)) > 0),
           |  hs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |      CAST(sum(coalesce(llr.llr, 0)) AS BIGINT) AS s
           |    FROM ht LEFT JOIN llr USING (w) GROUP BY 1)
           |SELECT l.doc_id, l.lab AS label,
           |  CAST(coalesce(hs.n_tokens, 0) AS BIGINT) AS n_tokens,
           |  CAST(pr.prior + coalesce(hs.s, 0) AS BIGINT) AS score_milli,
           |  (pr.prior + coalesce(hs.s, 0)) > 0 AS predicted
           |FROM lab l LEFT JOIN hs USING (doc_id) CROSS JOIN pr
           |WHERE l.hb >= 600""".stripMargin)),

    // per-source hard cap: each source contributes at most its 50 best docs
    // by quality score — the per-domain cap of a pretraining mix
    QueryCase("curate_source_caps", (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"), col("source"),
        T.qualityPerMille(col("text")).as("quality_pm"))
      Curation.capPerStratum(d, "source", "quality_pm", "doc_id", cap = 50)
    }, Oracle(
      s"""SELECT doc_id, source, quality_pm FROM (${duckQualityPm("source")})
         |QUALIFY row_number() OVER (PARTITION BY source
         |  ORDER BY quality_pm DESC, doc_id) <= 50""".stripMargin)),

    // quality-weighted Bernoulli sample: keep probability = quality/1000
    // per row (continuous per-row weights, vs mixture's per-stratum rates)
    QueryCase("curate_weighted_sample", (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"),
        T.qualityPerMille(col("text")).as("quality_pm"))
      Curation.sampleByWeight(d, "doc_id", col("quality_pm"), salt = "wsamp")
    }, Oracle(
      s"""SELECT doc_id, quality_pm FROM (${duckQualityPm()})
         |WHERE ${duckBucket("CAST(doc_id AS VARCHAR)", 1000, "wsamp")} < quality_pm""".stripMargin)),

    // context-window chunking: 64-token chunks, 16-token overlap
    QueryCase("curate_chunk", (s, dir) =>
      Curation.chunkByTokens(Tables(s, dir).documents, "doc_id", "text",
        chunkTokens = 64, overlapTokens = 16),
      Oracle(
        """WITH tok AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
          |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM documents)
          |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
          |  array_to_string(w[(i*48+1):(i*48+64)], ' ') AS chunk
          |FROM tok, unnest(range(0, CAST(ceil(len(w) / 48.0) AS BIGINT))) AS t(i)""".stripMargin)),

    // the full C4 page gate over already-cleaned text: ≥3 sentences, no
    // lorem ipsum, no curly brace, no bad-word token — fixture plants
    // each violation on a residue class, survivors keep their clean text
    QueryCase("curate_c4_filter", (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val mtext = concat_ws("\n",
        concat(lit("Intro words for doc "), col("doc_id"), lit(" ok.")),
        when(col("doc_id") % 5 === 0,
          lit("Lorem ipsum dolor sit amet consectetur."))
          .otherwise(lit("This page has real content sentences.")),
        when(col("doc_id") % 7 === 0,
          lit("Config block { display none } here."))
          .otherwise(lit("Another safe line of plain words.")),
        when(col("doc_id") % 11 === 0,
          lit("Buy cheap viagra pills online now."))
          .otherwise(lit("Closing words for this page end.")),
        col("text"))
      val cleaned = T.c4CleanLines(mtext)
      d.select(col("doc_id"), cleaned.as("clean_text"),
          T.sentenceCount(cleaned).as("n_sentences"))
        .filter(T.c4Keep(col("clean_text")))
    },
    // the full C4 page gate: clean lines first, then ≥3 sentences, no
    // lorem ipsum, no brace, no bad-word token — each violation planted
    // on its own residue class
    Oracle(
      """WITH mt AS (SELECT doc_id, concat_ws(chr(10),
        |    'Intro words for doc ' || doc_id || ' ok.',
        |    CASE WHEN doc_id % 5 = 0 THEN 'Lorem ipsum dolor sit amet consectetur.'
        |         ELSE 'This page has real content sentences.' END,
        |    CASE WHEN doc_id % 7 = 0 THEN 'Config block { display none } here.'
        |         ELSE 'Another safe line of plain words.' END,
        |    CASE WHEN doc_id % 11 = 0 THEN 'Buy cheap viagra pills online now.'
        |         ELSE 'Closing words for this page end.' END,
        |    text) AS mtext FROM documents),
        |  cl AS (SELECT doc_id, array_to_string(list_filter(
        |      string_split(mtext, chr(10)), l ->
        |      (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
        |        OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
        |      AND len(list_filter(string_split(trim(l), ' '), w -> len(w) > 0)) >= 5
        |      AND NOT contains(lower(trim(l)), 'javascript')), chr(10)) AS clean_text
        |    FROM mt),
        |  sen AS (SELECT doc_id, clean_text,
        |      len(list_filter(list_transform(
        |        string_split(regexp_replace(clean_text, '([.!?]+)\s+', '\1' || chr(1), 'g'), chr(1)),
        |        x -> trim(x)), x -> length(x) > 0)) AS ns
        |    FROM cl),
        |  tk AS (SELECT doc_id, clean_text, ns,
        |      list_filter(string_split_regex(lower(clean_text), '[ \n]'),
        |        t -> len(t) > 0) AS toks
        |    FROM sen)
        |SELECT doc_id, clean_text, CAST(ns AS BIGINT) AS n_sentences
        |FROM tk
        |WHERE ns >= 3 AND NOT contains(lower(clean_text), 'lorem ipsum')
        |  AND NOT contains(clean_text, '{')
        |  AND NOT list_contains(toks, 'viagra')
        |  AND NOT list_contains(toks, 'casino')
        |  AND NOT list_contains(toks, 'xxx')""".stripMargin)),

    // sentence-aware chunking: the fixture injects a period after every
    // 8th word, so 20-token chunks pack two sentences and never split one;
    // the oracle re-derives the greedy fold with a recursive CTE
    QueryCase("curate_chunk_sentences", (s, dir) => {
      val mtext = regexp_replace(col("text"), "((\\S+ ){7}\\S+) ", "$1. ")
      Curation.chunkBySentences(
        Tables(s, dir).documents.select(col("doc_id"), mtext.as("text")),
        "doc_id", "text", maxTokens = 20)
    },
    // the greedy sentence-pack fold replayed as a recursive CTE: walk the
    // per-doc sentence token counts, open a new chunk when the budget
    // would overflow, then string_agg each chunk's sentences in order
    Oracle(
      """WITH RECURSIVE mt AS (SELECT doc_id, regexp_replace(text, '((\S+ ){7}\S+) ', '\1. ', 'g') AS mtext FROM documents),
        |  sen AS (SELECT doc_id, list_filter(list_transform(
        |      string_split(regexp_replace(mtext, '([.!?]+)\s+', '\1' || chr(1), 'g'), chr(1)),
        |      x -> trim(x)), x -> length(x) > 0) AS ss FROM mt),
        |  tok AS (SELECT doc_id, ss, list_transform(ss, x ->
        |      CASE WHEN length(trim(x)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(x), '\s+')) END) AS tc
        |    FROM sen WHERE len(ss) > 0),
        |  w(doc_id, i, chunk_no, cur) AS (
        |    SELECT doc_id, 1, 0, tc[1] FROM tok
        |    UNION ALL
        |    SELECT w.doc_id, w.i + 1,
        |      CASE WHEN w.cur + tok.tc[w.i + 1] > 20 THEN w.chunk_no + 1 ELSE w.chunk_no END,
        |      CASE WHEN w.cur + tok.tc[w.i + 1] > 20 THEN tok.tc[w.i + 1] ELSE w.cur + tok.tc[w.i + 1] END
        |    FROM w JOIN tok ON w.doc_id = tok.doc_id WHERE w.i < len(tok.ss))
        |SELECT t.doc_id, CAST(w.chunk_no AS BIGINT) AS chunk_idx,
        |  string_agg(t.ss[w.i], ' ' ORDER BY w.i) AS chunk
        |FROM w JOIN tok t ON w.doc_id = t.doc_id
        |GROUP BY t.doc_id, w.chunk_no""".stripMargin)),

    // URL canonicalization (the C4/RefinedWeb pre-content-dedup stage):
    // the fixture forks each page id k = doc_id/2 into two messy variants
    // (case-shuffled scheme/host, default port, trailing slash, tracking
    // params, fragment, param order) that must normalize identically
    QueryCase("curate_url_normalize", (s, dir) => {
      messyUrls(s, dir).select(col("doc_id"),
          graft.ext.Urls.normalizeUrl(col("url")).as("url_norm"),
          graft.ext.Urls.urlHost(col("url")).as("host"),
          graft.ext.Urls.urlDomain(col("url")).as("domain"))
    },
    // the full canonicalization replicated: lowercased scheme/host, default
    // port stripped, trailing slash dropped, tracking params filtered, the
    // rest sorted, fragment gone
    Oracle(
      """WITH u AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END || '://Site' ||
        |    CAST(CAST(floor(doc_id / 2.0) AS BIGINT) % 7 AS VARCHAR) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '.Example.COM:443' ELSE '.example.com' END ||
        |    '/docs/' || CAST(CAST(floor(doc_id / 2.0) AS BIGINT) AS VARCHAR) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '/?utm_source=feed&b=2&a=1#frag' ELSE '?a=1&b=2' END AS url
        |  FROM documents),
        |  parts AS (SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://[^/?#]*([^?#]*)', 2) AS rawpath,
        |    regexp_extract(url, '\?([^#]*)', 1) AS rawq
        |  FROM u),
        |  np AS (SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         ELSE hostport END AS host,
        |    CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
        |         ELSE regexp_replace(rawpath, '/+$', '') END AS path,
        |    array_to_string(list_sort(list_filter(string_split(rawq, '&'),
        |      p -> length(p) > 0 AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') AS qs
        |  FROM parts)
        |SELECT doc_id,
        |  scheme || '://' || host || path || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS url_norm,
        |  host,
        |  regexp_extract(regexp_replace(host, ':[0-9]+$', ''), '([^.:]+\.[^.:]+)$', 1) AS domain
        |FROM np""".stripMargin)),

    // URL-level dedup: both variants of page k collapse to one canonical
    // URL; keep the smallest doc_id (the even variant)
    QueryCase("curate_url_dedup", (s, dir) => {
      graft.ext.Urls.dedupByUrl(messyUrls(s, dir), "doc_id", "url")
        .select("doc_id", "url_norm")
    },
    // per canonical URL keep the smallest doc_id — min-per-group is the
    // exact semantics of the windowed keep
    Oracle(
      """WITH u AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END || '://Site' ||
        |    CAST(CAST(floor(doc_id / 2.0) AS BIGINT) % 7 AS VARCHAR) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '.Example.COM:443' ELSE '.example.com' END ||
        |    '/docs/' || CAST(CAST(floor(doc_id / 2.0) AS BIGINT) AS VARCHAR) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '/?utm_source=feed&b=2&a=1#frag' ELSE '?a=1&b=2' END AS url
        |  FROM documents),
        |  parts AS (SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://[^/?#]*([^?#]*)', 2) AS rawpath,
        |    regexp_extract(url, '\?([^#]*)', 1) AS rawq
        |  FROM u),
        |  np AS (SELECT doc_id,
        |    scheme || '://' ||
        |    (CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |          WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |          ELSE hostport END) ||
        |    (CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
        |          ELSE regexp_replace(rawpath, '/+$', '') END) ||
        |    (CASE WHEN array_to_string(list_sort(list_filter(string_split(rawq, '&'),
        |        p -> length(p) > 0 AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') = '' THEN ''
        |      ELSE '?' || array_to_string(list_sort(list_filter(string_split(rawq, '&'),
        |        p -> length(p) > 0 AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') END) AS url_norm
        |  FROM parts)
        |SELECT min(doc_id) AS doc_id, url_norm FROM np GROUP BY url_norm""".stripMargin)),

    QueryCase("curate_sample_hash", (s, dir) =>
      Curation.sampleByHash(Tables(s, dir).documents, "doc_id",
        keepPerMille = 200, salt = "s1").select("doc_id", "lang"),
      Oracle(
        s"""SELECT doc_id, lang FROM documents
           |WHERE ${duckBucket("CAST(doc_id AS VARCHAR)", 1000, "s1")} < 200""".stripMargin)),

    QueryCase("curate_split_hash", (s, dir) =>
      Curation.splitByHash(Tables(s, dir).documents, "doc_id")
        .select("doc_id", "split"),
      Oracle(
        s"""SELECT doc_id, CASE WHEN b < 800 THEN 'train'
           |  WHEN b < 900 THEN 'val' ELSE 'test' END AS split
           |FROM (SELECT doc_id,
           |  ${duckBucket("CAST(doc_id AS VARCHAR)", 1000, "graft")} AS b
           |  FROM documents)""".stripMargin)),

    // domain-mixture sampling: per-source keep rates (upsample src0,
    // drop src1, 30% everything else) as one scan-side predicate
    QueryCase("curate_mixture", (s, dir) =>
      Curation.mixtureByHash(Tables(s, dir).documents, "doc_id", "source",
        Map("src0" -> 1000, "src1" -> 0), defaultPerMille = 300)
        .select("doc_id", "source"),
      Oracle(
        s"""SELECT doc_id, source FROM (SELECT doc_id, source,
           |  ${duckBucket("CAST(doc_id AS VARCHAR)", 1000, "graft")} AS b
           |  FROM documents)
           |WHERE b < CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 0
           |  ELSE 300 END""".stripMargin)),

    QueryCase("curate_stratified_n", (s, dir) =>
      Curation.stratifiedFixedN(Tables(s, dir).documents, "doc_id", "lang", n = 10)
        .select("doc_id", "lang"),
      Oracle(
        s"""SELECT doc_id, lang FROM (SELECT doc_id, lang,
           |  ${duckBucket("CAST(doc_id AS VARCHAR)", 65536, "graft")} AS b
           |  FROM documents)
           |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY b, doc_id) <= 10""".stripMargin)),

    // per-stratum TOKEN budgets (the unit real data mixes are specified
    // in): fill each language in deterministic hash order until its
    // character budget is exhausted
    QueryCase("curate_token_budget", (s, dir) =>
      Curation.sampleToTokenBudget(
        Tables(s, dir).documents.select("doc_id", "lang", "n_chars"),
        "doc_id", "lang", "n_chars",
        budgets = Map("en" -> 60000L), defaultBudget = 25000L, salt = "tb"),
      // the cum column stays internal (window sum over BIGINT would surface
      // as HUGEINT otherwise); comparison against the CASE budget is typeless
      Oracle(
        s"""SELECT doc_id, lang, n_chars FROM (SELECT doc_id, lang, n_chars,
           |  sum(CAST(n_chars AS BIGINT)) OVER (PARTITION BY lang
           |    ORDER BY ${duckBucket("CAST(doc_id AS VARCHAR)", 65536, "tb")}, doc_id
           |    ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM documents)
           |WHERE cum <= CASE WHEN lang = 'en' THEN 60000 ELSE 25000 END""".stripMargin)),

    // same cut with the unique-key precondition ENFORCED — doc ids are
    // unique, so the result (and oracle) is identical; the key's purpose
    // is measuring what the extra fail-fast aggregate costs (the number
    // behind Curation's off-by-default rationale, tracked in SCALING.md)
    QueryCase("curate_token_budget_checked", (s, dir) =>
      Curation.sampleToTokenBudget(
        Tables(s, dir).documents.select("doc_id", "lang", "n_chars"),
        "doc_id", "lang", "n_chars",
        budgets = Map("en" -> 60000L), defaultBudget = 25000L, salt = "tb",
        checkUniqueKeys = true),
      // identical cut — the enforced precondition must not change the result
      Oracle(
        s"""SELECT doc_id, lang, n_chars FROM (SELECT doc_id, lang, n_chars,
           |  sum(CAST(n_chars AS BIGINT)) OVER (PARTITION BY lang
           |    ORDER BY ${duckBucket("CAST(doc_id AS VARCHAR)", 65536, "tb")}, doc_id
           |    ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM documents)
           |WHERE cum <= CASE WHEN lang = 'en' THEN 60000 ELSE 25000 END""".stripMargin)),

    // the mixture-planning report: what each stratum holds, before setting
    // rates/budgets — one partial-agg'd groupBy, integer-exact
    QueryCase("curate_token_stats", (s, dir) =>
      Curation.tokenStats(
        Tables(s, dir).documents
          .select(col("lang"), T.tokenCount(col("text")).as("n_tok")),
        "lang", "n_tok"),
      Oracle(
        """SELECT lang, count(*) AS n_docs,
          |  CAST(sum(nt) AS BIGINT) AS n_tokens,
          |  CAST(sum(nt) AS BIGINT) // count(*) AS mean_tokens
          |FROM (SELECT lang,
          |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS nt
          |  FROM documents)
          |GROUP BY lang""".stripMargin)),

    // the materialized form of packing: one row per (shard, bin) with the
    // member texts concatenated in deterministic bin order
    QueryCase("curate_pack_examples", (s, dir) => {
      val d = Tables(s, dir).documents
        .select(col("doc_id"), col("text"), T.tokenCount(col("text")).as("n_tok"))
      Curation.packExamples(d, "doc_id", "text", "n_tok",
        maxTokensPerBin = 512, shards = 8)
        .select(col("shard").cast("bigint").as("shard"), col("bin"),
          col("n_docs"), col("n_tokens"), col("text"))
    }, Oracle(
      s"""WITH d AS (SELECT doc_id, text,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tok,
         |    ${duckBucket("CAST(doc_id AS VARCHAR)", 8, "graft")} AS shard
         |  FROM documents),
         |  c AS (SELECT doc_id, text, n_tok, shard,
         |    CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS cum FROM d)
         |SELECT shard, cum // 512 AS bin, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  string_agg(text, ' ' ORDER BY cum % 512, doc_id) AS text
         |FROM c GROUP BY 1, 2""".stripMargin)),

    // greedy sequence packing into 512-token bins across 8 hash shards
    QueryCase("curate_pack_greedy", (s, dir) => {
      val d = Tables(s, dir).documents
        .select(col("doc_id"), T.tokenCount(col("text")).as("n_tok"))
      Curation.packSequences(d, "doc_id", "n_tok", maxTokensPerBin = 512, shards = 8)
        .select(col("doc_id"), col("n_tok"), col("shard").cast("bigint").as("shard"),
          col("bin"), col("bin_offset"))
    }, Oracle(
      s"""WITH d AS (SELECT doc_id,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tok,
         |    ${duckBucket("CAST(doc_id AS VARCHAR)", 8, "graft")} AS shard
         |  FROM documents),
         |  c AS (SELECT doc_id, n_tok, shard,
         |    CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS cum FROM d)
         |SELECT doc_id, n_tok, shard, cum // 512 AS bin, cum % 512 AS bin_offset
         |FROM c""".stripMargin)),

    // eval-set decontamination: docs with doc_id % 10 == 0 play the eval
    // set; surviving train doc_ids must match DuckDB's shingle-overlap join
    QueryCase("curate_decontaminate", (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val train = d.filter(col("doc_id") % 10 =!= 0)
      val heldOut = d.filter(col("doc_id") % 10 === 0)
      Curation.decontaminate(train, heldOut, "doc_id", "text", shingleN = 3)
        .select("doc_id")
    }, Oracle(
      """WITH tr AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 <> 0),
        |  ev AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 = 0),
        |  trtok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM tr),
        |  trsh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM trtok),
        |  trinv AS (SELECT id, unnest(s) AS sng FROM trsh),
        |  evtok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM ev),
        |  evsh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM evtok),
        |  evsng AS (SELECT DISTINCT unnest(s) AS sng FROM evsh),
        |  capped AS (SELECT id, sng FROM (
        |    SELECT id, sng, count(*) OVER (PARTITION BY sng) AS df FROM trinv)
        |    WHERE df <= 10000),
        |  bad AS (SELECT DISTINCT c.id FROM capped c JOIN evsng e ON c.sng = e.sng)
        |SELECT t.id AS doc_id FROM tr t WHERE t.id NOT IN (SELECT id FROM bad)""".stripMargin)),

    // the decon AUDIT: which eval doc leaked into which train doc and how
    // strongly — same fixture as curate_decontaminate, pair-level output
    QueryCase("curate_contamination", (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val train = d.filter(col("doc_id") % 10 =!= 0)
      val heldOut = d.filter(col("doc_id") % 10 === 0)
      Curation.contaminationReport(train, heldOut, "doc_id", "text", shingleN = 3)
    }, Oracle(
      """WITH tr AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 <> 0),
        |  ev AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 = 0),
        |  trtok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM tr),
        |  trsh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM trtok),
        |  trinv AS (SELECT id, unnest(s) AS sng FROM trsh),
        |  evtok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM ev),
        |  evsh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM evtok),
        |  evinv AS (SELECT id, unnest(s) AS sng FROM evsh),
        |  trcap AS (SELECT id, sng FROM (
        |    SELECT id, sng, count(*) OVER (PARTITION BY sng) AS df FROM trinv)
        |    WHERE df <= 10000),
        |  evcap AS (SELECT id, sng FROM (
        |    SELECT id, sng, count(*) OVER (PARTITION BY sng) AS df FROM evinv)
        |    WHERE df <= 10000)
        |SELECT t.id AS train_id, e.id AS eval_id, count(*) AS shared_shingles
        |FROM trcap t JOIN evcap e ON t.sng = e.sng
        |GROUP BY 1, 2""".stripMargin)),

    // persisted decontamination index (daily-ingest shape): benchmarks are
    // shingled ONCE into a stamped hash index — half at build, half via a
    // later append — then a training batch (non-eval docs + planted copies
    // of eval content under shifted ids) classifies against the stored
    // hashes alone, broadcast over the batch postings. Planted leaks must
    // drop; everything else survives. Oracle re-derives both sides.
    QueryCase("curate_decontam_indexed", (s, dir) => {
      val idx = tmpDir(dir, "decontam_index")
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val ev = d.filter(col("doc_id") % 10 === 0)
      Curation.buildDecontamIndex(ev.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", idx, shingleN = 3)
      Curation.appendDecontamIndex(ev.filter(col("doc_id") % 20 =!= 0),
        "doc_id", "text", idx, shingleN = 3)
      val batch = d.filter(col("doc_id") % 10 =!= 0)
        .unionByName(ev.select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      Curation.decontaminateIncremental(batch, "doc_id", "text", idx, shingleN = 3)
        .select("doc_id")
    }, Oracle(
      """WITH ev AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 = 0),
        |  tr AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 <> 0
        |    UNION ALL SELECT id + 2000000, text FROM ev),
        |  trtok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM tr),
        |  trsh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM trtok),
        |  trinv AS (SELECT id, unnest(s) AS sng FROM trsh),
        |  evtok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM ev),
        |  evsh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM evtok),
        |  evsng AS (SELECT DISTINCT unnest(s) AS sng FROM evsh),
        |  capped AS (SELECT id, sng FROM (
        |    SELECT id, sng, count(*) OVER (PARTITION BY sng) AS df FROM trinv)
        |    WHERE df <= 10000),
        |  bad AS (SELECT DISTINCT c.id FROM capped c JOIN evsng e ON c.sng = e.sng)
        |SELECT t.id AS doc_id FROM tr t WHERE t.id NOT IN (SELECT id FROM bad)""".stripMargin)),

    // deterministic 2.5× upsampling: every doc twice + half the keys a
    // third time (the >1× side of mixture weighting)
    QueryCase("curate_upsample", (s, dir) =>
      Curation.upsampleByHash(Tables(s, dir).documents, "doc_id",
        ratePerMille = 2500).select("doc_id", "copy_idx"),
      Oracle(
        s"""SELECT doc_id, CAST(k AS INT) AS copy_idx
           |FROM (SELECT doc_id, 2 + CASE WHEN
           |    ${duckBucket("CAST(doc_id AS VARCHAR)", 1000, "graft")} < 500
           |    THEN 1 ELSE 0 END AS copies FROM documents),
           |  unnest(range(1, copies + 1)) AS t(k)""".stripMargin)),

    // deterministic negative sampling for contrastive pairs: 8 negatives
    // per query over the dense vec_id space
    QueryCase("curate_negatives", (s, dir) =>
      Curation.negativeSampleDense(
        Tables(s, dir).embeddings.filter(col("vec_id") <= 5).select("vec_id"),
        "vec_id", maxId = 500, n = 8),
      // lambda var renamed j: the outer k (negative index) must stay visible
      // inside the md5-fold
      Oracle(
        """SELECT vec_id, neg_id FROM (
          |  SELECT vec_id, (CAST(list_sum(list_transform(range(1, 5),
          |    j -> (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR) || ':graft:' || CAST(k AS VARCHAR)), CAST(j AS INT), 1)) - 1)
          |         * (16.0 ** (4 - j)))) AS BIGINT) % 500) + 1 AS neg_id
          |  FROM embeddings, unnest(range(1, 9)) AS t(k)
          |  WHERE vec_id <= 5)
          |WHERE neg_id <> vec_id""".stripMargin)),

    // the composite pretrain-cleaning pipeline: language filter → quality
    // gate → exact dedup → deterministic split (each stage is individually
    // oracle-verified above; this checks their composition end-to-end)
    QueryCase("curate_pretrain_pipeline", (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"),
        T.langId(col("text")).as("lang_pred"),
        T.qualityPerMille(col("text")).as("quality_pm"),
        T.tokenCount(col("text")).as("n_tokens"))
        .filter(col("lang_pred") === "en" && col("quality_pm") >= 200 &&
          col("n_tokens") >= 5)
      val dd = Dedup.exact(d, Seq("text"), "doc_id")
      Curation.splitByHash(dd, "doc_id").select("doc_id", "n_tokens", "split")
    }, Oracle(
      s"""WITH f AS (SELECT doc_id, text,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         |    CASE WHEN length(text) = 0 THEN 0
         |      ELSE floor((length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))) * 1000.0 / length(text) + 0.5) END AS punct_pm,
         |    (CASE WHEN instr(' ' || lower(text) || ' ', ' the ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' and ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' of ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' a ') > 0 THEN 1 ELSE 0 END) AS en,
         |    (CASE WHEN instr(' ' || lower(text) || ' ', ' der ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' und ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' die ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' ein ') > 0 THEN 1 ELSE 0 END) AS de,
         |    (CASE WHEN instr(' ' || lower(text) || ' ', ' le ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' la ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' et ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' un ') > 0 THEN 1 ELSE 0 END) AS fr
         |  FROM documents),
         |  q AS (SELECT doc_id, text, CAST(n_tokens AS BIGINT) AS n_tokens,
         |    CAST(floor(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         |      * (1.0 - least(CAST(punct_pm AS DOUBLE) / 300.0, 1.0)) * 1000 + 0.5) AS BIGINT) AS quality_pm,
         |    CASE WHEN en = 0 AND de = 0 AND fr = 0 THEN 'und'
         |      WHEN en >= de AND en >= fr THEN 'en'
         |      WHEN de >= fr THEN 'de' ELSE 'fr' END AS lang_pred
         |  FROM f),
         |  filt AS (SELECT doc_id, text, n_tokens FROM q
         |    WHERE lang_pred = 'en' AND quality_pm >= 200 AND n_tokens >= 5),
         |  dd AS (SELECT doc_id, n_tokens FROM filt
         |    QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
         |SELECT doc_id, n_tokens, CASE WHEN b < 800 THEN 'train'
         |  WHEN b < 900 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, n_tokens,
         |  ${duckBucket("CAST(doc_id AS VARCHAR)", 1000, "graft")} AS b FROM dd)""".stripMargin)))
}
