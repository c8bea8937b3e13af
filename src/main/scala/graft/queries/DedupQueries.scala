package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.{Bloom, Dedup, Spans}
import graft.SparkEntry.{cachedArtifact, tmpDir}

/** Dedup tier: exact, span, line and Bloom dedup, winnowing, MinHash and
  * SimHash near-dup, incremental classify against a persisted index, and
  * semantic (embedding) dedup.
  */
object DedupQueries {

  /** Near-dedup signature index over `documents` — the persisted corpus
    * `dedup_near_classify` classifies against.
    */
  private def cachedNearIndexDir(s: SparkSession, sfDir: String): String =
    cachedArtifact(sfDir, "near_index_cached") { idx =>
      val d = Tables(s, sfDir).documents.select("doc_id", "text")
      Dedup.buildNearIndex(d, "doc_id", "text", idx)
    }

  /** Fixture for the span-dedup pair `dedup_dup_spans`/`dedup_strip_spans`:
    * every third document gains a shared 8-token boilerplate suffix (a
    * cross-document duplicated SPAN inside otherwise-unique text — exactly
    * what whole-document dedup misses) and every seventh is duplicated
    * verbatim under a shifted id (whole-document spans).
    */
  private def spanFixture(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents.select("doc_id", "text")
    val planted = d.withColumn("text",
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" LICENSE HEADER COMMON TO MANY DOCUMENTS IN CORPUS")))
        .otherwise(col("text")))
    planted.unionByName(planted.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  /** Shared oracle CTE chain for `dedup_dup_spans` / `dedup_strip_spans`:
    * rebuilds the span fixture (boilerplate suffix on every third doc,
    * verbatim copy of every seventh), the positional 3-gram postings, the
    * corpus-wide occurrence filter (total occurrences, n >= 2), and the
    * run merge (windows <= 3 apart chain into one island) — the DuckDB
    * mirror of `Spans.duplicateSpans`.
    */
  private val spanOraclePrefix: String =
    """base AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
      |    THEN text || ' LICENSE HEADER COMMON TO MANY DOCUMENTS IN CORPUS'
      |    ELSE text END AS text FROM documents),
      |  corpus AS (SELECT doc_id, text FROM base
      |    UNION ALL SELECT doc_id + 1000000, text FROM base WHERE doc_id % 7 = 0),
      |  tok AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM corpus),
      |  pv0 AS (SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN []
      |    ELSE list_transform(range(1, len(w) - 1), i ->
      |      struct_pack(pos := i - 1, sng := array_to_string(w[i:i+2], ' '))) END) AS u FROM tok),
      |  pv AS (SELECT doc_id, u.pos AS pos, u.sng AS sng FROM pv0),
      |  hits AS (SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos, count(*) OVER (PARTITION BY sng) AS n FROM pv) WHERE n >= 2),
      |  runs AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM (
      |    SELECT doc_id, pos, CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
      |      OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 3 THEN 1 ELSE 0 END AS brk FROM hits))""".stripMargin

  /** Shared DuckDB CTE prefix for the SemDeDup oracles
    * (`dedup_semantic_pairs`, `dedup_semantic`): the copies fixture, the
    * k=16 hash-ordered anchors, the argmax-cosine cell assignment (ties →
    * lowest cell, matching the Spark side's greatest-struct on
    * (cos, -cell)), and the within-cell exact-cosine pairs. Parameters
    * (k, dim=64, +1000000 copies) must stay in sync with the query
    * entries. Yields CTEs `u`, `anch`, `sc`, `asg`, `pr`; consumers append
    * the threshold filter so pair keys and closure keys share one prefix.
    */
  private val semanticOraclePrefix: String = {
    def cos(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))" +
        s" / sqrt(list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)))" +
        s" * list_sum(list_transform(range(1, 65), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))"
    s"""u AS (SELECT vec_id AS id, embedding AS v FROM embeddings
       |    UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings),
       |  anch AS (SELECT CAST(rn - 1 AS INTEGER) AS cell, v FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn, v
       |    FROM u) WHERE rn <= 16),
       |  sc AS (SELECT u.id, u.v, a.cell, ${cos("u.v", "a.v")} AS cos
       |    FROM u CROSS JOIN anch a),
       |  asg AS (SELECT id, v, cell FROM (SELECT id, v, cell,
       |      row_number() OVER (PARTITION BY id ORDER BY cos DESC, cell ASC) AS rn
       |    FROM sc) WHERE rn = 1),
       |  pr AS (SELECT a.cell, a.id AS id_a, b.id AS id_b, ${cos("a.v", "b.v")} AS cos
       |    FROM asg a JOIN asg b ON a.cell = b.cell AND a.id < b.id)""".stripMargin
  }

  /** Full-pipeline oracle for `dedup_semantic_incremental`: DuckDB
    * re-derives the frozen corpus anchors (k=16, hash order), assigns BOTH
    * corpus and batch to cells by argmax cosine, closes the within-batch
    * within-cell pair graph recursively (dup_batch = non-min members), and
    * matches survivors against same-cell corpus vectors (dup_corpus).
    * Verdict precedence mirrors `Dedup.semanticDedupIncremental` exactly.
    */
  private val semanticIncrementalOracleSql: String = {
    def cos(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))" +
        s" / sqrt(list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)))" +
        s" * list_sum(list_transform(range(1, 65), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))"
    s"""WITH RECURSIVE corpus AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
       |  anch AS (SELECT CAST(rn - 1 AS INTEGER) AS cell, v FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn, v
       |    FROM corpus) WHERE rn <= 16),
       |  batch AS (
       |    SELECT vec_id + 1000000 AS id, embedding AS v FROM embeddings WHERE vec_id % 2 = 0
       |    UNION ALL SELECT vec_id + 2000000, list_transform(embedding, x -> -x)
       |      FROM embeddings WHERE vec_id % 2 = 1
       |    UNION ALL SELECT vec_id + 3000000, list_transform(embedding, x -> -x)
       |      FROM embeddings WHERE vec_id % 2 = 1),
       |  casg AS (SELECT id, v, cell FROM (SELECT c.id, c.v, a.cell,
       |      row_number() OVER (PARTITION BY c.id
       |        ORDER BY ${cos("c.v", "a.v")} DESC, a.cell ASC) AS rn
       |    FROM corpus c CROSS JOIN anch a) WHERE rn = 1),
       |  basg AS (SELECT id, v, cell FROM (SELECT b.id, b.v, a.cell,
       |      row_number() OVER (PARTITION BY b.id
       |        ORDER BY ${cos("b.v", "a.v")} DESC, a.cell ASC) AS rn
       |    FROM batch b CROSS JOIN anch a) WHERE rn = 1),
       |  bp AS (SELECT a.id AS id_a, b.id AS id_b FROM basg a
       |    JOIN basg b ON a.cell = b.cell AND a.id < b.id
       |    WHERE ${cos("a.v", "b.v")} >= 0.999),
       |  edges AS (SELECT id_a AS s, id_b AS d FROM bp
       |    UNION SELECT id_b, id_a FROM bp),
       |  walk AS (SELECT s AS id, s AS comp FROM edges
       |    UNION SELECT e.s, w.comp FROM edges e JOIN walk w ON e.d = w.id),
       |  comp AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
       |  xdup AS (SELECT DISTINCT b.id FROM basg b JOIN casg c ON b.cell = c.cell
       |    WHERE ${cos("b.v", "c.v")} >= 0.999)
       |SELECT b.id,
       |  CASE WHEN comp.comp IS NOT NULL AND comp.comp <> b.id THEN 'dup_batch'
       |       WHEN EXISTS (SELECT 1 FROM xdup x WHERE x.id = b.id) THEN 'dup_corpus'
       |       ELSE 'admitted' END AS verdict
       |FROM batch b LEFT JOIN comp ON b.id = comp.id""".stripMargin
  }

  /** Shared oracle for `dedup_near_incremental` AND `dedup_near_classify`
    * (identical pipeline output; the keys differ only in what their bench
    * timing covers — build+classify vs classify against a primed index).
    */
  private val nearIncrementalOracleSql: String =
    """WITH RECURSIVE corpus AS (SELECT doc_id AS id, text FROM documents),
      |  batch AS (
      |    SELECT doc_id + 1000000 AS id, text FROM documents WHERE doc_id % 2 = 0
      |    UNION ALL
      |    SELECT doc_id + 2000000 AS id,
      |      'qz'||CAST(doc_id AS VARCHAR)||'a qz'||CAST(doc_id AS VARCHAR)||'b qz'||
      |      CAST(doc_id AS VARCHAR)||'c qz'||CAST(doc_id AS VARCHAR)||'d qz'||
      |      CAST(doc_id AS VARCHAR)||'e' AS text
      |    FROM documents WHERE doc_id % 2 = 1
      |    UNION ALL
      |    SELECT doc_id + 3000000 AS id,
      |      'qz'||CAST(doc_id AS VARCHAR)||'a qz'||CAST(doc_id AS VARCHAR)||'b qz'||
      |      CAST(doc_id AS VARCHAR)||'c qz'||CAST(doc_id AS VARCHAR)||'d qz'||
      |      CAST(doc_id AS VARCHAR)||'e' AS text
      |    FROM documents WHERE doc_id % 2 = 1),
      |  btok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM batch),
      |  bsh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
      |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM btok),
      |  bsz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM bsh),
      |  binv AS (SELECT id, unnest(s) AS sng FROM bsh),
      |  ctok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM corpus),
      |  csh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
      |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM ctok),
      |  csz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM csh),
      |  cinv AS (SELECT id, unnest(s) AS sng FROM csh),
      |  bpr AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      |    FROM binv a JOIN binv b ON a.sng = b.sng AND a.id < b.id GROUP BY 1, 2),
      |  bp AS (SELECT bpr.id_a, bpr.id_b FROM bpr
      |    JOIN bsz sa ON bpr.id_a = sa.id JOIN bsz sb ON bpr.id_b = sb.id
      |    WHERE CAST(bpr.inter AS DOUBLE) / (sa.n + sb.n - bpr.inter) >= 0.5),
      |  edges AS (SELECT id_a AS s, id_b AS d FROM bp
      |    UNION SELECT id_b, id_a FROM bp),
      |  walk AS (SELECT s AS id, s AS comp FROM edges
      |    UNION SELECT e.s, w.comp FROM edges e JOIN walk w ON e.d = w.id),
      |  comp AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
      |  xpr AS (SELECT b.id AS bid, c.id AS cid, count(*) AS inter
      |    FROM binv b JOIN cinv c ON b.sng = c.sng GROUP BY 1, 2),
      |  xdup AS (SELECT DISTINCT xpr.bid FROM xpr
      |    JOIN bsz ON xpr.bid = bsz.id JOIN csz ON xpr.cid = csz.id
      |    WHERE CAST(xpr.inter AS DOUBLE) / (bsz.n + csz.n - xpr.inter) >= 0.5)
      |SELECT b.id,
      |  CASE WHEN comp.comp IS NOT NULL AND comp.comp <> b.id THEN 'dup_batch'
      |       WHEN EXISTS (SELECT 1 FROM xdup x WHERE x.bid = b.id) THEN 'dup_corpus'
      |       ELSE 'admitted' END AS verdict
      |FROM batch b LEFT JOIN comp ON b.id = comp.id""".stripMargin

  /** The incremental-ingest split: corpus = 80% of docs, batch = the rest
    * plus re-submitted copies of corpus content under new ids.
    */
  private def ingestSplit(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = Tables(s, dir).documents.select("doc_id", "text")
    val corpus = d.filter(col("doc_id") % 5 =!= 0)
    val batch = d.filter(col("doc_id") % 5 === 0)
      .unionByName(corpus.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    (corpus, batch)
  }

  /** The near-dup classify batch over `d` = (doc_id, text): even-doc
    * verbatim copies, fresh unique-token docs, and a second copy of each
    * fresh doc (see `nearIncrementalOracleSql`).
    */
  private def nearBatch(d: DataFrame): DataFrame = {
    val cid = col("doc_id").cast("string")
    val fresh = concat(lit("qz"), cid, lit("a qz"), cid, lit("b qz"), cid,
      lit("c qz"), cid, lit("d qz"), cid, lit("e"))
    d.filter(col("doc_id") % 2 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .unionByName(d.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"), fresh.as("text")))
      .unionByName(d.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 3000000L).as("doc_id"), fresh.as("text")))
  }

  def cases: Seq[QueryCase] = Seq(
    QueryCase("dedup_exact", (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val withCopies = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.exact(withCopies, Seq("text"), "doc_id")
    }, Oracle(
      """WITH u AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT doc_id, text FROM u
        |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1""".stripMargin)),

    QueryCase("dedup_ngram_jaccard", (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val withCopies = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.ngramJaccardPairs(withCopies, "doc_id", "text", shingleN = 3, minJaccard = 0.5)
    }, Oracle(
      """WITH u AS (SELECT doc_id AS id, text FROM documents
        |    UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |  tok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM u),
        |  sh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM tok),
        |  sz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM sh),
        |  inv AS (SELECT id, unnest(s) AS sng FROM sh),
        |  invc AS (SELECT id, sng FROM (
        |    SELECT id, sng, count(*) OVER (PARTITION BY sng) AS df FROM inv) WHERE df <= 1000),
        |  pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |    FROM invc a JOIN invc b ON a.sng = b.sng AND a.id < b.id GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, p.inter, sa.n AS n_a, sb.n AS n_b,
        |  CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) AS jaccard
        |FROM pairs p JOIN sz sa ON p.id_a = sa.id JOIN sz sb ON p.id_b = sb.id
        |WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.5""".stripMargin)),

    // span-level boilerplate signal: per-doc count/ratio of shingles that
    // appear in >= 2 documents corpus-wide (what pairwise dedup misses)
    QueryCase("dedup_span_stats", (s, dir) =>
      Dedup.spanStats(Tables(s, dir).documents.select("doc_id", "text"),
        "doc_id", "text", shingleN = 3, minDf = 2),
      Oracle(
        """WITH tok AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
          |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM documents),
          |  sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) < 3 THEN []
          |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM tok),
          |  inv AS (SELECT doc_id, unnest(s) AS sng FROM sh),
          |  cnt AS (SELECT doc_id, count(*) AS n_shingles,
          |    CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_shingles
          |    FROM (SELECT doc_id, sng, count(*) OVER (PARTITION BY sng) AS df FROM inv)
          |    GROUP BY doc_id)
          |SELECT d.doc_id,
          |  CAST(coalesce(c.n_shingles, 0) AS BIGINT) AS n_shingles,
          |  CAST(coalesce(c.dup_shingles, 0) AS BIGINT) AS dup_shingles,
          |  CAST(CASE WHEN coalesce(c.n_shingles, 0) = 0 THEN 0
          |    ELSE floor(c.dup_shingles * 1000.0 / c.n_shingles + 0.5) END AS BIGINT) AS dup_pm
          |FROM documents d LEFT JOIN cnt c ON d.doc_id = c.doc_id""".stripMargin)),

    // span-level exact substring dedup (Lee et al. arXiv:2107.06499 shape):
    // locate the exact token ranges that repeat corpus-wide. Fixture plants
    // an 8-token boilerplate suffix on every third doc (a cross-doc
    // duplicated SPAN in docs that are otherwise unique) plus verbatim
    // copies of every seventh (whole-doc spans)
    QueryCase("dedup_dup_spans", (s, dir) =>
      Spans.duplicateSpans(spanFixture(s, dir), "doc_id", "text",
        shingleN = 3, minCount = 2),
      Oracle(
        (s"WITH $spanOraclePrefix\n" +
          """SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
            |  CAST(max(pos) + 3 AS BIGINT) AS span_end
            |FROM runs GROUP BY doc_id, isl""".stripMargin))),

    // the removal half: cut every duplicated span, keep everything else
    QueryCase("dedup_strip_spans", (s, dir) =>
      Spans.removeDuplicateSpans(spanFixture(s, dir), "doc_id", "text",
        shingleN = 3, minCount = 2),
      Oracle(
        (s"WITH $spanOraclePrefix,\n" +
          """  spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 3 AS e
            |    FROM runs GROUP BY doc_id, isl),
            |  sl AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans
            |    FROM spans GROUP BY doc_id),
            |  cleaned AS (SELECT t.doc_id, t.w,
            |      list_filter(range(0, len(t.w)), i ->
            |        len(list_filter(coalesce(sl.spans, []), sp -> i >= sp.s AND i < sp.e)) = 0) AS kept
            |    FROM tok t LEFT JOIN sl ON t.doc_id = sl.doc_id)
            |SELECT doc_id,
            |  coalesce(array_to_string(list_transform(kept, i -> w[CAST(i + 1 AS INTEGER)]), ' '), '') AS clean_text,
            |  CAST(len(w) - len(kept) AS BIGINT) AS n_removed
            |FROM cleaned""".stripMargin))),

    // C4/RefinedWeb-style corpus-wide duplicate-LINE removal over the same
    // injected line structure as text_repetition (even ids carry their
    // text twice): self-repeats and cross-doc repeated lines both go
    QueryCase("dedup_strip_lines", (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val mtext = when(col("doc_id") % 2 === 0,
        concat_ws("\n", col("text"), col("text"),
          concat(lit("END "), col("doc_id"))))
        .otherwise(concat_ws("\n", col("text"),
          concat(lit("END "), col("doc_id"))))
      Spans.stripDuplicateLines(d.select(col("doc_id"), mtext.as("text")),
        "doc_id", "text", minCount = 2)
    }, Oracle(
      """WITH mt AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
        |    THEN concat_ws(chr(10), text, text, 'END ' || doc_id)
        |    ELSE concat_ws(chr(10), text, 'END ' || doc_id) END AS mtext FROM documents),
        |  ln AS (SELECT doc_id, list_filter(list_transform(string_split(mtext, chr(10)),
        |    l -> trim(l)), l -> length(l) > 0) AS ls FROM mt),
        |  pv AS (SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
        |    i -> struct_pack(no := i - 1, line := ls[i]))) AS u FROM ln),
        |  inv AS (SELECT doc_id, u.no AS no, u.line AS line FROM pv),
        |  dup AS (SELECT line FROM (SELECT line, count(*) AS n FROM inv GROUP BY 1) WHERE n >= 2),
        |  rm AS (SELECT doc_id, list(no) AS rmno FROM inv
        |    WHERE line IN (SELECT line FROM dup) GROUP BY doc_id),
        |  je AS (SELECT l.doc_id, l.ls, coalesce(r.rmno, []) AS rmno
        |    FROM ln l LEFT JOIN rm r ON l.doc_id = r.doc_id),
        |  ke AS (SELECT doc_id, ls, list_filter(range(0, len(ls)),
        |    i -> NOT list_contains(rmno, i)) AS kept FROM je)
        |SELECT doc_id,
        |  coalesce(array_to_string(list_transform(kept, i -> ls[CAST(i + 1 AS INTEGER)]), chr(10)), '') AS clean_text,
        |  CAST(len(ls) - len(kept) AS BIGINT) AS n_removed_lines FROM ke""".stripMargin)),

    // incremental ingest dedup: corpus = 80% of docs, batch = the rest plus
    // re-submitted copies of corpus content under new ids; only novel
    // content may come back (first-in-batch wins on in-batch dups)
    QueryCase("dedup_incremental", (s, dir) => {
      val (corpus, batch) = ingestSplit(s, dir)
      Dedup.incrementalExact(batch, corpus, Seq("text"), "doc_id")
        .select("doc_id")
    }, Oracle(
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        |  batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |    UNION ALL SELECT doc_id + 1000000, text FROM corpus WHERE doc_id % 7 = 0),
        |  b1 AS (SELECT doc_id, text FROM batch
        |    QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
        |SELECT doc_id FROM b1
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b1.text)""".stripMargin)),

    // Bloom-filter membership dedup (Dolma shape): corpus → one broadcast
    // bitmap, batch classified map-only — no batch shuffle, no corpus
    // rescan. Probes are md5-derived double hashing, so the oracle replays
    // the bitmap test as exact set-membership of probe positions
    QueryCase("dedup_bloom", (s, dir) => {
      val (corpus, batch) = ingestSplit(s, dir)
      val bits = Bloom.build(corpus, "text", k = 7, mBits = 1L << 20)
      Bloom.flagDuplicates(batch, "text", bits, k = 7, mBits = 1L << 20)
        .select(col("doc_id"), col("maybe_dup"))
    },
    // the Bloom bitmap replayed as set-membership: h1/h2 are the 12-hex-char
    // md5 prefix folds (exact in doubles: 16^12 < 2^53), h2 forced odd,
    // probe_i = (h1 + i*h2) mod 2^20; maybe_dup = all 7 probes present in
    // the corpus position set — EXACTLY the bitmap test, false positives
    // and all
    Oracle(
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        |  batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |    UNION ALL SELECT doc_id + 1000000, text FROM corpus WHERE doc_id % 7 = 0),
        |  chh AS (SELECT
        |      CAST(list_sum(list_transform(range(1, 13),
        |        k -> (instr('0123456789abcdef', substr(md5(coalesce(text, '') || ':graft:b1'), CAST(k AS INT), 1)) - 1)
        |             * (16.0 ** (12 - k)))) AS BIGINT) AS h1,
        |      CAST(list_sum(list_transform(range(1, 13),
        |        k -> (instr('0123456789abcdef', substr(md5(coalesce(text, '') || ':graft:b2'), CAST(k AS INT), 1)) - 1)
        |             * (16.0 ** (12 - k)))) AS BIGINT) | 1 AS h2
        |    FROM corpus),
        |  cp AS (SELECT DISTINCT (h1 + h2 * i) % 1048576 AS p
        |    FROM chh, unnest(range(0, 7)) t(i)),
        |  bhh AS (SELECT doc_id,
        |      CAST(list_sum(list_transform(range(1, 13),
        |        k -> (instr('0123456789abcdef', substr(md5(coalesce(text, '') || ':graft:b1'), CAST(k AS INT), 1)) - 1)
        |             * (16.0 ** (12 - k)))) AS BIGINT) AS h1,
        |      CAST(list_sum(list_transform(range(1, 13),
        |        k -> (instr('0123456789abcdef', substr(md5(coalesce(text, '') || ':graft:b2'), CAST(k AS INT), 1)) - 1)
        |             * (16.0 ** (12 - k)))) AS BIGINT) | 1 AS h2
        |    FROM batch),
        |  bp AS (SELECT doc_id, (h1 + h2 * i) % 1048576 AS p
        |    FROM bhh, unnest(range(0, 7)) t(i))
        |SELECT bp.doc_id, bool_and(cp.p IS NOT NULL) AS maybe_dup
        |FROM bp LEFT JOIN cp ON cp.p = bp.p
        |GROUP BY bp.doc_id""".stripMargin)),

    // winnowing candidates (SIGMOD'03) rescored with exact n-gram Jaccard —
    // the standard LSH recall/precision split: candidates bound the pair
    // space, the exact rescore restores precision, and the oracle checks the
    // whole pipeline against DuckDB's all-pairs exact Jaccard (equality
    // holds iff candidate recall is total, which it is on this corpus)
    QueryCase("dedup_winnow_pairs", (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val withCopies = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000L))
      val cands = Dedup.winnowPairs(withCopies, "doc_id", "text", minShared = 1)
      Dedup.rescoreJaccard(withCopies, cands, "doc_id", "text",
        shingleN = 3, minJaccard = 0.5)
    }, Oracle(
      """WITH u AS (SELECT doc_id AS id, text FROM documents
        |    UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |  tok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM u),
        |  sh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM tok),
        |  sz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM sh),
        |  inv AS (SELECT id, unnest(s) AS sng FROM sh),
        |  pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |    FROM inv a JOIN inv b ON a.sng = b.sng AND a.id < b.id GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b,
        |  CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) AS jaccard
        |FROM pairs p JOIN sz sa ON p.id_a = sa.id JOIN sz sb ON p.id_b = sb.id
        |WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.5""".stripMargin)),

    // MinHash-LSH candidates, same exact-Jaccard rescore + oracle. The
    // composed form shares ONE tokenize+shingle scan between the candidate
    // signatures and the exact rescore (r20, guide §1.2 — composing the two
    // public stages shingled the corpus twice); results are identical
    // (DedupSpec pins composed == two-stage, and the DuckDB all-pairs
    // oracle is unchanged)
    QueryCase("dedup_minhash_pairs", (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val withCopies = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.minhashDupPairs(withCopies, "doc_id", "text",
        shingleN = 3, minJaccard = 0.5)
    },
    // exact-Jaccard oracle for the LSH-candidate + rescore pipelines: equals
    // DuckDB's all-pairs exact Jaccard because candidate recall is total on
    // this corpus (every >=0.5 pair here has jaccard >= 0.9 — measured; the
    // S-curve places candidate probability ~1 there)
    Oracle(
      """WITH u AS (SELECT doc_id AS id, text FROM documents
        |    UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |  tok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM u),
        |  sh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM tok),
        |  sz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM sh),
        |  inv AS (SELECT id, unnest(s) AS sng FROM sh),
        |  pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |    FROM inv a JOIN inv b ON a.sng = b.sng AND a.id < b.id GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b,
        |  CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) AS jaccard
        |FROM pairs p JOIN sz sa ON p.id_a = sa.id JOIN sz sb ON p.id_b = sb.id
        |WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.5""".stripMargin)),

    // SimHash hamming-0 candidates verified as true exact duplicates (text
    // equality) — deterministic (banding always catches hamming-0, identical
    // text always hashes identically), so DuckDB's identical-text pair set
    // is an exact oracle. Near-dup simhash (maxHamming>0) is covered by
    // DedupSpec's bit-equivalence + banding tests.
    QueryCase("dedup_simhash_pairs", (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val withCopies = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000L))
      val cands = Dedup.simhashPairs(withCopies, "doc_id", "text", maxHamming = 0)
      Dedup.rescoreExact(withCopies, cands, "doc_id", Seq("text"))
    },
    // identical-text pairs (plain = excludes NULL text on both engines —
    // NULL simhash never enters a band bucket in Spark either)
    Oracle(
      """WITH u AS (SELECT doc_id AS id, text FROM documents
        |    UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT a.id AS id_a, b.id AS id_b
        |FROM u a JOIN u b ON a.text = b.text AND a.id < b.id""".stripMargin)),

    // pairs → duplicate clusters: min-label connected components over the
    // (oracle-equal) rescored MinHash pair graph; DuckDB verifies via a
    // recursive-CTE transitive closure of the same all-pairs graph
    // single shared shingle scan for candidates + rescore (composing the
    // two public stages would tokenize the corpus twice — Dedup
    // .nearDupComponents holds the one-scan plan)
    QueryCase("dedup_components", (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val withCopies = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.nearDupComponents(withCopies, "doc_id", "text", minJaccard = 0.5)
    }, Oracle(
      """WITH RECURSIVE u AS (SELECT doc_id AS id, text FROM documents
        |    UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |  tok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM u),
        |  sh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM tok),
        |  sz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM sh),
        |  inv AS (SELECT id, unnest(s) AS sng FROM sh),
        |  pr AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |    FROM inv a JOIN inv b ON a.sng = b.sng AND a.id < b.id GROUP BY 1, 2),
        |  p AS (SELECT pr.id_a, pr.id_b FROM pr
        |    JOIN sz sa ON pr.id_a = sa.id JOIN sz sb ON pr.id_b = sb.id
        |    WHERE CAST(pr.inter AS DOUBLE) / (sa.n + sb.n - pr.inter) >= 0.5),
        |  edges AS (SELECT id_a AS s, id_b AS d FROM p
        |    UNION SELECT id_b, id_a FROM p),
        |  walk AS (SELECT s AS id, s AS comp FROM edges
        |    UNION SELECT e.s, w.comp FROM edges e JOIN walk w ON e.d = w.id)
        |SELECT id, min(comp) AS comp FROM walk GROUP BY id""".stripMargin)),

    // the composite nearDedup pipeline END-TO-END (LSH candidates → exact
    // rescore → connected components → one representative per cluster):
    // its stages are oracle-green individually above; this key pins their
    // COMPOSITION against DuckDB all-pairs Jaccard + recursive-CTE closure
    // + min-id representative filter. Equality holds iff candidate recall
    // is total — the same measured corpus property the pair oracles pin.
    QueryCase("dedup_near_e2e", (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val withCopies = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.nearDedup(withCopies, "doc_id", "text", minJaccard = 0.5)
    }, Oracle(
      """WITH RECURSIVE u AS (SELECT doc_id AS id, text FROM documents
        |    UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |  tok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM u),
        |  sh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM tok),
        |  sz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM sh),
        |  inv AS (SELECT id, unnest(s) AS sng FROM sh),
        |  pr AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |    FROM inv a JOIN inv b ON a.sng = b.sng AND a.id < b.id GROUP BY 1, 2),
        |  p AS (SELECT pr.id_a, pr.id_b FROM pr
        |    JOIN sz sa ON pr.id_a = sa.id JOIN sz sb ON pr.id_b = sb.id
        |    WHERE CAST(pr.inter AS DOUBLE) / (sa.n + sb.n - pr.inter) >= 0.5),
        |  edges AS (SELECT id_a AS s, id_b AS d FROM p
        |    UNION SELECT id_b, id_a FROM p),
        |  walk AS (SELECT s AS id, s AS comp FROM edges
        |    UNION SELECT e.s, w.comp FROM edges e JOIN walk w ON e.d = w.id),
        |  dupes AS (SELECT id FROM walk GROUP BY id HAVING min(comp) <> id)
        |SELECT u.id AS doc_id, u.text FROM u
        |WHERE NOT EXISTS (SELECT 1 FROM dupes dd WHERE dd.id = u.id)""".stripMargin)),

    // daily-ingest near-dedup against a persisted signature index: corpus
    // indexed once (band postings + shingle hashes, no text), then a batch
    // of [even-doc verbatim copies | fresh unique-token docs | a second
    // copy of each fresh doc] classifies as dup_corpus / admitted /
    // dup_batch respectively — the corpus is never re-tokenized. Exact
    // Jaccard rescoring makes the verdicts oracle-checkable.
    QueryCase("dedup_near_incremental", (s, dir) => {
      val idx = tmpDir(dir, "near_index")
      val d = Tables(s, dir).documents.select("doc_id", "text")
      Dedup.buildNearIndex(d, "doc_id", "text", idx)
      Dedup.nearDedupIncremental(nearBatch(d), "doc_id", "text", idx, minJaccard = 0.5)
    },
    // same exact-Jaccard semantics as the Spark pipeline: within-batch
    // min-label components (dup_batch for non-min members), then corpus
    // match >= 0.5 (dup_corpus), else admitted
    Oracle(nearIncrementalOracleSql)),

    // classify-only sibling of dedup_near_incremental: the SAME batch
    // classified against a memoized PRE-BUILT index ([[cachedNearIndexDir]]
    // — Bench primes it outside the timing window via its primer), so the
    // bench line measures the per-batch classify alone — the operator's
    // actual daily cost — while dedup_near_incremental keeps timing the
    // pay-once build + classify together. Same output, same oracle.
    QueryCase("dedup_near_classify", (s, dir) => {
      val idx = cachedNearIndexDir(s, dir)
      val d = Tables(s, dir).documents.select("doc_id", "text")
      Dedup.nearDedupIncremental(nearBatch(d), "doc_id", "text", idx, minJaccard = 0.5)
    },
    // identical pipeline output, classify-only timing — same oracle
    Oracle(nearIncrementalOracleSql),
    primer = Some((s, dir) => { cachedNearIndexDir(s, dir); () })),

    // sign-LSH candidates + exact-cosine filter; scores rounded so the
    // all-pairs DuckDB cosine oracle hash-matches (identical vectors always
    // collide in every table → recall is total at this threshold)
    QueryCase("dedup_embedding_pairs", (s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      Dedup.embeddingDupPairs(withCopies, "vec_id", "embedding", dim = 64,
        threshold = 0.999)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
    }, Oracle(
      """WITH u AS (SELECT vec_id AS id, embedding AS v FROM embeddings
        |    UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings),
        |  c AS (SELECT a.id AS id_a, b.id AS id_b,
        |    list_sum(list_transform(range(1, 65), i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.v[i] AS DOUBLE) * CAST(a.v[i] AS DOUBLE)))
        |         * list_sum(list_transform(range(1, 65), i -> CAST(b.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)))) AS cos
        |  FROM u a JOIN u b ON a.id < b.id)
        |SELECT id_a, id_b, round(cos, 4) AS cos FROM c WHERE cos >= 0.999""".stripMargin)),

    // SemDeDup-shape clustered semantic dedup: hash-ordered deterministic
    // anchors partition the embedding space into k hard cells (zero-shuffle
    // argmax-cosine assignment), pairs compared within cells only. The
    // DuckDB oracle re-derives the same anchors, assignment, and pairs —
    // the whole pipeline is replicated, like ann_lsh_topk's
    QueryCase("dedup_semantic_pairs", (s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      Dedup.semanticDupPairs(withCopies, "vec_id", "embedding", k = 16,
        threshold = 0.999)
        .select(col("cell"), col("id_a"), col("id_b"),
          round(col("cos"), 4).as("cos"))
    },
    // full-pipeline SemDeDup oracle: DuckDB re-derives the hash-ordered
    // anchors, the argmax-cosine cell assignment, and the within-cell
    // pairs (see semanticOraclePrefix — parameters must stay in sync with
    // the dedup_semantic_pairs / dedup_semantic query entries)
    Oracle(
      (s"WITH $semanticOraclePrefix\n" +
        "SELECT cell, id_a, id_b, round(cos, 4) AS cos FROM pr WHERE cos >= 0.999"))),

    // daily-ingest semantic dedup against a persisted cell index: corpus
    // indexed once (frozen anchors + cell-assigned vectors), then a batch
    // of [even-id verbatim copies | negated odd-id vectors | a second copy
    // of each negation] classifies as dup_corpus / admitted / dup_batch.
    // Negation keeps every float bit-exact across engines, lands far from
    // the corpus at 0.999 cosine, and makes the +2M/+3M twins identical —
    // the embedding modality's analogue of dedup_near_incremental's
    // unique-token fresh docs. The oracle re-derives anchors, both
    // assignments, the within-batch closure, and the cross match.
    QueryCase("dedup_semantic_incremental", (s, dir) => {
      val idx = tmpDir(dir, "sem_index")
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      Dedup.buildSemanticIndex(e, "vec_id", "embedding", idx, k = 16, dim = 64)
      val neg = transform(col("embedding"), x => negate(x))
      val batch = e.filter(col("vec_id") % 2 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") % 2 === 1)
          .select((col("vec_id") + 2000000L).as("vec_id"), neg.as("embedding")))
        .unionByName(e.filter(col("vec_id") % 2 === 1)
          .select((col("vec_id") + 3000000L).as("vec_id"), neg.as("embedding")))
      Dedup.semanticDedupIncremental(batch, "vec_id", "embedding", idx,
        k = 16, dim = 64, threshold = 0.999)
    }, Oracle(semanticIncrementalOracleSql)),

    // the SemDeDup pipeline end-to-end (cells → within-cell pairs →
    // components → min-id representative): oracle = the same partition +
    // recursive-CTE closure + representative filter in DuckDB
    QueryCase("dedup_semantic", (s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      Dedup.semanticDedup(withCopies, "vec_id", "embedding", k = 16,
        threshold = 0.999)
        .select("vec_id")
    }, Oracle(
      (s"WITH RECURSIVE $semanticOraclePrefix,\n" +
        """  p AS (SELECT id_a, id_b FROM pr WHERE cos >= 0.999),
          |  edges AS (SELECT id_a AS s, id_b AS d FROM p
          |    UNION SELECT id_b, id_a FROM p),
          |  walk AS (SELECT s AS id, s AS comp FROM edges
          |    UNION SELECT e.s, w.comp FROM edges e JOIN walk w ON e.d = w.id),
          |  dupes AS (SELECT id FROM walk GROUP BY id HAVING min(comp) <> id)
          |SELECT u.id AS vec_id FROM u
          |WHERE NOT EXISTS (SELECT 1 FROM dupes dd WHERE dd.id = u.id)""".stripMargin))),

    // cross-corpus exact-overlap audit: the right corpus carries verbatim
    // copies of every doc_id%3=0 doc (shifted ids) plus modified decoys —
    // exactly the copy pairs must surface, at (id, hash) join cost
    QueryCase("dedup_cross_corpus", (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val right = d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" novel tail")).as("text")))
      Dedup.crossCorpusPairs(d, right, Seq("text"), "doc_id", "doc_id")
    },
    // a faithful CONTENT join, not just the planted identity pairs: the
    // sf0.1 fixture carries a handful of naturally-duplicated texts
    // (4992 distinct of 5000), and every cross-corpus content match must
    // surface — the identity-only form undercounted by those extras
    Oracle(
      """WITH rightc AS (
        |  SELECT doc_id + 1000000 AS rid, text AS rtext FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' novel tail' FROM documents WHERE doc_id % 3 = 1)
        |SELECT l.doc_id AS left_id, r.rid AS right_id
        |FROM documents l JOIN rightc r ON l.text = r.rtext""".stripMargin)))
}
