package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.Similarity
import graft.SparkEntry.{cachedArtifact, tmpDir}

/** BM25 search: the scan form, the persisted index, index append, batch
  * queries and hybrid RRF.
  */
object SearchQueries {

  /** BM25 inverted index over `documents` — the fixture
    * `search_bm25_indexed` queries against.
    */
  private def cachedSearchIndexDir(s: SparkSession, sfDir: String): String =
    cachedArtifact(sfDir, "search_index_cached") { idx =>
      val d = Tables(s, sfDir).documents.select("doc_id", "text")
      graft.ext.SearchIndex.build(d, "doc_id", "text", idx, nBuckets = 64)
    }

  /** BM25 over the whole `documents` corpus for terms (hash, join, vector),
    * top 20 — one oracle shared by the scan form (`search_bm25`), the
    * persisted-index form (`search_bm25_indexed`), and the build+append
    * form (`search_bm25_index_append`): all three must produce identical
    * corpus-wide scores, so index bucketing / dl denormalization / stats
    * segmenting cannot drift without breaking the hash.
    */
  private val bm25OracleSql: String =
    """WITH dl AS (SELECT doc_id AS id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS dl
      |  FROM documents),
      |  c AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |  tf AS (SELECT id, w, count(*) AS tf FROM (
      |    SELECT doc_id AS id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |    FROM documents WHERE length(trim(text)) > 0)
      |    WHERE w IN ('hash', 'join', 'vector') GROUP BY 1, 2),
      |  dft AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      |  ctr AS (SELECT tf.id, tf.w,
      |    ln((c.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
      |      * (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / c.avgdl)) AS cb
      |  FROM tf JOIN dft USING (w) JOIN dl ON tf.id = dl.id CROSS JOIN c),
      |  pt AS (SELECT id,
      |    sum(CASE WHEN w = 'hash' THEN cb END) AS c1,
      |    sum(CASE WHEN w = 'join' THEN cb END) AS c2,
      |    sum(CASE WHEN w = 'vector' THEN cb END) AS c3
      |  FROM ctr GROUP BY id)
      |SELECT id AS doc_id,
      |  round(coalesce(c1, 0) + coalesce(c2, 0) + coalesce(c3, 0), 4) AS score
      |FROM pt ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Shared CTE block for the batch-BM25 oracles: the (query, term) frame,
    * corpus stats, term frequencies, and the MICRO-UNIT integer per-term
    * contributions summed per (query, doc) — replicating
    * [[graft.ext.SearchIndex.bm25TopKIndexedMany]]'s quantized aggregation
    * exactly (integer sums are immune to float addition order, so the
    * whole batch path is hash-exact cross-engine).
    */
  private val bm25BatchCtesSql: String =
    """qt(query_id, w) AS (
      |    VALUES (1, 'hash'), (1, 'join'), (2, 'vector'), (2, 'scan'),
      |           (3, 'stream'), (3, 'window'), (3, 'dup')),
      |  dl AS (SELECT doc_id AS id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS dl
      |    FROM documents),
      |  c AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |  tf AS (SELECT id, w, count(*) AS tf FROM (
      |      SELECT doc_id AS id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |      FROM documents WHERE length(trim(text)) > 0)
      |    WHERE w IN (SELECT w FROM qt) GROUP BY 1, 2),
      |  dft AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      |  ctr AS (SELECT qt.query_id, tf.id,
      |      CAST(round(ln((c.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
      |        * (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / c.avgdl))
      |        * 1000000) AS BIGINT) AS cu
      |    FROM tf JOIN dft USING (w) JOIN qt USING (w) JOIN dl ON tf.id = dl.id CROSS JOIN c),
      |  scg AS (SELECT query_id, id, CAST(sum(cu) AS BIGINT) AS score_u FROM ctr GROUP BY 1, 2)""".stripMargin

  /** The batch-search query frame: the (query, term) pairs of
    * `bm25BatchCtesSql`.
    */
  private def batchQueries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, Seq("hash", "join")),
      (2L, Seq("vector", "scan")),
      (3L, Seq("stream", "window", "dup"))).toDF("query_id", "terms")
  }

  def cases: Seq[QueryCase] = Seq(
    // BM25 relevance search (Lucene-style +1 idf), fixed-order score
    // assembly → bit-deterministic, full DuckDB oracle
    QueryCase("search_bm25", (s, dir) =>
      graft.ext.Search.bm25TopK(Tables(s, dir).documents, "doc_id", "text",
        Seq("hash", "join", "vector"), k = 20),
      Oracle(bm25OracleSql)),

    // same query answered from the PERSISTED inverted index (tokenize once
    // at build, per-query work ∝ hit set: bkt-pruned postings scan, pushed
    // term filter, stats from O(segments) rows). Primed: the bench clock
    // times the indexed query, not the pay-once build. Same oracle as
    // search_bm25 — index and scan must agree score for score.
    QueryCase("search_bm25_indexed", (s, dir) =>
      graft.ext.SearchIndex.bm25TopKIndexed(s, cachedSearchIndexDir(s, dir),
        Seq("hash", "join", "vector"), k = 20, idColName = "doc_id"),
      // the indexed and append-path forms must match the SAME corpus-wide
      // scores the scan form produces — one oracle, three code paths
      Oracle(bm25OracleSql),
      primer = Some((s, dir) => { cachedSearchIndexDir(s, dir); () })),

    // daily-append ingest equivalence, full-oracled: build the index on
    // half the corpus, append the other half, query — the oracle scores
    // the WHOLE corpus, so any append-path drift (stats segmenting,
    // postings bucketing, dl denormalization) breaks the hash
    QueryCase("search_bm25_index_append", (s, dir) => {
      val out = tmpDir(dir, "search_index_append")
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val d = Tables(s, dir).documents.select("doc_id", "text")
      graft.ext.SearchIndex.build(d.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", out, nBuckets = 64)
      graft.ext.SearchIndex.append(d.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", out)
      graft.ext.SearchIndex.bm25TopKIndexed(s, out,
        Seq("hash", "join", "vector"), k = 20, idColName = "doc_id")
    }, Oracle(bm25OracleSql)),

    // batch BM25 from the persisted index: one bkt-pruned postings scan
    // serves a frame of queries with per-query term sets; contributions
    // sum as micro-unit BIGINTs, so the per-(query, doc) aggregate is
    // integer math and the DuckDB oracle replicates it exactly
    QueryCase("search_bm25_batch", (s, dir) => {
      val queries = batchQueries(s)
      graft.ext.SearchIndex.bm25TopKIndexedMany(s, cachedSearchIndexDir(s, dir),
        queries, "query_id", "terms", k = 10, idColName = "doc_id")
    }, Oracle(
      s"""WITH $bm25BatchCtesSql,
         |  lexrk AS (SELECT query_id, id, score_u,
         |      row_number() OVER (PARTITION BY query_id ORDER BY score_u DESC, id) AS rnk FROM scg)
         |SELECT CAST(query_id AS BIGINT) AS query_id, id AS doc_id,
         |  round(score_u / 1000000.0, 4) AS score, CAST(rnk AS BIGINT) AS rank
         |FROM lexrk WHERE rnk <= 10""".stripMargin),
      primer = Some((s, dir) => { cachedSearchIndexDir(s, dir); () })),

    // hybrid retrieval: RRF-fuse the lexical (batch BM25 from the index)
    // and semantic (int8 batch cosine) rankings per query — rank-only
    // fusion, fixed-order float assembly, full DuckDB oracle replicating
    // quantization, both rankings, and the fusion arithmetic
    QueryCase("search_hybrid_rrf", (s, dir) => {
      val e = Tables(s, dir).embeddings
      val path = tmpDir(dir, "int8_codes_hybrid")
      Similarity.writeCodes(e, "vec_id", "embedding", path)
      val codes = s.read.parquet(path)
      val semW = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("iscore"), col("corpus_id"))
      val sem = Similarity.int8TopKMany(codes, "vec_id",
          codes.filter(col("vec_id").between(1L, 3L)), "vec_id", k = 20)
        .withColumn("rank", row_number().over(semW).cast("bigint"))
        .select(col("query_id"), col("corpus_id").as("doc_id"), col("rank"))
      val queries = batchQueries(s)
      val lex = graft.ext.SearchIndex.bm25TopKIndexedMany(s,
        cachedSearchIndexDir(s, dir), queries, "query_id", "terms",
        k = 20, idColName = "doc_id")
      graft.ext.Search.rrfFuse(Seq(lex, sem), "query_id", "doc_id",
        kRrf = 60, topK = 10)
    },
    // hybrid RRF: the lexical CTEs above + the int8 quantization CTEs from
    // the ann_int8_batch oracle + rank-only fusion with the fixed
    // lexical-then-semantic addition order rrfFuse uses
    Oracle(
      s"""WITH $bm25BatchCtesSql,
         |  lex AS (SELECT query_id, id, rnk FROM (
         |      SELECT query_id, id,
         |        row_number() OVER (PARTITION BY query_id ORDER BY score_u DESC, id) AS rnk
         |      FROM scg) WHERE rnk <= 20),
         |  sc8 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |      list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
         |    FROM embeddings),
         |  q8 AS (SELECT vec_id, CASE WHEN s = 0 THEN list_transform(v, x -> 0)
         |      ELSE list_transform(v, x -> CAST(round(x / s) AS INT)) END AS qa FROM sc8),
         |  qq AS (SELECT vec_id AS query_id, qa AS qv FROM q8 WHERE vec_id BETWEEN 1 AND 3),
         |  scored AS (SELECT query_id, q8.vec_id AS corpus_id,
         |      CAST(list_sum(list_transform(range(1, 65), i -> CAST(qa[i] AS BIGINT) * qv[i])) AS BIGINT) AS iscore
         |    FROM q8, qq WHERE q8.vec_id <> query_id),
         |  sem AS (SELECT query_id, id, rnk FROM (
         |      SELECT query_id, corpus_id AS id,
         |        row_number() OVER (PARTITION BY query_id ORDER BY iscore DESC, corpus_id) AS rnk
         |      FROM scored) WHERE rnk <= 20),
         |  fused AS (SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
         |      coalesce(lex.id, sem.id) AS id,
         |      round(coalesce(1.0 / (60 + lex.rnk), 0) + coalesce(1.0 / (60 + sem.rnk), 0), 6) AS rrf
         |    FROM lex FULL OUTER JOIN sem ON lex.query_id = sem.query_id AND lex.id = sem.id)
         |SELECT CAST(query_id AS BIGINT) AS query_id, id AS doc_id, rrf, CAST(rank AS BIGINT) AS rank
         |FROM (SELECT query_id, id, rrf,
         |    row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, id) AS rank FROM fused)
         |WHERE rank <= 10""".stripMargin),
      primer = Some((s, dir) => { cachedSearchIndexDir(s, dir); () })))
}
