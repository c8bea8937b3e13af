package graft.ext

import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 inverted index — the search sibling of the persisted
  * near-dedup / IVF / PQ index families: tokenize the corpus ONCE at
  * ingest, then answer any query from stored postings without rescanning
  * document text. [[Search.bm25TopK]] is the scan-time form (one pass over
  * the corpus per query); this is the shape a 100 TB deployment actually
  * runs, where the corpus is written daily and queried constantly.
  *
  * Layout under `dir/` (stamped via [[IndexFormat]], format id carries the
  * bucket count so a reader can never probe with the wrong hash modulus):
  *   - `postings/` — (w, id, tf, dl), PARTITIONED by `bkt` =
  *     pmod(xxhash64(w), nBuckets). A query's terms hash to a handful of
  *     buckets, so the scan prunes to |terms| directories out of nBuckets
  *     (PartitionFilters at the listing level) and pushes the exact term
  *     filter into the parquet row groups — per-query work is proportional
  *     to the HIT SET, not the corpus.
  *   - Document length `dl` is DENORMALIZED into each posting row
  *     (Lucene's norm-in-posting): scoring never joins a corpus-sized
  *     doc-length table, at the cost of 8 bytes per posting.
  *   - `docs/` — (id, dl), one row per document: the ingest anti-join
  *     target (which ids are already indexed) — scoring never reads it.
  *   - `stats/` — (n_docs, sum_dl), ONE ROW PER SEGMENT (build + each
  *     append): query-time corpus stats are a sum over O(segments) rows,
  *     so appends never rewrite global state.
  *
  * Write discipline: every build and append goes through one
  * [[IndexFormat.commit]], so a torn build/append leaves an unstamped index
  * that every reader rejects loudly instead of scoring against mixed
  * generations.
  *
  * Reference anchor: the reference has no search tier — this extends the
  * engine the same way the ANN/dedup indexes do, per the training-data
  * pipeline mandate (SURVEY.md §2 "beyond-reference" block).
  */
object SearchIndex {

  val FormatPrefix = "bm25-postings-v1"
  def formatId(nBuckets: Int): String = s"$FormatPrefix:b$nBuckets"

  /** Parse the bucket count out of the `_meta` stamp, with
    * [[IndexFormat.check]]'s fail-loud semantics: a missing or
    * foreign-format stamp is an error, never a default.
    */
  private[graft] def readNBuckets(spark: SparkSession, dir: String): Int = {
    val found = IndexFormat.readFormat(spark, dir)
    val pfx = s"$FormatPrefix:b"
    found match {
      case Some(f) if f.startsWith(pfx) && f.stripPrefix(pfx).forall(_.isDigit) =>
        f.stripPrefix(pfx).toInt
      case Some(f) => throw new IllegalStateException(
        s"index at $dir has format '$f' but this reader expects " +
          s"'$pfx<n>' — postings hashed with a different scheme would be " +
          "probed in the wrong buckets; rebuild with the matching writer")
      case None => throw new IllegalStateException(
        s"index at $dir has no _meta format stamp — a torn write or " +
          "pre-versioning layout; rebuild or repair before querying")
    }
  }

  /** One row per document: (id, lowered text, token count), the frame
    * [[writeBase]] writes. Callers pin it before the write, so the three
    * index writes (postings/docs/stats) share one tokenization pass, and a
    * streaming micro-batch input is pinned before the first write begins.
    */
  private[graft] def baseOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        lower(col(textCol)).cast("string").as("__t"),
        T.tokenCount(col(textCol)).as("dl"))

  private def postingsOf(base: DataFrame, nBuckets: Int): DataFrame =
    base.select(col("id"), col("dl"), explode(T.tokens(col("__t"))).as("w"))
      .groupBy("id", "dl", "w").agg(count(lit(1)).as("tf"))
      .select(pmod(xxhash64(col("w")), lit(nBuckets.toLong)).cast("int").as("bkt"),
        col("w"), col("id"), col("tf"), col("dl"))

  private def statsOf(base: DataFrame): DataFrame =
    base.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))

  /** Build the index from scratch (Overwrite — idempotent under replay:
    * a crashed-and-retried bootstrap rewrites identical content).
    */
  def build(docs: DataFrame, idCol: String, textCol: String, dir: String,
            nBuckets: Int = 64): Unit =
    writeBase(baseOf(docs, idCol, textCol).localCheckpoint(true), dir,
      nBuckets, SaveMode.Overwrite)

  /** Append a batch of NEW documents (ids not already indexed — callers
    * dedup upstream; [[graft.streaming.Streams.ingestSearchDocs]] anti-joins
    * `docs/` to guarantee it). Postings land in their existing hash
    * buckets, stats gain one segment row, and the whole append sits inside
    * one commit-marker window: a crash leaves an unstamped index that
    * readers and the next ingest batch reject loudly.
    */
  def append(docs: DataFrame, idCol: String, textCol: String,
             dir: String): Unit =
    writeBase(baseOf(docs, idCol, textCol).localCheckpoint(true), dir,
      readNBuckets(docs.sparkSession, dir), SaveMode.Append)

  /** The one write body of [[build]] and [[append]]: from a pinned
    * [[baseOf]] frame, write postings, docs and one stats segment in
    * `mode` inside one [[IndexFormat.commit]].
    */
  private[graft] def writeBase(base: DataFrame, dir: String, nBuckets: Int,
                               mode: SaveMode): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    IndexFormat.commit(base.sparkSession, dir, formatId(nBuckets)) {
      postingsOf(base, nBuckets).write.mode(mode)
        .partitionBy("bkt").parquet(s"$dir/postings")
      base.select("id", "dl").write.mode(mode).parquet(s"$dir/docs")
      statsOf(base).write.mode(mode).parquet(s"$dir/stats")
    }
  }

  /** Roll up append-accreted small files ([[IndexMaintenance]]): postings
    * stay partitioned by `bkt` (pruning preserved), docs and stats shrink
    * to evenly-rolled files, results unchanged, swap inside the marker.
    */
  def compact(spark: SparkSession, dir: String,
              targetRowsPerFile: Long = 4000000L): Unit = {
    val nBuckets = readNBuckets(spark, dir)
    IndexMaintenance.compactStamped(spark, dir, formatId(nBuckets),
      Seq("postings" -> Seq("bkt"), "docs" -> Nil, "stats" -> Nil),
      targetRowsPerFile)
  }

  /** Erase documents by id: `postings/` and the `docs/` ledger rewrite
    * without them, and the segment stats COLLAPSE to one row recomputed
    * from the surviving ledger — so BM25's idf, N, and avgdl reflect the
    * post-delete corpus exactly (a deleted doc stops shading every other
    * document's score, not just its own ranking). Same staged-rewrite +
    * commit-marker swap as [[compact]]
    * ([[IndexMaintenance.rewriteStamped]]); the stats recompute reads the
    * PRE-swap `docs/` ledger, which the pass leaves untouched until every
    * rewrite has landed. `ids` is a single-column frame of document ids.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
             targetRowsPerFile: Long = 4000000L): Unit = {
    require(ids.columns.length == 1,
      s"ids must be a single-column frame, got ${ids.columns.toSeq}")
    val nBuckets = readNBuckets(spark, dir)
    val key = broadcast(ids.select(col(ids.columns.head).cast("long").as("__del")))
    def drop(df: DataFrame) =
      df.join(key, df("id") === key("__del"), "left_anti")
    IndexMaintenance.rewriteStamped(spark, dir, formatId(nBuckets),
      Seq("postings" -> Seq("bkt"), "docs" -> Nil, "stats" -> Nil),
      targetRowsPerFile,
      (sub, df) => sub match {
        case "stats" => statsOf(drop(spark.read.parquet(s"$dir/docs")))
        case _ => drop(df)
      })
  }

  /** Top-k BM25 from the stored postings — same scores, ranking, and
    * output shape as [[Search.bm25TopK]] over the same corpus (the specs
    * and the DuckDB oracle hold the two forms equal), but the only
    * corpus-shaped input is the PRUNED postings scan: query terms hash to
    * their buckets on the driver (the same xxhash64 the writer used, via a
    * |terms|-row local frame), the scan lists only those `bkt=` partitions
    * and pushes `w IN (...)` to parquet, document frequencies aggregate
    * the pruned postings, and corpus stats sum the O(segments) stats rows.
    * Nothing reads `docs/` or document text.
    */
  def bm25TopKIndexed(spark: SparkSession, dir: String,
                      queryTerms: Seq[String], k: Int,
                      idColName: String = "id",
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val nBuckets = readNBuckets(spark, dir)
    val terms = queryTerms.map(_.toLowerCase).distinct
    import spark.implicits._
    val bkts = terms.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(nBuckets.toLong)).cast("int"))
      .as[Int].collect().toSeq.distinct

    val post = spark.read.parquet(s"$dir/postings")
      .filter(col("bkt").isin(bkts: _*) && col("w").isin(terms: _*))
      .select("id", "w", "tf", "dl")
    val corpus = spark.read.parquet(s"$dir/stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    val dft = post.groupBy("w").agg(count(lit(1)).as("df"))

    val contrib = post
      .join(broadcast(dft), "w")
      .crossJoin(broadcast(corpus))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("c", col("idf") * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))

    // fixed-order per-term columns → deterministic score assembly (same
    // assembly as Search.bm25TopK, so the two forms are hash-identical)
    val perTerm = contrib.groupBy("id")
      .pivot("w", terms).agg(first(col("c")))
    val score = terms.map(t => coalesce(col(s"`$t`"), lit(0.0)))
      .reduce(_ + _)
    perTerm.select(col("id").as(idColName), round(score, 4).as("score"))
      .orderBy(desc("score"), col(idColName))
      .limit(k)
  }

  /** Batch BM25: top-k per query for a FRAME of queries — `queries` is
    * (queryCol, termsCol: array<string>), output is (query_id, <id>,
    * score, rank). The retrieval shape of a curation pipeline scoring
    * thousands of probe queries against one corpus: the batch's distinct
    * terms are collected driver-side (bounded: |queries| × terms-per-query
    * — the same bounded-small-side contract as the single-query bucket
    * hash), so ONE postings scan — bkt-pruned, `w IN` pushed — serves
    * every query; per-query fan-out is a broadcast join of the tiny
    * (query, term) frame against the pruned postings.
    *
    * Determinism across engines: per-term contributions are converted to
    * MICRO-UNIT BIGINTs (round(c·1e6)) before the per-(query, doc) sum, so
    * the aggregation is integer math — immune to float summation order —
    * and the rank orders by the integer score with id tiebreak. The
    * surfaced `score` is the micro-unit sum scaled back (4-decimal
    * rounding, same display contract as the single-query form; the two
    * forms can differ in the last decimal — pivot-sum vs quantized-sum —
    * which is why each carries its own oracle).
    */
  def bm25TopKIndexedMany(spark: SparkSession, dir: String,
                          queries: DataFrame, queryCol: String,
                          termsCol: String, k: Int,
                          idColName: String = "id",
                          k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, "k must be positive")
    val nBuckets = readNBuckets(spark, dir)
    import spark.implicits._
    val qt = queries.select(col(queryCol).cast("long").as("query_id"),
        explode(array_distinct(transform(col(termsCol), lower(_)))).as("w"))
      .localCheckpoint(true)
    val terms = qt.select("w").distinct().as[String].collect().toSeq.sorted
    require(terms.nonEmpty, "query batch has no terms")
    val bkts = terms.toDF("w")
      .select(pmod(xxhash64(col("w")), lit(nBuckets.toLong)).cast("int"))
      .as[Int].collect().toSeq.distinct

    val post = spark.read.parquet(s"$dir/postings")
      .filter(col("bkt").isin(bkts: _*) && col("w").isin(terms: _*))
      .select("id", "w", "tf", "dl")
    val corpus = spark.read.parquet(s"$dir/stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    // df is a property of the corpus term, shared by every query asking it
    val dft = post.groupBy("w").agg(count(lit(1)).as("df"))

    val contrib = post
      .join(broadcast(dft), "w")
      .join(broadcast(qt), "w")
      .crossJoin(broadcast(corpus))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("c", col("idf") * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .withColumn("c_u", round(col("c") * 1e6).cast("bigint"))

    val scored = contrib.groupBy("query_id", "id")
      .agg(sum(col("c_u")).as("score_u"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("score_u"), col("id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("id").as(idColName),
        round(col("score_u") / 1e6, 4).as("score"),
        col("rank").cast("bigint").as("rank"))
  }
}
