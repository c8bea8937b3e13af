package graft.ext

import graft.SparkSpec

class SearchIndexSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "spark hash join beats sort merge join on small tables"),
    (2L, "a vector index answers similarity search without a full scan"),
    (3L, "hash partitioning spreads the shuffle over many reducers"),
    (4L, "the optimizer picks a broadcast hash join for tiny dimensions"),
    (5L, "bm25 ranks documents by term frequency and rarity"),
    (6L, ""),                                   // empty doc: counted in stats
    (7L, "join order matters more than join algorithm at scale"))
    .toDF("doc_id", "text")

  private val terms = Seq("hash", "join", "vector")

  private def scores(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.as[(Long, Double)].collect().toSeq

  test("indexed BM25 equals the full-scan form, score for score") {
    val dir = tempDir("graft_sidx_")
    SearchIndex.build(corpus, "doc_id", "text", dir, nBuckets = 8)
    val scan = scores(Search.bm25TopK(corpus, "doc_id", "text", terms, k = 10))
    val idx = scores(SearchIndex.bm25TopKIndexed(spark, dir, terms, k = 10,
      idColName = "doc_id"))
    assert(idx == scan && idx.nonEmpty)
  }

  test("append equals a from-scratch build over the union") {
    val dir1 = tempDir("graft_sidx_ap_")
    val dir2 = tempDir("graft_sidx_full_")
    val (day1, day2) = (corpus.filter($"doc_id" <= 4), corpus.filter($"doc_id" > 4))
    SearchIndex.build(day1, "doc_id", "text", dir1, nBuckets = 8)
    SearchIndex.append(day2, "doc_id", "text", dir1)
    SearchIndex.build(corpus, "doc_id", "text", dir2, nBuckets = 8)
    val a = scores(SearchIndex.bm25TopKIndexed(spark, dir1, terms, k = 10))
    val b = scores(SearchIndex.bm25TopKIndexed(spark, dir2, terms, k = 10))
    assert(a == b && a.nonEmpty)
    // stats accumulated per segment: build + append = 2 rows summing to 7 docs
    val st = spark.read.parquet(s"$dir1/stats")
      .agg(org.apache.spark.sql.functions.sum("n_docs")).as[Long].head()
    assert(st == 7L)
  }

  test("delete equals a from-scratch build over the survivors, score for score") {
    val dir = tempDir("graft_sidx_del_")
    val ref = tempDir("graft_sidx_ref_")
    SearchIndex.build(corpus, "doc_id", "text", dir, nBuckets = 8)
    SearchIndex.delete(spark, dir, Seq(1L, 6L).toDF("doc_id"))
    SearchIndex.build(corpus.filter(!$"doc_id".isin(1L, 6L)),
      "doc_id", "text", ref, nBuckets = 8)
    // the strong invariant: idf/N/avgdl all reflect the post-delete corpus,
    // so every surviving document's score matches a fresh build exactly
    val a = scores(SearchIndex.bm25TopKIndexed(spark, dir, terms, k = 10))
    val b = scores(SearchIndex.bm25TopKIndexed(spark, ref, terms, k = 10))
    assert(a == b && a.nonEmpty)
    assert(!a.exists(_._1 == 1L))
  }

  test("readers fail loudly on a torn write (no stamp) and a foreign format") {
    val dir = tempDir("graft_sidx_torn_")
    SearchIndex.build(corpus, "doc_id", "text", dir, nBuckets = 8)
    IndexFormat.invalidate(spark, dir)
    val e1 = intercept[IllegalStateException] {
      SearchIndex.bm25TopKIndexed(spark, dir, terms, k = 5)
    }
    assert(e1.getMessage.contains("no _meta"))
    IndexFormat.stamp(spark, dir, "pq-raw-v1")
    val e2 = intercept[IllegalStateException] {
      SearchIndex.append(corpus, "doc_id", "text", dir)
    }
    assert(e2.getMessage.contains("pq-raw-v1"))
  }

  test("compaction shrinks append-accreted files; results identical") {
    val dir = tempDir("graft_sidx_cmp_")
    SearchIndex.build(corpus.filter($"doc_id" <= 2), "doc_id", "text", dir,
      nBuckets = 4)
    (3L to 7L).foreach { i =>
      SearchIndex.append(corpus.filter($"doc_id" === i), "doc_id", "text", dir)
    }
    val before = scores(SearchIndex.bm25TopKIndexed(spark, dir, terms, k = 10))
    def nFiles(sub: String): Int = {
      val root = new java.io.File(s"$dir/$sub")
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(root)
    }
    val (p0, s0) = (nFiles("postings"), nFiles("stats"))
    assert(s0 >= 6)  // one segment row-file per build/append
    SearchIndex.compact(spark, dir)
    assert(nFiles("postings") < p0 && nFiles("stats") < s0)
    // postings stayed bkt-partitioned (pruning preserved)
    assert(new java.io.File(s"$dir/postings").listFiles()
      .exists(_.getName.startsWith("bkt=")))
    val after = scores(SearchIndex.bm25TopKIndexed(spark, dir, terms, k = 10))
    assert(after == before && after.nonEmpty)
  }

  test("batch BM25 agrees with per-query single-form ranking") {
    val dir = tempDir("graft_sidx_b_")
    SearchIndex.build(corpus, "doc_id", "text", dir, nBuckets = 8)
    val queries = Seq((7L, Seq("hash", "join")), (9L, Seq("vector")))
      .toDF("query_id", "terms")
    val batch = SearchIndex.bm25TopKIndexedMany(spark, dir, queries,
      "query_id", "terms", k = 5, idColName = "doc_id")
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(_._2).toSeq).toMap
    // same candidate order as the single-query form (scores are quantized
    // to micro-units in the batch path, so compare the RANKING)
    def single(terms: Seq[String]) =
      scores(SearchIndex.bm25TopKIndexed(spark, dir, terms, k = 5)).map(_._1)
    assert(batch(7L) == single(Seq("hash", "join")))
    assert(batch(9L) == single(Seq("vector")))
    // ranks are 1-based and contiguous per query
    assert(batch.values.forall(ids => ids.nonEmpty))
  }

  test("rrfFuse fuses ranked lists deterministically; absent side contributes 0") {
    val lex = Seq((1L, 10L, 1L), (1L, 11L, 2L), (2L, 30L, 1L))
      .toDF("query_id", "doc_id", "rank")
    val sem = Seq((1L, 11L, 1L), (1L, 12L, 2L), (2L, 30L, 1L))
      .toDF("query_id", "doc_id", "rank")
    val out = Search.rrfFuse(Seq(lex, sem), "query_id", "doc_id",
        kRrf = 60, topK = 10)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    def rrf(rs: Double*) = BigDecimal(rs.map(r => 1.0 / (60.0 + r)).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 11 is in both lists → two contributions; 10/12 one each
    assert(out(1L -> 11L) == (rrf(2, 1), 1L))
    assert(out(1L -> 10L) == (rrf(1), 2L))   // 1/61 beats 12's 1/62
    assert(out(1L -> 12L) == (rrf(2), 3L))
    assert(out(2L -> 30L) == (rrf(1, 1), 1L))
  }

  test("query scan prunes postings partitions on the term buckets") {
    val dir = tempDir("graft_sidx_plan_")
    SearchIndex.build(corpus, "doc_id", "text", dir, nBuckets = 8)
    val q = SearchIndex.bm25TopKIndexed(spark, dir, terms, k = 10)
    val scans = q.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val postingsScan = scans.find(_.contains("postings")).getOrElse(
      fail(s"no postings scan in plan:\n${scans.mkString("\n")}"))
    assert(postingsScan.contains("PartitionFilters") &&
      postingsScan.contains("bkt"),
      s"term-bucket filter did not prune partitions:\n$postingsScan")
    assert(postingsScan.contains("PushedFilters") &&
      postingsScan.contains("In(w"),
      s"term filter not pushed to parquet:\n$postingsScan")
  }
}
