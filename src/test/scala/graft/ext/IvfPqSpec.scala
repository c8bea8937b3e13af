package graft.ext

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  // three well-separated clusters around the axes, 16-dim (same corpus
  // shape as PqSpec so cluster membership is checkable)
  private def corpus = {
    val rnd = new scala.util.Random(11)
    val base = Array.tabulate(3, 16)((c, i) => if (i / 5 == c) 10.0f else 0.0f)
    (0 until 120).map { i =>
      (i.toLong, base(i % 3).map(v => v + rnd.nextFloat() * 0.4f).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("build carries list_id through the encode — no join-back, one code table") {
    val idx = IvfPq.build(corpus, "vec_id", "embedding", dim = 16, m = 4,
      nLists = 3, codes = 16)
    assert(idx.codes.columns.toSeq == Seq("vec_id", "list_id", "code"))
    assert(idx.codes.count() == 120)
    // the three axis clusters land in three distinct cells
    assert(idx.codes.select("list_id").distinct().count() == 3)
  }

  test("writeIndex/readIndex round-trip: identical search results, pruned scan") {
    val dir = tempDir("graft_ivfpq_")
    val idx = IvfPq.build(corpus, "vec_id", "embedding", dim = 16, m = 4,
      nLists = 3, codes = 16)
    IvfPq.writeIndex(idx, dir)
    val idx2 = IvfPq.readIndex(spark, dir)
    val qv = corpus.filter($"vec_id" === 7L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val fresh = IvfPq.search(idx, "vec_id", qv, k = 6, nProbe = 1)
      .as[(Long, Double)].collect().toSeq
    val reread = IvfPq.search(idx2, "vec_id", qv, k = 6, nProbe = 1)
      .as[(Long, Double)].collect().toSeq
    assert(fresh == reread)
    // every hit is a member of the query's own cluster (id % 3 == 1)
    assert(fresh.forall(_._1 % 3 == 1), s"cross-cluster hit in $fresh")
    // the probe filter is a parquet PARTITION filter on the persisted layout
    val cells = Ivf.probeCells(idx2.centroids, qv, 1)
    val scan = idx2.codes.filter($"list_id".isin(cells: _*))
      .queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("list_id"),
      s"probe filter is not a partition filter:\n$scan")
  }

  test("searchMany equals per-query search, scoring only probed cells") {
    val idx = IvfPq.build(corpus, "vec_id", "embedding", dim = 16, m = 4,
      nLists = 3, codes = 16)
    val queries = corpus.filter($"vec_id" < 5)
    val batch = IvfPq.searchMany(idx, queries, "vec_id", "embedding",
      k = 4, nProbe = 2).as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (r._3, r._2)).toSeq).toMap
    queries.select("vec_id", "embedding").collect().foreach { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Float](1).map(_.toDouble).toSeq
      val single = IvfPq.search(idx, "vec_id", qv, k = 4, nProbe = 2)
        .as[(Long, Double)].collect().toSeq
      assert(batch(qid).map(x => (x._2, x._3)) == single,
        s"query $qid: batch ${batch(qid)} != single $single")
    }
  }

  test("appendIndex encodes a daily batch with the existing quantizers; search finds it") {
    val dir = tempDir("graft_ivfpq_app_")
    val idx = IvfPq.build(corpus, "vec_id", "embedding", dim = 16, m = 4,
      nLists = 3, codes = 16)
    IvfPq.writeIndex(idx, dir)
    val newVecs = corpus.filter($"vec_id" < 6)
      .select(($"vec_id" + 5000L).as("vec_id"), $"embedding")
    IvfPq.appendIndex(spark, dir, newVecs, "vec_id", "embedding")
    val idx2 = IvfPq.readIndex(spark, dir)
    assert(idx2.codes.count() == 126)
    // a verbatim copy lands in its original's cell with the IDENTICAL
    // residual code — append used the same centroids and codebooks
    val orig = idx2.codes.filter($"vec_id" === 3L)
      .select("list_id", "code").head()
    val copy = idx2.codes.filter($"vec_id" === 5003L)
      .select("list_id", "code").head()
    assert(copy.getAs[Int]("list_id") == orig.getAs[Int]("list_id"))
    assert(copy.getSeq[Byte](1) == orig.getSeq[Byte](1))
    // batch search from the re-read index surfaces every appended copy
    val hits = IvfPq.searchMany(idx2, corpus.filter($"vec_id" < 6),
      "vec_id", "embedding", k = 3, nProbe = 1)
      .as[(Long, Long, Double)].collect()
    (0L until 6L).foreach { q =>
      assert(hits.exists(h => h._1 == q && h._2 == q + 5000L),
        s"query $q did not retrieve its appended copy")
    }
    // accreted append files roll up under compaction; search results and
    // partition pruning are unchanged
    (1 to 3).foreach { d =>
      IvfPq.appendIndex(spark, dir,
        corpus.filter($"vec_id" === 1L)
          .select(($"vec_id" + 7000L + d).as("vec_id"), $"embedding"),
        "vec_id", "embedding")
    }
    val cell = copy.getAs[Int]("list_id")
    def cellFiles = new java.io.File(s"$dir/codes/list_id=$cell")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val idxB = IvfPq.readIndex(spark, dir)
    val qv = corpus.filter($"vec_id" === 3L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val before = IvfPq.search(idxB, "vec_id", qv, k = 10, nProbe = 1)
      .as[(Long, Double)].collect().toSeq
    val nFilesBefore = cellFiles
    IvfPq.compactIndex(spark, dir)
    val after = IvfPq.search(IvfPq.readIndex(spark, dir), "vec_id", qv,
      k = 10, nProbe = 1).as[(Long, Double)].collect().toSeq
    assert(after == before)
    assert(cellFiles < nFilesBefore)
  }

  test("deleteFromIndex erases residual codes; search and pruning survive") {
    val dir = tempDir("graft_ivfpq_del_")
    IvfPq.writeIndex(IvfPq.build(corpus, "vec_id", "embedding", dim = 16,
      m = 4, nLists = 3, codes = 16), dir)
    IvfPq.deleteFromIndex(spark, dir, "vec_id", Seq(3L).toDF("vec_id"))
    val idx = IvfPq.readIndex(spark, dir)
    assert(idx.codes.count() == 119)
    assert(idx.codes.filter($"vec_id" === 3L).isEmpty)
    val hits = IvfPq.searchMany(idx, corpus.filter($"vec_id" === 3L),
      "vec_id", "embedding", k = 5, nProbe = 1)
      .as[(Long, Long, Double)].collect()
    assert(hits.nonEmpty && hits.forall(_._2 != 3L))
    assert(new java.io.File(s"$dir/codes").listFiles()
      .exists(_.getName.startsWith("list_id=")))
  }

  test("a torn appendIndex leaves IVF-PQ unstamped; a bad batch leaves it readable") {
    val dir = tempDir("graft_ivfpq_torn_")
    val idx = IvfPq.build(corpus, "vec_id", "embedding", dim = 16, m = 4,
      nLists = 3, codes = 16)
    IvfPq.writeIndex(idx, dir)
    // malformed batch fails eager analysis BEFORE the marker comes off
    intercept[Exception] {
      IvfPq.appendIndex(spark, dir,
        Seq((9000L, "oops")).toDF("vec_id", "embedding"), "vec_id", "embedding")
    }
    assert(IvfPq.readIndex(spark, dir).centroids.length == 3)
    // a crash INSIDE the window must make readers refuse
    IndexFormat.invalidate(spark, dir)
    val e = intercept[IllegalStateException] { IvfPq.readIndex(spark, dir) }
    assert(e.getMessage.contains("stamp"))
  }

  test("readIndex fails fast on an unstamped (pre-versioning) directory") {
    val dir = tempDir("graft_ivfpq_old_")
    val idx = IvfPq.build(corpus, "vec_id", "embedding", dim = 16, m = 4,
      nLists = 3, codes = 16)
    IvfPq.writeIndex(idx, dir)
    // simulate a pre-round-8 index: same layout, no _meta stamp — its codes
    // could be raw-vector encoded, which the residual search path mis-ranks
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$dir/_meta")).deleteRecursively()
    val ex = intercept[IllegalStateException] { IvfPq.readIndex(spark, dir) }
    assert(ex.getMessage.contains("no _meta format stamp"), ex.getMessage)
  }

  test("readIndex rejects a Pq-format (raw-code) directory, not mis-ranks it") {
    val dir = tempDir("graft_ivfpq_cross_")
    val cb = Pq.train(corpus, "embedding", dim = 16, m = 4, codes = 16)
    val codes = Pq.encode(corpus, "vec_id", "embedding", cb)
    Pq.writeIndex(codes, cb, dir)
    val ex = intercept[IllegalStateException] { IvfPq.readIndex(spark, dir) }
    assert(ex.getMessage.contains(Pq.FormatId) &&
      ex.getMessage.contains(IvfPq.FormatId), ex.getMessage)
  }

  test("residual encoding matches-or-beats raw-code IVF-PQ recall at nLists=64") {
    // the round-8 residual rewrite claimed better recall at large nLists —
    // this pins the claim with a measured number. Corpus: 640 random
    // 16-dim vectors (no cluster structure, so the coarse cells carry most
    // of the variance and raw codes must cover the full spread while
    // residual codes only cover within-cell spread — Jégou §IV.A's case).
    val rnd = new scala.util.Random(7)
    val data = (0 until 640).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 20f - 10f))
    }
    val df = data.toDF("vec_id", "embedding")
    val nQ = 32; val k = 10; val nProbe = 8
    def sqDist(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    val truth: Map[Long, Set[Long]] = data.take(nQ).map { case (qid, qv) =>
      qid -> data.map { case (id, v) => (sqDist(qv, v), id) }
        .sorted.take(k).map(_._2).toSet
    }.toMap

    val queries = df.filter($"vec_id" < nQ)
    val residualIdx = IvfPq.build(df, "vec_id", "embedding", dim = 16, m = 4,
      nLists = 64, codes = 16)
    val resHits = IvfPq.searchMany(residualIdx, queries, "vec_id", "embedding",
        k, nProbe).as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    // raw-code baseline: same architecture hand-composed from Ivf + Pq —
    // identical coarse quantizer geometry (same seed/params), but the PQ
    // codebooks quantize the raw vectors and the ADC table is built from
    // the raw query, exactly what IvfPq did before the residual rewrite
    val ivf = Ivf.build(df, "vec_id", "embedding", nLists = 64)
    val rawCb = Pq.train(ivf.assigned, "embedding", dim = 16, m = 4, codes = 16)
    val rawCodes = Pq.encode(ivf.assigned, "vec_id", "embedding", rawCb,
      keep = Seq("list_id")).cache()
    val rawHits: Map[Long, Set[Long]] = data.take(nQ).map { case (qid, qv) =>
      val qd = qv.map(_.toDouble)
      val cells = Ivf.probeCells(ivf.centroids, qd, nProbe)
      qid -> Pq.adcTopK(rawCodes.filter($"list_id".isin(cells: _*)),
          rawCb, "vec_id", qd, k)
        .as[(Long, Double)].collect().map(_._1).toSet
    }.toMap

    def recall(hits: Map[Long, Set[Long]]): Double =
      truth.map { case (qid, t) =>
        hits.getOrElse(qid, Set.empty).count(t).toDouble / k
      }.sum / nQ
    val (rRes, rRaw) = (recall(resHits), recall(rawHits))
    info(f"recall@$k nLists=64 nProbe=$nProbe: residual=$rRes%.3f raw=$rRaw%.3f")
    assert(rRes >= rRaw,
      f"residual recall $rRes%.3f below raw-code recall $rRaw%.3f")
  }

  test("planted duplicates retrieved from the persisted index at nProbe=1") {
    val dir = tempDir("graft_ivfpq_rec_")
    val doubled = corpus.unionByName(
      corpus.withColumn("vec_id", $"vec_id" + 1000L))
    val idx = IvfPq.build(doubled, "vec_id", "embedding", dim = 16, m = 4,
      nLists = 3, codes = 16)
    IvfPq.writeIndex(idx, dir)
    val idx2 = IvfPq.readIndex(spark, dir)
    val hits = IvfPq.searchMany(idx2, corpus.filter($"vec_id" < 10),
      "vec_id", "embedding", k = 3, nProbe = 1)
    // a copy shares its original's cell AND its code → globally minimal
    // ADC distance → always in the top-k
    assert(hits.filter($"corpus_id" === $"query_id" + 1000L).count() == 10)
  }
}
