package graft.ext

import java.nio.file.Files

import graft.SparkSpec

class IvfSpec extends SparkSpec {
  import spark.implicits._

  // three well-separated clusters around the axes
  private def corpus = {
    val rnd = new scala.util.Random(7)
    val base = Seq(
      Array(10.0f, 0.0f, 0.0f), Array(0.0f, 10.0f, 0.0f), Array(0.0f, 0.0f, 10.0f))
    (0 until 90).map { i =>
      val c = base(i % 3)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.5f).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("IVF assigns every vector to a cell and search finds same-cluster neighbors") {
    val idx = Ivf.build(corpus, "vec_id", "embedding", nLists = 3)
    assert(idx.assigned.select("list_id").distinct().count() == 3)
    assert(idx.centroids.length == 3)
    // query near the x-axis cluster: all hits must be x-cluster members (id % 3 == 0)
    val hits = Ivf.search(idx.assigned, idx, "vec_id", "embedding",
      queryVec = Seq(10.0, 0.1, 0.1), k = 5, nProbe = 1)
      .as[(Long, Double)].collect()
    assert(hits.length == 5)
    assert(hits.forall(_._1 % 3 == 0))
    assert(hits.forall(_._2 > 0.99))
  }

  test("k-means fit input is capped by fitSampleRows; search results unchanged") {
    // fitSample caps a corpus larger than the cap…
    val feats = corpus.withColumnRenamed("embedding", "__features")
    val sampled = Ivf.fitSample(feats, cap = 30, seed = 42)
    val n = sampled.count()
    assert(n < 90, s"sample must shrink the fit input, got $n of 90")
    // …and passes a corpus at-or-under the cap through untouched
    assert(Ivf.fitSample(feats, cap = 90, seed = 42).count() == 90)

    // a capped fit still separates the three clusters and finds the same
    // neighbors as the uncapped fit on this corpus
    val idx = Ivf.build(corpus, "vec_id", "embedding", nLists = 3, fitSampleRows = 45)
    assert(idx.assigned.select("list_id").distinct().count() == 3)
    val hits = Ivf.search(idx.assigned, idx, "vec_id", "embedding",
      queryVec = Seq(10.0, 0.1, 0.1), k = 5, nProbe = 1)
      .as[(Long, Double)].collect()
    assert(hits.length == 5 && hits.forall(_._1 % 3 == 0) && hits.forall(_._2 > 0.99))
  }

  test("fit-sample cap clamps to a multiple of nLists so KMeans always has k points") {
    assert(Ivf.effectiveCap(fitSampleRows = 2, nLists = 8) == 160L)
    assert(Ivf.effectiveCap(fitSampleRows = 0, nLists = 8) == 80000L)
    assert(Ivf.effectiveCap(fitSampleRows = 500, nLists = 3) == 500L)
    // a pathologically small requested cap still builds a valid index
    val idx = Ivf.build(corpus, "vec_id", "embedding", nLists = 3, fitSampleRows = 1)
    assert(idx.centroids.length == 3)
  }

  test("partitioned index layout prunes to the probed cells") {
    val dir = tempDir("graft_ivf_")
    val idx = Ivf.build(corpus, "vec_id", "embedding", nLists = 3)
    Ivf.writeIndex(idx, dir)
    val assigned = spark.read.parquet(s"$dir/assigned")
    val cells = Ivf.probeCells(idx, Seq(0.0, 10.0, 0.0), nProbe = 1)
    val plan = Ivf.search(assigned, idx, "vec_id", "embedding",
      Seq(0.0, 10.0, 0.0), k = 3, nProbe = 1)
      .queryExecution.executedPlan.toString()
    // partition filter on list_id reaches the scan (directory-level pruning)
    assert(plan.contains("list_id") && plan.contains(s"${cells.head}"))
    val hits = Ivf.search(assigned, idx, "vec_id", "embedding",
      Seq(0.0, 10.0, 0.0), k = 3, nProbe = 1).as[(Long, Double)].collect()
    assert(hits.forall(_._1 % 3 == 1))
  }

  test("readIndex round-trips: reloaded index searches identically, no refit") {
    val dir = tempDir("graft_ivf_rt_")
    val idx = Ivf.build(corpus, "vec_id", "embedding", nLists = 3)
    Ivf.writeIndex(idx, dir)
    val loaded = Ivf.readIndex(spark, dir)
    assert(loaded.centroids.length == 3)
    // centroid order survives the round trip (probe selection depends on it)
    idx.centroids.zip(loaded.centroids).foreach { case (a, b) =>
      assert(a.sameElements(b), "centroid table reordered by persistence")
    }
    val before = Ivf.search(idx.assigned, idx, "vec_id", "embedding",
      Seq(10.0, 0.1, 0.1), k = 5, nProbe = 1).as[(Long, Double)].collect().toSeq
    val after = Ivf.search(loaded.assigned, loaded, "vec_id", "embedding",
      Seq(10.0, 0.1, 0.1), k = 5, nProbe = 1).as[(Long, Double)].collect().toSeq
    assert(after == before)
  }

  test("appendIndex adds daily vectors to existing cells; search finds them, no refit") {
    val dir = tempDir("graft_ivf_app_")
    val idx = Ivf.build(corpus, "vec_id", "embedding", nLists = 3)
    Ivf.writeIndex(idx, dir)
    // daily batch: verbatim copies of an x-cluster and a y-cluster member
    val newVecs = corpus.filter($"vec_id".isin(0L, 1L))
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    Ivf.appendIndex(spark, dir, newVecs, "vec_id", "embedding")
    val loaded = Ivf.readIndex(spark, dir)
    // a copy lands in its original's cell (assignment against FIXED centroids)
    val origCell = idx.assigned.filter($"vec_id" === 0L)
      .select("list_id").as[Int].head()
    val newCell = loaded.assigned.filter($"vec_id" === 1000L)
      .select("list_id").as[Int].head()
    assert(newCell == origCell)
    // nProbe=1 search from the reloaded index surfaces the appended copy at ~1.0
    val hits = Ivf.search(loaded.assigned, loaded, "vec_id", "embedding",
      queryVec = Seq(10.0, 0.1, 0.1), k = 31, nProbe = 1)
      .as[(Long, Double)].collect()
    assert(hits.exists { case (id, s) => id == 1000L && s > 0.99 })
    // original rows are untouched: the cell grew by exactly the append
    assert(loaded.assigned.count() == 92)
    // more daily appends accrete small files in the cell dir; compaction
    // rolls them up with byte-identical search results and pruning intact
    (1 to 4).foreach { d =>
      Ivf.appendIndex(spark, dir,
        corpus.filter($"vec_id" === 0L)
          .select(($"vec_id" + 2000L + d).as("vec_id"), $"embedding"),
        "vec_id", "embedding")
    }
    def cellFiles = new java.io.File(s"$dir/assigned/list_id=$origCell")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val idxB = Ivf.readIndex(spark, dir)
    val before = Ivf.search(idxB.assigned, idxB, "vec_id", "embedding",
      Seq(10.0, 0.1, 0.1), k = 50, nProbe = 1).as[(Long, Double)].collect().toSeq
    val nFilesBefore = cellFiles
    Ivf.compactIndex(spark, dir)
    val idxC = Ivf.readIndex(spark, dir)
    val after = Ivf.search(idxC.assigned, idxC, "vec_id", "embedding",
      Seq(10.0, 0.1, 0.1), k = 50, nProbe = 1).as[(Long, Double)].collect().toSeq
    assert(after == before)
    assert(cellFiles < nFilesBefore, s"compaction did not shrink $nFilesBefore files")
  }

  test("deleteFromIndex erases vectors; search and pruning survive") {
    val dir = tempDir("graft_ivf_del_")
    Ivf.writeIndex(Ivf.build(corpus, "vec_id", "embedding", nLists = 3), dir)
    // erase two x-cluster members; everything else must search identically
    Ivf.deleteFromIndex(spark, dir, "vec_id", Seq(0L, 3L).toDF("vec_id"))
    val idx = Ivf.readIndex(spark, dir)
    assert(idx.assigned.count() == 88)
    assert(idx.assigned.filter($"vec_id".isin(0L, 3L)).isEmpty)
    val hits = Ivf.search(idx.assigned, idx, "vec_id", "embedding",
      queryVec = Seq(10.0, 0.1, 0.1), k = 28, nProbe = 1)
      .as[(Long, Double)].collect()
    assert(hits.forall(h => h._1 != 0L && h._1 != 3L))
    assert(hits.forall(_._1 % 3 == 0))
    // the layout is still partitioned: probe pruning keeps working
    assert(new java.io.File(s"$dir/assigned").listFiles()
      .exists(_.getName.startsWith("list_id=")))
  }

  test("a torn appendIndex leaves the index unstamped and readers reject it") {
    val dir = tempDir("graft_ivf_torn_")
    val idx = Ivf.build(corpus, "vec_id", "embedding", nLists = 3)
    Ivf.writeIndex(idx, dir)
    // a malformed batch fails ANALYSIS inside assignCells — before the
    // marker comes off — so a bad append request leaves the index stamped
    // and fully readable (validation precedes the commit-marker window)
    intercept[Exception] {
      Ivf.appendIndex(spark, dir,
        Seq((5000L, "oops")).toDF("vec_id", "embedding"), "vec_id", "embedding")
    }
    assert(Ivf.readIndex(spark, dir).centroids.length == 3)
    // a crash INSIDE the window (marker off, append possibly partial) must
    // make every reader refuse rather than serve a silently partial cell
    IndexFormat.invalidate(spark, dir)
    val e = intercept[IllegalStateException] { Ivf.readIndex(spark, dir) }
    assert(e.getMessage.contains("stamp"))
  }

  test("searchMany returns each query's cluster-mates, k per query") {
    val idx = Ivf.build(corpus, "vec_id", "embedding", nLists = 3)
    // one query per cluster, drawn from the corpus itself
    val queries = corpus.filter($"vec_id" < 3)
    val hits = Ivf.searchMany(idx.assigned, idx, queries, "vec_id", "embedding",
      k = 5, nProbe = 1).as[(Long, Long, Double)].collect()
    assert(hits.length == 15, s"expected 3 queries × 5 hits, got ${hits.length}")
    // a query never matches itself; every hit shares the query's cluster
    hits.foreach { case (qid, cid, score) =>
      assert(cid != qid)
      assert(cid % 3 == qid % 3, s"query $qid got cross-cluster hit $cid")
      assert(score > 0.99)
    }
    // batch result per query == the single-vector search path
    val qv = corpus.filter($"vec_id" === 0L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val single = Ivf.search(idx.assigned, idx, "vec_id", "embedding",
      qv, k = 6, nProbe = 1).as[(Long, Double)].collect()
      .filter(_._1 != 0L).take(5).toSeq
    val batchQ0 = hits.filter(_._1 == 0L).map(h => (h._2, h._3)).toSeq
    assert(batchQ0 == single)
  }
}
