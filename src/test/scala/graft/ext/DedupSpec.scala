package graft.ext

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Declarative reference for semantic cell assignment: anchors become a
  * broadcast frame, each row meets all k via a nested-loop join, and
  * `max_by(cell, (cos, -cell))` reduces to the argmax (ties to the lowest
  * cell). The production paths ([[Dedup.assignSemanticCells]],
  * [[Dedup.assignSemanticCellsPartition]]) are checked against it; no query
  * path calls it. `df0` is (id, v) with unique ids; returns (cell, id, v).
  */
object SemanticCellsOracle {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import graft.functions.VectorFunctions

  def assignCells(df0: DataFrame, anchors: Array[Array[Double]]): DataFrame = {
    val spark = df0.sparkSession
    import spark.implicits._
    val aDf = broadcast(anchors.zipWithIndex.toSeq
      .map { case (v, i) => (i, v.toSeq) }.toDF("__cell", "__av"))
    df0.crossJoin(aDf)
      .groupBy("id")
      .agg(
        max_by(col("__cell"),
          struct(VectorFunctions.cosine(col("v"), col("__av")).as("cos"),
            (-col("__cell")).as("negCell"))).as("cell"),
        first(col("v")).as("v"))
      .select("cell", "id", "v")
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"),   // near dup
    (4L, "completely unrelated text about spark engines"))
    .toDF("id", "text")

  test("exact dedup keeps the min-id row per identical content") {
    val out = Dedup.exact(docs, Seq("text"), "id")
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L))
  }

  test("connectedComponents labels clusters with the min id; singleton-free") {
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connectedComponents converges on a long chain") {
    // path graph 1-2-...-200, diameter 199: worst case for plain label
    // propagation (needs 199 rounds); pointer jumping must close it well
    // inside the default 20
    val pairs = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(comp.values.toSet == Set(1L) && comp.size == 200)
  }

  /** [[Dedup.iterativeComponents]] (the distributed path), called directly:
    * the small-graph union-find fast path of `connectedComponents` would
    * otherwise claim every tiny test graph and leave the iterative
    * machinery untested.
    */
  private def iterativeCC(pairs: org.apache.spark.sql.DataFrame, maxIter: Int = 20,
                          checkpointDir: Option[String] = None) =
    Dedup.iterativeComponents(pairs, "id_a", "id_b", maxIter, checkpointDir)

  test("small-graph fast path matches the iterative path exactly") {
    // chain + separate clique + self-pair + shared nodes across pairs
    val pairs = ((1L until 200L).map(i => (i, i + 1)) ++
      Seq((500L, 501L), (501L, 502L), (500L, 502L), (900L, 900L)))
      .toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    val slow = iterativeCC(pairs).as[(Long, Long)].collect().toMap
    assert(fast == slow)
    assert(fast(199L) == 1L && fast(502L) == 500L && fast(900L) == 900L)
  }

  test("small-graph fast path falls back above the edge cap (same labels)") {
    val pairs = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assert(Dedup.smallGraphComponents(pairs, "id_a", "id_b", cap = 10).isEmpty)
    val viaFallback = iterativeCC(pairs).as[(Long, Long)].collect().toMap
    val fast = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(viaFallback == fast)
  }

  test("connectedComponents reliable-checkpoint mode matches the local default") {
    // cluster fault-tolerance path: rounds checkpoint to a real dir instead
    // of executor block managers; labels must be identical
    val dir = tempDir("graft_cc_ckpt_")
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L))
      .toDF("id_a", "id_b")
    // an application-configured checkpoint dir must survive the call (the
    // SparkContext dir is global state; clobbering it would redirect every
    // later checkpoint in the app into our per-call subdir). SparkContext
    // has no unset, so the dir stays set for the rest of the JVM; that is
    // safe because nothing else in the specs or the library checkpoints
    // into it (the iterative path writes to its own per-call dir and only
    // re-sets this one), and the suite deletes it
    val appDir = tempDir("graft_app_ckpt_")
    spark.sparkContext.setCheckpointDir(appDir)
    val reliableDf = iterativeCC(pairs, checkpointDir = Some(dir))
    assert(spark.sparkContext.getCheckpointDir.exists(_.contains(appDir)),
      s"checkpoint dir not restored: ${spark.sparkContext.getCheckpointDir}")
    val reliable = reliableDf.as[(Long, Long)].collect().toMap
    val local = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(reliable == local)
    // the reliable path wrote round snapshots, and all but the final labels'
    // were pruned (each round would otherwise leak a full label-table copy)
    def rddDirs(p: java.io.File): Seq[java.io.File] =
      if (p.isDirectory) {
        val kids = Option(p.listFiles).map(_.toSeq).getOrElse(Nil)
        kids.filter(f => f.isDirectory && f.getName.startsWith("rdd-")) ++
          kids.flatMap(rddDirs)
      } else Nil
    val left = rddDirs(new java.io.File(dir))
    assert(left.size == 1,
      s"expected exactly the final round snapshot, found: $left")
  }

  test("connectedComponents throws instead of returning split components") {
    val pairs = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      iterativeCC(pairs, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connectedComponents works with non-numeric (string) ids") {
    val pairs = Seq(("b", "a"), ("b", "c"), ("x", "y"))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    assert(comp == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("representatives keeps one doc per cluster plus all singletons") {
    val all = Seq((1L, "x"), (2L, "x"), (3L, "x"), (7L, "alone"))
      .toDF("id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val reps = Dedup.representatives(all,
      Dedup.connectedComponents(pairs), "id")
      .select("id").as[Long].collect().sorted.toSeq
    assert(reps == Seq(1L, 7L))
  }

  test("exact dedup does not collide NULL/empty/shifted fields") {
    val adv = Seq((1L, Some("ab"), Some("c")), (2L, Some("a"), Some("bc")),
      (3L, Some("x"), None), (4L, None, Some("x")), (5L, Some("x"), Some("")))
      .toDF("id", "a", "b")
    assert(Dedup.exact(adv, Seq("a", "b"), "id").count() == 5)
  }

  test("minhash candidate pairs find exact and near duplicates") {
    val m = Dedup.minhashCandidatePairs(docs, "id", "text")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(m.contains((1L, 2L)) && m((1L, 2L)) == 1.0)
    assert(m.keys.forall { case (a, b) => a < b })
    assert(!m.contains((1L, 4L)))
  }

  test("ngram jaccard: identical docs score 1.0; df cap drops hot shingles") {
    val out = Dedup.ngramJaccardPairs(docs, "id", "text", minJaccard = 0.3)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._6).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out((1L, 3L)) == 0.4)                   // 4 shared of 10 distinct shingles
    // with maxDocFreq=1: every shingle shared by >1 doc is dropped → no pairs
    assert(Dedup.ngramJaccardPairs(docs, "id", "text", maxDocFreq = 1).count() == 0)
  }

  test("simhash pairs: identical docs at hamming 0") {
    val out = Dedup.simhashPairs(docs, "id", "text", maxHamming = 0)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2)).toSet
    assert(out.contains((1L, 2L)))
    assert(!out.contains((1L, 4L)))
  }

  test("rescoreJaccard restores exact similarity on a candidate set") {
    val cands = Dedup.minhashCandidatePairs(docs, "id", "text").select("id_a", "id_b")
    val out = Dedup.rescoreJaccard(docs, cands, "id", "text", minJaccard = 0.3)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 2L)) == 1.0)
    // near-dup 1-3: exact value matches ngramJaccardPairs' (4 of 10 shingles)
    if (out.contains((1L, 3L))) assert(out((1L, 3L)) == 0.4)
    // threshold filters: nothing below 0.3 survives
    assert(out.values.forall(_ >= 0.3))
  }

  test("rescore methods tolerate duplicate candidate pairs (jaccard ≤ 1)") {
    val dupCands = Seq((1L, 2L), (1L, 2L), (1L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.rescoreJaccard(docs, dupCands, "id", "text")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(j.size == 2 && j((1L, 2L)) == 1.0 && j((1L, 3L)) == 0.4)
    val e = Dedup.rescoreExact(docs, dupCands, "id", Seq("text"))
      .as[(Long, Long)].collect().toSeq
    assert(e == Seq((1L, 2L)))
  }

  test("rescoreExact keeps only identical-content candidate pairs") {
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.rescoreExact(docs, cands, "id", Seq("text"))
      .as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
  }

  test("spanStats counts corpus-duplicated shingles per doc, empty-safe") {
    val d = Seq(
      (1L, "a b c d e"),          // shingles: "a b c","b c d","c d e"
      (2L, "a b c x y"),          // shares "a b c" with doc 1
      (3L, "zz yy xx ww"),        // no shared shingles
      (4L, "")).toDF("id", "text")
    val out = Dedup.spanStats(d, "id", "text", shingleN = 3, minDf = 2)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((3L, 1L, 333L)))
    assert(out(2L) == ((3L, 1L, 333L)))
    assert(out(3L) == ((2L, 0L, 0L)))
    assert(out(4L) == ((0L, 0L, 0L)))
  }

  test("incrementalExact admits only novel content, first-in-batch wins") {
    val corpus = Seq((1L, "aa"), (2L, "bb")).toDF("id", "text")
    val batch = Seq(
      (10L, "aa"),   // already in corpus → dropped
      (12L, "cc"), (11L, "cc"),  // in-batch dup → smaller id wins
      (13L, "dd")).toDF("id", "text")
    val out = Dedup.incrementalExact(batch, corpus, Seq("text"), "id")
      .select("id").as[Long].collect().sorted.toSeq
    assert(out == Seq(11L, 13L))
  }

  test("admitNewByKey guard: over-limit increments fall back, same results") {
    val stored = Seq((1L, "aa"), (2L, "bb")).toDF("id", "k")
      .select($"k")
    val fresh = Seq((10L, "aa"), (11L, "cc"), (12L, "dd"), (13L, null))
      .toDF("id", "k")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").as[Long].collect().sorted.toSeq
    val expected = Seq(11L, 12L, 13L) // null key admits (no equi-match)
    // unguarded broadcast shape (the streaming default)
    assert(ids(Dedup.admitNewByKey(fresh, stored, "k")) == expected)
    // guarded, under the limit → broadcast shape
    assert(ids(Dedup.admitNewByKey(fresh, stored, "k",
      maxBroadcastKeys = 100L)) == expected)
    // guarded, OVER the limit (4 distinct keys > 2) → shuffled anti-join
    // fallback, bit-identical admission semantics
    assert(ids(Dedup.admitNewByKey(fresh, stored, "k",
      maxBroadcastKeys = 2L)) == expected)
    // incrementalExact threads the guard through
    val corpus = Seq((1L, "aa")).toDF("id", "text")
    val batch = Seq((10L, "aa"), (11L, "cc"), (12L, "cc")).toDF("id", "text")
    assert(ids(Dedup.incrementalExact(batch, corpus, Seq("text"), "id",
      maxBroadcastKeys = 1L)) == Seq(11L))
  }

  test("admitNewByKey admits null keys even when the stored side holds nulls") {
    val stored = Seq[String]("aa", null, null).toDF("k")
    val fresh = Seq[(Long, String)]((10L, "aa"), (11L, null), (12L, "bb"), (13L, null))
      .toDF("id", "k")
    val out = Dedup.admitNewByKey(fresh, stored, "k")
    assert(out.columns.toSeq == Seq("id", "k"))
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(11L, 12L, 13L))
  }

  test("admitNewByKey drops a key stored many times once, admits the rest once") {
    // stored duplicates spread over partitions: each hit is one key, and
    // no fresh row is duplicated or lost
    val stored = (Seq.fill(7)("aa") ++ Seq("bb", "bb")).toDF("k").repartition(3)
    val fresh = Seq((10L, "aa"), (11L, "bb"), (12L, "cc"), (13L, "dd")).toDF("id", "k")
    assert(Dedup.admitNewByKey(fresh, stored, "k").as[(Long, String)]
      .collect().sorted.toSeq == Seq((12L, "cc"), (13L, "dd")))
  }

  test("admitNewByKey on an all-hit replay admits nothing, and never re-reads stored") {
    val dir = tempDir("graft_admit_")
    val fresh = Seq((1L, "aa"), (2L, "bb"), (3L, "cc")).toDF("id", "k")
    fresh.select("k").write.parquet(s"$dir/stored")
    def stored = spark.read.parquet(s"$dir/stored")
    assert(Dedup.admitNewByKey(fresh, stored, "k").isEmpty)
    // the admitted frame reads only the pinned batch: appending its keys
    // to the stored side afterwards does not change what it admits
    val more = Seq((4L, "dd"), (5L, "ee")).toDF("id", "k")
    val admitted = Dedup.admitNewByKey(more, stored, "k")
    more.select("k").write.mode("append").parquet(s"$dir/stored")
    assert(admitted.select("id").as[Long].collect().sorted.toSeq == Seq(4L, 5L))
    assert(Dedup.admitNewByKey(more, stored, "k").isEmpty)
  }

  test("nearDedup keeps one representative per near-dup cluster, all singletons") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (10L, a), (11L, a),                       // identical pair
      (12L, a + " lambda"),                      // near-dup of the pair
      (20L, "one two three four five six seven eight nine ten"),
      (30L, "")).toDF("id", "text")              // empty doc survives alone
    val kept = Dedup.nearDedup(docs, "id", "text", minJaccard = 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(10L, 20L, 30L))
    // no near-dups at all → input unchanged
    val solo = Seq((1L, "unique one"), (2L, "entirely different two"))
      .toDF("id", "text")
    assert(Dedup.nearDedup(solo, "id", "text").count() == 2)
  }

  /** A corpus with planted near-dup clusters, as a parquet source. */
  private def nearDupParquet(): (String, Long) = {
    val dir = tempDir("graft_nd_scan_")
    val r = new scala.util.Random(11L)
    val rows = (0 until 60).flatMap { d =>
      val text = Seq.fill(30)(s"w${r.nextInt(5000)}").mkString(" ")
      val copies = if (d % 5 == 0) Seq(text, text + " tail") else Nil
      (text +: copies).zipWithIndex.map { case (t, c) => (d * 10L + c, t) }
    }
    rows.toDF("id", "text").repartition(3).write.parquet(s"$dir/docs")
    (s"$dir/docs", rows.size.toLong)
  }

  test("nearDedup reads its input once: task recordsRead of file scans equals the row count") {
    val (path, n) = nearDupParquet()
    // stages scanning the source carry a FileScanRDD; reads of checkpointed
    // blocks also count as input records, so only scan stages are summed
    val scanStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val readByStage = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name.contains("FileScanRDD")))
          scanStages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          readByStage.merge(e.stageId, e.taskMetrics.inputMetrics.recordsRead, _ + _)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val kept = Dedup.nearDedup(spark.read.parquet(path), "id", "text", minJaccard = 0.5)
        .select("id").as[Long].collect()
      // every planted copy folds into its original's cluster
      assert(kept.length == 60 && kept.forall(_ % 10 == 0))
      def scanned: Long = readByStage.asScala.collect {
        case (st, r) if scanStages.contains(st) => r.longValue
      }.sum
      // listener events arrive asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (scanned < n && System.currentTimeMillis() < deadline) Thread.sleep(25)
      Thread.sleep(200)
      assert(scanned == n, s"file scans read $scanned records for a $n-row source")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("nearDedup and the collect of its kept ids stay within their job count") {
    val (path, _) = nearDupParquet()
    val docs = spark.read.parquet(path) // its schema job runs before the count
    // job id → its last stage's name and RDD operator scopes, for the jobs
    // this case submits (tagged through a local property)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tag = java.util.UUID.randomUUID().toString
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.run") == tag)
          jobs.put(e.jobId, e.stageInfos.maxByOption(_.stageId).fold("?") { st =>
            s"${st.name}, ${st.numTasks} tasks: " +
              st.rddInfos.flatMap(_.scope.map(_.name)).distinct.mkString(" < ")
          })
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty("graft.spec.run", tag)
    val kept = try {
      val ids = Dedup.nearDedup(docs, "id", "text", minJaccard = 0.5)
        .select("id").as[Long].collect()
      val deadline = System.currentTimeMillis() + 10000
      while (!ended.containsAll(jobs.keySet()) &&
          System.currentTimeMillis() < deadline) Thread.sleep(25)
      Thread.sleep(200)
      ids
    } finally {
      spark.sparkContext.setLocalProperty("graft.spec.run", null)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(kept.length == 60 && kept.forall(_ % 10 == 0))
    val named = jobs.asScala.toSeq.sortBy(_._1).map { case (id, n) => s"$id: $n" }
    info(s"jobs: ${named.size}\n${named.mkString("\n")}")
    assert(named.nonEmpty && named.size <= 15,
      s"nearDedup ran ${named.size} jobs (bound 15):\n${named.mkString("\n")}")
  }

  test("near-index postings equal those of the pre-kernel signature composition") {
    import org.apache.spark.sql.functions._
    import graft.functions.{ShingleOracle, TextFunctions}
    val (path, _) = nearDupParquet()
    val docs = spark.read.parquet(path)
    val dir = tempDir("graft_nd_idx_")
    Dedup.buildNearIndex(docs, "id", "text", dir)
    // the stored layout, recomputed from the declarative compositions
    val sig = docs.select(col("id"),
      ShingleOracle.minhashSignature(col("text"), 3, 16).as("sig"))
    val buckets = sig.select(col("id"), posexplode(transform(sequence(lit(0), lit(3)), b =>
        xxhash64(array_join(transform(slice(col("sig"), b * lit(4) + 1, lit(4)),
          _.cast("string")), ",")))).as(Seq("band", "bucket")))
      .select("band", "bucket", "id").as[(Int, Long, Long)].collect().toSet
    assert(spark.read.parquet(s"$dir/buckets").as[(Int, Long, Long)].collect().toSet == buckets)
    val shingles = docs.select(col("id"),
        array_distinct(ShingleOracle.wordShingleHashes(col("text"), 3)).as("sh"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(spark.read.parquet(s"$dir/shingles").as[(Long, Seq[Long])].collect().toMap == shingles)
    // the stored file schemas are those the composition produced
    assert(spark.read.parquet(s"$dir/shingles").schema ==
      docs.select(col("id"), array_distinct(
        ShingleOracle.wordShingleHashes(col("text"), 3)).as("sh")).schema)
  }

  test("nearDedupEmbeddings keeps one representative per identical-vector cluster") {
    val v1 = Seq.fill(8)(0.5f); val v2 = (1 to 8).map(_.toFloat)
    val docs = Seq((1L, v1), (2L, v1), (3L, v1), (10L, v2), (11L, v2), (20L, (1 to 8).map(i => -i.toFloat)))
      .toDF("id", "vec")
    val kept = Dedup.nearDedupEmbeddings(docs, "id", "vec", dim = 8,
        threshold = 0.999, bitsPerTable = 4)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 10L, 20L))
  }

  test("nearDupComponents matches the composed candidates→rescore→components pipeline") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (10L, a), (11L, a), (12L, a + " lambda"),
      (20L, "one two three four five six seven eight nine ten"),
      (30L, "")).toDF("id", "text")
    val shared = Dedup.nearDupComponents(docs, "id", "text", minJaccard = 0.5)
      .as[(Long, Long)].collect().toMap
    val composed = Dedup.connectedComponents(
        Dedup.rescoreJaccard(docs,
          Dedup.minhashCandidatePairs(docs, "id", "text"),
          "id", "text", shingleN = 3, minJaccard = 0.5))
      .as[(Long, Long)].collect().toMap
    assert(shared == composed && shared == Map(10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("minhashDupPairs matches the two-stage candidates→rescore composition") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = Seq(
      (10L, a), (11L, a), (12L, a + " lambda"),
      (20L, "one two three four five six seven eight nine ten"),
      (30L, "")).toDF("id", "text")
    val shared = Dedup.minhashDupPairs(d, "id", "text", minJaccard = 0.5)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val twoStage = Dedup.rescoreJaccard(d,
        Dedup.minhashCandidatePairs(d, "id", "text"),
        "id", "text", shingleN = 3, minJaccard = 0.5)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(shared == twoStage && shared.contains((10L, 11L)) &&
      shared((10L, 11L)) == 1.0)
  }

  test("nearDedupIncremental classifies dup_corpus / dup_batch / admitted against a persisted index") {
    val dir = tempDir("graft_nearidx_")
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, a),
      (2L, "one two three four five six seven eight nine ten")).toDF("id", "text")
    Dedup.buildNearIndex(corpus, "id", "text", dir)
    val fresh = "qq1 qq2 qq3 qq4 qq5 qq6"
    val batch = Seq(
      (10L, a),                 // verbatim corpus copy → dup_corpus
      (11L, a + " lambda"),     // near-dup of BOTH corpus doc 1 AND batch
                                // doc 10 — the within-batch component rule
                                // wins (10 is its min-id rep) → dup_batch
      (20L, fresh),             // novel → admitted
      (21L, fresh),             // in-batch copy of 20 → dup_batch
      (30L, "")).toDF("id", "text")  // empty shingle set matches nothing
    val out = Dedup.nearDedupIncremental(batch, "id", "text", dir, minJaccard = 0.5)
      .as[(Long, String)].collect().toMap
    assert(out == Map(10L -> "dup_corpus", 11L -> "dup_batch",
      20L -> "admitted", 21L -> "dup_batch", 30L -> "admitted"))
    // append today's admissions; tomorrow's identical batch is all dups
    val admitted = batch.join(
      Dedup.nearDedupIncremental(batch, "id", "text", dir, minJaccard = 0.5)
        .filter($"verdict" === "admitted").select("id"), Seq("id"), "left_semi")
      .filter($"id" === 20L)  // the empty doc can't be near-dup-matched; index the real one
    Dedup.appendNearIndex(admitted, "id", "text", dir)
    val day2 = Seq((40L, fresh)).toDF("id", "text")
    val v2 = Dedup.nearDedupIncremental(day2, "id", "text", dir, minJaccard = 0.5)
      .as[(Long, String)].collect().toMap
    assert(v2 == Map(40L -> "dup_corpus"))
  }

  test("compactNearIndex shrinks files and leaves classify results identical") {
    val dir = tempDir("graft_nearidx_cmp_")
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    def doc(i: Long) = (0 until 8).map(j => words(((i + j) % 10).toInt) + (i % 7)).mkString(" ")
    Dedup.buildNearIndex((1L to 40L).map(i => (i, doc(i))).toDF("id", "text"),
      "id", "text", dir)
    // simulate many daily appends → many small files
    (1 to 8).foreach { day =>
      Dedup.appendNearIndex(
        (1L to 5L).map(i => (1000L * day + i, doc(100L * day + i))).toDF("id", "text"),
        "id", "text", dir)
    }
    val batch = ((1L to 40L) ++ (5001L to 5005L)).map(i => (100000L + i, doc(i)))
      .toDF("id", "text")
    val before = Dedup.nearDedupIncremental(batch, "id", "text", dir, minJaccard = 0.5)
      .as[(Long, String)].collect().toMap
    def files(sub: String) =
      new java.io.File(s"$dir/$sub").listFiles().count(_.getName.endsWith(".parquet"))
    val nBefore = files("buckets")
    assert(nBefore >= 9)  // initial build + 8 appends
    Dedup.compactNearIndex(spark, dir)
    assert(files("buckets") < nBefore && files("shingles") < nBefore)
    // no temp/old remnants survive a clean compaction
    assert(!new java.io.File(s"$dir/.compact_buckets").exists())
    assert(!new java.io.File(s"$dir/.old_buckets").exists())
    val after = Dedup.nearDedupIncremental(batch, "id", "text", dir, minJaccard = 0.5)
      .as[(Long, String)].collect().toMap
    assert(after == before)
    // and the classified verdicts are non-trivial: corpus dups detected
    assert(before.values.toSet.contains("dup_corpus"))
    // a crash mid-swap (no buckets/, remnants present, stamp off) must
    // still read as "index state present" so ingest never bootstraps over it
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.ext.IndexFormat.invalidate(spark, dir)
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/buckets"),
      new org.apache.hadoop.fs.Path(s"$dir/.old_buckets"))
    assert(IndexFormat.dataExists(spark, dir))
    intercept[IllegalStateException] {
      Dedup.nearDedupIncremental(batch, "id", "text", dir, minJaccard = 0.5)
    }
  }

  test("nearDedupIncremental caps degenerate corpus buckets like the batch side") {
    val dir = tempDir("graft_nearidx_hot_")
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // 10 identical corpus docs share every (band,bucket) → a degenerate
    // stored bucket of 10 postings
    val corpus = (1L to 10L).map(i => (i, a)).toDF("id", "text")
    Dedup.buildNearIndex(corpus, "id", "text", dir)
    val batch = Seq((99L, a)).toDF("id", "text")
    // default cap (1000): the bucket survives → dup_corpus
    val uncapped = Dedup.nearDedupIncremental(batch, "id", "text", dir,
      minJaccard = 0.5).as[(Long, String)].collect().toMap
    assert(uncapped == Map(99L -> "dup_corpus"))
    // cap below the bucket size: the CORPUS side is dropped whole, no
    // cross-candidates survive — boundedness wins over recall, the same
    // convention as the within-batch df-cap
    val capped = Dedup.nearDedupIncremental(batch, "id", "text", dir,
      minJaccard = 0.5, maxBucketSize = 5).as[(Long, String)].collect().toMap
    assert(capped == Map(99L -> "admitted"))
  }

  test("nearDedupIncremental rejects an index built with different LSH parameters") {
    val dir = tempDir("graft_nearidx_drift_")
    val corpus = Seq((1L, "alpha beta gamma delta epsilon")).toDF("id", "text")
    Dedup.buildNearIndex(corpus, "id", "text", dir, bands = 2, rowsPerBand = 8)
    val batch = Seq((10L, "alpha beta gamma delta epsilon")).toDF("id", "text")
    val e = intercept[IllegalStateException] {
      Dedup.nearDedupIncremental(batch, "id", "text", dir, minJaccard = 0.5)
    }
    assert(e.getMessage.contains("format"))
  }

  test("embedding dup pairs find identical vectors across LSH tables") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.5f, -0.25f)),
      (2L, Seq(1.0f, 0.0f, 0.5f, -0.25f)),       // identical to 1
      (3L, Seq(-1.0f, 2.0f, 0.0f, 1.0f)))
      .toDF("id", "v")
    val out = Dedup.embeddingDupPairs(vecs, "id", "v", dim = 4, threshold = 0.999,
      bitsPerTable = 4, tables = 2)
      .as[(Long, Long, Double)].collect()
    assert(out.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    assert(out.head._3 > 0.999)
  }

  private val semVecs = Seq(
    (1L, Seq(1.0f, 0.0f, 0.5f, -0.25f)),
    (2L, Seq(1.0f, 0.0f, 0.5f, -0.25f)),       // identical to 1
    (3L, Seq(1.0f, 0.01f, 0.5f, -0.25f)),      // near dup of 1
    (4L, Seq(-1.0f, 2.0f, 0.0f, 1.0f)),
    (5L, Seq(0.0f, -1.0f, 2.0f, 0.5f)))
    .toDF("id", "v")

  test("semanticDupPairs finds identical vectors inside one shared cell") {
    // identical vectors score identical anchor cosines → always co-celled,
    // whatever the anchors are; (1,3) is near enough to pass 0.99 too when
    // co-celled, so assert on the guaranteed pair only
    val out = Dedup.semanticDupPairs(semVecs, "id", "v", k = 2, threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L)))
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("semanticDedup keeps the min id per duplicate cluster") {
    val kept = Dedup.semanticDedup(semVecs, "id", "v", k = 2, threshold = 0.99999)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L, 5L))
  }

  test("semanticDedup of an empty input returns it, with no pairs and its schema") {
    val empty = semVecs.limit(0)
    assert(Dedup.semanticDupPairs(empty, "id", "v", k = 1).count() == 0L)
    val kept = Dedup.semanticDedup(empty, "id", "v", k = 1)
    assert(kept.schema == semVecs.schema && kept.count() == 0L)
  }

  test("semantic cell assignment is identical across repartitionings") {
    import org.apache.spark.sql.functions.col
    // the partition must be a pure function of content (hash-ordered
    // anchors + argmax), never of physical layout — the property the
    // DuckDB oracle and any cross-run incremental use depend on
    val a = Dedup.semanticAnchors(semVecs, "id", "v", k = 3)
    val b = Dedup.semanticAnchors(semVecs.repartition(7), "id", "v", k = 3)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val asg = Dedup.assignSemanticCells(
        semVecs.select(col("id"), col("v")), "v", a)
      .select("id", "cell").as[(Long, Int)].collect().toMap
    val asg2 = Dedup.assignSemanticCells(
        semVecs.repartition(5).select(col("id"), col("v")), "v", a)
      .select("id", "cell").as[(Long, Int)].collect().toMap
    assert(asg == asg2)
    assert(asg(1L) == asg(2L)) // identical vectors always co-celled
  }

  test("semanticDupPairs maxCellSize drops oversized cells whole") {
    // 4 copies of one vector funnel into one cell; cap 3 must drop that
    // cell entirely (deterministic — a capped run stays oracle-able) while
    // leaving small cells alone
    val many = Seq.tabulate(4)(i => ((i + 1).toLong, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("id", "v")
      .unionByName(Seq((10L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
        (11L, Seq(0.0f, 1.0f, 0.0f, 0.0f))).toDF("id", "v"))
    val capped = Dedup.semanticDupPairs(many, "id", "v", k = 2,
        threshold = 0.999, maxCellSize = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!capped.exists(p => p._1 <= 4L))
    assert(capped.contains((10L, 11L)))
  }

  test("deleteFromNearIndex erases a document so its content re-admits") {
    val dir = tempDir("graft_neardel_")
    val a = "alpha beta gamma delta epsilon zeta"
    val b = "one two three four five six"
    Dedup.buildNearIndex(Seq((1L, a), (2L, b)).toDF("id", "text"),
      "id", "text", dir)
    def verdict(id: Long, t: String) = Dedup.nearDedupIncremental(
        Seq((id, t)).toDF("id", "text"), "id", "text", dir, minJaccard = 0.5)
      .as[(Long, String)].collect().toMap
    assert(verdict(10L, a) == Map(10L -> "dup_corpus"))
    Dedup.deleteFromNearIndex(spark, dir, Seq(1L).toDF("id"))
    // the erased content is novel again; the surviving document still dedups
    assert(verdict(11L, a) == Map(11L -> "admitted"))
    assert(verdict(12L, b) == Map(12L -> "dup_corpus"))
  }

  test("deleteFromSemanticIndex erases a vector so its direction re-admits") {
    val dir = tempDir("graft_semdel_")
    val va = Seq(1f, 0f, 0f, 0f); val vb = Seq(0f, 1f, 0f, 0f)
    Dedup.buildSemanticIndex(Seq((1L, va), (2L, vb)).toDF("id", "v"),
      "id", "v", dir, k = 2, dim = 4)
    def verdict(id: Long, v: Seq[Float]) = Dedup.semanticDedupIncremental(
        Seq((id, v)).toDF("id", "v"), "id", "v", dir,
        k = 2, dim = 4, threshold = 0.999)
      .as[(Long, String)].collect().toMap
    assert(verdict(10L, va) == Map(10L -> "dup_corpus"))
    Dedup.deleteFromSemanticIndex(spark, dir, Seq(1L).toDF("id"), k = 2, dim = 4)
    assert(verdict(11L, va) == Map(11L -> "admitted"))
    assert(verdict(12L, vb) == Map(12L -> "dup_corpus"))
  }

  test("join-based cell assignment matches the literal argmax exactly") {
    import org.apache.spark.sql.functions.col
    // the two assignment strategies (inlined cosine expressions vs
    // broadcast-join + max_by) must be interchangeable — same argmax, same
    // lowest-cell tie-break — or a large-k index would disagree with a
    // small-k one on identical data
    val a = Dedup.semanticAnchors(semVecs, "id", "v", 3)
    val byLit = Dedup.assignSemanticCells(
        semVecs.select(col("id"), col("v")), "v", a)
      .select("id", "cell").as[(Long, Int)].collect().toMap
    val byJoin = SemanticCellsOracle.assignCells(
        semVecs.select(col("id"), col("v")), a)
      .select("id", "cell").as[(Long, Int)].collect().toMap
    assert(byLit == byJoin)
    val byPart = Dedup.assignSemanticCellsPartition(
        semVecs.select(col("id"), col("v")), a)
      .select("id", "cell").as[(Long, Int)].collect().toMap
    assert(byLit == byPart)
  }

  test("partition-loop cell assignment ties break to the lowest cell like the argmax") {
    import org.apache.spark.sql.functions.col
    // two identical anchors force an exact cosine tie on every row; all
    // three strategies must pick the lower cell
    val docs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0.5f, 0.5f)), (3L, Seq(0f, 0f)))
      .toDF("id", "v")
    val a = Array(Array(0.6, 0.8), Array(0.6, 0.8))
    val byLit = Dedup.assignSemanticCells(docs, "v", a)
      .select("id", "cell").as[(Long, Int)].collect().toMap
    val byPart = Dedup.assignSemanticCellsPartition(docs.select(col("id"), col("v")), a)
      .select("id", "cell").as[(Long, Int)].collect().toMap
    assert(byLit == byPart)
    assert(byPart.values.toSet == Set(0))
  }

  private def sv(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  test("semanticDedupIncremental classifies dup_corpus / dup_batch / admitted against a cell index") {
    val dir = tempDir("graft_semidx_")
    val va = sv(1, 0, 0, 0); val vb = sv(0, 1, 0, 0); val vc = sv(0, 0, 1, 0)
    Dedup.buildSemanticIndex(Seq((1L, va), (10L, vb)).toDF("id", "v"),
      "id", "v", dir, k = 2, dim = 4)
    val batch = Seq((100L, va), (200L, vc), (201L, vc)).toDF("id", "v")
    val out = Dedup.semanticDedupIncremental(batch, "id", "v", dir,
        k = 2, dim = 4, threshold = 0.999)
      .as[(Long, String)].collect().toMap
    assert(out == Map(100L -> "dup_corpus", 200L -> "admitted", 201L -> "dup_batch"))
    // day 2: append the admitted vector, then a replay of its content must
    // classify dup_corpus in the SAME session (freshness: no cached frame
    // hides the appended files)
    Dedup.appendSemanticIndex(Seq((200L, vc)).toDF("id", "v"),
      "id", "v", dir, k = 2, dim = 4)
    val v2 = Dedup.semanticDedupIncremental(
        Seq((300L, vc)).toDF("id", "v"), "id", "v", dir,
        k = 2, dim = 4, threshold = 0.999)
      .as[(Long, String)].collect().toMap
    assert(v2 == Map(300L -> "dup_corpus"))
  }

  test("semanticDedupIncremental rejects an index built with different k or dim") {
    val dir = tempDir("graft_semfmt_")
    Dedup.buildSemanticIndex(
      Seq((1L, sv(1, 0, 0, 0)), (2L, sv(0, 1, 0, 0))).toDF("id", "v"),
      "id", "v", dir, k = 2, dim = 4)
    val batch = Seq((9L, sv(0, 0, 1, 0))).toDF("id", "v")
    intercept[IllegalStateException] {
      Dedup.semanticDedupIncremental(batch, "id", "v", dir, k = 1, dim = 4)
    }
    intercept[IllegalStateException] {
      Dedup.semanticDedupIncremental(batch, "id", "v", dir, k = 2, dim = 8)
    }
  }

  test("compactSemanticIndex shrinks vectors files and preserves classify results") {
    val dir = tempDir("graft_semcompact_")
    val va = sv(1, 0, 0, 0); val vb = sv(0, 1, 0, 0)
    Dedup.buildSemanticIndex(Seq((1L, va), (2L, vb)).toDF("id", "v"),
      "id", "v", dir, k = 2, dim = 4)
    // simulate daily appends: several small files in vectors/
    (1 to 5).foreach { d =>
      Dedup.appendSemanticIndex(
        Seq((100L * d, sv(0, 0, d.toDouble, 0))).toDF("id", "v"),
        "id", "v", dir, k = 2, dim = 4)
    }
    val batch = Seq((900L, va), (901L, sv(0, 0, 3, 0)), (902L, sv(0, 0, 0, 1)))
      .toDF("id", "v")
    def classify() = Dedup.semanticDedupIncremental(batch, "id", "v", dir,
        k = 2, dim = 4, threshold = 0.999)
      .as[(Long, String)].collect().toMap
    def nFiles = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/vectors")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .globStatus(new org.apache.hadoop.fs.Path(s"$dir/vectors/*.parquet")).length
    }
    val before = classify()
    val filesBefore = nFiles
    Dedup.compactSemanticIndex(spark, dir, k = 2, dim = 4)
    assert(nFiles < filesBefore)
    assert(classify() == before)
    assert(before == Map(900L -> "dup_corpus", 901L -> "dup_corpus", 902L -> "admitted"))
  }

  test("crossCorpusPairs reports every matching pair, n×m per shared content") {
    val left = Seq((1L, "alpha"), (2L, "alpha"), (3L, "beta"), (4L, "gamma"))
      .toDF("id", "text")
    val right = Seq((10L, "alpha"), (11L, "beta"), (12L, "beta"), (13L, "delta"))
      .toDF("id", "text")
    val got = Dedup.crossCorpusPairs(left, right, Seq("text"), "id", "id")
      .as[(Long, Long)].collect().toSet
    // alpha: 2 left × 1 right; beta: 1 × 2; gamma/delta unmatched
    assert(got == Set((1L, 10L), (2L, 10L), (3L, 11L), (3L, 12L)))
  }
}
