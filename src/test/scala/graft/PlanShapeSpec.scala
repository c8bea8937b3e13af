package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Plan-shape regression tests: the scale properties the engine promises
  * (pushdown, zero-shuffle filters, broadcast dims, partition pruning)
  * asserted on the optimized/physical plans so a refactor can't silently
  * regress them.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters and projections push into the parquet scan") {
    val d = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter($"l_quantity" > 10).select("l_orderkey", "l_quantity")
    val scan = d.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity"),
      s"columns not pruned:\n$scan")
  }

  test("hash-keyed curation sample is a scan-side filter — zero exchanges") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val plan = physical(graft.ext.Curation.sampleByHash(d, "doc_id", 100))
    assert(!plan.contains("Exchange"), s"sample introduced a shuffle:\n$plan")
  }

  test("fact-to-dim join broadcasts the small side") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val n = spark.read.parquet(s"$sf/nation.parquet")
    val joined = li.join(n, li("l_suppkey") % 25 === n("n_nationkey"))
    assert(physical(joined).contains("BroadcastHashJoin"),
      "dim join did not broadcast")
  }

  test("IVF index layout prunes partitions on the probe filter") {
    val dir = tempDir("graft_ivfplan_")
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = graft.ext.Ivf.build(e, "vec_id", "embedding", nLists = 4, maxIter = 2)
    graft.ext.Ivf.writeIndex(idx, s"$dir/ivf")
    val pruned = spark.read.parquet(s"$dir/ivf/assigned").filter($"list_id".isin(0, 1))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    // partition filters at the directory level — the probe reads 2/4 cells
    assert(scan.contains("PartitionFilters") && scan.contains("list_id"),
      s"probe filter not a partition filter:\n$scan")
  }

  test("day-partitioned events layout prunes the day-range scan") {
    val dir = tempDir("graft_partplan_")
    val ev = spark.range(100).select(
      ($"id" % 7).as("day"), ($"id" % 3).cast("string").as("event_type"))
    graft.sources.Layout.writePartitioned(ev, s"$dir/by_day", "day")
    val pruned = spark.read.parquet(s"$dir/by_day").filter($"day".between(0, 2))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("day"),
      s"day-range filter not a partition filter:\n$scan")
  }

  test("same-bucket-count tables join with zero Exchange below the join") {
    val dir = tempDir("graft_bktplan_")
    val a = spark.range(100).select($"id".as("k"), ($"id" * 2).as("va"))
    val b = spark.range(50).select($"id".as("j"), ($"id" * 3).as("vb"))
    graft.sources.Layout.writeBucketed(a, "g_bkt_plan_a", s"$dir/a", 4, "k")
    graft.sources.Layout.writeBucketed(b, "g_bkt_plan_b", s"$dir/b", 4, "j")
    // broadcast would mask the property under test — force the merge join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("g_bkt_plan_a")
        .join(spark.table("g_bkt_plan_b"), $"k" === $"j")
      val plan = physical(joined)
      assert(plan.contains("SortMergeJoin"), s"expected SortMergeJoin:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("df-capped dedup plans contain no Window over the postings relation") {
    // the cap must be a partial-agg + broadcast anti-join (Dedup.dropHotKeys):
    // a count window partitioned by the shingle/bucket key funnels a hot
    // key's entire posting list into one task before filtering it
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val plans = Map(
      "minhash" -> graft.ext.Dedup.minhashCandidatePairs(d, "doc_id", "text"),
      "ngram" -> graft.ext.Dedup.ngramJaccardPairs(d, "doc_id", "text"),
      "winnow" -> graft.ext.Dedup.winnowPairs(d, "doc_id", "text"),
      "spanStats" -> graft.ext.Dedup.spanStats(d, "doc_id", "text"),
      "decontaminate" -> graft.ext.Curation.decontaminate(
        d, d.limit(5), "doc_id", "text"))
    plans.foreach { case (name, df) =>
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.isEmpty, s"$name still uses a Window:\n$windows")
      // spanStats keeps a shuffled semi-join by design: its df>=minDf set is
      // one row per *common* shingle — far too large to broadcast at minDf=2
      if (name != "spanStats")
        assert(physical(df).contains("BroadcastHashJoin"),
          s"$name hot-key cap is not a broadcast anti-join")
    }
  }

  test("native shingle kernels run inside whole-stage codegen") {
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
    import graft.functions.{MinHashSignature, ShingleHashes}
    // the declarative shingle compositions were CodegenFallback and pulled
    // their projection out of codegen; the kernels must stay in it — both
    // in a plain projection and in the MinHash candidate plan
    def codegenProjections(plan: SparkPlan) = plan.collect {
      case w: WholeStageCodegenExec =>
        w.child.collect { case p: ProjectExec => p.projectList }.flatten
    }.flatten
    def holds(plan: SparkPlan, cls: Class[_]): Boolean =
      codegenProjections(plan).exists(_.find(cls.isInstance).isDefined)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet")
      val plain = d.select(graft.ext.Dedup.minhashSignature(col("text")),
          array_distinct(graft.functions.TextFunctions.wordShingleHashes(col("text"), 3)))
        .queryExecution.executedPlan
      assert(holds(plain, classOf[MinHashSignature]) && holds(plain, classOf[ShingleHashes]),
        s"a kernel fell out of codegen:\n$plain")
      val pairs = graft.ext.Dedup.minhashCandidatePairs(d, "doc_id", "text")
        .queryExecution.executedPlan
      assert(holds(pairs, classOf[MinHashSignature]),
        s"the candidate plan's signature fell out of codegen:\n$pairs")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("semantic cell assignment is a pure codegen projection — zero exchanges") {
    // SemDeDup's scale contract: assigning 100 TB of embeddings to cells
    // must be a per-row argmax over broadcast-literal anchors (k native
    // cosine calls inside whole-stage codegen), never a join or shuffle —
    // the within-cell pair join downstream is the pipeline's ONLY exchange
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val anchors = graft.ext.Dedup.semanticAnchors(e, "id", "v", 4)
    val plan = physical(graft.ext.Dedup.assignSemanticCells(e, "v", anchors))
    assert(!plan.contains("Exchange"), s"cell assignment shuffles:\n$plan")
    // the `*(1)` prefix is executedPlan.toString's whole-stage-codegen
    // marker: the argmax projection must not fall back to interpreted eval
    assert(plan.contains("*(1) Project"),
      s"cell assignment fell out of codegen:\n$plan")
  }

  test("incremental near-dedup classify plan is window-free and broadcast-capped") {
    // the batch-vs-corpus path must keep its scale shape: batch postings
    // BROADCAST over stored corpus postings, and the r12 corpus-side
    // hot-bucket cap must plan like every other df-cap (partial agg +
    // broadcast anti-join), never a count window over the postings
    val dir = tempDir("graft_plan_nearidx_")
    val d = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    graft.ext.Dedup.buildNearIndex(d.limit(50), "doc_id", "text", dir)
    val out = graft.ext.Dedup.nearDedupIncremental(
      d.limit(20).withColumn("doc_id", org.apache.spark.sql.functions.col("doc_id") + 900000L),
      "doc_id", "text", dir, minJaccard = 0.5)
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"nearDedupIncremental plans a Window:\n$windows")
    assert(physical(out).contains("BroadcastHashJoin"),
      "nearDedupIncremental lost its broadcast joins")
  }

  test("no registered query plans a partition-less window (global-order funnel)") {
    // row_number().over(Window.orderBy(...)) with no partition spec routes
    // the WHOLE relation through one task — the single worst operator shape
    // at 100 TB. Exactly one query is allowed to carry it: the documented
    // parity-only xf_idkey over the 25-row nation (its scale companion is
    // xf_idkey_snowflake). Anyone registering another global-window query
    // fails here, by name.
    val allowed = Set("xf_idkey")
    // streaming keys run eagerly when built (runToMemoryComplete) and
    // return memory-table results whose plans carry no windows — building
    // them here would only burn minutes re-running the streaming tier the
    // oracle gate already covers, so they are skipped, not exempted.
    val skip = (k: String) => k.startsWith("stream_")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, fn) if !skip(name) =>
        val df = fn(spark, sf)
        val globalWindows = df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }
        name -> globalWindows.size
    }.filter { case (name, n) => n > 0 && !allowed(name) }
    assert(offenders.isEmpty,
      s"global-window funnels in registered queries: $offenders — use a " +
        "partitioned window, or idKeySnowflake for surrogate keys")
  }

  test("dhashNearPairs is an equi-join on band keys — never a cross join") {
    // the image near-dup tier's whole scale claim: candidates come from a
    // hash-partitionable (band, key) equi-join; an all-pairs Hamming
    // filter would plan a cartesian/BNLJ and die at corpus scale
    val hashes = spark.range(200).select($"id",
      xxhash64($"id").as("dhash"))
    val plan = physical(graft.ext.Media.dhashNearPairs(hashes, "id", "dhash"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"band join degenerated to all-pairs:\n$plan")
    assert(plan.contains("Join"), s"no join planned at all:\n$plan")
  }

  test("dhashDupIds broadcasts the batch bands — corpus never shuffles or crosses") {
    // the streaming image-dedup admission's scale contract: the bounded
    // micro-batch is band-exploded and BROADCAST; the corpus side pays a
    // scan-side band computation and meets it in a broadcast hash join —
    // classify cost stays flat as the signature table grows
    val corpus = spark.range(5000).select($"id", xxhash64($"id").as("dhash"))
    val batch = spark.range(10).select($"id", xxhash64($"id" + 7L).as("dhash"))
    val plan = physical(graft.ext.Media.dhashDupIds(
      batch, "id", "dhash", corpus, "dhash"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"admission degenerated to all-pairs:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"batch side not broadcast:\n$plan")
  }

  test("videoNearPairs is a capped equi-join on the frame hash — no window, never cross") {
    // video dedup's scale contract: pair evidence comes from an equi-join
    // on the 64-bit frame hash; the hot-hash df-cap must be a partial-agg
    // + broadcast anti-join (a count window would funnel the hottest
    // frame hash's whole posting list through one task), and nothing may
    // degenerate to a cartesian/BNLJ
    val frames = spark.range(500).select(($"id" / 5).cast("long").as("vid"),
      xxhash64($"id" % 40).as("dhash"))
    val d = graft.ext.Media.videoNearPairs(frames, "vid", "dhash")
    val windows = d.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"df-cap still uses a Window:\n$windows")
    val plan = physical(d)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"frame-hash join degenerated to all-pairs:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"hot-hash cap is not a broadcast anti-join:\n$plan")
  }

  test("exact-identity admission broadcasts both legs — stored hashes never shuffle") {
    // the continuous-ingest scale contract: a direct `fresh LEFT ANTI
    // stored` cannot broadcast its left side, so past the broadcast
    // threshold it sort-merge-joins — re-shuffling the whole persisted
    // hash column every micro-batch, forever. Both legs of
    // Dedup.admitNewByKey stay on the broadcast side: the batch keys are
    // broadcast into the stored scan (a BroadcastHashJoin LeftSemi, no
    // SortMergeJoin, even with auto-broadcast off), and the bounded hit
    // set comes back to the driver as a literal filter on the pinned
    // batch — no join and no exchange left in the returned plan
    val probes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        probes.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.listenerManager.register(listener)
    try {
      val corpus = spark.range(5000)
        .select($"id", ($"id" % 97).cast("string").as("text"))
      val batch = spark.range(30)
        .select(($"id" + 9000).as("id"), ($"id" + 50).cast("string").as("text"))
      val out = graft.ext.Dedup.incrementalExact(batch, corpus, Seq("text"), "id")
      val plan = physical(out)
      assert(!plan.contains("Join") && !plan.contains("Exchange"),
        s"the admitted frame re-joins or re-shuffles:\n$plan")
      // query-execution events arrive asynchronously
      def semi = probes.asScala.filter(_.contains("LeftSemi"))
      val deadline = System.currentTimeMillis() + 10000
      while (semi.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(25)
      assert(semi.size == 1, s"expected one stored-key probe, got:\n${probes.asScala.mkString("\n")}")
      assert(semi.head.contains("BroadcastHashJoin") && !semi.head.contains("SortMergeJoin"),
        s"stored hash column shuffles in the admission probe:\n${semi.head}")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("tokenStats aggregates with exactly one exchange (map-side combine)") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select($"lang", lit(1L).as("t"))
    val plan = physical(graft.ext.Curation.tokenStats(d, "lang", "t"))
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n$plan")
    assert(plan.split("Exchange", -1).length - 1 == 1,
      s"expected exactly one exchange:\n$plan")
  }

  test("duplicateSpans plans two data exchanges: a (hash,count) agg and one id shuffle") {
    // the span pipeline's scale contract: the occurrence count must be a
    // partial (map-side) aggregate — its exchange carries (hash, count)
    // pairs, never raw postings — and everything per-document (run-merge
    // window + span groupBy) must share ONE exchange on the id. A stray
    // repartition or a count window over the postings fails here.
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.ext.Spans.duplicateSpans(d, "doc_id", "text")
    val plan = physical(df)
    val dataExchanges = plan.split("\\bExchange hashpartitioning", -1).length - 1
    assert(dataExchanges == 2,
      s"expected exactly two hash exchanges (agg + id), got $dataExchanges:\n$plan")
    // string match (not a tree collect): AQE wraps the plan and hides
    // children from collect() until execution
    assert(plan.contains("partial_count"),
      s"occurrence count lost map-side combine:\n$plan")
  }

  test("decontaminateIncremental broadcasts the stored hashes — batch never pre-shuffles") {
    // the indexed decontam scale contract: the training batch (the 100 TB
    // side) must meet the stored eval hashes through a broadcast join —
    // contamination is decided map-side; only the df-cap agg and the
    // contaminated-id distinct may shuffle, and both are id/hash sized
    val dir = tempDir("graft_plan_decontam_")
    val d = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    graft.ext.Curation.buildDecontamIndex(d.limit(20), "doc_id", "text", dir)
    val out = graft.ext.Curation.decontaminateIncremental(
      d.limit(50), "doc_id", "text", dir)
    val plan = physical(out)
    assert(plan.contains("BroadcastHashJoin"),
      s"stored eval hashes are not broadcast:\n$plan")
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"decontaminateIncremental plans a Window:\n$windows")
  }

  test("LM scoring joins are all broadcast — the corpus never shuffles its text") {
    // the Lm tier's scale contract: the model (≤ maxVocab+1 rows) and the
    // per-language threshold table are the ONLY join sides, and both must
    // broadcast; a SortMergeJoin anywhere means a corpus-sized exchange on
    // the token or the language — the shape that dies at 100 TB
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val model = graft.ext.Lm.unigramModel(
      d.filter($"lang" === "en"), "text", maxVocab = 1024)
    val bigram = graft.ext.Lm.bigramModel(
      d.filter($"lang" === "en"), "text", maxVocab = 1024, maxBigrams = 1024)
    for (out <- Seq(
        graft.ext.Lm.scoreUnigram(d, "doc_id", "text", model),
        graft.ext.Lm.pplBuckets(d, "doc_id", "text", "lang", model),
        graft.ext.Lm.nbTrainScore(d, "doc_id", "text", $"lang" === "en"),
        graft.ext.Lm.scoreBigram(d, "doc_id", "text", bigram))) {
      val plan = physical(out)
      assert(plan.contains("BroadcastHashJoin"),
        s"LM scoring lost its broadcast join:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"LM scoring plans a sort-merge join (corpus-sized exchange):\n$plan")
    }
  }

  test("whole-stage codegen spans the text-analysis projection") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(graft.functions.TextFunctions.qualityPerMille($"text").as("q"))
    val hasCodegenStage = d.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasCodegenStage, s"text projection fell out of codegen:\n${physical(d)}")
  }

  test("URL canonicalization and the Gopher rule stay codegen'd, zero-shuffle") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", concat(lit("https://Site"), $"doc_id" % 7,
        lit(".Example.com:443/docs/"), $"doc_id",
        lit("/?utm_source=x&b=2&a=1#f")).as("url"), $"text")
    for (out <- Seq(
        d.select(graft.ext.Urls.normalizeUrl($"url").as("u"),
          graft.ext.Urls.urlDomain($"url").as("dm")),
        d.select(graft.functions.TextFunctions.gopherKeep($"text").as("k")))) {
      val plan = physical(out)
      assert(out.queryExecution.executedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]),
        s"projection fell out of codegen:\n$plan")
      assert(!plan.contains("Exchange"), s"pure projection plans a shuffle:\n$plan")
    }
  }

  test("C4 cleaning and page gate stay codegen'd, zero-shuffle") {
    import org.apache.spark.sql.functions._
    val T = graft.functions.TextFunctions
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", concat_ws("\n", $"text",
        lit("This line has six words total."),
        lit("Second safe line of plain words."),
        lit("Third closing line sits right here.")).as("text"))
    val out = d.select($"doc_id", T.c4CleanLines($"text").as("c"))
      .filter(T.c4Keep(col("c")))
    val plan = physical(out)
    assert(out.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]),
      s"C4 pass fell out of codegen:\n$plan")
    assert(!plan.contains("Exchange"), s"C4 pass plans a shuffle:\n$plan")
  }

  test("bloom probes are a pure projection; classify plans no shuffle") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val probesPlan = physical(
      d.select(graft.ext.Bloom.probes($"text", 7, 1L << 20).as("p")))
    assert(!probesPlan.contains("Exchange"),
      s"probe projection plans a shuffle:\n$probesPlan")
    // classify: scan → probes projection → per-partition bit test; the
    // ONLY acceptable plan is shuffle-free (the bitmap rides a broadcast
    // variable, not a join)
    val bits = graft.ext.Bloom.build(d.limit(50), "text", 7, 1L << 20)
    val flagged = graft.ext.Bloom.flagDuplicates(d, "text", bits, 7, 1L << 20)
    val plan = physical(flagged)
    assert(!plan.contains("Exchange"), s"bloom classify shuffles:\n$plan")
    assert(!plan.contains("Join"), s"bloom classify joins:\n$plan")
  }
}
