package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rows = (1L to 1000L).map(i => (i, s"src${i % 4}")).toDF("id", "src")

  test("hashBucket is deterministic, uniform-ish, and salt-sensitive") {
    val b = rows.select(Curation.hashBucket(col("id"), 1000, "s1").as("b"))
      .as[Int].collect()
    val b2 = rows.select(Curation.hashBucket(col("id"), 1000, "s1").as("b"))
      .as[Int].collect()
    val bOther = rows.select(Curation.hashBucket(col("id"), 1000, "s2").as("b"))
      .as[Int].collect()
    assert(b.toSeq == b2.toSeq)                       // deterministic
    assert(b.toSeq != bOther.toSeq)                   // salt changes the draw
    assert(b.forall(x => x >= 0 && x < 1000))
    val inLowTenth = b.count(_ < 100)
    assert(inLowTenth > 60 && inLowTenth < 140)       // ~10% ± noise
  }

  test("shuffleByHash is a deterministic global permutation in read order") {
    val out = Curation.shuffleByHash(rows, "id", numPartitions = 4)
    val keys = out.select("shuffle_key").as[String].collect().toSeq
    // collect() walks partitions in range order → the sequence must be the
    // globally-sorted md5 ordering, not just sorted-within-partition
    assert(keys == keys.sorted)
    assert(out.rdd.getNumPartitions == 4)
    // permutation: all 1000 rows survive, order is reproducible, and a new
    // salt is a different epoch order
    val ids = out.select("id").as[Long].collect().toSeq
    assert(ids.sorted == (1L to 1000L))
    val ids2 = Curation.shuffleByHash(rows, "id", numPartitions = 4)
      .select("id").as[Long].collect().toSeq
    assert(ids == ids2)
    val epoch2 = Curation.shuffleByHash(rows, "id", salt = "epoch2", numPartitions = 4)
      .select("id").as[Long].collect().toSeq
    assert(ids != epoch2)
  }

  test("sampleByHash keeps a stable subset; stability under corpus growth") {
    val s1 = Curation.sampleByHash(rows, "id", 200, "s1").select("id").as[Long].collect().toSet
    val grown = (1L to 2000L).map(i => (i, "x")).toDF("id", "src")
    val s2 = Curation.sampleByHash(grown, "id", 200, "s1").select("id").as[Long].collect().toSet
    assert(s1.subsetOf(s2))                           // old rows keep their fate
    assert(s1 == s2.filter(_ <= 1000L))
  }

  test("splitByHash produces disjoint covering splits at ~800/100/100") {
    val out = Curation.splitByHash(rows, "id").groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(out.values.sum == 1000L)
    assert(out("train") > 700 && out("train") < 900)
    assert(out("val") > 50 && out("val") < 160)
    assert(out("test") > 50 && out("test") < 160)
  }

  test("mixtureByHash applies per-stratum rates with a default") {
    val out = Curation.mixtureByHash(rows, "id", "src",
      Map("src0" -> 1000, "src1" -> 0), defaultPerMille = 500)
    val byS = out.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(byS("src0") == 250L)                       // keep-all
    assert(!byS.contains("src1"))                     // drop-all
    assert(byS("src2") > 80 && byS("src2") < 170)     // ~50%
  }

  test("stratifiedFixedN keeps exactly n per stratum, deterministically") {
    val out = Curation.stratifiedFixedN(rows, "id", "src", n = 10)
    val byS = out.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(byS.values.toSet == Set(10L))
    val again = Curation.stratifiedFixedN(rows, "id", "src", n = 10)
      .select("id").as[Long].collect().toSet
    assert(again == out.select("id").as[Long].collect().toSet)
  }

  test("packSequences: bins respect the token budget boundary math") {
    val docs = (1L to 100L).map(i => (i, 10L + (i % 7))).toDF("id", "n_tok")
    val out = Curation.packSequences(docs, "id", "n_tok", maxTokensPerBin = 100,
      shards = 4)
      .select("id", "n_tok", "shard", "bin", "bin_offset")
      .as[(Long, Long, Int, Long, Long)].collect()
    assert(out.length == 100)
    // per shard: bins are non-decreasing in id order and offset = cum % budget
    out.groupBy(_._3).foreach { case (_, docsInShard) =>
      val sorted = docsInShard.sortBy(_._1)
      var cum = 0L
      sorted.foreach { case (_, n, _, bin, off) =>
        assert(bin == cum / 100, s"bin mismatch at cum=$cum")
        assert(off == cum % 100)
        cum += n
      }
    }
    // every document assigned exactly once
    assert(out.map(_._1).toSet.size == 100)
  }

  test("compositeKey never collides across field boundaries") {
    val df = Seq(("ab", "c"), ("a", "bc"), ("x", null), (null, "x"))
      .toDF("a", "b")
    val keys = df.select(Curation.compositeKey(col("a"), col("b")).as("k"))
      .as[String].collect()
    assert(keys.distinct.length == 4)
    // and it drives split/sample like any scalar key
    val split = Curation.splitByHash(
      df.withColumn("k", Curation.compositeKey(col("a"), col("b"))), "k")
    assert(split.count() == 4)
  }

  test("upsampleByHash: whole copies + hash-gated fractional copy") {
    val df = (1L to 1000L).toDF("id")
    val up = Curation.upsampleByHash(df, "id", ratePerMille = 2500)
    val perId = up.groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(perId.values.forall(c => c == 2L || c == 3L))
    val total = perId.values.sum
    assert(total > 2300 && total < 2700)            // ≈ 2.5×
    // sub-1× rate: some keys vanish entirely, none duplicated
    val down = Curation.upsampleByHash(df, "id", ratePerMille = 400)
    val dn = down.groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(dn.values.forall(_ == 1L))
    assert(dn.size > 300 && dn.size < 500)
    // and it matches sampleByHash exactly (same hash, same salt)
    val sampled = Curation.sampleByHash(df, "id", 400).select("id")
      .as[Long].collect().toSet
    assert(dn.keySet == sampled)
  }

  test("negativeSampleDense: n reproducible negatives per query, never self") {
    val q = (1L to 5L).toDF("vec_id")
    val negs = Curation.negativeSampleDense(q, "vec_id", maxId = 500, n = 8)
      .as[(Long, Long)].collect()
    assert(negs.forall { case (qid, nid) => nid >= 1 && nid <= 500 && nid != qid })
    val perQ = negs.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perQ.values.forall(c => c == 8 || c == 7))   // self-collisions dropped
    val again = Curation.negativeSampleDense(q, "vec_id", maxId = 500, n = 8)
      .as[(Long, Long)].collect()
    assert(negs.toSet == again.toSet)
  }

  test("chunkByTokens: overlap windows cover all tokens; empty docs vanish") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),  // 10 tokens
      (2L, "a b"),                                     // < one chunk
      (3L, "")).toDF("id", "text")
    val out = Curation.chunkByTokens(docs, "id", "text",
      chunkTokens = 4, overlapTokens = 1)              // step 3
      .as[(Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    // doc 1: starts 0,3,6,9 → 4 chunks; last is the single trailing token
    val d1 = out.filter(_._1 == 1L).map(_._3)
    assert(d1.toSeq == Seq("w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10", "w10"))
    assert(out.filter(_._1 == 2L).map(_._3).toSeq == Seq("a b"))
    assert(!out.exists(_._1 == 3L))
    // consecutive chunks share exactly the overlap token
    assert(d1(0).split(" ").last == d1(1).split(" ").head)
  }

  test("topQuantileByGroup keeps each stratum's best half by score") {
    val df = (1L to 100L).map(i => (i, s"s${i % 2}", i % 50)).toDF("id", "src", "score")
    val out = Curation.topQuantileByGroup(df, "src", "score", "id", 0.5)
    val byS = out.groupBy("src").count().as[(String, Long)].collect().toMap
    // 50 rows per stratum → percent_rank <= 0.5 keeps ranks 1..26 (pr = (r-1)/49)
    assert(byS.values.forall(n => n >= 25 && n <= 27))
    // kept scores dominate dropped scores within each stratum
    val kept = out.filter($"src" === "s0").agg(min("score")).as[Long].head()
    assert(kept >= 24)
  }

  test("capPerStratum keeps each stratum's top-N by score") {
    val df = (1L to 100L).map(i => (i, s"s${i % 2}", i)).toDF("id", "src", "score")
    val out = Curation.capPerStratum(df, "src", "score", "id", cap = 10)
    assert(out.count() == 20)
    // s0 holds even ids (scores 2..100): its top 10 are 82..100; s1 81..99
    val minKept = out.groupBy("src").agg(min("score"))
      .as[(String, Long)].collect().toMap
    assert(minKept("s0") == 82 && minKept("s1") == 81)
    // a stratum smaller than the cap survives whole
    val tiny = Seq((1L, "only", 5L), (2L, "only", 3L)).toDF("id", "src", "score")
    assert(Curation.capPerStratum(tiny, "src", "score", "id", cap = 10).count() == 2)
  }

  test("sampleByWeight keeps rows according to their own weight") {
    val df = (1L to 1000L).map(i =>
      (i, if (i <= 300) 0L else if (i <= 600) 1000L else 500L))
      .toDF("id", "w")
    val out = Curation.sampleByWeight(df, "id", $"w").as[(Long, Long)].collect()
    // weight 0 → never kept; weight 1000 → always kept
    assert(!out.exists(_._1 <= 300))
    assert(out.count(r => r._1 > 300 && r._1 <= 600) == 300)
    // weight 500 → roughly half of the 400 rows (hash-uniform ±10%)
    val half = out.count(_._1 > 600)
    assert(half > 150 && half < 250, s"kept $half of 400 at weight 500")
    // deterministic: same salt → identical sample
    val again = Curation.sampleByWeight(df, "id", $"w").as[(Long, Long)].collect()
    assert(out.toSeq.sorted == again.toSeq.sorted)
  }

  test("sampleToTokenBudget fills each stratum to its budget, prefix-strict") {
    val df = (1L to 100L).map(i => (i, if (i <= 60) "en" else "code", 10L))
      .toDF("id", "lang", "toks")
    val out = Curation.sampleToTokenBudget(df, "id", "lang", "toks",
      budgets = Map("en" -> 250L, "code" -> 95L), salt = "t")
      .as[(Long, String, Long)].collect()
    val byLang = out.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // en: 25 docs × 10 toks = exactly 250; code: 9 docs = 90 ≤ 95 (the 10th
    // would overflow to 100 and is dropped along with everything after)
    assert(byLang == Map("en" -> 250L, "code" -> 90L))
    // deterministic: same salt reproduces the same document set
    val again = Curation.sampleToTokenBudget(df, "id", "lang", "toks",
      budgets = Map("en" -> 250L, "code" -> 95L), salt = "t")
      .as[(Long, String, Long)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // unlisted strata with the default 0 budget vanish entirely
    val only = Curation.sampleToTokenBudget(df, "id", "lang", "toks",
      budgets = Map("en" -> 250L), salt = "t")
    assert(only.filter($"lang" === "code").count() == 0)
  }

  test("sampleToTokenBudget with checkUniqueKeys fails fast on duplicate keys") {
    val dup = Seq((1L, "en", 10L), (2L, "en", 10L), (2L, "en", 7L))
      .toDF("id", "lang", "toks")
    val ex = intercept[IllegalArgumentException] {
      Curation.sampleToTokenBudget(dup, "id", "lang", "toks",
        budgets = Map("en" -> 100L), checkUniqueKeys = true)
    }
    assert(ex.getMessage.contains("'2'") &&
      ex.getMessage.contains("nondeterministic"), ex.getMessage)
    // unique keys pass the guard and produce the same result as unguarded
    val uniq = Seq((1L, "en", 10L), (2L, "en", 10L), (3L, "en", 7L))
      .toDF("id", "lang", "toks")
    val guarded = Curation.sampleToTokenBudget(uniq, "id", "lang", "toks",
      budgets = Map("en" -> 20L), checkUniqueKeys = true)
      .select("id").as[Long].collect().sorted.toSeq
    val plain = Curation.sampleToTokenBudget(uniq, "id", "lang", "toks",
      budgets = Map("en" -> 20L))
      .select("id").as[Long].collect().sorted.toSeq
    assert(guarded == plain)
  }

  test("null keys: a single null is deterministic (stratum head); duplicates rejected") {
    // hashBucket(NULL) is null → NULLS FIRST: one null-key row is admitted
    // deterministically at the head of its stratum's prefix
    val oneNull = Seq((Some(1L), "en", 10L), (None, "en", 10L), (Some(2L), "en", 7L))
      .toDF("id", "lang", "toks")
    val out = Curation.sampleToTokenBudget(oneNull, "id", "lang", "toks",
      budgets = Map("en" -> 100L), checkUniqueKeys = true)
      .select("id").as[Option[Long]].collect().toSet
    assert(out == Set(None, Some(1L), Some(2L)))
    // several nulls TIE at that position, so which survives a mid-null
    // budget cut is arbitrary — the guard must flag them as duplicates
    val twoNulls = Seq((Some(1L), "en", 10L), (None, "en", 10L), (None, "en", 7L))
      .toDF("id", "lang", "toks")
    val ex = intercept[IllegalArgumentException] {
      Curation.sampleToTokenBudget(twoNulls, "id", "lang", "toks",
        budgets = Map("en" -> 100L), checkUniqueKeys = true)
    }
    assert(ex.getMessage.contains("NULL") &&
      ex.getMessage.contains("nondeterministic"), ex.getMessage)
  }

  test("packExamples concatenates each bin's docs in offset order") {
    // one shard → deterministic: docs pack by id order, 10 tokens each,
    // 25-token bins → bins hold starts at cum 0,10,20 | 30,40 | 50...
    val df = (1L to 6L).map(i => (i, s"doc$i", 10L)).toDF("id", "text", "toks")
    val out = Curation.packExamples(df, "id", "text", "toks",
        maxTokensPerBin = 25, shards = 1)
      .orderBy("bin").as[(Int, Long, Long, Long, String)].collect().toSeq
    assert(out.map(r => (r._2, r._3, r._4, r._5)) == Seq(
      (0L, 3L, 30L, "doc1 doc2 doc3"),
      (1L, 2L, 20L, "doc4 doc5"),
      (2L, 1L, 10L, "doc6")))
  }

  test("tokenStats reports per-stratum docs/tokens/mean with null tokens as 0") {
    val df = Seq(
      ("en", Some(10L)), ("en", Some(20L)), ("en", None),
      ("code", Some(7L))).toDF("lang", "toks")
    val out = Curation.tokenStats(df, "lang", "toks")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(("code", 1L, 7L, 7L), ("en", 3L, 30L, 10L)))
  }

  test("sampleToTokenBudget admits null token counts budget-free, wherever they fall") {
    // a null-token row must behave the same whether it sorts first or
    // mid-stratum (the old null-propagating cumsum dropped a stratum-LEADING
    // null but admitted a mid-stratum one for free)
    val df = Seq(
      (1L, "en", Some(10L)), (2L, "en", None), (3L, "en", Some(10L)),
      (4L, "en", None), (5L, "en", Some(10L))).toDF("id", "lang", "toks")
    val out = Curation.sampleToTokenBudget(df, "id", "lang", "toks",
      budgets = Map("en" -> 30L), salt = "t")
      .select("id").as[Long].collect().sorted.toSeq
    // all 30 budget tokens fit and nulls cost nothing → every row kept,
    // including both null rows regardless of their hash-prefix position
    assert(out == Seq(1L, 2L, 3L, 4L, 5L))
    // tighter budget: non-null rows past the cut drop, nulls in the
    // admitted prefix stay
    val tight = Curation.sampleToTokenBudget(df, "id", "lang", "toks",
      budgets = Map("en" -> 20L), salt = "t")
    assert(tight.filter($"toks".isNotNull).count() == 2)
  }

  test("contaminationReport names the leaking pair with its overlap strength") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "totally clean unique content here")).toDF("id", "text")
    val eval = Seq(
      (100L, "zzz alpha beta gamma delta yyy"),   // 2 shared 3-grams with doc 1
      (101L, "unrelated eval text")).toDF("id", "text")
    val report = Curation.contaminationReport(train, eval, "id", "text")
      .as[(Long, Long, Long)].collect().toSeq
    // exactly one contaminated pair: train 1 × eval 100, sharing the
    // "alpha beta gamma" and "beta gamma delta" shingles
    assert(report == Seq((1L, 100L, 2L)))
    // and decontaminate agrees with the report's train side
    val kept = Curation.decontaminate(train, eval, "id", "text")
      .select("id").as[Long].collect().toSeq
    assert(kept == Seq(2L))
  }

  test("decontaminate drops overlapping train docs, keeps clean ones") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six"),
      (3L, "totally clean unique content here")).toDF("id", "text")
    val eval = Seq(
      (100L, "zzz alpha beta gamma yyy"),          // overlaps doc 1 (3-gram)
      (101L, "unrelated eval text")).toDF("id", "text")
    val out = Curation.decontaminate(train, eval, "id", "text", shingleN = 3)
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("decontaminate df-cap ignores boilerplate shingles") {
    val boiler = "click here to subscribe now"
    val train = (1L to 20L).map(i => (i, s"$boiler unique$i tail$i words$i"))
      .toDF("id", "text")
    val eval = Seq((100L, s"$boiler something else entirely")).toDF("id", "text")
    // boilerplate shingle df=20 > cap=10 → no contamination flagged
    val out = Curation.decontaminate(train, eval, "id", "text",
      shingleN = 3, maxDocFreq = 10)
    assert(out.count() == 20)
    // without the cap every train doc is flagged
    val out2 = Curation.decontaminate(train, eval, "id", "text",
      shingleN = 3, maxDocFreq = 100)
    assert(out2.count() == 0)
  }

  test("decontam index: build, classify, append visibility, pair report") {
    val dir = tempDir("graft_decontam_")
    val evalA = Seq((100L, "alpha beta gamma delta")).toDF("id", "text")
    val evalB = Seq((200L, "epsilon zeta eta theta")).toDF("id", "text")
    Curation.buildDecontamIndex(evalA, "id", "text", dir, shingleN = 3)
    val batch = Seq(
      (1L, "alpha beta gamma leaked from benchmark a"),
      (2L, "epsilon zeta eta leaked from benchmark b"),
      (3L, "totally clean original training document"))
      .toDF("id", "text")
    def surviving() = Curation.decontaminateIncremental(
        batch, "id", "text", dir, shingleN = 3)
      .select("id").as[Long].collect().toSet
    // only benchmark A is indexed: doc 1 drops, doc 2 survives
    assert(surviving() == Set(2L, 3L))
    // append benchmark B: the next classify in the SAME session must see it
    Curation.appendDecontamIndex(evalB, "id", "text", dir, shingleN = 3)
    assert(surviving() == Set(3L))
    // the audit names which benchmark leaked into which doc
    val report = Curation.contaminationReportIndexed(
        batch, "id", "text", dir, shingleN = 3)
      .select("train_id", "eval_id").as[(Long, Long)].collect().toSet
    assert(report == Set((1L, 100L), (2L, 200L)))
  }

  test("decontam index rejects shingle-width drift and missing stamp") {
    val dir = tempDir("graft_decontamfmt_")
    val eval = Seq((1L, "a b c d e")).toDF("id", "text")
    Curation.buildDecontamIndex(eval, "id", "text", dir, shingleN = 3)
    val batch = Seq((9L, "a b c d e")).toDF("id", "text")
    intercept[IllegalStateException] {
      Curation.decontaminateIncremental(batch, "id", "text", dir, shingleN = 2)
    }
    IndexFormat.invalidate(spark, dir)
    intercept[IllegalStateException] {
      Curation.decontaminateIncremental(batch, "id", "text", dir, shingleN = 3)
    }
  }

  test("deleteFromDecontamIndex retires a benchmark's shingles") {
    val dir = tempDir("graft_decontamdel_")
    Curation.buildDecontamIndex(
      Seq((100L, "alpha beta gamma delta")).toDF("id", "text"),
      "id", "text", dir, shingleN = 3)
    Curation.appendDecontamIndex(
      Seq((200L, "epsilon zeta eta theta")).toDF("id", "text"),
      "id", "text", dir, shingleN = 3)
    val batch = Seq((1L, "quotes alpha beta gamma here"),
      (2L, "quotes epsilon zeta eta here")).toDF("id", "text")
    def surviving() = Curation.decontaminateIncremental(
        batch, "id", "text", dir, shingleN = 3)
      .select("id").as[Long].collect().toSet
    assert(surviving() == Set.empty)
    // retire benchmark 100: only benchmark 200 still contaminates
    Curation.deleteFromDecontamIndex(spark, dir, Seq(100L).toDF("eval_id"))
    assert(surviving() == Set(1L))
  }

  test("compactDecontamIndex shrinks files and preserves classification") {
    val dir = tempDir("graft_decontamcomp_")
    Curation.buildDecontamIndex(
      Seq((1L, "alpha beta gamma delta")).toDF("id", "text"),
      "id", "text", dir, shingleN = 3)
    (2 to 6).foreach { i =>
      Curation.appendDecontamIndex(
        Seq((i.toLong, s"bench$i term$i word$i extra$i")).toDF("id", "text"),
        "id", "text", dir, shingleN = 3)
    }
    val batch = Seq((10L, "alpha beta gamma leaked"), (11L, "bench4 term4 word4 leaked"),
      (12L, "clean doc entirely new")).toDF("id", "text")
    def surviving() = Curation.decontaminateIncremental(
        batch, "id", "text", dir, shingleN = 3)
      .select("id").as[Long].collect().toSet
    def nFiles = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/shingles")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .globStatus(new org.apache.hadoop.fs.Path(s"$dir/shingles/*.parquet")).length
    }
    val before = surviving()
    assert(before == Set(12L))
    val filesBefore = nFiles
    Curation.compactDecontamIndex(spark, dir, shingleN = 3)
    assert(nFiles < filesBefore)
    assert(surviving() == before)
  }

  test("packSequencesFirstFitDec: valid FFD assignment, optimal on a known mix") {
    val df = Seq((1L, 5L), (2L, 5L), (3L, 4L), (4L, 4L), (5L, 2L))
      .toDF("id", "toks")
    val out = Curation.packSequencesFirstFitDec(df, "id", "toks",
      maxTokensPerBin = 10, shards = 1)
      .select("id", "toks", "bin").as[(Long, Long, Long)].collect().toSeq
    // every id packed exactly once
    assert(out.map(_._1).sorted == Seq(1L, 2L, 3L, 4L, 5L))
    // no bin over budget
    val sums = out.groupBy(_._3).view.mapValues(_.map(_._2).sum)
    assert(sums.values.forall(_ <= 10L))
    // FFD reaches the optimum here: total 20 tokens / budget 10 = 2 bins
    assert(out.map(_._3).distinct.size == 2)
  }

  test("packSequencesFirstFitDec: oversized docs bin alone; deterministic") {
    val df = (1L to 40L).map(i => (i, if (i == 7L) 25L else (i % 5) + 1L))
      .toDF("id", "toks")
    val a = Curation.packSequencesFirstFitDec(df, "id", "toks", 8, shards = 4)
      .select("id", "shard", "bin").as[(Long, Int, Long)].collect().toSet
    val b = Curation.packSequencesFirstFitDec(df.repartition(13), "id", "toks",
      8, shards = 4).select("id", "shard", "bin").as[(Long, Int, Long)]
      .collect().toSet
    assert(a == b)
    // the oversized doc shares its bin with nobody
    val big = a.find(_._1 == 7L).get
    assert(a.count(r => r._2 == big._2 && r._3 == big._3) == 1)
  }

  test("chunkBySentences packs greedily without splitting sentences") {
    // sentence token counts: 3, 3, 3, 10, 2 — budget 6
    val doc = "one two three. four five six! seven eight nine? " +
      "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10. last two."
    val out = Curation.chunkBySentences(
      Seq((7L, doc)).toDF("id", "text"), "id", "text", maxTokens = 6)
      .orderBy("chunk_idx")
      .select("chunk_idx", "chunk").as[(Long, String)].collect().toSeq
    assert(out == Seq(
      (0L, "one two three. four five six!"),
      (1L, "seven eight nine?"),
      (2L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10."),  // oversized sentence alone
      (3L, "last two.")))
  }

  test("chunkBySentences: chunks reconstruct the document; empty doc yields none") {
    val doc = "a b. c d e. f! g h i j. k."
    val chunks = Curation.chunkBySentences(
      Seq((1L, doc)).toDF("id", "text"), "id", "text", maxTokens = 4)
      .orderBy("chunk_idx").select("chunk").as[String].collect().toSeq
    assert(chunks.mkString(" ") == doc)
    assert(Curation.chunkBySentences(
      Seq((1L, "   ")).toDF("id", "text"), "id", "text", maxTokens = 4)
      .count() == 0)
  }
}
