package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LmSpec extends SparkSpec {
  import spark.implicits._

  // mirror of Lm's milli-nat rounding, for hand-computed expectations
  private def milli(x: Double): Long = math.floor(math.log(x) * 1000 + 0.5).toLong

  private lazy val ref = Seq(
    (1L, "the cat sat"),
    (2L, "the cat ran"),
    (3L, "the dog sat")).toDF("id", "text")

  test("unigramModel: counts, smoothing, OOV row, deterministic vocab cap") {
    val m = Lm.unigramModel(ref, "text", maxVocab = 100)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toMap
    // N = 9 tokens, V = 5 distinct (the, cat, sat, ran, dog), denom = 15
    assert(m(Some("the")) == milli(4.0 / 15))
    assert(m(Some("cat")) == milli(3.0 / 15))
    assert(m(Some("ran")) == milli(2.0 / 15))
    assert(m(None) == milli(1.0 / 15)) // OOV
    assert(m.size == 6)

    // cap = 2 keeps the two most frequent (the:3, cat:2; dog/ran/sat tie at
    // 1 and lose); N stays 9, V becomes 2, denom = 12
    val capped = Lm.unigramModel(ref, "text", maxVocab = 2)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toMap
    assert(capped.keySet == Set(Some("the"), Some("cat"), None))
    assert(capped(Some("the")) == milli(4.0 / 12))
    assert(capped(None) == milli(1.0 / 12))
  }

  test("scoreUnigram: reference-like beats gibberish, OOV and empty docs total") {
    val m = Lm.unigramModel(ref, "text", maxVocab = 100)
    val docs = Seq(
      (10L, "the cat sat"),         // pure in-vocab
      (11L, "zq xv qq"),            // pure OOV
      (12L, ""),                    // empty
      (13L, "   ")                  // whitespace-only
    ).toDF("id", "text")
    val out = Lm.scoreUnigram(docs, "id", "text", m)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.size == 4)
    // the:3+1, cat:2+1, sat:2+1 over denom 15
    val exp10 = milli(4.0 / 15) + milli(3.0 / 15) + milli(3.0 / 15)
    assert(out(10L) == ((3L, exp10, math.floor(exp10 / 3.0 + 0.5).toLong)))
    assert(out(11L) == ((3L, 3 * milli(1.0 / 15), milli(1.0 / 15))))
    assert(out(12L) == ((0L, 0L, 0L)))
    assert(out(13L) == ((0L, 0L, 0L)))
    assert(out(10L)._3 > out(11L)._3)
  }

  test("scoreUnigram is partitioning-independent (integer sums)") {
    val m = Lm.unigramModel(ref, "text", maxVocab = 3)
    val docs = (1L to 40L).map(i => (i, s"the cat tok$i sat ran")).toDF("id", "text")
    val a = Lm.scoreUnigram(docs, "id", "text", m).orderBy("id").collect().toSeq
    val b = Lm.scoreUnigram(docs.repartition(7), "id", "text", m)
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("pplBuckets: per-language quartile labels, empty docs excluded") {
    // one language, scores spread by OOV fraction: doc i has i gibberish
    // tokens out of 4 → strictly decreasing avg log-prob
    val docs = (0 to 4).map { i =>
      val toks = Seq.fill(4 - i)("the") ++ (1 to i).map(j => s"zz$j")
      (i.toLong, toks.mkString(" "), "en")
    } :+ ((9L, "", "en"))
    val df = docs.toDF("id", "text", "lang")
    val m = Lm.unigramModel(ref, "text", maxVocab = 100)
    val out = Lm.pplBuckets(df, "id", "text", "lang", m)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // five scored docs; quartiles of a strictly decreasing sequence:
    // top doc (0 OOV) = head, bottom doc (4 OOV) = tail
    assert(!out.contains(9L))
    assert(out(0L) == "head")
    assert(out(4L) == "tail")
    assert(out(2L) == "middle")
    assert(out.size == 5)
  }

  test("dsirTopK ranks target-like documents first and skips empty docs") {
    // target slice speaks 'alpha beta'; background speaks 'noise'
    val docs = (
      (1 to 5).map(i => (i.toLong, "alpha beta alpha beta", true)) ++
      (6 to 25).map(i => (i.toLong, "noise junk filler words", false)) ++
      Seq((30L, "alpha beta alpha beta", false),   // target-LIKE, not in slice
          (31L, "noise junk filler words", false),
          (32L, "", false))
    ).toDF("id", "text", "tgt")
    val out = Dsl.topk(docs)
    // doc 30 scores as high as the in-slice target docs; 31 must rank below
    assert(out.take(6).map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L, 30L))
    assert(!out.map(_._1).contains(32L))
    assert(out.size == 8)
    // weights strictly ordered target-like > background (31 ties with the
    // other noise docs and loses the id tiebreak — compare against the
    // noise doc that did make the cut)
    val wm = out.toMap
    assert(wm(30L) > wm(6L))
  }

  private object Dsl {
    def topk(docs: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      Lm.dsirTopK(docs, "id", "text", col("tgt"), k = 8, buckets = 4096)
        .select("id", "weight_milli").as[(Long, Long)].collect().toSeq
  }

  test("dsirTopK is deterministic under repartitioning and respects k") {
    val docs = (1L to 50L)
      .map(i => (i, s"tok${i % 7} tok${i % 3} alpha", i % 5 == 0))
      .toDF("id", "text", "tgt")
    val a = Lm.dsirTopK(docs, "id", "text", col("tgt"), k = 10)
      .collect().map(_.toSeq).toSeq
    val b = Lm.dsirTopK(docs.repartition(9), "id", "text", col("tgt"), k = 10)
      .collect().map(_.toSeq).toSeq
    assert(a == b && a.size == 10)
  }

  test("dsirSampleK: deterministic Gumbel resampling, weight-dominated at margin") {
    // 20× token repetition makes the weight gap dwarf the Gumbel noise
    // (tens of nats vs noise σ≈1.28), so the sample = the target-like set
    val docs = (
      (1 to 4).map(i => (i.toLong, Seq.fill(20)("alpha beta").mkString(" "), true)) ++
      (11 to 30).map(i => (i.toLong, Seq.fill(20)("noise junk").mkString(" "), false)) ++
      Seq((40L, Seq.fill(20)("alpha beta").mkString(" "), false), (41L, "", false))
    ).toDF("id", "text", "tgt")
    val out = Lm.dsirSampleK(docs, "id", "text", col("tgt"), k = 5, buckets = 4096)
      .select("id").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 3L, 4L, 40L))
    val re = Lm.dsirSampleK(docs.repartition(9), "id", "text", col("tgt"),
      k = 5, buckets = 4096).select("id").as[Long].collect().toSet
    assert(re == out)
    // different salt = a fresh draw, but weights still dominate here
    val salted = Lm.dsirSampleK(docs, "id", "text", col("tgt"), k = 5,
      buckets = 4096, salt = "epoch2").select("id").as[Long].collect().toSet
    assert(salted == out)
  }

  test("nbTrainScore: learns token-label association, scores held-out only") {
    // 200 docs, perfectly separable: label ⇔ text says 'good'
    val docs = (1L to 200L).map { i =>
      val pos = i % 2 == 0
      (i, if (pos) "good clean prose here" else "bad spam garbage here", pos)
    }.toDF("id", "text", "lab")
    val out = Lm.nbTrainScore(docs, "id", "text", col("lab"),
      trainPerMille = 600, maxVocab = 100)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(3), r.getBoolean(4)))
    // held-out set only: ids whose hash bucket ≥ 600
    val heldIds = out.map(_._1).toSet
    assert(heldIds.nonEmpty && heldIds.size < 200)
    val trainCheck = docs.withColumn("b", Curation.hashBucket(col("id"), 1000))
      .filter(col("b") >= 600).select("id").as[Long].collect().toSet
    assert(heldIds == trainCheck)
    // perfectly separable vocabulary → every held-out doc classified right
    assert(out.forall { case (_, lab, _, pred) => lab == pred })
    // score sign agrees with prediction
    assert(out.forall { case (_, _, s, pred) => (s > 0) == pred })
  }

  test("persisted model round-trips losslessly and readers fail loudly") {
    val dir = tempDir("lm_model")
    val m = Lm.unigramModel(ref, "text", maxVocab = 100)
    Lm.writeModel(spark, m, dir)
    val docs = Seq((1L, "the cat sat"), (2L, "zq xv"), (3L, "")).toDF("id", "text")
    val a = Lm.scoreUnigram(docs, "id", "text", m).orderBy("id").collect().toSeq
    val b = Lm.scoreUnigram(docs, "id", "text", Lm.readModel(spark, dir))
      .orderBy("id").collect().toSeq
    assert(a == b)

    // unstamped (torn-write) model is rejected
    IndexFormat.invalidate(spark, dir)
    val e = intercept[IllegalStateException](Lm.readModel(spark, dir))
    assert(e.getMessage.contains("_meta") || e.getMessage.contains("format"))

    // foreign-format stamp is rejected too
    IndexFormat.stamp(spark, dir, "not-a-unigram-model")
    intercept[IllegalStateException](Lm.readModel(spark, dir))
  }

  test("nbTrainScore: held-out empty doc scores exactly the prior") {
    // force one empty doc into the held-out split by scanning candidate ids
    val base = (1L to 60L).map(i => (i, if (i % 2 == 0) "good" else "bad", i % 2 == 0))
    val heldOutId = (1000L to 2000L).find { i =>
      // replicate hashBucket on the driver via the engine itself
      val b = Seq(i).toDF("id").select(Curation.hashBucket(col("id"), 1000).as("b"))
        .as[Int].head()
      b >= 600
    }.get
    val docs = (base :+ ((heldOutId, "", true))).toDF("id", "text", "lab")
    val row = Lm.nbTrainScore(docs, "id", "text", col("lab"),
      trainPerMille = 600, maxVocab = 100)
      .filter(col("id") === heldOutId).collect().head
    assert(row.getLong(2) == 0L) // n_tokens
    // prior = milli((dp+1)/(dn+1)) over TRAIN docs — recompute from the split
    val (dp, dn) = {
      val t = docs.withColumn("b", Curation.hashBucket(col("id"), 1000))
        .filter(col("b") < 600).select("lab").as[Boolean].collect()
      (t.count(identity).toLong, t.count(!_).toLong)
    }
    assert(row.getLong(3) == milli((dp + 1.0) / (dn + 1.0)))
  }

  // ---- bigram LM with stupid backoff -----------------------------------

  test("bigramModel: unsmoothed conditionals over vocab pairs, capped cut") {
    val m = Lm.bigramModel(ref, "text", maxVocab = 100, maxBigrams = 100)
    val bi = m.bigram.collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // pairs: (the,cat)×2, (the,dog)×1, (cat,sat)×1, (cat,ran)×1, (dog,sat)×1
    // c(the)=3, c(cat)=2, c(dog)=1
    assert(bi(("the", "cat")) == milli(2.0 / 3))
    assert(bi(("the", "dog")) == milli(1.0 / 3))
    assert(bi(("cat", "sat")) == milli(1.0 / 2))
    assert(bi(("dog", "sat")) == milli(1.0 / 1))
    assert(bi.size == 5)
    // the cap keeps the most frequent pairs, ties by the pair string:
    // top-2 = (the,cat) c=2, then c=1 ties sorted → (cat,ran)
    val capped = Lm.bigramModel(ref, "text", maxVocab = 100, maxBigrams = 2)
      .bigram.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped == Set(("the", "cat"), ("cat", "ran")))
  }

  test("scoreBigram: first token unigram, bigram hits, backoff for novel pairs") {
    val m = Lm.bigramModel(ref, "text", maxVocab = 100, maxBigrams = 100)
    val uni = m.unigram.collect()
      .map(r => (Option(r.getString(0)), r.getLong(1))).toMap
    val docs = Seq(
      (10L, "the cat sat"),   // bigram hits all the way
      (11L, "sat the"),       // (sat,the) never seen → backoff
      (12L, "")).toDF("id", "text")
    val got = Lm.scoreBigram(docs, "id", "text", m).orderBy("id")
      .select("id", "n_tokens", "sum_lp_milli").as[(Long, Long, Long)]
      .collect().toSeq
    val expect10 = uni(Some("the")) + milli(2.0 / 3) + milli(1.0 / 2)
    val expect11 = uni(Some("sat")) + (Lm.BackoffMilli + uni(Some("the")))
    assert(got == Seq((10L, 3L, expect10), (11L, 2L, expect11), (12L, 0L, 0L)))
  }

  test("scoreBigram is partitioning-independent (integer sums)") {
    val m = Lm.bigramModel(ref, "text", maxVocab = 100, maxBigrams = 100)
    val docs = (1L to 40L).map(i => (i, s"the cat sat ran x$i the dog")).toDF("id", "text")
    val a = Lm.scoreBigram(docs.repartition(1), "id", "text", m)
      .orderBy("id").collect().toSeq
    val b = Lm.scoreBigram(docs.repartition(13), "id", "text", m)
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("persisted bigram model round-trips; torn/foreign stamps rejected") {
    val dir = tempDir("lm_bigram")
    val m = Lm.bigramModel(ref, "text", maxVocab = 100, maxBigrams = 100)
    Lm.writeBigramModel(spark, m, dir)
    val docs = Seq((1L, "the cat sat"), (2L, "sat the"), (3L, "")).toDF("id", "text")
    val a = Lm.scoreBigram(docs, "id", "text", m).orderBy("id").collect().toSeq
    val b = Lm.scoreBigram(docs, "id", "text", Lm.readBigramModel(spark, dir))
      .orderBy("id").collect().toSeq
    assert(a == b)
    IndexFormat.invalidate(spark, dir)
    intercept[IllegalStateException](Lm.readBigramModel(spark, dir))
    IndexFormat.stamp(spark, dir, "unigram-lm-v1")
    intercept[IllegalStateException](Lm.readBigramModel(spark, dir))
  }
}
