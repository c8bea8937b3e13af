package graft.ext

import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("trainMerges learns count-weighted merges with deterministic ties") {
    // words: "aa"×2, "ab"×1 → pairs (a,a):2, (a,b):1 → merge 1 = (a,a);
    // then only "ab"'s (a,b) remains → merge 2 = (a,b); then nothing
    val docs = Seq((1L, "aa aa ab")).toDF("id", "text")
    assert(Bpe.trainMerges(docs, "text", maxMerges = 10) ==
      Seq(("a", "a"), ("a", "b")))
    // maxMerges caps the sequence
    assert(Bpe.trainMerges(docs, "text", maxMerges = 1) == Seq(("a", "a")))
    // count ties break on the pair lexicographically: "ba"×1 + "bb"×1 →
    // (b,a):1 and (b,b):1 → (b,a) first
    val tied = Seq((1L, "ba bb")).toDF("id", "text")
    assert(Bpe.trainMerges(tied, "text", maxMerges = 1) == Seq(("b", "a")))
  }

  test("applyWord follows merge ranks leftmost-first") {
    val ranks = Seq(("a", "a"), ("a", "b")).zipWithIndex.toMap
    assert(Bpe.applyWord(ranks)("aa").toSeq == Seq("aa"))
    assert(Bpe.applyWord(ranks)("ab").toSeq == Seq("ab"))
    // aaab → (a,a) fuses leftmost → [aa,a,b]; (a,b) fuses → [aa,ab]
    assert(Bpe.applyWord(ranks)("aaab").toSeq == Seq("aa", "ab"))
    // unseen characters never merge
    assert(Bpe.applyWord(ranks)("xyz").toSeq == Seq("x", "y", "z"))
    assert(Bpe.applyWord(ranks)("").toSeq == Seq())
  }

  test("applyWord invariants: bounds and lossless concatenation") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog " +
      "pack my box with five dozen liquor jugs")).toDF("id", "text")
    val merges = Bpe.trainMerges(docs, "text", maxMerges = 30)
    val ranks = merges.zipWithIndex.toMap
    val words = Seq("the", "quick", "jumps", "unseen", "zzz", "a",
      "theextremelylongcompound")
    for (w <- words) {
      val toks = Bpe.applyWord(ranks)(w)
      assert(toks.mkString("") == w, s"lossy tokenization of '$w'")
      assert(toks.length >= 1 && toks.length <= w.length)
    }
  }

  test("tokenCounts: per-doc integer counts, empty docs kept, repartition-stable") {
    val train = Seq((1L, "aa aa ab")).toDF("id", "text")
    val merges = Bpe.trainMerges(train, "text", maxMerges = 10)
    val docs = Seq(
      (10L, "aa ab aaab"),   // 1 + 1 + 2 tokens
      (11L, "xyz"),          // unseen → 3 singles
      (12L, ""),
      (13L, "AA")            // lowercased → "aa" → 1
    ).toDF("id", "text")
    val out = Bpe.tokenCounts(docs, "id", "text", merges)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((10L, 3L, 4L), (11L, 1L, 3L), (12L, 0L, 0L), (13L, 1L, 1L)))
    val re = Bpe.tokenCounts(docs.repartition(7), "id", "text", merges)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(re == out)
  }

  test("merge table round-trips through the stamped artifact, fails loudly") {
    val dir = tempDir("bpe_model")
    val docs = Seq((1L, "banana bandana banana")).toDF("id", "text")
    val merges = Bpe.trainMerges(docs, "text", maxMerges = 8)
    Bpe.writeMerges(spark, merges, dir)
    assert(Bpe.readMerges(spark, dir) == merges)
    IndexFormat.invalidate(spark, dir)
    intercept[IllegalStateException](Bpe.readMerges(spark, dir))
    IndexFormat.stamp(spark, dir, "some-other-format")
    intercept[IllegalStateException](Bpe.readMerges(spark, dir))
  }

  test("parseMergesText reads the public merges.txt format, rank = order") {
    val lines = Seq("#version: 0.2", "t h", "th e", "", "i n", "in g")
    assert(Bpe.parseMergesText(lines) ==
      Seq(("t", "h"), ("th", "e"), ("i", "n"), ("in", "g")))
    // malformed lines fail loudly with the line number, never skip
    val bad = intercept[IllegalArgumentException](
      Bpe.parseMergesText(Seq("t h", "three part line")))
    assert(bad.getMessage.contains("line 2"))
    intercept[IllegalArgumentException](
      Bpe.parseMergesText(Seq("t h", " x"))) // empty left field
    // #version only tolerated as the FIRST line
    intercept[IllegalArgumentException](
      Bpe.parseMergesText(Seq("t h", "#version: 0.2")))
  }

  test("loadMergesText round-trips through a real file and the apply path") {
    val dir = java.nio.file.Paths.get(tempDir("graft_bpe_ext_"))
    val f = dir.resolve("merges.txt")
    java.nio.file.Files.write(f,
      "#version: 0.2\nt h\nth e\ni n\nin g\n".getBytes("UTF-8"))
    val merges = Bpe.loadMergesText(spark, f.toString)
    assert(merges == Seq(("t", "h"), ("th", "e"), ("i", "n"), ("in", "g")))
    // 'the' fuses fully (t+h -> th, th+e -> the); 'thing' -> th,ing via
    // the multi-level in+g merge: external ranks drive the same applyWord
    assert(Bpe.applyWord(merges.zipWithIndex.toMap)("the").toSeq == Seq("the"))
    assert(Bpe.applyWord(merges.zipWithIndex.toMap)("thing").toSeq ==
      Seq("th", "ing"))
    val docs = Seq((1L, "the thing")).toDF("id", "text")
    val got = Bpe.tokenCounts(docs, "id", "text", merges)
      .select("n_words", "n_bpe_tokens").as[(Long, Long)].head()
    assert(got == ((2L, 3L)))
  }

  test("trained tokenizer compresses its own corpus below character count") {
    val docs = (1L to 20L)
      .map(i => (i, "the quick brown fox and the lazy dog " * 2))
      .toDF("id", "text")
    val merges = Bpe.trainMerges(docs, "text", maxMerges = 50)
    val out = Bpe.tokenCounts(docs, "id", "text", merges)
      .agg(org.apache.spark.sql.functions.sum("n_bpe_tokens"),
        org.apache.spark.sql.functions.sum("n_words"))
      .as[(Long, Long)].head()
    val (nBpe, nWords) = out
    // frequent words fuse to near one token each: counts land between
    // word count and character count, far closer to words
    assert(nBpe >= nWords)
    assert(nBpe <= nWords * 3)
  }
}
