package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bloom membership dedup: no false negatives ever, probe determinism,
  * bitmap persistence round-trip, and the append (OR) algebra.
  */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  private val M = 1L << 16
  private val K = 5

  test("no false negatives: every corpus text flags maybe_dup") {
    val corpus = (0 until 200).map(i => (i.toLong, s"document body $i")).toDF("id", "text")
    val bits = Bloom.build(corpus, "text", K, M)
    val flagged = Bloom.flagDuplicates(corpus, "text", bits, K, M)
    assert(flagged.filter(!col("maybe_dup")).count() == 0)
  }

  test("novel content passes at a sane false-positive rate") {
    val corpus = (0 until 200).map(i => (i.toLong, s"document body $i")).toDF("id", "text")
    val novel = (0 until 200).map(i => (i.toLong, s"unseen text $i")).toDF("id", "text")
    val bits = Bloom.build(corpus, "text", K, M)
    val out = Bloom.filterNovel(novel, "text", bits, K, M)
    // 200*5 = ≤1000 of 65536 bits set → FP rate (1000/65536)^5 ≈ 8e-10:
    // all 200 novel rows must survive
    assert(out.count() == 200)
  }

  test("probes are deterministic, in-range, and text-dependent") {
    val df = Seq(("a", "a"), ("b", "b")).toDF("t1", "t2")
      .select(Bloom.probes(col("t1"), K, M).as("p1"),
        Bloom.probes(col("t2"), K, M).as("p2"))
    val rows = df.as[(Seq[Long], Seq[Long])].collect()
    rows.foreach { case (p1, p2) =>
      assert(p1 == p2) // same text → same probes
      assert(p1.size == K && p1.forall(p => p >= 0 && p < M))
    }
    val distinct = Seq("a", "b").toDF("t")
      .select(Bloom.probes(col("t"), K, M).as("p"))
      .as[Seq[Long]].collect()
    assert(distinct(0) != distinct(1))
  }

  test("bitmap persists, appends by OR, and erasure is refused by design") {
    val dir = tempDir("graft_bloom_")
    val c1 = Seq((1L, "first doc here")).toDF("id", "text")
    val c2 = Seq((2L, "second doc here")).toDF("id", "text")
    val b1 = Bloom.build(c1, "text", K, M)
    Bloom.writeBits(spark, s"$dir/bloom", b1)
    val loaded = Bloom.readBits(spark, s"$dir/bloom")
    assert(loaded.toSeq == b1.toSeq)
    // append: OR in the second corpus's bitmap → both flag dup
    val merged = Bloom.orInto(loaded, Bloom.build(c2, "text", K, M))
    val both = c1.unionByName(c2)
    assert(Bloom.flagDuplicates(both, "text", merged, K, M)
      .filter(!col("maybe_dup")).count() == 0)
  }

  test("readBits reassembles shuffled multi-partition chunks by idx") {
    // the primitive-chunk read path must place words by idx, not file
    // order: rewrite the persisted bitmap across 4 partitions in hashed
    // (non-sequential) row order and demand bit-exact reassembly
    val dir = tempDir("graft_bloomrd_")
    val bits = Bloom.build(Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("id", "text"), "text", K, M)
    Bloom.writeBits(spark, s"$dir/seq", bits)
    spark.read.parquet(s"$dir/seq").repartition(4, col("word"))
      .write.parquet(s"$dir/shuffled")
    assert(Bloom.readBits(spark, s"$dir/shuffled").toSeq == bits.toSeq)
  }

  test("batch columns named like the probe temp survive untouched") {
    // regression: flagDuplicates used a hardcoded __probes temp column and
    // a positional read — a batch already carrying __probes (or the new
    // __graft_bloom_probes_0) got it clobbered / read out of bounds
    val corpus = Seq((1L, "seen doc")).toDF("id", "text")
    val bits = Bloom.build(corpus, "text", K, M)
    val batch = Seq((1L, "seen doc", "keep-me", "keep-me-too"))
      .toDF("id", "text", "__probes", "__graft_bloom_probes_0")
    val out = Bloom.flagDuplicates(batch, "text", bits, K, M)
    assert(out.columns.toSeq ==
      Seq("id", "text", "__probes", "__graft_bloom_probes_0", "maybe_dup"))
    val r = out.head()
    assert(r.getAs[String]("__probes") == "keep-me" &&
      r.getAs[String]("__graft_bloom_probes_0") == "keep-me-too" &&
      r.getAs[Boolean]("maybe_dup"))
  }

  test("null text hashes as empty string, not a crash") {
    val df = Seq((1L, null: String), (2L, "")).toDF("id", "text")
    val bits = Bloom.build(df.filter($"id" === 2), "text", K, M)
    // null text == '' content → the null row must flag as seen
    val out = Bloom.flagDuplicates(df.filter($"id" === 1), "text", bits, K, M)
    assert(out.filter(col("maybe_dup")).count() == 1)
  }
}
