package graft.ext

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {
  import spark.implicits._

  // three well-separated clusters around the axes, 16-dim
  private def corpus = {
    val rnd = new scala.util.Random(11)
    val base = Array.tabulate(3, 16)((c, i) => if (i / 5 == c) 10.0f else 0.0f)
    (0 until 120).map { i =>
      (i.toLong, base(i % 3).map(v => v + rnd.nextFloat() * 0.4f).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("train → encode produces m one-byte codes; identical vectors share codes") {
    val cb = Pq.train(corpus, "embedding", dim = 16, m = 4, codes = 16)
    assert(cb.m == 4 && cb.subDim == 4 && cb.books.forall(_.length == 16))
    val doubled = corpus.unionByName(
      corpus.withColumn("vec_id", $"vec_id" + 1000L))
    val codes = Pq.encode(doubled, "vec_id", "embedding", cb)
    assert(codes.columns.toSeq == Seq("vec_id", "code"))
    val byId = codes.as[(Long, Seq[Byte])].collect().toMap
    assert(byId.size == 240 && byId.values.forall(_.length == 4))
    // an exact copy always encodes to the query's own code
    (0L until 120L).foreach(i => assert(byId(i) == byId(i + 1000L)))
  }

  test("ADC retrieves the planted copy first and stays within the cluster") {
    val cb = Pq.train(corpus, "embedding", dim = 16, m = 4, codes = 16)
    val doubled = corpus.unionByName(
      corpus.withColumn("vec_id", $"vec_id" + 1000L))
    val codes = Pq.encode(doubled, "vec_id", "embedding", cb)
    val qv = corpus.filter($"vec_id" === 0L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val hits = Pq.adcTopK(codes.filter($"vec_id" =!= 0L), cb, "vec_id", qv, k = 10)
      .as[(Long, Double)].collect()
    assert(hits.length == 10)
    // the copy's code equals the query's own code → per-subspace minima →
    // globally minimal ADC distance (ties broken by id)
    assert(hits.map(_._1).contains(1000L),
      s"planted copy missing from ADC top-10: ${hits.mkString(", ")}")
    // every hit is an x-cluster member (id % 3 == 0 in either id range)
    assert(hits.forall(h => h._1 % 3 == 0 || (h._1 - 1000L) % 3 == 0))
    assert(hits.map(_._2).sameElements(hits.map(_._2).sorted), "not ascending")
  }

  test("ADC + exact rescore equals brute-force cosine top-k on this corpus") {
    val cb = Pq.train(corpus, "embedding", dim = 16, m = 4, codes = 16)
    val codes = Pq.encode(corpus, "vec_id", "embedding", cb)
    val qv = corpus.filter($"vec_id" === 0L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val rescored = Pq.adcTopKRescored(
        codes.filter($"vec_id" =!= 0L), corpus.filter($"vec_id" =!= 0L),
        cb, "vec_id", "embedding", qv, k = 5, rescoreFactor = 8)
      .as[(Long, Double)].collect().toSeq
    // brute force with the SAME round-then-order rule the rescore path uses
    // (ordering by the raw score would break rounded-score ties differently)
    val brute = corpus.filter($"vec_id" =!= 0L)
      .select($"vec_id", round(graft.functions.VectorFunctions.cosine(
        $"embedding", array(qv.map(lit): _*)), 4).as("score"))
      .orderBy($"score".desc, $"vec_id").limit(5)
      .as[(Long, Double)].collect().toSeq
    assert(rescored == brute)
  }

  test("codes persist and reread: 1-byte elements, same ADC result") {
    val dir = tempDir("graft_pq_")
    val cb = Pq.train(corpus, "embedding", dim = 16, m = 4, codes = 16)
    val codes = Pq.encode(corpus, "vec_id", "embedding", cb)
    Pq.writeCodes(codes, s"$dir/codes")
    val reread = spark.read.parquet(s"$dir/codes")
    // element type survives as 1-byte tinyint (containsNull is not
    // preserved by the parquet list encoding — irrelevant to the scan size)
    assert(reread.schema("code").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.ByteType)
    val qv = corpus.filter($"vec_id" === 7L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val a = Pq.adcTopK(codes, cb, "vec_id", qv, k = 8).as[(Long, Double)].collect().toSeq
    val b = Pq.adcTopK(reread, cb, "vec_id", qv, k = 8).as[(Long, Double)].collect().toSeq
    assert(a == b)
  }

  test("writeIndex/readIndex round-trips codes AND codebooks: identical top-k") {
    val dir = tempDir("graft_pq_idx_")
    val cb = Pq.train(corpus, "embedding", dim = 16, m = 4, codes = 16)
    val codes = Pq.encode(corpus, "vec_id", "embedding", cb)
    Pq.writeIndex(codes, cb, dir)
    val (codes2, cb2) = Pq.readIndex(spark, dir)
    // codebooks reconstruct exactly (doubles survive parquet bit-for-bit)
    assert(cb2.m == cb.m && cb2.subDim == cb.subDim)
    (0 until cb.m).foreach { j =>
      (0 until 16).foreach { c =>
        assert(cb2.books(j)(c).sameElements(cb.books(j)(c)), s"book $j code $c")
      }
    }
    // search from the persisted index = search from the fresh one, per
    // query and batched
    val qv = corpus.filter($"vec_id" === 7L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val fresh = Pq.adcTopK(codes, cb, "vec_id", qv, k = 8)
      .as[(Long, Double)].collect().toSeq
    val persisted = Pq.adcTopK(codes2, cb2, "vec_id", qv, k = 8)
      .as[(Long, Double)].collect().toSeq
    assert(fresh == persisted)
    val batchFresh = Pq.adcTopKMany(codes, cb, "vec_id",
        corpus.filter($"vec_id" < 3), "vec_id", "embedding", k = 5)
      .as[(Long, Long, Double)].collect().toSet
    val batchPersisted = Pq.adcTopKMany(codes2, cb2, "vec_id",
        corpus.filter($"vec_id" < 3), "vec_id", "embedding", k = 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(batchFresh == batchPersisted)
  }

  test("appendIndex encodes a daily batch with the existing codebooks; search finds it") {
    val dir = tempDir("graft_pq_app_")
    val cb = Pq.train(corpus, "embedding", dim = 16, m = 4, codes = 16)
    Pq.writeIndex(Pq.encode(corpus, "vec_id", "embedding", cb), cb, dir)
    val newVecs = corpus.filter($"vec_id" < 5)
      .select(($"vec_id" + 5000L).as("vec_id"), $"embedding")
    Pq.appendIndex(spark, dir, newVecs, "vec_id", "embedding")
    val (codes2, cb2) = Pq.readIndex(spark, dir)
    assert(codes2.count() == 125)
    // a verbatim copy got the identical code (same codebooks, no retrain)
    val byId = codes2.filter($"vec_id".isin(3L, 5003L))
      .as[(Long, Seq[Byte])].collect().toMap
    assert(byId(5003L) == byId(3L))
    // batch search from the re-read index surfaces every appended copy
    val hits = Pq.adcTopKMany(codes2, cb2, "vec_id",
      corpus.filter($"vec_id" < 5), "vec_id", "embedding", k = 3)
      .as[(Long, Long, Double)].collect()
    (0L until 5L).foreach { q =>
      assert(hits.exists(h => h._1 == q && h._2 == q + 5000L),
        s"query $q did not retrieve its appended copy")
    }
    // torn append (crash inside the marker window) → readers refuse
    IndexFormat.invalidate(spark, dir)
    intercept[IllegalStateException] { Pq.readIndex(spark, dir) }
  }

  test("deleteFromIndex erases codes; the erased vector stops ranking") {
    val dir = tempDir("graft_pq_del_")
    val cb = Pq.train(corpus, "embedding", dim = 16, m = 4, codes = 16)
    Pq.writeIndex(Pq.encode(corpus, "vec_id", "embedding", cb), cb, dir)
    Pq.deleteFromIndex(spark, dir, "vec_id", Seq(3L).toDF("vec_id"))
    val (codes2, cb2) = Pq.readIndex(spark, dir)
    assert(codes2.count() == 119)
    assert(codes2.filter($"vec_id" === 3L).isEmpty)
    val hits = Pq.adcTopK(codes2, cb2, "vec_id",
      corpus.filter($"vec_id" === 3L).select("embedding")
        .as[Seq[Float]].head().map(_.toDouble), k = 10)
      .as[(Long, Double)].collect()
    assert(hits.nonEmpty && hits.forall(_._1 != 3L))
  }

  test("TableCache keeps concurrent keys: oldest evicted, requested never") {
    var computes = 0
    def touch(k: String): String =
      Pq.TableCache.get(k, { computes += 1; s"v-$k" })
    val ks = (0 until 12).map(i => s"tc-$i-${java.util.UUID.randomUUID()}")
    ks.foreach(touch)
    assert(computes == 12)
    // the cap is 8: the newest keys must still be resident (the old
    // evict-all-but-requested policy would have dropped all but the last)
    touch(ks(11)); touch(ks(10)); touch(ks(9))
    assert(computes == 12, "recently-inserted keys were evicted")
    // the oldest of the 12 fell out (it is older than every survivor)
    touch(ks(0))
    assert(computes == 13, "oldest key unexpectedly still cached")
  }

  test("TableCache eviction is LRU, not FIFO: a hit keeps an in-use key resident") {
    var computes = 0
    def touch(k: String): String =
      Pq.TableCache.get(k, { computes += 1; s"v-$k" })
    val as = (0 until 8).map(i => s"lru-a$i-${java.util.UUID.randomUUID()}")
    val bs = (0 until 6).map(i => s"lru-b$i-${java.util.UUID.randomUUID()}")
    as.foreach(touch)
    val before = computes
    // a hit refreshes recency: a0 is now newer than a1..a7, so the six
    // inserts below evict from a1..a7 first
    touch(as.head)
    assert(computes == before)
    bs.foreach(touch)
    touch(as.head)
    assert(computes == before + bs.size,
      "a cache hit did not refresh recency — insertion-order FIFO evicted " +
        "the in-use key (the long-running-scan recompute storm)")
  }

  test("a failed index rewrite leaves no valid stamp (commit-marker ordering)") {
    val dir = tempDir("graft_pq_torn_")
    val cb = Pq.train(corpus, "embedding", dim = 16, m = 4, codes = 16)
    val codes = Pq.encode(corpus, "vec_id", "embedding", cb)
    Pq.writeIndex(codes, cb, dir)
    Pq.readIndex(spark, dir) // healthy index: stamp valid
    // rewrite in place with a plan that dies mid-data-write: the previous
    // stamp must be invalidated FIRST, so the torn index reads as
    // unstamped instead of validly stamping stale/mixed generations
    val boom = udf((_: Long) => {
      throw new RuntimeException("torn write"); 0L
    })
    val poisoned = codes.withColumn("vec_id", boom($"vec_id"))
    intercept[Exception] { Pq.writeIndex(poisoned, cb, dir) }
    val ex = intercept[IllegalStateException] { Pq.readIndex(spark, dir) }
    assert(ex.getMessage.contains("no _meta format stamp"), ex.getMessage)
  }

  test("readIndex rejects an unstamped or IvfPq-format directory") {
    val dir = tempDir("graft_pq_unstamped_")
    val cb = Pq.train(corpus, "embedding", dim = 16, m = 4, codes = 16)
    val codes = Pq.encode(corpus, "vec_id", "embedding", cb)
    Pq.writeIndex(codes, cb, dir)
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$dir/_meta")).deleteRecursively()
    val ex = intercept[IllegalStateException] { Pq.readIndex(spark, dir) }
    assert(ex.getMessage.contains("no _meta format stamp"), ex.getMessage)
    // reverse cross-load: residual-encoded IvfPq layout must not read as Pq
    val dir2 = tempDir("graft_pq_cross_")
    val ividx = IvfPq.build(corpus, "vec_id", "embedding", dim = 16, m = 4,
      nLists = 3, codes = 16)
    IvfPq.writeIndex(ividx, dir2)
    val ex2 = intercept[IllegalStateException] { Pq.readIndex(spark, dir2) }
    assert(ex2.getMessage.contains(IvfPq.FormatId), ex2.getMessage)
  }

  test("train rejects a dim that does not divide into m") {
    intercept[IllegalArgumentException] {
      Pq.train(corpus, "embedding", dim = 16, m = 5)
    }
  }

  test("adcTopKMany equals per-query adcTopK, one pass over the codes") {
    val cb = Pq.train(corpus, "embedding", dim = 16, m = 4, codes = 16)
    val codes = Pq.encode(corpus, "vec_id", "embedding", cb).repartition(3)
    val queries = corpus.filter($"vec_id" < 4)
    val batch = Pq.adcTopKMany(codes, cb, "vec_id",
        queries, "vec_id", "embedding", k = 6)
      .as[(Long, Long, Double)].collect()
    assert(batch.length == 24, s"4 queries x 6 hits, got ${batch.length}")
    (0L until 4L).foreach { qid =>
      val qv = corpus.filter($"vec_id" === qid).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      val single = Pq.adcTopK(codes, cb, "vec_id", qv, k = 6)
        .as[(Long, Double)].collect().toSeq
      val got = batch.filter(_._1 == qid).map(b => (b._2, b._3))
        .sortBy(t => (t._2, t._1)).toSeq
      assert(got == single, s"batch result diverged for query $qid")
    }
  }

  test("IVF-PQ composition: probe-pruned ADC scan stays within the probed cell") {
    // the FAISS IVF-PQ shape from the two existing pieces: the IVF
    // assignment prunes WHICH codes are scanned (partition pruning on a
    // persisted index), PQ decides HOW CHEAP scanning each one is
    val idx = Ivf.build(corpus, "vec_id", "embedding", nLists = 3)
    val cb = Pq.train(corpus, "embedding", dim = 16, m = 4, codes = 16)
    val codes = Pq.encode(corpus, "vec_id", "embedding", cb)
      .join(idx.assigned.select("vec_id", "list_id"), "vec_id")
    val qv = corpus.filter($"vec_id" === 0L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val cells = Ivf.probeCells(idx, qv, nProbe = 1)
    val hits = Pq.adcTopK(
        codes.filter($"list_id".isin(cells: _*) && $"vec_id" =!= 0L),
        cb, "vec_id", qv, k = 5)
      .as[(Long, Double)].collect()
    assert(hits.length == 5)
    // probed cell = the query's own x-axis cluster; ADC agrees
    assert(hits.forall(_._1 % 3 == 0), s"cross-cluster hit in ${hits.mkString(",")}")
  }
}
