package graft.ext

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f)),
    (3L, Seq(-1.0f, 0.0f, 0.0f)),
    (4L, Seq(0.8f, 0.2f, 0.1f))).toDF("vec_id", "embedding")

  test("cosineTopK ranks by similarity to the query row, excluding it") {
    val out = Similarity.cosineTopK(vecs, "vec_id", "embedding", queryId = 0L, k = 2)
      .as[(Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 4L))
    assert(out(0)._2 > out(1)._2)
  }

  test("cosineTopKVec scores against an explicit vector") {
    val out = Similarity.cosineTopKVec(vecs, "vec_id", "embedding",
      Seq(0.0, 1.0, 0.0), k = 1).as[(Long, Double)].collect()
    assert(out.head._1 == 2L && math.abs(out.head._2 - 1.0) < 1e-9)
  }

  test("int8TopK ranks like the exact scan on well-separated vectors") {
    val out = Similarity.int8TopK(vecs, "vec_id", "embedding", queryId = 0L, k = 4)
      .as[(Long, Long)].collect()
    // same order the exact cosine scan produces for this corpus: 1 ≻ 4 ≻ 2 ≻ 3
    assert(out.map(_._1).toSeq == Seq(1L, 4L, 2L, 3L))
    // codes are in [-127,127], dim 3 → |iscore| ≤ 3·127²
    assert(out.forall(r => math.abs(r._2) <= 3L * 127 * 127))
    // orthogonal vector scores 0, opposite scores negative
    val m = out.toMap
    assert(m(2L) == 0L && m(3L) < 0L)
  }

  test("persisted codes reproduce the in-memory int8 top-k exactly") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tempDir("graft_codes_")
    Similarity.writeCodes(real, "vec_id", "embedding", s"$dir/codes")
    val fromCodes = Similarity.int8TopKFromCodes(
      spark.read.parquet(s"$dir/codes"), "vec_id", queryId = 1L, k = 10)
      .as[(Long, Long)].collect().toSeq
    val direct = Similarity.int8TopK(real, "vec_id", "embedding", queryId = 1L, k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(fromCodes == direct)
    // and the stored element type really is 1-byte
    val codeType = spark.read.parquet(s"$dir/codes").schema("code").dataType
    assert(codeType == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType, containsNull = false) ||
      codeType == org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = true))
  }

  test("int8TopKMany equals per-query int8TopKFromCodes, one pass over codes") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tempDir("graft_codes_b_")
    Similarity.writeCodes(real, "vec_id", "embedding", s"$dir/codes")
    val codes = spark.read.parquet(s"$dir/codes").repartition(3)
    val batch = Similarity.int8TopKMany(codes, "vec_id",
        codes.filter($"vec_id" < 4), "vec_id", k = 6)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3)).toSeq)
      .toMap
    (0L until 4L).foreach { qid =>
      val single = Similarity.int8TopKFromCodes(codes, "vec_id", qid, k = 6)
        .as[(Long, Long)].collect().toSeq
      assert(batch(qid) == single, s"query $qid: ${batch(qid)} != $single")
    }
  }

  test("int8TopKManyVecs quantizes float queries bit-identically to the code table") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tempDir("graft_codes_v_")
    Similarity.writeCodes(real, "vec_id", "embedding", s"$dir/codes")
    val codes = spark.read.parquet(s"$dir/codes")
    // float queries = corpus rows 0..2 → must equal searching by their codes
    // (queries share the corpus id space here, so opt back into excludeSelf)
    val viaVecs = Similarity.int8TopKManyVecs(codes, "vec_id",
        real.filter($"vec_id" < 3), "vec_id", "embedding", k = 5,
        excludeSelf = true)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, -r._3, r._2)).toSeq
    val viaCodes = Similarity.int8TopKMany(codes, "vec_id",
        codes.filter($"vec_id" < 3), "vec_id", k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, -r._3, r._2)).toSeq
    assert(viaVecs == viaCodes)
  }

  test("int8TopKManyVecs default keeps a corpus row whose id collides with a query id") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tempDir("graft_codes_c_")
    Similarity.writeCodes(real, "vec_id", "embedding", s"$dir/codes")
    val codes = spark.read.parquet(s"$dir/codes")
    val n = codes.count()
    // ad-hoc query whose id happens to equal a corpus id: with the
    // ad-hoc default (excludeSelf=false) the full corpus is ranked
    val q = real.filter($"vec_id" === 1L)
    val ranked = Similarity.int8TopKManyVecs(codes, "vec_id", q,
        "vec_id", "embedding", k = n.toInt)
      .as[(Long, Long, Long)].collect()
    assert(ranked.length == n, "id collision must not drop a corpus row")
    assert(ranked.exists(_._2 == 1L), "corpus row sharing the query id must be ranked")
  }

  test("int8 rescore restores exact-cosine top-k") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rescored = Similarity.int8TopKRescored(real, "vec_id", "embedding",
      queryId = 1L, k = 10).as[(Long, Double)].collect().toSeq
    val exact = Similarity.cosineTopK(real, "vec_id", "embedding",
      queryId = 1L, k = 10).as[(Long, Double)].collect().toSeq
    assert(rescored == exact)
  }

  test("bucketJoinKnn returns at most k neighbors per query, never itself") {
    val out = Similarity.bucketJoinKnn(vecs, vecs, "vec_id", "embedding",
      dim = 3, k = 2, lshBits = 2)
      .as[(Long, Long, Double)].collect()
    val byQuery = out.groupBy(_._1)
    assert(byQuery.values.forall(_.length <= 2))
    assert(out.forall(r => r._1 != r._2))
  }

  test("multimodal: frame sampling takes every Nth fixed-size window") {
    val media = Multimodal.fromText(
      Seq((7L, "x" * 200)).toDF("id", "t"), "id", "t", "video")
    val frames = Multimodal.sampleFrames(media, frameBytes = 64, everyNth = 2)
      .select("frame_idx").as[Int].collect().sorted.toSeq
    // 200 bytes → 4 frames (0..3) → sampled 0, 2
    assert(frames == Seq(0, 2))
  }

  test("multimodal: mapBatches runs the per-partition imperative hook") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "v").repartition(2)
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val out = Multimodal.mapBatches(spark, df, schema)(rows =>
      rows.map(r => Row(r.getLong(0) * 10, r.getString(1).toUpperCase)))
    assert(out.as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((10L, "X"), (20L, "Y")))
  }

  // ---- 1-bit sign quantization / Hamming tier ----

  test("packSignBits packs v[i] >= 0 into bit i, across word boundaries") {
    import graft.functions.{VectorFunctions => V}
    import org.apache.spark.sql.functions.col
    // dim 70 forces two words; alternate signs with a zero (packs positive)
    val v = (0 until 70).map(i => if (i == 3) 0.0f else if (i % 3 == 0) 1.0f else -1.0f)
    val packed = Seq(Tuple1(v)).toDF("v")
      .select(V.packSignBits(col("v"), 70).as("p"))
      .as[Seq[Long]].head()
    assert(packed.length == 2)
    for (i <- 0 until 70) {
      val bit = (packed(i / 64) >> (i % 64)) & 1L
      assert((bit == 1L) == (v(i) >= 0.0f), s"bit $i")
    }
  }

  test("hammingPacked equals the naive sign-disagreement count on real vectors") {
    import graft.functions.{VectorFunctions => V}
    import org.apache.spark.sql.functions._
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = real.filter(col("vec_id") === 1L).select(col("embedding").as("qv"))
    val got = real.crossJoin(broadcast(q))
      .select(col("vec_id"),
        V.hammingPacked(V.packSignBits(col("embedding"), 64),
          V.packSignBits(col("qv"), 64)).as("d"))
      .as[(Long, Long)].collect().toMap
    val vecs = real.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    val qv = vecs(1L)
    vecs.foreach { case (id, v) =>
      val naive = v.indices.count(i => (v(i) >= 0) != (qv(i) >= 0)).toLong
      assert(got(id) == naive, s"id $id")
    }
  }

  test("hammingTopK ranks by ascending sign disagreement") {
    val out = Similarity.hammingTopK(vecs, "vec_id", "embedding", dim = 3,
      queryId = 0L, k = 4).as[(Long, Long)].collect()
    // query (+,+,+): ids 1,4 agree everywhere (d=0), 2 agrees (0>=0 both
    // positive... all non-negative → d=0), 3 differs in dim 0 only (d=1)
    val m = out.toMap
    assert(m(1L) == 0L && m(4L) == 0L && m(2L) == 0L && m(3L) == 1L)
    // ties broken by id ascending
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 4L, 3L))
  }

  test("hammingTopKMany from persisted signatures equals per-query hammingTopK") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tempDir("graft_sigs_")
    Similarity.writeSignBits(real, "vec_id", "embedding", dim = 64, s"$dir/sigs")
    val sigs = spark.read.parquet(s"$dir/sigs")
    // stored signature really is one 8-byte word per 64 dims
    assert(sigs.schema("sig").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.LongType)
    val batch = Similarity.hammingTopKMany(sigs, "vec_id",
      sigs.filter(org.apache.spark.sql.functions.col("vec_id").isin(1L, 2L, 3L)),
      "vec_id", k = 7)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (r._3, r._2)).map(r => (r._2, r._3)).toSeq).toMap
    for (qid <- Seq(1L, 2L, 3L)) {
      val single = Similarity.hammingTopK(real, "vec_id", "embedding", dim = 64,
        queryId = qid, k = 7).as[(Long, Long)].collect().toSeq
      assert(batch(qid) == single, s"query $qid")
    }
  }

  test("batch kernels accept caller-named signature/code columns") {
    // r12 advice: the column name is a parameter, not a hardcoded contract
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tempDir("graft_sigs2_")
    Similarity.writeSignBits(real, "vec_id", "embedding", dim = 64, s"$dir/sigs")
    val sigs = spark.read.parquet(s"$dir/sigs")
    val renamed = sigs.withColumnRenamed("sig", "my_signature")
    val a = Similarity.hammingTopKMany(sigs, "vec_id",
      sigs.filter($"vec_id" === 1L), "vec_id", k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._3, r._2)).toSeq
    val b = Similarity.hammingTopKMany(renamed, "vec_id",
      renamed.filter($"vec_id" === 1L), "vec_id", k = 5,
      sigCol = "my_signature")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._3, r._2)).toSeq
    assert(a == b && a.nonEmpty)
    val cdir = tempDir("graft_codes2_")
    Similarity.writeCodes(real, "vec_id", "embedding", s"$cdir/codes")
    val codes = spark.read.parquet(s"$cdir/codes").select($"vec_id", $"code")
    val rcodes = codes.withColumnRenamed("code", "c8")
    val ia = Similarity.int8TopKMany(codes, "vec_id",
      codes.filter($"vec_id" === 1L), "vec_id", k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (-r._3, r._2)).toSeq
    val ib = Similarity.int8TopKMany(rcodes, "vec_id",
      rcodes.filter($"vec_id" === 1L), "vec_id", k = 5, codeCol = "c8")
      .as[(Long, Long, Long)].collect().sortBy(r => (-r._3, r._2)).toSeq
    assert(ia == ib && ia.nonEmpty)
  }

  test("hammingRescoredTopK with a full-corpus rescore equals the exact scan") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = real.count().toInt
    val exact = Similarity.cosineTopK(real, "vec_id", "embedding", queryId = 1L, k = 10)
      .as[(Long, Double)].collect().toSeq
    // rescoreFactor large enough that the candidate cut keeps everything
    val rescored = Similarity.hammingRescoredTopK(real, "vec_id", "embedding",
      dim = 64, queryId = 1L, k = 10, rescoreFactor = n).as[(Long, Double)]
      .collect().toSeq
    assert(rescored == exact)
  }
}
