package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, IvfPq}

/** `index_append`: daily rounds against persisted indexes. Set-up builds a
  * near-dup index and an IVF-PQ index over a base corpus with 64-dim
  * vectors. Each round cleans and filters a seeded daily batch, classifies
  * it against the near-dup index (planted exact and near copies of corpus
  * docs, planted within-batch pairs), appends the admitted docs to the
  * corpus and both indexes, runs a batch k-NN search, and every
  * `CompactEvery` rounds compacts both indexes.
  */
final class IndexAppend extends Workload {
  val BaseDocs = 5000
  val BatchDocs = 500
  val Queries = 64
  val K = 10
  val NProbe = 8
  val NLists = 64
  val SubQuantizers = 8
  val CompactEvery = 2
  /** recall@10 floor, recorded from the seed code's runs (see BENCH.md). */
  val RecallFloor = 0.35

  override def extraSections: Seq[String] = Seq("functions.clean_filter",
    "ext.dedup.incr_classify", "ext.dedup.incr_append", "ext.ann.append",
    "ext.ann.search", "ext.index.compact").filterNot(Metrics.Sections.contains)

  override def extraValues: Seq[(String, String)] = Seq(
    "ext.dedup.incr_classify.admitted" -> "count",
    "ext.dedup.incr_classify.dup_corpus" -> "count",
    "ext.dedup.incr_classify.dup_batch" -> "count",
    "ext.ann.search.recall_at_10" -> "ratio",
    "ext.index.bytes" -> "bytes",
    "ext.index.files" -> "count")

  /** One indexed document: its id, text key (stream, slot) and vector. */
  private final case class Entry(id: Long, stream: Long, slot: Int, vec: Array[Float])

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val t = r.tracer
    val seed = r.seed
    val space = new Vecs.Space(seed)
    val corpus = r.work.resolve("corpus").toString
    val nearIdx = r.work.resolve("near-index").toString
    val annIdx = r.work.resolve("ann-index").toString

    // ---- set-up: base corpus (cleaned text + vector) and both indexes
    val entries = ArrayBuffer.tabulate(BaseDocs)(i =>
      Entry(i.toLong, 20L, i, space.fresh(Gen.rng(seed, 3000000L + i))))
    val bv = spark.sparkContext.broadcast(entries.map(_.vec).toArray)
    spark.range(BaseDocs).as[Long].repartition(Session.ShufflePartitions)
      .map(i => (i, CorpusPlan.cleanText(seed, 20L, i.toInt), bv.value(i.toInt)))
      .toDF("id", "text", "vec").write.parquet(corpus)
    val base = spark.read.parquet(corpus)
    r.log("base corpus written")
    Dedup.buildNearIndex(base, "id", "text", nearIdx)
    r.log("near index built")
    IvfPq.writeIndex(IvfPq.build(base, "id", "vec", Vecs.Dim, SubQuantizers, NLists), annIdx)
    bv.destroy()
    r.log("ann index built")

    /** Seeded daily batch `d`: 5% low quality, 10% clean copies and 10%
      * near copies of indexed docs (verdict dup_corpus, or dup_batch for a
      * second copy of the same doc), 8% fresh docs with a within-batch near
      * twin (the twin, with the larger id, is dup_batch), the rest fresh
      * (admitted). Returns rows, the expected verdict of every
      * quality-passing doc, and the docs that must be admitted.
      */
    def makeBatch(d: Int): (Seq[(Long, String, Array[Float])], Map[Long, String], Seq[Entry]) = {
      val rng = Gen.rng(seed, 4000L + d)
      val stream = 100L + d
      val idBase = 1000000000L + d * 100000L
      val rows = ArrayBuffer.empty[(Long, String, Array[Float])]
      val verdict = scala.collection.mutable.LinkedHashMap.empty[Long, String]
      val admitted = ArrayBuffer.empty[Entry]
      val copied = scala.collection.mutable.HashSet.empty[Long]
      var slot = 0
      while (slot < BatchDocs) {
        val roll = rng.nextInt(100)
        val id = idBase + slot
        if (roll < 5) rows += ((id, Text.noisy(rng, Text.lowQuality(rng)), space.fresh(rng)))
        else if (roll < 25) {
          val src = entries(rng.nextInt(entries.length))
          val clean = CorpusPlan.cleanText(seed, src.stream, src.slot)
          val text = if (roll < 15) clean else Text.nearCopy(rng, clean)
          rows += ((id, Text.noisy(rng, text), space.around(rng, src.vec.map(_.toDouble), 0.02)))
          verdict(id) = if (copied.add(src.id)) "dup_corpus" else "dup_batch"
        } else {
          val e = Entry(id, stream, slot, space.fresh(rng))
          val clean = CorpusPlan.cleanText(seed, stream, slot)
          rows += ((id, Text.noisy(rng, clean), e.vec))
          verdict(id) = "admitted"
          admitted += e
          if (roll < 33 && slot + 1 < BatchDocs) {
            slot += 1
            rows += ((idBase + slot, Text.noisy(rng, Text.nearCopy(rng, clean)),
              space.around(rng, e.vec.map(_.toDouble), 0.02)))
            verdict(idBase + slot) = "dup_batch"
          }
        }
        slot += 1
      }
      (rows.toSeq, verdict.toMap, admitted.toSeq)
    }

    def round(d: Int, in: String, queries: Seq[(Long, Array[Float])]): Array[(Long, Long)] = {
      val cleaned = t.section("functions.clean_filter") {
        t.boundary(CleanFilter(spark.read.parquet(in)))
      }
      val verdicts = r.work.resolve("verdicts").resolve(d.toString).toString
      t.section("ext.dedup.incr_classify") {
        Dedup.nearDedupIncremental(cleaned, "id", "text", nearIdx)
          .write.mode("overwrite").parquet(verdicts)
      }
      val admitted = t.boundary(cleaned.join(
        spark.read.parquet(verdicts).filter(col("verdict") === "admitted").select("id"),
        Seq("id"), "left_semi"))
      t.section("ext.dedup.incr_append") {
        Dedup.appendCorpusAndNearIndex(admitted, corpus, "id", "text", nearIdx)
      }
      t.section("ext.ann.append") {
        IvfPq.appendIndex(spark, annIdx, admitted.select("id", "vec"), "id", "vec")
      }
      val hits = t.section("ext.ann.search") {
        IvfPq.searchMany(IvfPq.readIndex(spark, annIdx), queries.toDF("qid", "vec"),
          "qid", "vec", K, NProbe).select("query_id", "corpus_id").as[(Long, Long)].collect()
      }
      if (d % CompactEvery == 0) t.section("ext.index.compact") {
        Dedup.compactNearIndex(spark, nearIdx)
        IvfPq.compactIndex(spark, annIdx)
      }
      hits
    }

    val counts = Map("admitted" -> ArrayBuffer.empty[Double],
      "dup_corpus" -> ArrayBuffer.empty[Double], "dup_batch" -> ArrayBuffer.empty[Double])
    val recalls = ArrayBuffer.empty[Double]

    /** Runs batch `d`; returns false only when the round threw. */
    def oneRound(d: Int, timed: Boolean): Boolean = {
      val (rows, want, admitted) = makeBatch(d)
      val in = r.work.resolve("in").resolve(d.toString)
      rows.toDF("id", "text", "vec").coalesce(1).write.parquet(in.toString)
      val qr = Gen.rng(seed, 6000L + d)
      val indexed = (entries ++ admitted).toArray
      val queries = (0 until Queries).map { q =>
        val src = indexed(qr.nextInt(indexed.length)).vec
        (d * 1000L + q, space.around(qr, src.map(_.toDouble), 0.05))
      }
      var hits = Array.empty[(Long, Long)]
      val ok =
        if (timed) r.timedRound("index_append.round", d, rows.length.toLong, Util.dirBytes(in)) {
          hits = round(d, in.toString, queries)
        } else { hits = round(d, in.toString, queries); t.release(); true }
      if (!ok) { r.operation(false); return false }
      entries ++= admitted
      val got = spark.read.parquet(r.work.resolve("verdicts").resolve(d.toString).toString)
        .select("id", "verdict").as[(Long, String)].collect().toMap
      val okVerdicts = r.check(got == want, {
        val wrong = want.count { case (id, v) => !got.get(id).contains(v) }
        s"index_append round $d: $wrong of ${want.size} verdicts differ " +
          s"(${got.size} classified)"
      })
      val idArr = indexed.map(_.id)
      val vecArr = indexed.map(_.vec)
      val byQ = hits.groupBy(_._1).map { case (q, hs) => q -> hs.map(_._2).toSet }
      val recall = Util.mean(queries.map { case (qid, qv) =>
        val truth = Vecs.bruteTopK(idArr, vecArr, qv, K)
        byQ.getOrElse(qid, Set.empty[Long]).count(truth).toDouble / K
      })
      val okRecall = r.check(recall >= RecallFloor,
        f"index_append round $d: recall@10 $recall%.3f below floor $RecallFloor")
      val corpusRows = spark.read.parquet(corpus).count()
      val okCorpus = r.check(corpusRows == entries.length,
        s"index_append round $d: corpus has $corpusRows docs, expected ${entries.length}")
      if (timed) {
        Seq("admitted", "dup_corpus", "dup_batch").foreach { v =>
          counts(v) += got.count(_._2 == v).toDouble
        }
        recalls += recall
      }
      r.operation(okVerdicts && okRecall && okCorpus)
      true
    }

    r.sampleHeap()
    r.setupDone()
    // whole compaction cycles only, so every run carries the same share
    var d = 1
    while (r.measuredS < r.opts.seconds || r.rounds.length < CompactEvery ||
        (d - 1) % CompactEvery != 0) {
      if (!oneRound(d, timed = true)) return
      r.sampleHeap()
      d += 1
    }
    counts.foreach { case (v, xs) => r.layer(s"ext.dedup.incr_classify.$v") = Util.mean(xs.toSeq) }
    r.layer("ext.ann.search.recall_at_10") = Util.mean(recalls.toSeq)
    val idx = Seq(r.work.resolve("near-index"), r.work.resolve("ann-index"))
    r.layer("ext.index.bytes") = idx.map(Util.dirBytes).sum.toDouble
    r.layer("ext.index.files") = idx.map(Util.dataFiles).sum.toDouble
  }
}
