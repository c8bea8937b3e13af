package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("queue stream delivers to JDBC exactly-once via foreachBatch upsert") {
    System.setProperty("derby.stream.error.file", "/tmp/graft_test_derby.log")
    val dir = tempDir("graft_sjdbc_")
    val url = s"jdbc:derby:$dir/db;create=true"
    // seed the target table (and its schema) with one stale row for offset 0
    graft.sources.JdbcSink.append(
      Seq((0L, "stale")).toDF("off", "body"), url, "qt",
      mode = org.apache.spark.sql.SaveMode.Overwrite)
    val merge =
      """MERGE INTO qt USING SYSIBM.SYSDUMMY1
        |ON qt."off" = CAST(? AS BIGINT)
        |WHEN MATCHED THEN UPDATE SET "body" = CAST(? AS VARCHAR(64))
        |WHEN NOT MATCHED THEN INSERT ("off", "body") VALUES (CAST(? AS BIGINT), CAST(? AS VARCHAR(64)))""".stripMargin
    MessageQueues.clear("sj")
    MessageQueues.push("sj", "m0", "m1")
    def deliver(): Unit = {
      val df = spark.readStream.format("graft.streaming.QueueSourceProvider")
        .option("queue", "sj").load()
        .selectExpr("offset AS p1", "body AS p2", "offset AS p3", "body AS p4")
      Streams.toJdbcUpsert(df, url, merge, checkpoint = s"$dir/ckpt")
        .awaitTermination()
    }
    deliver()
    MessageQueues.push("sj", "m2")
    deliver()   // same checkpoint: re-delivers nothing, upserts only m2
    val back = graft.sources.JdbcSource.read(spark, url, "qt")
    assert(back.orderBy("off").as[(Long, String)].collect().toSeq ==
      Seq((0L, "m0"), (1L, "m1"), (2L, "m2")))
  }

  test("windowedCounts over a MemoryStream matches the batch group-by") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      ("a", ts("2024-01-01 00:10:00")), ("a", ts("2024-01-01 00:20:00")),
      ("b", ts("2024-01-01 00:40:00")), ("a", ts("2024-01-01 01:05:00")))
    val mem = MemoryStream[(String, Timestamp)]
    mem.addData(data: _*)
    val streamed = Streams.windowedCounts(
      mem.toDF().toDF("k", "t"), "t", "1 hour", None, "10 minutes", Seq("k"))
    val got = Streams.runToMemoryComplete(spark, streamed)
      .as[(Timestamp, String, Long)].collect().toSet
    val want = data.toDF("k", "t")
      .groupBy(date_trunc("hour", $"t").as("wstart"), $"k")
      .agg(count(lit(1)).as("cnt"))
      .as[(Timestamp, String, Long)].collect().toSet
    assert(got == want)
  }

  test("sessionCounts groups events within the gap into one session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    mem.addData(
      (1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:10:00")),  // session 1
      (1L, ts("2024-01-01 02:00:00")),                                   // session 2
      (2L, ts("2024-01-01 00:05:00")))
    val streamed = Streams.sessionCounts(
      mem.toDF().toDF("user_id", "t"), "t", "30 minutes", "1 hour", Seq("user_id"))
    val got = Streams.runToMemoryComplete(spark, streamed)
      .as[(Timestamp, Long, Long)].collect().toSet
    assert(got == Set(
      (ts("2024-01-01 00:00:00"), 1L, 2L),
      (ts("2024-01-01 02:00:00"), 1L, 1L),
      (ts("2024-01-01 00:05:00"), 2L, 1L)))
  }

  test("intervalJoin emits each in-window pair exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    clicks.addData(
      (1L, 100L, ts("2024-01-01 00:00:00")),
      (1L, 101L, ts("2024-01-01 00:30:00")),
      (2L, 102L, ts("2024-01-01 00:00:00")))
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    purchases.addData(
      (1L, 200L, ts("2024-01-01 00:10:00")),   // in window of click 100
      (1L, 201L, ts("2024-01-01 00:40:00")),   // in window of 101, outside 100's
      (3L, 202L, ts("2024-01-01 00:05:00")))   // user with no click
    val joined = Streams.intervalJoin(
      clicks.toDF().toDF("user_id", "click_id", "click_ts"),
      purchases.toDF().toDF("p_user", "purchase_id", "p_ts"),
      col("user_id") === col("p_user"), "click_ts", "p_ts",
      watermarkDelay = "1 hour", maxGap = "30 minutes")
    val got = Streams.runToMemoryComplete(spark, joined, outputMode = "append")
      .select("click_id", "purchase_id").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 200L), (101L, 201L)))
  }

  test("intervalJoin matches the batch interval join on a pseudo-random load") {
    implicit val sqlCtx = spark.sqlContext
    // deterministic pseudo-random events (fixed LCG, no wall-clock): 60
    // left and 80 right rows over 12 users and a 2 h span — enough overlap
    // to exercise in-window, out-of-window, and multi-match cases
    var seed = 0x5DEECE66DL
    def next(n: Int): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n).toInt + n) % n }
    val base = ts("2024-01-01 00:00:00").getTime
    val lRows = (1 to 60).map(i =>
      (next(12).toLong, 1000L + i, new Timestamp(base + next(7200) * 1000L)))
    val rRows = (1 to 80).map(i =>
      (next(12).toLong, 2000L + i, new Timestamp(base + next(7200) * 1000L)))
    val l = MemoryStream[(Long, Long, Timestamp)]; l.addData(lRows: _*)
    val r = MemoryStream[(Long, Long, Timestamp)]; r.addData(rRows: _*)
    val streamed = Streams.intervalJoin(
      l.toDF().toDF("u", "lid", "lts"), r.toDF().toDF("ru", "rid", "rts"),
      col("u") === col("ru"), "lts", "rts",
      watermarkDelay = "1 hour", maxGap = "15 minutes")
    val got = Streams.runToMemoryComplete(spark, streamed, outputMode = "append")
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val want = (for {
      (lu, lid, lts) <- lRows; (ru, rid, rts) <- rRows
      if lu == ru && rts.getTime >= lts.getTime &&
        rts.getTime <= lts.getTime + 15 * 60 * 1000L
    } yield (lid, rid)).toSet
    assert(want.nonEmpty && got == want)
  }

  test("dedupWithinWatermark emits one row per key within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    mem.addData(
      ("k1", ts("2024-01-01 00:00:00")), ("k1", ts("2024-01-01 00:01:00")),
      ("k2", ts("2024-01-01 00:02:00")))
    val dd = Streams.dedupWithinWatermark(
      mem.toDF().toDF("k", "t"), "t", "1 hour", Seq("k"))
    val got = Streams.runToMemoryComplete(spark, dd, outputMode = "append")
      .select("k").as[String].collect().sorted.toSeq
    assert(got == Seq("k1", "k2"))
  }

  test("late data beyond the watermark is dropped across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    val streamed = Streams.windowedCounts(
      mem.toDF().toDF("k", "t"), "t", "1 hour", None, "10 minutes", Seq("k"))
    val name = s"graft_late_${System.nanoTime()}"
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      // batch 1: events up to 03:00 → watermark advances to 02:50
      mem.addData(("a", ts("2024-01-01 00:30:00")), ("a", ts("2024-01-01 03:00:00")))
      q.processAllAvailable()
      // batch 2: an hours-late event for the long-closed 00:00 window
      mem.addData(("a", ts("2024-01-01 00:40:00")), ("a", ts("2024-01-01 03:10:00")))
      q.processAllAvailable()
      // batch 3: push the watermark far ahead so open windows finalize
      mem.addData(("a", ts("2024-01-01 09:00:00")))
      q.processAllAvailable()
      val got = spark.table(name).as[(Timestamp, String, Long)].collect()
        .map(r => r._1 -> r._3).toMap
      // the 00:00 window count stays 1 — the late 00:40 event was dropped
      assert(got(ts("2024-01-01 00:00:00")) == 1L)
      assert(got(ts("2024-01-01 03:00:00")) == 2L)
    } finally q.stop()
  }

  test("ingestDedup admits only new content across micro-batches, idempotently") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.ingestDedup(mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", contentCols = Seq("text"), idCol = "doc_id",
      checkpoint = s"$dir/ckpt", trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1: an in-batch duplicate (ids 1,2 share content) → min id wins
      mem.addData((1L, "alpha"), (2L, "alpha"), (3L, "beta"))
      q.processAllAvailable()
      // batch 2: a cross-batch duplicate (beta) and genuinely new content
      mem.addData((4L, "beta"), (5L, "gamma"))
      q.processAllAvailable()
      // batch 3: pure replay of already-ingested content → appends nothing
      mem.addData((6L, "alpha"), (7L, "gamma"))
      q.processAllAvailable()
      val stored = spark.read.parquet(s"$dir/corpus")
      // rows carry their content hash so later batches read only that column
      assert(stored.columns.toSeq == Seq("doc_id", "text", "__h"))
      val corpus = stored.select("doc_id", "text")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(corpus == Seq((1L, "alpha"), (3L, "beta"), (5L, "gamma")))
      // one file per admitting batch: the replay wrote none
      assert(new java.io.File(s"$dir/corpus").list().count(_.endsWith(".parquet")) == 2)
    } finally q.stop()
  }

  test("ingestDecontam filters against the benchmark index, then dedups") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_dc_")
    graft.ext.Curation.buildDecontamIndex(
      Seq((100L, "benchmark alpha question one")).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx", shingleN = 3)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.ingestDecontam(mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/idx", contentCols = Seq("text"),
      idCol = "doc_id", textCol = "text", checkpoint = s"$dir/ckpt",
      shingleN = 3, trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1: a contaminated row (shares "benchmark alpha question"),
      // a clean row, and a duplicate of the clean row
      mem.addData((1L, "contains benchmark alpha question one verbatim"),
        (2L, "clean training document text"),
        (3L, "clean training document text"))
      q.processAllAvailable()
      // a new benchmark lands mid-stream; the NEXT batch must honor it
      graft.ext.Curation.appendDecontamIndex(
        Seq((200L, "benchmark beta question two")).toDF("doc_id", "text"),
        "doc_id", "text", s"$dir/idx", shingleN = 3)
      mem.addData((4L, "quotes benchmark beta question two exactly"),
        (5L, "another clean document entirely"))
      q.processAllAvailable()
      // replay of admitted content appends nothing
      mem.addData((6L, "clean training document text"))
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(2L, 5L))
    } finally q.stop()
  }

  test("ingestNearDedup admits one representative per near-dup group across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_near_")
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val mem = MemoryStream[(Long, String)]
    val q = Streams.ingestNearDedup(mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/idx", idCol = "doc_id", textCol = "text",
      checkpoint = s"$dir/ckpt", minJaccard = 0.5,
      trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1 bootstraps: in-batch near-pair (1 ≈ 2) → min id 1 kept
      mem.addData((1L, a), (2L, a + " lambda"),
        (3L, "one two three four five six seven eight nine ten"))
      q.processAllAvailable()
      // batch 2: near-dup of an INDEXED doc (no corpus re-tokenize) + novel
      mem.addData((4L, a + " mu"), (5L, "qq1 qq2 qq3 qq4 qq5 qq6"))
      q.processAllAvailable()
      // batch 3: replay of admitted content → classifies dup_corpus, no-op
      mem.addData((6L, a), (7L, "qq1 qq2 qq3 qq4 qq5 qq6"))
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 3L, 5L))
      // index grew with the admissions: day-2 novel doc is indexed too
      val v = graft.ext.Dedup.nearDedupIncremental(
          Seq((90L, "qq1 qq2 qq3 qq4 qq5 qq6")).toDF("doc_id", "text"),
          "doc_id", "text", s"$dir/idx", minJaccard = 0.5)
        .as[(Long, String)].collect().toMap
      assert(v == Map(90L -> "dup_corpus"))
    } finally q.stop()
  }

  test("ingestNearDedup bootstrap crash-replay does not duplicate the corpus") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_boot_")
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // Simulate a bootstrap that crashed AFTER the corpus write but BEFORE
    // buildNearIndex started: corpus rows on disk, no index dir at all.
    val kept = graft.ext.Dedup.nearDedup(
      Seq((1L, a), (2L, a + " lambda"), (3L, "one two three four five six"))
        .toDF("doc_id", "text"),
      "doc_id", "text", minJaccard = 0.5)
    kept.write.parquet(s"$dir/corpus")
    // The checkpoint never committed, so the SAME micro-batch replays.
    val mem = MemoryStream[(Long, String)]
    val q = Streams.ingestNearDedup(mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/idx", idCol = "doc_id", textCol = "text",
      checkpoint = s"$dir/ckpt", minJaccard = 0.5,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, a), (2L, a + " lambda"),
        (3L, "one two three four five six"))
      q.processAllAvailable()
      // bootstrap Overwrite: the replay REWRITES the corpus instead of
      // appending the same representatives a second time
      val ids = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 3L))
    } finally q.stop()
  }

  test("ingestNearDedup fails loudly when index data exists without a stamp") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_nostamp_")
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    graft.ext.Dedup.buildNearIndex(
      Seq((1L, a)).toDF("doc_id", "text"), "doc_id", "text", s"$dir/idx",
      bands = 4, rowsPerBand = 4)
    Seq((1L, a)).toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    // Simulate a crash inside an index append: data present, stamp gone.
    graft.ext.IndexFormat.invalidate(spark, s"$dir/idx")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.ingestNearDedup(mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/idx", idCol = "doc_id", textCol = "text",
      checkpoint = s"$dir/ckpt", minJaccard = 0.5,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((9L, "qq1 qq2 qq3 qq4 qq5"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      // must reach IndexFormat.check (incremental branch), NOT the
      // bootstrap branch — bootstrapping here would overwrite the index
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: messages(x.getCause))
      assert(messages(e).exists(_.contains("_meta format stamp")))
      // and the crashed state is untouched: corpus still has exactly row 1
      assert(spark.read.parquet(s"$dir/corpus").count() == 1L)
    } finally q.stop()
  }

  test("ingestImageDedup admits one representative per dHash group across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_img_")
    // pattern PNGs: same k → identical hash (dup); k and k' differ wildly
    def png(k: Long, p: Int): Array[Byte] = {
      val gen = graft.ext.Media.genPatternPngs(
        Seq((0L, k, p)).toDF("id", "k", "p"), "id", "k", "p", 9, 8)
      gen.select("content").as[Array[Byte]].head()
    }
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Streams.ingestImageDedup(mem.toDF().toDF("img_id", "content"),
      s"$dir/corpus", s"$dir/idx", s"$dir/quarantine",
      idCol = "img_id", contentCol = "content", checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1 bootstraps: in-batch near pair (1 ≈ 2: same k, perturbed)
      // → min id 1 kept; 3 is distinct; 4 is undecodable → quarantined
      mem.addData((1L, png(5, 0)), (2L, png(5, 1)), (3L, png(40, 0)),
        (4L, "not an image".getBytes))
      q.processAllAvailable()
      // batch 2: near-dup of an INDEXED image + genuinely new content
      mem.addData((5L, png(5, 1)), (6L, png(90, 0)))
      q.processAllAvailable()
      // batch 3: replay of admitted content → hamming 0 vs index, no-op
      mem.addData((7L, png(40, 0)), (8L, png(90, 0)))
      q.processAllAvailable()
      val stored = spark.read.parquet(s"$dir/corpus")
      assert(stored.columns.toSeq == Seq("img_id", "content", "dhash"))
      assert(stored.select("img_id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 3L, 6L))
      // signature table grew with the admissions
      assert(spark.read.parquet(s"$dir/idx/sigs").count() == 3L)
      // quarantine: exactly the undecodable row, with its failure class
      val quar = spark.read.parquet(s"$dir/quarantine")
        .select("img_id", "decode_err").as[(Long, String)].collect().toSeq
      assert(quar == Seq((4L, "IllegalArgumentException")))
    } finally q.stop()
  }

  test("ingestImageDedup replayed quarantine partition does not double-append") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_imgq_")
    // Simulate a quarantine write that committed while the BATCH did not:
    // the same micro-batch replays and must REWRITE batch_id=0, not append
    Seq((4L, "junk payload".getBytes, "IllegalArgumentException",
        "application/octet-stream"))
      .toDF("img_id", "content", "decode_err", "mime")
      .write.parquet(s"$dir/quarantine/batch_id=0")
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Streams.ingestImageDedup(mem.toDF().toDF("img_id", "content"),
      s"$dir/corpus", s"$dir/idx", s"$dir/quarantine",
      idCol = "img_id", contentCol = "content", checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((4L, "junk payload".getBytes))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/quarantine").count() == 1L)
      // nothing decodable ever arrived → bootstrap deferred, no index dir
      assert(!graft.ext.IndexFormat.dataExists(spark, s"$dir/idx/sigs"))
      // the first decodable batch still bootstraps normally afterwards
      val gen = graft.ext.Media.genPatternPngs(
        Seq((0L, 7L, 0)).toDF("id", "k", "p"), "id", "k", "p", 9, 8)
      mem.addData((5L, gen.select("content").as[Array[Byte]].head()))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus")
        .select("img_id").as[Long].collect().toSeq == Seq(5L))
    } finally q.stop()
  }

  test("media sig index compacts and erases with the stamped lifecycle") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_sigmaint_")
    def wav(k: Long): Array[Byte] = graft.ext.Media.genToneWavs(
      Seq((0L, k, 0, 65)).toDF("id", "k", "p", "nw"), "id", "k", "p", "nw")
      .select("content").as[Array[Byte]].head()
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Streams.ingestAudioDedup(mem.toDF().toDF("aid", "content"),
      s"$dir/corpus", s"$dir/idx", s"$dir/quarantine",
      idCol = "aid", contentCol = "content", checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      // several appending batches → several small sig files
      mem.addData((1L, wav(0))); q.processAllAvailable()
      mem.addData((2L, wav(5))); q.processAllAvailable()
      mem.addData((3L, wav(7))); q.processAllAvailable()
    } finally q.stop()
    val sigFiles0 = new java.io.File(s"$dir/idx/sigs")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(sigFiles0 >= 3)
    graft.ext.Media.compactSigIndex(spark, s"$dir/idx")
    val sigFiles1 = new java.io.File(s"$dir/idx/sigs")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(sigFiles1 == 1)
    assert(spark.read.parquet(s"$dir/idx/sigs").count() == 3L)
    // erasure: drop clip 2's signature; the stamp survives and a NEW
    // ingest of the same tone is admitted again (right to be forgotten
    // means forgotten — not remembered as a dup)
    graft.ext.Media.eraseSigIndex(spark, s"$dir/idx", "aid",
      Seq(2L).toDF("aid"))
    assert(spark.read.parquet(s"$dir/idx/sigs")
      .select("aid").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    val mem2 = MemoryStream[(Long, Array[Byte])]
    val q2 = Streams.ingestAudioDedup(mem2.toDF().toDF("aid", "content"),
      s"$dir/corpus", s"$dir/idx", s"$dir/quarantine",
      idCol = "aid", contentCol = "content", checkpoint = s"$dir/ckpt2",
      trigger = Trigger.ProcessingTime(0))
    try {
      mem2.addData((9L, wav(5))); q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(s"$dir/idx/sigs")
      .select("aid").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 9L))
    // family guard: a near-dedup index refuses the media maintenance pass
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    graft.ext.Dedup.buildNearIndex(
      Seq((1L, a)).toDF("doc_id", "text"), "doc_id", "text", s"$dir/near")
    val e = intercept[IllegalArgumentException] {
      graft.ext.Media.compactSigIndex(spark, s"$dir/near")
    }
    assert(e.getMessage.contains("not a media-dedup"))
  }

  test("ingestAudioDedup admits one clip per fingerprint group across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_aud_")
    // tone WAVs: same k → near-identical fingerprints (perturbed = 1 bit
    // off); distinct k → distant
    def wav(k: Long, p: Int): Array[Byte] = graft.ext.Media.genToneWavs(
      Seq((0L, k, p, 65)).toDF("id", "k", "p", "nw"), "id", "k", "p", "nw")
      .select("content").as[Array[Byte]].head()
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Streams.ingestAudioDedup(mem.toDF().toDF("aid", "content"),
      s"$dir/corpus", s"$dir/idx", s"$dir/quarantine",
      idCol = "aid", contentCol = "content", checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1 bootstraps: 1 ≈ 2 (same tone, re-encoded) → min id 1
      // kept; 3 distinct; 4 undecodable → quarantined
      mem.addData((1L, wav(5, 0)), (2L, wav(5, 1)), (3L, wav(7, 0)),
        (4L, "not audio".getBytes))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus")
        .select("aid").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
      assert(spark.read.parquet(s"$dir/quarantine")
        .select("aid", "decode_err").as[(Long, String)].collect().toSeq ==
        Seq((4L, "IllegalArgumentException")))
      // batch 2: re-encode of an INDEXED tone (dup) + genuinely new tone
      // (patterns 0/5/7 are pairwise 22-31 fingerprint bits apart)
      mem.addData((5L, wav(7, 1)), (6L, wav(0, 0)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus")
        .select("aid").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 6L))
      // batch 3: replay of committed content → hamming 0 vs index, no-op
      mem.addData((7L, wav(0, 0)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() == 3L)
      assert(spark.read.parquet(s"$dir/idx/sigs").count() == 3L)
    } finally q.stop()
  }

  test("ingestVideoDedup admits one video per shared-frame group across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_vid_")
    // pattern AVIs: same k → identical frame set; k and k' disjoint
    def avi(k: Long, n: Int): Array[Byte] = graft.ext.Media.genPatternAvis(
      Seq((0L, k, n)).toDF("id", "k", "n"), "id", "k", "n", 9, 8)
      .select("content").as[Array[Byte]].head()
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Streams.ingestVideoDedup(mem.toDF().toDF("vid", "content"),
      s"$dir/corpus", s"$dir/idx", s"$dir/quarantine",
      idCol = "vid", contentCol = "content", checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1 bootstraps: videos 1,2 share all 3 frames (same k) → min
      // id 1 kept; 3 is a distinct pattern; 4 is garbage → quarantined
      mem.addData((1L, avi(5, 3)), (2L, avi(5, 3)), (3L, avi(40, 3)),
        (4L, "not a video".getBytes))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus")
        .select("vid").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
      assert(spark.read.parquet(s"$dir/quarantine")
        .select("vid", "decode_err").as[(Long, String)].collect().toSeq ==
        Seq((4L, "IllegalArgumentException")))
      // batch 2: a TRIM of stored pattern 5 (2 of its 3 frames → dup at
      // minShared=2) + genuinely new content
      mem.addData((5L, avi(5, 2)), (6L, avi(90, 3)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus")
        .select("vid").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 6L))
      // batch 3: replay of committed content → dup against own sigs, no-op
      mem.addData((7L, avi(40, 3)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() == 3L)
      // signature table holds the admitted videos' distinct frames: 3+3+3
      assert(spark.read.parquet(s"$dir/idx/sigs").count() == 9L)
    } finally q.stop()
  }

  test("ingestAudioDedup quarantines non-16-bit PCM with its payload, stream survives") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_aud24_")
    def wav(k: Long): Array[Byte] = graft.ext.Media.genToneWavs(
      Seq((0L, k, 0, 65)).toDF("id", "k", "p", "nw"), "id", "k", "p", "nw")
      .select("content").as[Array[Byte]].head()
    // a VALID PCM WAV whose bits field says 24: the lenient header decode
    // accepts it, but the fingerprint reads 16-bit only — it must land in
    // quarantine, never fail (and permanently wedge) the micro-batch
    val wav24 = { val b = wav(3); b(34) = 24; b }
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Streams.ingestAudioDedup(mem.toDF().toDF("aid", "content"),
      s"$dir/corpus", s"$dir/idx", s"$dir/quarantine",
      idCol = "aid", contentCol = "content", checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, wav(5)), (2L, wav24), (3L, "junk".getBytes))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus")
        .select("aid").as[Long].collect().toSeq == Seq(1L))
      val quar = spark.read.parquet(s"$dir/quarantine")
        .select("aid", "decode_err", "content")
        .as[(Long, String, Array[Byte])].collect().sortBy(_._1).toSeq
      assert(quar.map(q => (q._1, q._2)) ==
        Seq((2L, "UnsupportedBitDepth(24)"), (3L, "IllegalArgumentException")))
      // the payload rides along for later triage/re-processing
      assert(quar.forall(_._3 != null) && quar.head._3.sameElements(wav24))
      // the stream is NOT wedged: the next batch still admits
      mem.addData((4L, wav(9)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() == 2L)
    } finally q.stop()
  }

  test("ingestVideoDedup: MP4 re-container of stored AVI content is a dup") {
    val dir = tempDir("graft_vid_xcont_")
    def avi(id: Long, k: Long, n: Int) = graft.ext.Media.genPatternAvis(
      Seq((id, k, n)).toDF("id", "k", "n"), "id", "k", "n", 9, 8)
    def mp4(id: Long, k: Long, n: Int) = graft.ext.Media.genPatternMp4s(
      Seq((id, k, n)).toDF("id", "k", "n"), "id", "k", "n", 9, 8)
    // day 1: an AVI of pattern 5 bootstraps the frame-signature index
    Streams.ingestVideoDedupBatch(avi(1L, 5L, 3), 0L, s"$dir/corpus",
      s"$dir/idx", s"$dir/quar", "id", "content")
    // day 2: the SAME frames re-containered as MP4 (dup — frame dHashes
    // are container-independent) + a genuinely new MP4 (admits)
    Streams.ingestVideoDedupBatch(
      mp4(2L, 5L, 3).unionByName(mp4(3L, 90L, 3)), 1L, s"$dir/corpus",
      s"$dir/idx", s"$dir/quar", "id", "content")
    assert(spark.read.parquet(s"$dir/corpus")
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // day 3: the same content RE-PACKAGED as FRAGMENTED MP4 (the
    // DASH/streaming-recorder shape) — still a dup; a new fMP4 admits
    def fmp4(id: Long, k: Long, n: Int) = graft.ext.Media.genPatternFmp4s(
      Seq((id, k, n, 2)).toDF("id", "k", "n", "fs"), "id", "k", "n", "fs", 9, 8)
    Streams.ingestVideoDedupBatch(
      fmp4(4L, 5L, 3).unionByName(fmp4(5L, 77L, 3)), 2L, s"$dir/corpus",
      s"$dir/idx", s"$dir/quar", "id", "content")
    assert(spark.read.parquet(s"$dir/corpus")
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 5L))
    // nothing was quarantined along the way — every verdict was dup/admit
    assert(spark.read.parquet(s"$dir/quar").count() == 0L)
  }

  test("ingestVideoDedup quarantines a corrupt-frame video; batch survives") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_vidbad_")
    def avi(k: Long, n: Int): Array[Byte] = graft.ext.Media.genPatternAvis(
      Seq((0L, k, n)).toDF("id", "k", "n"), "id", "k", "n", 9, 8)
      .select("content").as[Array[Byte]].head()
    // valid container, undecodable frame payload — the case the container
    // header check cannot see; it must quarantine the video, not replay-
    // poison the stream
    val junk = Array.tabulate[Byte](16)(i => (i * 7 + 1).toByte)
    val movi = {
      val bb = java.nio.ByteBuffer.allocate(8 + 16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("00dc".getBytes("US-ASCII")).putInt(16).put(junk)
      bb.array()
    }
    val badFrame = graft.ext.Media.encodeAvi(33333, 1, 1, 9, 8, movi)
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Streams.ingestVideoDedup(mem.toDF().toDF("vid", "content"),
      s"$dir/corpus", s"$dir/idx", s"$dir/quarantine",
      idCol = "vid", contentCol = "content", checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, avi(5, 3)), (2L, badFrame), (3L, "junk".getBytes))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus")
        .select("vid").as[Long].collect().toSeq == Seq(1L))
      val quar = spark.read.parquet(s"$dir/quarantine")
        .select("vid", "decode_err", "content")
        .as[(Long, String, Array[Byte])].collect().sortBy(_._1).toSeq
      assert(quar.map(_._1) == Seq(2L, 3L))
      // both failure classes carry their payloads for triage
      assert(quar.forall(_._3 != null) && quar.head._3.sameElements(badFrame))
      // next batch still flows
      mem.addData((4L, avi(90, 3)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() == 2L)
    } finally q.stop()
  }

  test("ingestVideoDedup quarantines an over-maxFrames video WITH payload; stream survives replay") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_vidcap_")
    def avi(k: Long, n: Int): Array[Byte] = graft.ext.Media.genPatternAvis(
      Seq((0L, k, n)).toDF("id", "k", "n"), "id", "k", "n", 9, 8)
      .select("content").as[Array[Byte]].head()
    val long = avi(7, 5) // 5 frames > the cap below — the hour-long stand-in
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Streams.ingestVideoDedup(mem.toDF().toDF("vid", "content"),
      s"$dir/corpus", s"$dir/idx", s"$dir/quarantine",
      idCol = "vid", contentCol = "content", checkpoint = s"$dir/ckpt",
      maxFrames = 4, trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, avi(5, 3)), (2L, long))
      q.processAllAvailable()
      // the over-cap video never reaches the corpus or the sig index…
      assert(spark.read.parquet(s"$dir/corpus")
        .select("vid").as[Long].collect().toSeq == Seq(1L))
      assert(spark.read.parquet(s"$dir/idx/sigs").count() == 3L)
      // …it quarantines as ONE row WITH its payload (re-processable after
      // the source batch is gone, e.g. under a raised cap)
      val quar = spark.read.parquet(s"$dir/quarantine")
        .select("vid", "decode_err", "content")
        .as[(Long, String, Array[Byte])].collect().toSeq
      assert(quar.map(_._1) == Seq(2L))
      assert(quar.head._2 == "IllegalArgumentException")
      assert(quar.head._3.sameElements(long))
      // the stream is not wedged: the next batch flows
      mem.addData((3L, avi(90, 3)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() == 2L)
    } finally q.stop()
  }

  test("ingestVideoDedup keyframe admission: over-cap stss MP4 classifies, not quarantines") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_vidkf_")
    def kfMp4(k: Long, n: Int, step: Int): Array[Byte] =
      graft.ext.Media.genPatternMp4sKeyframed(
        Seq((0L, k, n, step)).toDF("id", "k", "n", "step"),
        "id", "k", "n", "step", 9, 8)
        .select("content").as[Array[Byte]].head()
    def avi(k: Long, n: Int): Array[Byte] = graft.ext.Media.genPatternAvis(
      Seq((0L, k, n)).toDF("id", "k", "n"), "id", "k", "n", 9, 8)
      .select("content").as[Array[Byte]].head()
    // 12 frames > cap 6, but stss declares only 4 sync samples (f = 0, 3,
    // 6, 9) -- the hour-long stand-in that full-frame admission (r18 test
    // above) can only quarantine
    val longMp4 = kfMp4(1, 12, 3)
    val longAvi = avi(5, 8) // 8 frames > 6, no sync declaration to sample
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Streams.ingestVideoDedup(mem.toDF().toDF("vid", "content"),
      s"$dir/corpus", s"$dir/idx", s"$dir/quarantine",
      idCol = "vid", contentCol = "content", checkpoint = s"$dir/ckpt",
      maxFrames = 6, admit = "keyframe", trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, avi(20, 3)), (2L, longMp4), (3L, longAvi))
      q.processAllAvailable()
      // the over-cap stss MP4 CLASSIFIES (admitted on its 4 keyframe
      // decodes); the over-cap AVI still quarantines (no sync table)
      assert(spark.read.parquet(s"$dir/corpus")
        .select("vid").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      assert(spark.read.parquet(s"$dir/quarantine")
        .select("vid").as[Long].collect().toSeq == Seq(3L))
      // sigs: 3 AVI frames + 4 MP4 keyframes only (never all 12)
      assert(spark.read.parquet(s"$dir/idx/sigs").count() == 7L)
      // a re-drop of the same content under a FRESH id shares all 4
      // keyframe signatures >= minShared -- rejected as a dup
      mem.addData((4L, kfMp4(1, 12, 3)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() == 2L)
      // replay of a committed id admits nothing (exact-id admission)
      mem.addData((2L, longMp4))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() == 2L)
      assert(spark.read.parquet(s"$dir/idx/sigs").count() == 7L)
      // the admission mode is part of the index format: pointing the
      // full-frame reader at a keyframe-built index fails loudly
      val fresh = graft.ext.Media.genPatternAvis(
        Seq((9L, 90L, 3)).toDF("vid", "k", "n"), "vid", "k", "n", 9, 8)
      val ex = intercept[IllegalStateException] {
        Streams.ingestVideoDedupBatch(fresh, 99L, s"$dir/corpus",
          s"$dir/idx", s"$dir/quarantine", "vid", "content",
          maxFrames = 6, admit = "fullFrame")
      }
      assert(ex.getMessage.contains("videodedup"))
    } finally q.stop()
  }

  test("ingestVideoDedup replay of a DEGENERATE video (n_frames < minShared) appends nothing") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_viddgn_")
    def avi(k: Long, n: Int): Array[Byte] = graft.ext.Media.genPatternAvis(
      Seq((0L, k, n)).toDF("id", "k", "n"), "id", "k", "n", 9, 8)
      .select("content").as[Array[Byte]].head()
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Streams.ingestVideoDedup(mem.toDF().toDF("vid", "content"),
      s"$dir/corpus", s"$dir/idx", s"$dir/quarantine",
      idCol = "vid", contentCol = "content", checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      // bootstrap: a healthy 3-frame video + a SINGLE-frame video (below
      // minShared=2 — it can never re-classify against its own stored
      // signatures) + a ZERO-frame valid container (no signatures at all)
      mem.addData((1L, avi(5, 3)), (2L, avi(7, 1)), (3L, avi(9, 0)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus")
        .select("vid").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      assert(spark.read.parquet(s"$dir/idx/sigs").count() == 4L) // 3 + 1 + 0
      // a replayed COMMITTED batch re-delivers the same rows: the exact-id
      // admission must classify ALL of them as dups — the shared-frame
      // rule alone could never catch 2 (one frame) or 3 (zero frames)
      mem.addData((1L, avi(5, 3)), (2L, avi(7, 1)), (3L, avi(9, 0)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() == 3L)
      assert(spark.read.parquet(s"$dir/idx/sigs").count() == 4L)
    } finally q.stop()
  }

  test("ingestPdf admits pages by text identity, quarantines corrupt documents") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_pdf_")
    def pdf(k: Long, n: Int): Array[Byte] = graft.ext.Pdf.genPdfs(
      Seq((k, n, true)).toDF("id", "n", "flate"), "id", "n", "flate")
      .select("content").as[Array[Byte]].head()
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Streams.ingestPdf(mem.toDF().toDF("pid", "content"),
      s"$dir/corpus", s"$dir/idx", s"$dir/quarantine",
      idCol = "pid", contentCol = "content", checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1 bootstraps: doc 1's 2 pages; a corrupt doc quarantines
      mem.addData((1L, pdf(1, 2)), (99L, "not a pdf".getBytes))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() == 2L)
      assert(spark.read.parquet(s"$dir/quarantine")
        .select("pid").as[Long].collect().toSeq == Seq(99L))
      // batch 2: a RE-DROP of doc 1 under a new file id (page text
      // identical → nothing appends) + a new doc (3 pages append)
      mem.addData((2L, pdf(1, 2)), (3L, pdf(3, 3)))
      q.processAllAvailable()
      val stored = spark.read.parquet(s"$dir/corpus")
      assert(stored.count() == 5L)
      assert(stored.select("doc_id").distinct().as[Long].collect().sorted
        .toSeq == Seq(1L, 3L))
      // batch 3: replay → classified dup, no-op
      mem.addData((4L, pdf(3, 3)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() == 5L)
      assert(spark.read.parquet(s"$dir/idx/hashes").count() == 5L)
    } finally q.stop()
  }

  test("ingestWarc admits records by content identity, quarantines rotten segments") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_warc_")
    def warc(k: Long, n: Int): Array[Byte] = graft.sources.Warc.genWarcs(
      Seq((k, n, true)).toDF("id", "n", "gz"), "id", "n", "gz")
      .select("content").as[Array[Byte]].head()
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Streams.ingestWarc(mem.toDF().toDF("wid", "content"),
      s"$dir/corpus", s"$dir/idx", s"$dir/quarantine",
      idCol = "wid", contentCol = "content", checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1 bootstraps: file 1 (1 warcinfo + 2x(req,resp) = 5 records)
      // plus one rotten segment that must quarantine, not fail the stream
      mem.addData((1L, warc(1, 2)), (99L, "not a warc".getBytes))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() == 5L)
      val quar = spark.read.parquet(s"$dir/quarantine")
        .select("wid", "decode_err").as[(Long, String)].collect().toSeq
      assert(quar == Seq((99L, "IllegalArgumentException")))
      // batch 2: a RE-CRAWL of file 1's bytes under a new file id (every
      // record's (uri, body) identity already stored → appends nothing)
      // plus a genuinely new file (appends its 7 records)
      mem.addData((2L, warc(1, 2)), (3L, warc(3, 3)))
      q.processAllAvailable()
      val stored = spark.read.parquet(s"$dir/corpus")
      assert(stored.count() == 12L)
      assert(stored.select("file_id").distinct().as[Long].collect().sorted
        .toSeq == Seq(1L, 3L))
      assert(spark.read.parquet(s"$dir/idx/hashes").count() == 12L)
      // batch 3: replay of committed content → classified dup, no-op
      mem.addData((4L, warc(3, 3)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() == 12L)
      assert(spark.read.parquet(s"$dir/idx/hashes").count() == 12L)
    } finally q.stop()
  }

  test("ingestWarc replayed quarantine rewrites its partition; bootstrap defers") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_warcq_")
    // a quarantine write that committed while the batch did not: the
    // replayed micro-batch must REWRITE batch_id=0, not double-append
    Seq((99L, "IllegalArgumentException"))
      .toDF("wid", "decode_err")
      .write.parquet(s"$dir/quarantine/batch_id=0")
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Streams.ingestWarc(mem.toDF().toDF("wid", "content"),
      s"$dir/corpus", s"$dir/idx", s"$dir/quarantine",
      idCol = "wid", contentCol = "content", checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((99L, "not a warc".getBytes))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/quarantine").count() == 1L)
      // an all-quarantined first batch must NOT bootstrap
      assert(!graft.ext.IndexFormat.dataExists(spark, s"$dir/idx/hashes"))
      // the first healthy batch still bootstraps normally afterwards
      val good = graft.sources.Warc.genWarcs(
        Seq((7L, 1, false)).toDF("id", "n", "gz"), "id", "n", "gz")
        .select("content").as[Array[Byte]].head()
      mem.addData((7L, good))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() == 3L)
      assert(spark.read.parquet(s"$dir/idx/hashes").count() == 3L)
    } finally q.stop()
  }

  test("appendCorpusAndNearIndex keeps corpus+index under one commit marker") {
    val dir = tempDir("graft_append_both_")
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    graft.ext.Dedup.buildNearIndex(
      Seq((1L, a)).toDF("doc_id", "text"), "doc_id", "text", s"$dir/idx")
    Seq((1L, a)).toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    // A batch whose text column has a non-string struct type fails the
    // shingle step AFTER the corpus append — exactly the crash window the
    // single commit marker must cover.
    val bad = Seq((7L, 42)).toDF("doc_id", "n")
      .select(col("doc_id"), struct(col("n")).as("text"))
    intercept[Exception] {
      graft.ext.Dedup.appendCorpusAndNearIndex(bad, s"$dir/corpus2",
        "doc_id", "text", s"$dir/idx")
    }
    // the failure landed inside the marker window → stamp must be OFF and
    // every reader must reject the index until it is repaired
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/idx/_meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(metaPath))
    intercept[IllegalStateException] {
      graft.ext.Dedup.nearDedupIncremental(
        Seq((8L, a)).toDF("doc_id", "text"), "doc_id", "text", s"$dir/idx")
    }
  }

  test("ingestVectors admits only new ids and keeps the IVF index searchable") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_vec_")
    def v(x: Double, y: Double, z: Double) = Seq(x.toFloat, y.toFloat, z.toFloat)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streams.ingestVectors(mem.toDF().toDF("vec_id", "embedding"),
      s"$dir/corpus", s"$dir/idx", idCol = "vec_id", vecCol = "embedding",
      checkpoint = s"$dir/ckpt", nLists = 2,
      trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1 bootstraps: trains the quantizer, seeds corpus + index
      mem.addData((1L, v(10, 0, 0)), (2L, v(0, 10, 0)), (3L, v(10, 0.4, 0)))
      q.processAllAvailable()
      // batch 2: a duplicate id (stale re-delivery) + a genuinely new vector
      mem.addData((1L, v(9, 1, 1)), (4L, v(0, 9.5, 0.2)))
      q.processAllAvailable()
      // batch 3: pure replay of known ids → appends nothing
      mem.addData((4L, v(0, 9.5, 0.2)), (2L, v(0, 10, 0)))
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$dir/corpus")
        .select("vec_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L, 4L))
      // the batch-2 admission is searchable from the persisted index, in
      // the same cell as its near neighbor (id 2)
      val idx = graft.ext.Ivf.readIndex(spark, s"$dir/idx")
      assert(idx.assigned.count() == 4)
      val hits = graft.ext.Ivf.search(idx.assigned, idx, "vec_id", "embedding",
        queryVec = Seq(0.0, 10.0, 0.0), k = 2, nProbe = 1)
        .as[(Long, Double)].collect().map(_._1).toSet
      assert(hits == Set(2L, 4L))
      // the id-1 vector kept is the FIRST arrival (batch-2's stale
      // re-delivery of id 1 was dropped by the anti-join)
      val v1 = spark.read.parquet(s"$dir/corpus")
        .filter($"vec_id" === 1L).select("embedding")
        .as[Seq[Float]].head()
      assert(v1 == v(10, 0, 0))
    } finally q.stop()
  }

  test("ingestSemanticDedup admits one representative per cosine group across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_sem_")
    def v(x: Double, y: Double, z: Double, w: Double) =
      Seq(x.toFloat, y.toFloat, z.toFloat, w.toFloat)
    val va = v(1, 0, 0, 0); val vb = v(0, 1, 0, 0); val vc = v(0, 0, 1, 0)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streams.ingestSemanticDedup(mem.toDF().toDF("vec_id", "embedding"),
      s"$dir/corpus", s"$dir/idx", idCol = "vec_id", vecCol = "embedding",
      checkpoint = s"$dir/ckpt", k = 2, dim = 4, threshold = 0.999,
      trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1 bootstraps: in-batch cosine dup (1 ≡ 2) → min id 1 kept;
      // anchors frozen from the kept representatives
      mem.addData((1L, va), (2L, va), (3L, vb))
      q.processAllAvailable()
      // batch 2: dup of an INDEXED vector + a genuinely novel direction
      mem.addData((4L, vb), (5L, vc))
      q.processAllAvailable()
      // batch 3: pure replay of admitted content → appends nothing
      mem.addData((6L, va), (7L, vc))
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$dir/corpus")
        .select("vec_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 3L, 5L))
      // the day-2 admission is in the index: its content now classifies
      // dup_corpus (and the stamp matches the BOOTSTRAP k, not the config)
      val verdict = graft.ext.Dedup.semanticDedupIncremental(
          Seq((90L, vc)).toDF("vec_id", "embedding"), "vec_id", "embedding",
          s"$dir/idx", k = 2, dim = 4, threshold = 0.999)
        .as[(Long, String)].collect().toMap
      assert(verdict == Map(90L -> "dup_corpus"))
    } finally q.stop()
  }

  test("ingestSemanticDedup: an empty file arriving first bootstraps nothing; the next batch does") {
    val dir = tempDir("graft_ingest_sem_empty_")
    def v(x: Double, y: Double, z: Double, w: Double) =
      Seq(x.toFloat, y.toFloat, z.toFloat, w.toFloat)
    def arrive(rows: (Long, Seq[Float])*): Unit =
      rows.toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(s"$dir/in")
    arrive()
    assert(new java.io.File(s"$dir/in").list().count(_.endsWith(".parquet")) == 1)
    val q = Streams.ingestSemanticDedup(
      spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"),
      s"$dir/corpus", s"$dir/idx", idCol = "vec_id", vecCol = "embedding",
      checkpoint = s"$dir/ckpt", k = 4, dim = 4, threshold = 0.999,
      trigger = Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      assert(q.lastProgress != null && q.lastProgress.numInputRows == 0L)
      assert(!graft.ext.IndexFormat.dataExists(spark, s"$dir/idx"))
      assert(!new java.io.File(s"$dir/corpus").exists())
      // 1 ≡ 2: the bootstrap keeps 1 and 3, and builds min(k, 2) = 2 anchors
      arrive((1L, v(1, 0, 0, 0)), (2L, v(1, 0, 0, 0)), (3L, v(0, 1, 0, 0)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").select("vec_id").as[Long]
        .collect().sorted.toSeq == Seq(1L, 3L))
      assert(graft.ext.Dedup.semanticIndexK(spark, s"$dir/idx").contains(2))
    } finally q.stop()
  }

  test("ingestSemanticDedup fails loudly when index data exists without a stamp") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_semnostamp_")
    def v(x: Double, y: Double, z: Double, w: Double) =
      Seq(x.toFloat, y.toFloat, z.toFloat, w.toFloat)
    graft.ext.Dedup.buildSemanticIndex(
      Seq((1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$dir/idx", k = 2, dim = 4)
    Seq((1L, v(1, 0, 0, 0))).toDF("vec_id", "embedding").write.parquet(s"$dir/corpus")
    // crash inside an index append: data present, stamp gone — the next
    // batch must reach IndexFormat.check, never the bootstrap branch
    graft.ext.IndexFormat.invalidate(spark, s"$dir/idx")
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streams.ingestSemanticDedup(mem.toDF().toDF("vec_id", "embedding"),
      s"$dir/corpus", s"$dir/idx", idCol = "vec_id", vecCol = "embedding",
      checkpoint = s"$dir/ckpt", k = 2, dim = 4,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((9L, v(0, 0, 1, 0)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: messages(x.getCause))
      assert(messages(e).exists(_.contains("_meta format stamp")))
      assert(spark.read.parquet(s"$dir/corpus").count() == 1L)
    } finally q.stop()
  }

  test("ingestSearchDocs admits only new ids and keeps BM25 queryable") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_srch_")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.ingestSearchDocs(mem.toDF().toDF("doc_id", "text"),
      s"$dir/idx", idCol = "doc_id", textCol = "text",
      checkpoint = s"$dir/ckpt", nBuckets = 4,
      trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1 bootstraps the index
      mem.addData((1L, "spark hash join"), (2L, "vector search index"))
      q.processAllAvailable()
      // batch 2: stale re-delivery of id 1 + a genuinely new doc
      mem.addData((1L, "changed text ignored"), (3L, "hash join order"))
      q.processAllAvailable()
      // batch 3: pure replay → appends nothing
      mem.addData((3L, "hash join order"))
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$dir/idx/docs")
        .select("id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
      // day-2 admission is searchable; id-1 postings are the FIRST arrival
      val hits = graft.ext.SearchIndex.bm25TopKIndexed(spark, s"$dir/idx",
          Seq("hash", "join"), k = 10)
        .select("id").as[Long].collect().toSet
      assert(hits == Set(1L, 3L))
      val w1 = spark.read.parquet(s"$dir/idx/postings")
        .filter($"id" === 1L).select("w").as[String].collect().toSet
      assert(w1 == Set("spark", "hash", "join"))
    } finally q.stop()
  }

  test("ingestQualityGated gates on the stored LM, honors retrains, dedups") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_qg_")
    // model trained on fluent reference: good:2 clean:2 text:1 prose:1
    // → in-vocab avg ≈ -1434 milli-nats, pure-OOV avg = -2398
    val ref = Seq((100L, "good clean text"), (101L, "good clean prose"))
      .toDF("doc_id", "text")
    graft.ext.Lm.writeModel(spark,
      graft.ext.Lm.unigramModel(ref, "text", maxVocab = 100), s"$dir/model")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.ingestQualityGated(mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/model", contentCols = Seq("text"),
      idCol = "doc_id", textCol = "text", minAvgLpMilli = -2000L,
      checkpoint = s"$dir/ckpt", trigger = Trigger.ProcessingTime(0))
    try {
      // fluent row admitted; gibberish gated; duplicate deduped; empty gated
      mem.addData((1L, "good clean text"), (2L, "zx qw er"),
        (3L, "good clean text"), (4L, ""))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").select("doc_id")
        .as[Long].collect().sorted.toSeq == Seq(1L))
      // retrain mid-stream on a different register: the NEXT batch scores
      // against the new model immediately and now admits it
      graft.ext.Lm.writeModel(spark,
        graft.ext.Lm.unigramModel(
          Seq((200L, "zx qw er"), (201L, "zx qw vb")).toDF("doc_id", "text"),
          "text", maxVocab = 100), s"$dir/model")
      mem.addData((5L, "zx qw er"))
      q.processAllAvailable()
      // replay of already-admitted content appends nothing
      mem.addData((6L, "zx qw er"))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").select("doc_id")
        .as[Long].collect().sorted.toSeq == Seq(1L, 5L))
    } finally q.stop()
  }

  test("ingestDedup stays compatible with a pre-hash-format corpus") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_leg_")
    // corpus written by the old format: content columns only, no __h
    Seq((1L, "alpha"), (3L, "beta")).toDF("doc_id", "text")
      .write.parquet(s"$dir/corpus")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.ingestDedup(mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", contentCols = Seq("text"), idCol = "doc_id",
      checkpoint = s"$dir/ckpt", trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((6L, "alpha"), (7L, "gamma"))   // alpha already ingested
      q.processAllAvailable()
      val stored = spark.read.parquet(s"$dir/corpus")
      // the corpus NEVER mixes formats: appends to a legacy corpus stay
      // legacy (half-null __h would break the anti-join silently)
      assert(stored.columns.toSeq == Seq("doc_id", "text"))
      assert(stored.as[(Long, String)].collect().sortBy(_._1).toSeq ==
        Seq((1L, "alpha"), (3L, "beta"), (7L, "gamma")))
    } finally q.stop()
  }

  test("ingestDedup rejects a batch that carries the reserved hash column") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_res_")
    val mem = MemoryStream[(Long, String, String)]
    val q = Streams.ingestDedup(mem.toDF().toDF("doc_id", "text", "__h"),
      s"$dir/corpus", contentCols = Seq("text"), idCol = "doc_id",
      checkpoint = s"$dir/ckpt", trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, "alpha", "x"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("__h") ||
        Option(e.getCause).exists(_.getMessage.contains("__h")))
    } finally q.stop()
  }

  test("ingestDedup admits one micro-batch into a hash-format corpus in at most 5 jobs and one file") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_jobs_")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.ingestDedup(mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", contentCols = Seq("text"), idCol = "doc_id",
      checkpoint = s"$dir/ckpt", trigger = Trigger.ProcessingTime(0))
    def files = new java.io.File(s"$dir/corpus").list().count(_.endsWith(".parquet"))
    // jobs of this query only, counted from their start events
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("sql.streaming.queryId") == q.id.toString)
          jobs.add(e.jobId)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.add(e.jobId)
    }
    try {
      // pre-seed the corpus (the bootstrap batch writes __h)
      mem.addData((1L to 200L).map(i => (i, s"doc $i")): _*)
      q.processAllAvailable()
      val before = files
      spark.sparkContext.addSparkListener(listener)
      // one micro-batch: new content, an in-batch duplicate and re-sends
      mem.addData(((201L to 300L).map(i => (i, s"doc $i")) :+ ((301L, "doc 250"))) ++
        (1L to 20L).map(i => (1000L + i, s"doc $i")): _*)
      q.processAllAvailable()
      // listener events arrive asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (!ended.containsAll(jobs) && System.currentTimeMillis() < deadline) Thread.sleep(25)
      Thread.sleep(200)
      assert(jobs.size >= 1 && jobs.size <= 5, s"one micro-batch ran ${jobs.size} jobs")
      assert(files == before + 1)
      val stored = spark.read.parquet(s"$dir/corpus")
      assert(stored.count() == 300L)
      assert(stored.select("doc_id").as[Long].collect().max == 300L)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      q.stop()
    }
  }

  test("ingestDedup treats an existing corpus dir without parquet files as no corpus") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_empty_")
    new java.io.File(s"$dir/corpus").mkdirs()
    new java.io.File(s"$dir/corpus/_SUCCESS").createNewFile()
    val mem = MemoryStream[(Long, String)]
    val q = Streams.ingestDedup(mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", contentCols = Seq("text"), idCol = "doc_id",
      checkpoint = s"$dir/ckpt", trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((2L, "alpha"), (1L, "alpha"), (3L, "beta"))
      q.processAllAvailable()
      mem.addData((4L, "beta"), (5L, "gamma"))
      q.processAllAvailable()
      val stored = spark.read.parquet(s"$dir/corpus")
      assert(stored.columns.toSeq == Seq("doc_id", "text", "__h"))
      assert(stored.select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1).toSeq ==
        Seq((1L, "alpha"), (3L, "beta"), (5L, "gamma")))
    } finally q.stop()
  }

  test("ingestUrlDedup dedups by canonical URL then content, idempotently") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_url_")
    val mem = MemoryStream[(Long, String, String)]
    val q = Streams.ingestUrlDedup(mem.toDF().toDF("doc_id", "url", "text"),
      s"$dir/corpus", urlCol = "url", contentCols = Seq("text"),
      idCol = "doc_id", checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1: ids 1,2 are the same page via URL decoration (different
      // content — URL wins); id 3 a distinct page; id 4 malformed URL
      mem.addData(
        (1L, "https://a.com/p?b=2&a=1", "first fetch"),
        (2L, "HTTPS://A.com:443/p/?a=1&b=2&utm_source=s#f", "second fetch"),
        (3L, "https://a.com/q", "other page"),
        (4L, "not-a-url", "no scheme doc"))
      q.processAllAvailable()
      // batch 2: same canonical URL as 1 (dropped), same CONTENT as 3
      // under a new URL (dropped by the content stage), genuinely new row,
      // and a second malformed-URL row with DUPLICATE content (content
      // stage still applies to malformed-URL rows)
      mem.addData(
        (5L, "https://a.com:443/p?a=1&b=2", "third fetch"),
        (6L, "https://b.com/copy", "other page"),
        (7L, "https://c.com/new", "new content"),
        (8L, "also not a url", "no scheme doc"))
      q.processAllAvailable()
      // batch 3: pure replay → appends nothing
      mem.addData(
        (9L, "https://a.com/p?a=1&b=2", "whatever"),
        (10L, "https://c.com/new?utm_campaign=x", "ignored"))
      q.processAllAvailable()
      val stored = spark.read.parquet(s"$dir/corpus")
      assert(stored.columns.toSeq == Seq("doc_id", "url", "text", "__u", "__h"))
      val ids = stored.select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 3L, 4L, 7L))
      // malformed URL stored with NULL __u
      assert(stored.filter(col("doc_id") === 4L).select("__u")
        .collect().head.isNullAt(0))
    } finally q.stop()
  }

  test("ingestBloomDedup admits novel content map-only, replays append nothing") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_bloom_")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.ingestBloomDedup(mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/bloom", idCol = "doc_id", textCol = "text",
      checkpoint = s"$dir/ckpt", k = 5, mBits = 1L << 16,
      trigger = Trigger.ProcessingTime(0))
    try {
      // bootstrap: in-batch dup (min id wins) + two distinct docs
      mem.addData((1L, "alpha doc"), (2L, "beta doc"), (3L, "alpha doc"))
      q.processAllAvailable()
      // batch 2: one replayed content (dropped by the bitmap), one novel
      mem.addData((4L, "beta doc"), (5L, "gamma doc"))
      q.processAllAvailable()
      // batch 3: pure replay → admits nothing
      mem.addData((6L, "alpha doc"), (7L, "gamma doc"))
      q.processAllAvailable()
      val stored = spark.read.parquet(s"$dir/corpus")
      assert(stored.select("doc_id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 5L))
      // the bitmap is stamped and flags all stored content
      val bits = graft.ext.Bloom.readBits(spark, s"$dir/bloom/bits")
      assert(graft.ext.Bloom.flagDuplicates(stored.select("doc_id", "text"),
        "text", bits, 5, 1L << 16).filter(!col("maybe_dup")).count() == 0)
    } finally q.stop()
  }

  test("ingestBloomDedup fails loudly on a torn append (unstamped bitmap)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_bloomt_")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.ingestBloomDedup(mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/bloom", idCol = "doc_id", textCol = "text",
      checkpoint = s"$dir/ckpt", k = 5, mBits = 1L << 16,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, "alpha doc"))
      q.processAllAvailable()
    } finally q.stop()
    // simulate a crash inside the commit window: stamp gone, data present
    graft.ext.IndexFormat.invalidate(spark, s"$dir/bloom")
    val mem2 = MemoryStream[(Long, String)]
    val q2 = Streams.ingestBloomDedup(mem2.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/bloom", idCol = "doc_id", textCol = "text",
      checkpoint = s"$dir/ckpt2", k = 5, mBits = 1L << 16,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem2.addData((2L, "beta doc"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      // the loud IndexFormat failure reaches the stream, not a silent
      // bootstrap-over-corpus
      assert(e.getMessage.contains("bloom") || e.getMessage.contains("stamp")
        || Option(e.getCause).exists(_.getMessage.contains("stamp")))
    } finally q2.stop()
  }

  test("ingestGopherGated drops rule-failing rows, then dedups") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_gq_")
    val good = (Seq.fill(30)("the quick brown fox jumps with energy") :+ "of it")
      .mkString(" ")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.ingestGopherGated(mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", contentCols = Seq("text"), idCol = "doc_id",
      textCol = "text", checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      // 1: passes every rule; 2: under the word floor; 3: duplicate of 1
      mem.addData((1L, good), (2L, "the short one with it"), (3L, good))
      q.processAllAvailable()
      // replay-shaped second batch: same content again → nothing appended
      mem.addData((4L, good))
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L))
    } finally q.stop()
  }

  test("ingestUrlDedup refuses a foreign corpus without the stored columns") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_urlf_")
    // a corpus NOT created by ingestUrlDedup (no __u/__h)
    Seq((1L, "https://a.com/p", "x")).toDF("doc_id", "url", "text")
      .write.parquet(s"$dir/corpus")
    val mem = MemoryStream[(Long, String, String)]
    val q = Streams.ingestUrlDedup(mem.toDF().toDF("doc_id", "url", "text"),
      s"$dir/corpus", urlCol = "url", contentCols = Seq("text"),
      idCol = "doc_id", checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((2L, "https://a.com/q", "y"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: msgs(x.getCause))
      assert(msgs(e).exists(_.contains("not created by ingestUrlDedup")))
    } finally q.stop()
  }

  test("ingestUrlDedup admits one micro-batch with one pin and two probes, in at most 8 jobs") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_ingest_urljobs_")
    val mem = MemoryStream[(Long, String, String)]
    val q = Streams.ingestUrlDedup(mem.toDF().toDF("doc_id", "url", "text"),
      s"$dir/corpus", urlCol = "url", contentCols = Seq("text"),
      idCol = "doc_id", checkpoint = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    // jobs of this query only, counted from their start events
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("sql.streaming.queryId") == q.id.toString)
          jobs.add(e.jobId)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.add(e.jobId)
    }
    try {
      mem.addData((1L to 50L).map(i => (i, s"https://a.com/p$i", s"doc $i")): _*)
      q.processAllAvailable()
      spark.sparkContext.addSparkListener(listener)
      // one micro-batch: new pages, a stored URL with new content, stored
      // content under a new URL, and a malformed URL with new content
      mem.addData(((51L to 60L).map(i => (i, s"https://a.com/p$i", s"doc $i")) ++ Seq(
        (61L, "https://a.com/p1?utm_source=x", "changed"),
        (62L, "https://b.com/copy", "doc 2"),
        (63L, "not-a-url", "doc 63"))): _*)
      q.processAllAvailable()
      // listener events arrive asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (!ended.containsAll(jobs) && System.currentTimeMillis() < deadline) Thread.sleep(25)
      Thread.sleep(200)
      info(s"one micro-batch ran ${jobs.size} jobs")
      assert(jobs.size >= 1 && jobs.size <= 8, s"one micro-batch ran ${jobs.size} jobs")
      val ids = spark.read.parquet(s"$dir/corpus").select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids == (1L to 60L) :+ 63L)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      q.stop()
    }
  }

  test("runningTotalsExpiring survives malformed timestamps and null values") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Option[Double], String)]
    val streamed = Streams.runningTotalsExpiring(
      mem.toDF().toDF("k", "v", "t"), "k", "v", "t",
      watermarkDelay = "10 minutes", idleTimeout = "30 minutes")
    val name = s"graft_badrec_${System.nanoTime()}"
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      mem.addData(
        ("a", Some(1.0), "2024-01-01 00:00:00"),
        ("a", None, "2024-01-01 00:01:00"),       // null value
        ("a", Some(5.0), "not-a-timestamp"))      // ANSI cast would throw
      q.processAllAvailable()
      val rows = spark.table(name).as[(String, Long, Double)].collect()
      assert(rows.toSet == Set(("a", 1L, 1.0)))
    } finally q.stop()
  }

  test("runningTotals keeps per-key state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val streamed = Streams.runningTotals(mem.toDF().toDF("k", "v"), "k", "v")
    val name = s"graft_state_${System.nanoTime()}"
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      mem.addData(("a", 1.0), ("a", 2.0), ("b", 10.0))
      q.processAllAvailable()
      mem.addData(("a", 3.0))
      q.processAllAvailable()
      val rows = spark.table(name).as[(String, Long, Double)].collect()
      // batch 1 emits a=(2, 3.0) and b=(1, 10.0); batch 2 emits a=(3, 6.0)
      assert(rows.toSet == Set(("a", 2L, 3.0), ("b", 1L, 10.0), ("a", 3L, 6.0)))
    } finally q.stop()
  }

  test("runningTotalsExpiring drops null event times instead of crashing") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double, Option[Timestamp])]
    val streamed = Streams.runningTotalsExpiring(
      mem.toDF().toDF("k", "v", "t"), "k", "v", "t",
      watermarkDelay = "10 minutes", idleTimeout = "30 minutes")
    val name = s"graft_nullts_${System.nanoTime()}"
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      // the malformed row (no event time) must not kill the query NOR
      // count toward state — it is invisible to event-time semantics
      mem.addData(("a", 1.0, Some(ts("2024-01-01 00:00:00"))), ("a", 99.0, None))
      q.processAllAvailable()
      val rows = spark.table(name).as[(String, Long, Double)].collect()
      assert(rows.toSet == Set(("a", 1L, 1.0)))
    } finally q.stop()
  }

  test("runningTotalsExpiring evicts a key's state once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double, Timestamp)]
    val streamed = Streams.runningTotalsExpiring(
      mem.toDF().toDF("k", "v", "t"), "k", "v", "t",
      watermarkDelay = "10 minutes", idleTimeout = "30 minutes")
    val name = s"graft_expire_${System.nanoTime()}"
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      // batch 1: key a accumulates (timeout set to 00:10 + 30 min = 00:40)
      mem.addData(("a", 1.0, ts("2024-01-01 00:00:00")),
        ("a", 2.0, ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      // batch 2: other-key traffic pushes the watermark to 01:50 > 00:40 —
      // a's state times out and is removed
      mem.addData(("b", 5.0, ts("2024-01-01 02:00:00")))
      q.processAllAvailable()
      // batch 3: a reappears — totals restart from zero (state was evicted)
      mem.addData(("a", 7.0, ts("2024-01-01 02:05:00")))
      q.processAllAvailable()
      val aRows = spark.table(name).as[(String, Long, Double)].collect()
        .filter(_._1 == "a").toSet
      assert(aRows == Set(("a", 2L, 3.0), ("a", 1L, 7.0)),
        s"expected eviction between batches, got $aRows")
    } finally q.stop()
  }

  test("triggerOf maps the reference's cron modes") {
    assert(Streams.triggerOf(-1) == Trigger.AvailableNow())
    assert(Streams.triggerOf(30) == Trigger.ProcessingTime(30000L))
    assert(Streams.triggerOf(0) == Trigger.ProcessingTime(1000L))
  }
}
