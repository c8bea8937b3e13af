package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class SyncSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("antiInsert returns only source rows whose keys are absent from target") {
    val src = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val tgt = Seq((2, "old")).toDF("k", "v")
    val out = Sync.antiInsert(src, tgt, Seq("k"))
    assert(out.select("k").as[Int].collect().sorted.toSeq == Seq(1, 3))
  }

  test("antiInsert is idempotent: second sync of the merged state inserts nothing") {
    val src = Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
    val tgt = Seq((2, "b")).toDF("k", "v")
    val firstInsert = Sync.antiInsert(src, tgt, Seq("k"))
    val merged = tgt.unionByName(firstInsert)
    assert(Sync.antiInsert(src, merged, Seq("k")).count() == 0)
  }

  test("antiInsert honors where filter and limit") {
    val src = Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
    val tgt = Seq((9, "x")).toDF("k", "v")
    val out = Sync.antiInsert(src, tgt, Seq("k"), where = Some($"k" > 1), limit = Some(2))
    assert(out.count() == 2)
    assert(out.select("k").as[Int].collect().forall(_ > 1))
  }

  test("watermarkIncr keeps rows strictly newer than target max (ties dropped)") {
    val src = Seq((1, ts("2024-01-01 00:00:00")), (2, ts("2024-01-02 00:00:00")),
      (3, ts("2024-01-03 00:00:00"))).toDF("k", "updated")
    val tgt = Seq((1, ts("2024-01-02 00:00:00"))).toDF("k", "updated")
    val out = Sync.watermarkIncr(src, tgt, "updated")
    // the row AT the watermark (2024-01-02) is dropped — reference bug-shape
    // reproduced exactly (SyncOtherMysql.php:57 strict >)
    assert(out.select("k").as[Int].collect().toSeq == Seq(3))
  }

  test("watermarkIncr with empty target bootstraps the full source") {
    val src = Seq((1, ts("2024-01-01 00:00:00")), (2, ts("2024-01-02 00:00:00")))
      .toDF("k", "updated")
    val tgt = src.filter(lit(false))
    assert(Sync.watermarkIncr(src, tgt, "updated").count() == 2)
  }

  test("incrPage returns the first page in watermark order") {
    val src = (1 to 10).map(i => (i, ts(f"2024-01-$i%02d 00:00:00"))).toDF("k", "updated")
    val tgt = Seq((0, ts("2024-01-03 00:00:00"))).toDF("k", "updated")
    val out = Sync.incrPage(src, tgt, "updated", Seq($"k"), pageSize = 3)
    assert(out.select("k").as[Int].collect().sorted.toSeq == Seq(4, 5, 6))
  }

  test("upsert: source wins on key match, including NULL value overwrite") {
    val tgt = Seq((1, Some("t1"), Some(10)), (2, Some("t2"), Some(20))).toDF("k", "v", "n")
    val src = Seq((2, None: Option[String], Some(99)), (3, Some("s3"), None: Option[Int]))
      .toDF("k", "v", "n")
    val out = Sync.upsert(src, tgt, Seq("k")).orderBy("k")
      .as[(Int, Option[String], Option[Int])].collect().toSeq
    assert(out == Seq((1, Some("t1"), Some(10)), (2, None, Some(99)), (3, Some("s3"), None)))
  }

  test("upsert: excluded columns keep the target value on match") {
    val tgt = Seq((1, "told", "keep1")).toDF("k", "v", "frozen")
    val src = Seq((1, "snew", "clobber"), (2, "s2", "f2")).toDF("k", "v", "frozen")
    val out = Sync.upsert(src, tgt, Seq("k"), exclude = Set("frozen")).orderBy("k")
      .as[(Int, String, String)].collect().toSeq
    assert(out == Seq((1, "snew", "keep1"), (2, "s2", "f2")))
  }

  test("latestVersion keeps exactly one row per key, ties broken by later version cols") {
    val df = Seq(
      (1, "a", 10, 100), (1, "a", 20, 101), (1, "a", 20, 99),
      (2, "b", 5, 1)).toDF("id", "key", "ver", "seq")
    val out = Sync.latestVersion(df, Seq("key"), Seq($"ver", $"seq"))
    val a = out.where($"key" === "a").as[(Int, String, Int, Int)].collect().toSeq
    assert(a == Seq((1, "a", 20, 101)))
    assert(out.count() == 2)
  }

  test("delWhere removes matching rows and keeps NULL-condition rows") {
    val df = Seq((1, Some(5)), (2, Some(15)), (3, None: Option[Int])).toDF("k", "n")
    val out = Sync.delWhere(df, $"n" > 10)
    // n=15 deleted; n=5 kept; n=NULL (condition unknown) kept — DELETE only
    // removes rows where the predicate is TRUE
    assert(out.select("k").as[Int].collect().sorted.toSeq == Seq(1, 3))
  }

  test("sessionize splits on gaps >= the threshold, per entity") {
    val ev = Seq(
      ("u1", 0L), ("u1", 100L), ("u1", 400L),   // gap 300 ≥ 300 → new session
      ("u1", 500L),
      ("u2", 0L)).toDF("u", "ts")
    val out = Sync.sessionize(ev, Seq("u"), "ts", gap = 300L)
      .select("u", "ts", "session_id").as[(String, Long, Long)].collect().toSet
    assert(out == Set(("u1", 0L, 0L), ("u1", 100L, 0L),
      ("u1", 400L, 1L), ("u1", 500L, 1L), ("u2", 0L, 0L)))
  }

  test("scd2FromHistory collapses unchanged runs and chains validity") {
    val hist = Seq(
      (1L, "a", 10L, 1L), (1L, "a", 20L, 2L),   // unchanged → collapsed
      (1L, "b", 30L, 3L),                       // change → new version
      (1L, "a", 40L, 4L),                       // back to a → NEW version
      (2L, "x", 5L, 5L)).toDF("k", "attr", "ts", "eid")
    val out = Sync.scd2FromHistory(hist, Seq("k"), Seq("attr"), "ts", Seq("eid"))
      .select("k", "attr", "valid_from", "valid_to")
      .as[(Long, String, Long, Option[Long])].collect().toSet
    assert(out == Set(
      (1L, "a", 10L, Some(30L)),
      (1L, "b", 30L, Some(40L)),
      (1L, "a", 40L, None),
      (2L, "x", 5L, None)))
  }

  test("scd2FromHistory treats NULL attribute flips as changes") {
    val hist = Seq((1L, Option("a"), 1L), (1L, None: Option[String], 2L),
      (1L, Option("a"), 3L)).toDF("k", "attr", "ts")
    val out = Sync.scd2FromHistory(hist, Seq("k"), Seq("attr"), "ts")
    assert(out.count() == 3)
  }

  test("upsertPartitioned rewrites only touched partitions, merges by key") {
    import org.apache.spark.sql.functions.col
    val base = tempDir("graft_upsert_p_") + "/t"
    Seq((1L, "d1", 10.0), (2L, "d1", 20.0), (3L, "d2", 30.0), (4L, "d3", 40.0))
      .toDF("k", "day", "v")
      .write.partitionBy("day").parquet(base)
    def partFiles(day: String) =
      new java.io.File(s"$base/day=$day").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSeq
    val d3Before = partFiles("d3")
    // update k=1 (d1), insert k=9 into d2; d3 untouched
    val updates = Seq((1L, "d1", 11.0), (9L, "d2", 90.0)).toDF("k", "day", "v")
    Sync.upsertPartitioned(spark, base, updates, keys = Seq("k"), partitionCol = "day")
    val got = spark.read.parquet(base).select("k", "v")
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 11.0), (2L, 20.0), (3L, 30.0), (4L, 40.0), (9L, 90.0)))
    // untouched partition's files were never replaced
    assert(partFiles("d3") == d3Before)
    assert(spark.read.parquet(base).filter(col("day") === "d3").count() == 1)
  }

  test("upsertPartitioned keeps non-updated rows in the NULL partition") {
    // r12 advice: isin(touched) is never true for a null partition value,
    // so before the explicit isNull branch an update touching the null
    // partition silently deleted every non-updated row living in it
    val base = tempDir("graft_upsert_n_") + "/t"
    Seq((1L, Option("d1"), 10.0), (2L, None: Option[String], 20.0),
      (3L, None: Option[String], 30.0))
      .toDF("k", "day", "v").write.partitionBy("day").parquet(base)
    // update k=2 (null partition); k=3 shares that partition, NOT updated
    val updates = Seq((2L, None: Option[String], 22.0)).toDF("k", "day", "v")
    Sync.upsertPartitioned(spark, base, updates, keys = Seq("k"), partitionCol = "day")
    val got = spark.read.parquet(base).select("k", "v")
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 10.0), (2L, 22.0), (3L, 30.0)))
  }

  test("upsertPartitioned keeps the NULL partition's rows when an update's value is the empty string") {
    // the writer files "" under __HIVE_DEFAULT_PARTITION__ too, so an
    // update with day = "" rewrites the null partition
    val base = tempDir("graft_upsert_e_") + "/t"
    Seq((1L, None: Option[String], 10.0), (2L, None: Option[String], 20.0),
      (3L, Option("d1"), 30.0)).toDF("k", "day", "v").write.partitionBy("day").parquet(base)
    Sync.upsertPartitioned(spark, base, Seq((1L, "", 11.0)).toDF("k", "day", "v"),
      keys = Seq("k"), partitionCol = "day")
    val got = spark.read.parquet(base).select("k", "day", "v")
      .as[(Long, Option[String], Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, None, 11.0), (2L, None, 20.0), (3L, Some("d1"), 30.0)))
  }

  test("upsertPartitioned refuses unbounded partition fans and no-ops on empty") {
    val base = tempDir("graft_upsert_pe_") + "/t"
    Seq((1L, "d1", 10.0)).toDF("k", "day", "v").write.partitionBy("day").parquet(base)
    val wide = (1 to 5).map(i => (i.toLong, s"day$i", 1.0)).toDF("k", "day", "v")
    intercept[IllegalArgumentException] {
      Sync.upsertPartitioned(spark, base, wide, Seq("k"), "day", maxPartitions = 3)
    }
    // empty updates: nothing read, nothing written
    Sync.upsertPartitioned(spark, base,
      Seq.empty[(Long, String, Double)].toDF("k", "day", "v"), Seq("k"), "day")
    assert(spark.read.parquet(base).count() == 1)
  }

  private def readMerged(base: String) =
    spark.read.parquet(base).select("k", "day", "v")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq

  test("upsertPartitioned reads and rewrites ONE evaluation of the updates") {
    // an update batch evaluated twice could name a partition the read never
    // saw: dynamic overwrite would then replace it with the update rows
    // alone. Here the first evaluation of k=1's day gives d1, later ones d2.
    val base = tempDir("graft_upsert_once_") + "/t"
    Seq((1L, "d1", 10.0), (2L, "d1", 20.0), (3L, "d2", 30.0), (4L, "d2", 40.0))
      .toDF("k", "day", "v").write.partitionBy("day").parquet(base)
    SyncSpec.evaluations.set(0)
    val day = udf(() => if (SyncSpec.evaluations.getAndIncrement() == 0) "d1" else "d2")
      .asNondeterministic()
    val updates = Seq((1L, 11.0)).toDF("k", "v").withColumn("day", day())
    Sync.upsertPartitioned(spark, base, updates, keys = Seq("k"), partitionCol = "day")
    assert(readMerged(base) ==
      Seq((1L, "d1", 11.0), (2L, "d1", 20.0), (3L, "d2", 30.0), (4L, "d2", 40.0)))
  }

  test("upsertPartitioned finds a partition whose value needs path escaping") {
    val base = tempDir("graft_upsert_esc_") + "/t"
    val odd = "a b/c=d"
    Seq((1L, odd, 10.0), (2L, odd, 20.0), (3L, "plain", 30.0))
      .toDF("k", "day", "v").write.partitionBy("day").parquet(base)
    assert(new java.io.File(s"$base/day=a b%2Fc%3Dd").isDirectory)
    Sync.upsertPartitioned(spark, base,
      Seq((1L, odd, 11.0), (9L, odd, 90.0)).toDF("k", "day", "v"), Seq("k"), "day")
    assert(readMerged(base) ==
      Seq((1L, odd, 11.0), (2L, odd, 20.0), (3L, "plain", 30.0), (9L, odd, 90.0)))
  }

  test("upsertPartitioned inserts a batch whose partitions have no directory yet") {
    val base = tempDir("graft_upsert_new_") + "/t"
    Seq((1L, "d1", 10.0), (2L, "d2", 20.0)).toDF("k", "day", "v")
      .write.partitionBy("day").parquet(base)
    Sync.upsertPartitioned(spark, base,
      Seq((7L, "d7", 70.0), (8L, "d8", 80.0), (9L, "d8", 90.0)).toDF("k", "day", "v"),
      Seq("k"), "day")
    assert(readMerged(base) == Seq((1L, "d1", 10.0), (2L, "d2", 20.0),
      (7L, "d7", 70.0), (8L, "d8", 80.0), (9L, "d8", 90.0)))
  }

  test("upsertPartitioned merges a batch over existing and new partitions") {
    val base = tempDir("graft_upsert_mix_") + "/t"
    Seq((1L, "d1", 10.0), (2L, "d1", 20.0), (3L, "d2", 30.0)).toDF("k", "day", "v")
      .write.partitionBy("day").parquet(base)
    def d2Files = new java.io.File(s"$base/day=d2").listFiles()
      .map(f => f.getName -> f.lastModified).toSet
    val d2Before = d2Files
    Sync.upsertPartitioned(spark, base,
      Seq((2L, "d1", 22.0), (5L, "d5", 50.0), (6L, "d1", 60.0)).toDF("k", "day", "v"),
      Seq("k"), "day")
    assert(readMerged(base) == Seq((1L, "d1", 10.0), (2L, "d1", 22.0),
      (3L, "d2", 30.0), (5L, "d5", 50.0), (6L, "d1", 60.0)))
    assert(d2Files == d2Before)
  }

  test("upsertPartitioned fails loudly on a missing base path and writes nothing") {
    val base = tempDir("graft_upsert_miss_") + "/absent"
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Sync.upsertPartitioned(spark, base,
        Seq((1L, "d1", 10.0)).toDF("k", "day", "v"), Seq("k"), "day")
    }
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
    assert(!new java.io.File(base).exists())
  }

  test("upsertPartitioned merges a batch touching a few of 40 partitions in at most 4 jobs") {
    // the etl_sync shape: a latest-version window over a staged parquet
    // delta, merged into a table with more partition directories (40) than
    // Spark lists on the driver (32). Reading the whole table and running
    // the window twice took 9 jobs; the pinned merge takes 4 (the window's
    // exchange, the pin, the broadcast of the pinned keys, the write), in
    // every run measured, idle or under CPU load.
    val dir = tempDir("graft_upsert_jobs_")
    (0L until 400L).map(k => (k, (k % 40).toInt, k.toDouble)).toDF("k", "day", "v")
      .write.partitionBy("day").parquet(s"$dir/t")
    (0L until 200L).map(i => (i % 10 * 40 + i % 6, (i % 6).toInt, i.toDouble, i))
      .toDF("k", "day", "v", "ver").write.parquet(s"$dir/staged")
    val updates = Sync.latestVersion(spark.read.parquet(s"$dir/staged"), Seq("k"),
      Seq(col("ver"))).drop("ver")
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tag = java.util.UUID.randomUUID().toString
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.run") == tag)
          jobs.add(e.jobId)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty("graft.spec.run", tag)
    try {
      Sync.upsertPartitioned(spark, s"$dir/t", updates, Seq("k"), "day")
      val deadline = System.currentTimeMillis() + 10000
      while (!ended.containsAll(jobs) && System.currentTimeMillis() < deadline) Thread.sleep(25)
      Thread.sleep(200)
    } finally {
      spark.sparkContext.setLocalProperty("graft.spec.run", null)
      spark.sparkContext.removeSparkListener(listener)
    }
    info(s"jobs: ${jobs.size}")
    assert(jobs.size >= 1 && jobs.size <= 4, s"upsertPartitioned ran ${jobs.size} jobs")
    val got = spark.read.parquet(s"$dir/t")
    assert(got.count() == 400L)
    assert(got.filter(col("day") >= 6).as[(Long, Double, Int)].collect()
      .forall { case (k, v, _) => v == k.toDouble })
  }
}

object SyncSpec {
  /** Evaluations of the nondeterministic partition UDF, JVM-wide: tasks of
    * the local session run in this JVM.
    */
  val evaluations = new java.util.concurrent.atomic.AtomicInteger()
}
