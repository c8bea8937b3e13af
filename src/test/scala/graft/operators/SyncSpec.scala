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
}
