package graft.sources

import java.nio.file.Files
import java.sql.DriverManager

import org.apache.spark.sql.SaveMode

import graft.SparkSpec

class JdbcSpec extends SparkSpec {
  import spark.implicits._

  System.setProperty("derby.stream.error.file", "/tmp/graft_test_derby.log")

  private def freshUrl(): String = {
    val dir = tempDir("graft_derby_")
    s"jdbc:derby:$dir/db;create=true"
  }

  test("append + partitioned read round-trips a table through Derby") {
    val url = freshUrl()
    val df = (1 to 100).map(i => (i, s"name_$i")).toDF("id", "name")
    JdbcSink.append(df, url, "t1", mode = SaveMode.Overwrite)
    val back = JdbcSource.read(spark, url, "t1",
      partitioning = Some(JdbcSource.Partitioning("id", 1, 101, 4)), fetchSize = 10)
    assert(back.rdd.getNumPartitions == 4)
    assert(back.count() == 100)
    assert(back.orderBy("id").as[(Int, String)].collect().take(2).toSeq ==
      Seq((1, "name_1"), (2, "name_2")))
  }

  test("query-mode read pushes SQL down to the database") {
    val url = freshUrl()
    JdbcSink.append(Seq((1, 5), (2, 15), (3, 25)).toDF("id", "n"), url, "t2",
      mode = SaveMode.Overwrite)
    // Spark's JDBC writer creates quoted lowercase columns in Derby, so the
    // pushed-down query must quote them too
    val back = JdbcSource.read(spark, url, "SELECT \"id\" FROM t2 WHERE \"n\" > 10")
    assert(back.as[Int].collect().sorted.toSeq == Seq(2, 3))
  }

  test("upsert writer merges on key via a dialect template (Derby MERGE)") {
    val url = freshUrl()
    // seed target
    JdbcSink.append(Seq((1, "old1"), (2, "old2")).toDF("id", "v"), url, "t3",
      mode = SaveMode.Overwrite)
    val src = Seq((2, "new2"), (3, "new3")).toDF("id", "v")
    // Derby's MERGE needs a table source — use SYSIBM.SYSDUMMY1 as the probe
    val merge =
      """MERGE INTO t3 USING SYSIBM.SYSDUMMY1
        |ON t3."id" = CAST(? AS INT)
        |WHEN MATCHED THEN UPDATE SET "v" = CAST(? AS VARCHAR(64))
        |WHEN NOT MATCHED THEN INSERT ("id", "v") VALUES (CAST(? AS INT), CAST(? AS VARCHAR(64)))""".stripMargin
    // template takes (id, v, id, v) per row → reshape the frame accordingly
    val reshaped = src.selectExpr("id AS p1", "v AS p2", "id AS p3", "v AS p4")
    JdbcSink.upsert(reshaped, url, merge, batchSize = 1)
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery("SELECT \"id\", \"v\" FROM t3 ORDER BY \"id\"")
      val got = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => (r.getInt(1), r.getString(2))).toSeq
      assert(got == Seq((1, "old1"), (2, "new2"), (3, "new3")))
    } finally conn.close()
  }

  test("predicated update changes matching rows and leaves the rest untouched") {
    val url = freshUrl()
    JdbcSink.append(
      Seq((1, "a", 0), (2, "b", 0), (3, "c", 0)).toDF("id", "v", "n"),
      url, "t4", mode = SaveMode.Overwrite)
    // rows 1 and 3 get new values (set values first, then key values)
    val updates = Seq(("A", 10, 1), ("C", 30, 3)).toDF("v2", "n2", "id2")
    JdbcSink.update(updates, url, "t4",
      setCols = Seq("\"v\"", "\"n\""), keyCols = Seq("\"id\""),
      extraCondSql = Some("\"n\" = 0"), batchSize = 1)
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement()
        .executeQuery("SELECT \"id\", \"v\", \"n\" FROM t4 ORDER BY \"id\"")
      val got = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => (r.getInt(1), r.getString(2), r.getInt(3))).toSeq
      assert(got == Seq((1, "A", 10), (2, "b", 0), (3, "C", 30)))
    } finally conn.close()
  }

  test("filter and column pruning push down into the JDBC scan plan") {
    // SURVEY §4 claims predicate/column pushdown on the JDBC source is
    // free via Catalyst — this pins the EVIDENCE (r12 advice): the
    // executed plan's JDBC scan must carry the filter in PushedFilters
    // (Spark renders WHERE remotely, not post-scan) and a pruned
    // ReadSchema with only the selected column.
    val url = freshUrl()
    JdbcSink.append((1 to 50).map(i => (i, i * 2, s"s$i")).toDF("id", "n", "s"),
      url, "t5", mode = SaveMode.Overwrite)
    val scan = JdbcSource.read(spark, url, "t5")
      .filter($"n" > 60).select("id")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(n,60)"),
      s"filter not pushed to JDBC:\n$plan")
    assert(plan.contains("ReadSchema: struct<id: int>") ||
      plan.contains("ReadSchema: struct<id:int>"),
      s"column pruning did not reach the JDBC scan:\n$plan")
    assert(scan.as[Int].collect().sorted.toSeq == (31 to 50).toSeq)
    // LIMIT does NOT push through the v1 JDBC relation (Spark applies it
    // post-scan); the engine's bounded-read scale path is query-mode
    // pushdown, where the database executes the whole clause — pin that
    // the remote query really runs the limit
    val limited = JdbcSource.read(spark, url,
      "SELECT \"id\" FROM t5 ORDER BY \"id\" FETCH FIRST 3 ROWS ONLY")
    assert(limited.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("updateSql renders the reference's predicated-UPDATE shape") {
    assert(JdbcSink.updateSql("t", Seq("a", "b"), Seq("id"), Some("x > 0")) ==
      "UPDATE t SET a=?, b=? WHERE id=? AND (x > 0)")
  }

  test("mysqlUpsertSql renders the reference's ON DUPLICATE KEY shape") {
    val sql = JdbcSink.mysqlUpsertSql("t", Seq("id", "a", "b"), keys = Seq("id"),
      exclude = Set("b"))
    assert(sql == "INSERT INTO t (id, a, b) VALUES (?, ?, ?) ON DUPLICATE KEY UPDATE a=VALUES(a)")
  }
}
