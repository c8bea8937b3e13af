package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.sql.DriverManager

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Config
import graft.operators.{ColumnOps, Parse}
import graft.sources.{JdbcSink, LineParser, LineParserConfig}

/** `etl_sync`: the reference's own capability surface. Each round delivers
  * a seeded delta of order rows (CSV with a JSON `props` column) into a
  * day-partitioned parquet target: parse (LineParser + Parse.jsonParse),
  * reshape (ColumnOps), merge (Sync.latestVersion + Sync.upsertPartitioned
  * through a Config.runAll task), then upsert a per-day aggregate into an
  * embedded in-memory Derby table (JdbcSink.upsert).
  *
  * The delta mix is fixed: updates, inserts, and exact re-sends of the
  * current row (which must leave the target unchanged).
  */
final class EtlSync extends Workload {
  val BaseRows = 500000L
  val DeltaRows = 20000
  private val PropsSchema = StructType(Seq(
    StructField("channel", StringType), StructField("coupon", StringType)))

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val seed = r.seed
    val target = r.work.resolve("target").toString
    val staging = r.work.resolve("staging").toString
    val url = s"jdbc:derby:memory:perfbench_${math.abs(seed)};create=true"

    // ---- set-up: base target, its expected content hash and per-day aggregates
    spark.range(BaseRows).as[Long]
      .map(id => Orders.row(seed, id, 0L, (id % Orders.Days).toInt))
      .repartition(col("day")).write.partitionBy("day").parquet(target)
    r.log("base target written")
    val model = mutable.LongMap.empty[(Int, Long)] // id -> (day, version) once changed
    var nextId = BaseRows
    var expectRows = BaseRows
    var hLo = 0L
    var hHi = 0L
    val dayN = Array.fill(Orders.Days)(0L)
    val dayAmt = Array.fill(Orders.Days)(0L)
    def add(o: Order, sign: Int): Unit = {
      val h = Orders.hash(o)
      hLo += sign * (h & 0xffffffffL); hHi += sign * (h >>> 32)
      dayN(o.day) += sign; dayAmt(o.day) += sign * o.amount_cents
    }
    var id = 0L
    while (id < BaseRows) { add(Orders.row(seed, id, 0L, (id % Orders.Days).toInt), 1); id += 1 }
    r.log("base model hashed")
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE day_agg (day INT PRIMARY KEY, n_orders BIGINT, amount BIGINT)")
    val ins = conn.prepareStatement("INSERT INTO day_agg VALUES (?, ?, ?)")
    (0 until Orders.Days).foreach { d =>
      ins.setInt(1, d); ins.setLong(2, dayN(d)); ins.setLong(3, dayAmt(d)); ins.addBatch()
    }
    ins.executeBatch()

    def current(oid: Long): Order = model.get(oid) match {
      case Some((d, v)) => Orders.row(seed, oid, v, d)
      case None => Orders.row(seed, oid, 0L, (oid % Orders.Days).toInt)
    }

    /** Seeded delta for round `v` (also its row version): 60% updates of
      * existing orders, 30% inserts, 10% exact re-sends of the current row.
      */
    def makeDelta(v: Int, size: Int): (String, Seq[Order], Set[Int]) = {
      val rng = Gen.rng(seed, 1000L + v)
      val rows = Vector.newBuilder[Order]
      val changed = mutable.LinkedHashMap.empty[Long, Order]
      (0 until size).foreach { i =>
        val kind = i % 10
        if (kind < 6) {
          val d = Orders.recentDay(rng)
          val oid = d + Orders.Days * rng.nextLong(BaseRows / Orders.Days)
          val o = Orders.row(seed, oid, v.toLong, current(oid).day)
          rows += o; changed(oid) = o
        } else if (kind < 9) {
          val o = Orders.row(seed, nextId, v.toLong, Orders.recentDay(rng))
          nextId += 1
          rows += o; changed(o.order_id) = o
        } else {
          val d = Orders.recentDay(rng)
          rows += current(d + Orders.Days * rng.nextLong(BaseRows / Orders.Days))
        }
      }
      val all = rows.result()
      val p = r.work.resolve("in").resolve(s"delta-$v.csv")
      Files.createDirectories(p.getParent)
      Files.write(p, (Orders.CsvHeader +: all.map(Orders.csv)).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      (p.toString, changed.values.toSeq, all.map(_.day).toSet)
    }

    def apply(changed: Seq[Order]): Unit = changed.foreach { o =>
      if (model.contains(o.order_id) || o.order_id < BaseRows) add(current(o.order_id), -1)
      else expectRows += 1
      model(o.order_id) = (o.day, o.version)
      add(o, 1)
    }

    val taskBody =
      s"""source: {type: parquet, path: "$staging"}
         |transforms:
         |  - {op: latestVersion, pk: [order_id], version: [version]}
         |sink: {type: upsertParquet, path: "$target", keys: [order_id], partitionCol: day}
         |""".stripMargin
    val multiTask = "tasks:\n  - name: orders_merge\n" +
      taskBody.linesIterator.map("    " + _).mkString("\n")
    val mergeSql =
      "MERGE INTO day_agg t USING SYSIBM.SYSDUMMY1 ON t.day = CAST(? AS INT) " +
        "WHEN MATCHED THEN UPDATE SET n_orders = CAST(? AS BIGINT), amount = CAST(? AS BIGINT) " +
        "WHEN NOT MATCHED THEN INSERT (day, n_orders, amount) " +
        "VALUES (CAST(? AS INT), CAST(? AS BIGINT), CAST(? AS BIGINT))"
    val t = r.tracer

    def round(v: Int, deltaPath: String, touched: Set[Int]): Unit = {
      val parsed = t.section("sources.read_delta") {
        t.boundary(LineParser.parse(spark, deltaPath, LineParserConfig())
          .withColumn("p", Parse.jsonParse(col("props"), PropsSchema)))
      }
      t.section("operators.reshape") {
        val renamed = ColumnOps.rename("oid" -> "order_id", "cust" -> "customer_id",
          "amount" -> "amount_cents", "ver" -> "version")(parsed)
        val typed = ColumnOps.addFields(
          "order_id" -> col("order_id").cast("long"),
          "customer_id" -> col("customer_id").cast("long"),
          "qty" -> col("qty").cast("int"),
          "amount_cents" -> col("amount_cents").cast("long"),
          "version" -> col("version").cast("long"),
          "day" -> col("day").cast("int"),
          "channel" -> col("p.channel"),
          "coupon" -> col("p.coupon"))(renamed)
        ColumnOps.exclude("props", "p")(typed)
          .select("order_id", "customer_id", "sku", "qty", "amount_cents", "status",
            "version", "channel", "coupon", "day")
          .write.mode("overwrite").parquet(staging)
      }
      // traced runs only: planning the merge task on its own (runAll plans
      // it again inside sync_merge)
      if (t.traced) t.section("core.plan") {
        Config.build(spark, Config.parse(taskBody)).queryExecution.executedPlan
      }
      t.section("operators.sync_merge") { Config.runAll(spark, multiTask) }
      t.section("sources.jdbc_upsert") {
        val agg = spark.read.parquet(target).filter(col("day").isin(touched.toSeq: _*))
          .groupBy("day").agg(count(lit(1)).as("n"), sum("amount_cents").as("amt"))
        JdbcSink.upsert(agg.select(col("day"), col("n"), col("amt"), col("day"),
          col("n"), col("amt")), url, mergeSql)
      }
    }

    def verify(v: Int): Boolean = {
      val row = spark.read.parquet(target)
        .select(xxhash64(col("order_id"), col("customer_id"), col("sku"), col("qty"),
          col("amount_cents"), col("status"), col("version"), col("channel"),
          col("coupon"), col("day")).as("h"))
        .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
          sum(shiftrightunsigned(col("h"), 32)))
        .head()
      val okRows = r.check(row.getLong(0) == expectRows,
        s"etl_sync round $v: target has ${row.getLong(0)} rows, expected $expectRows")
      val okHash = r.check(row.getLong(1) == hLo && row.getLong(2) == hHi,
        s"etl_sync round $v: target content hash differs from the model")
      val rs = conn.createStatement().executeQuery("SELECT day, n_orders, amount FROM day_agg")
      var okAgg = true
      var seen = 0
      while (rs.next()) {
        val d = rs.getInt(1)
        seen += 1
        if (rs.getLong(2) != dayN(d) || rs.getLong(3) != dayAmt(d)) okAgg = false
      }
      okAgg = r.check(okAgg && seen == Orders.Days,
        s"etl_sync round $v: Derby per-day aggregates differ from the model")
      okRows && okHash && okAgg
    }

    r.log("derby seeded")
    // warm-up round (version 1) on a quarter-size delta, part of set-up
    val (w0, c0, t0) = makeDelta(1, DeltaRows / 4)
    round(1, w0, t0)
    r.log("warm-up round done")
    apply(c0)
    r.tracer.release()
    r.operation(verify(1))
    r.sampleHeap()
    r.setupDone()

    val touchedCounts = mutable.ArrayBuffer.empty[Double]
    var v = 2
    while (r.measuredS < r.opts.seconds || r.rounds.length < 4) {
      val (path, changed, touched) = makeDelta(v, DeltaRows)
      val bytes = Files.size(java.nio.file.Paths.get(path))
      val ok = r.timedRound("etl_sync.round", v, DeltaRows.toLong, bytes) {
        round(v, path, touched)
      }
      if (ok) apply(changed)
      r.operation(ok && verify(v))
      touchedCounts += touched.size
      r.sampleHeap()
      v += 1
      if (!ok) return
    }
    r.layer("core.plan.wall_s") =
      Util.mean(t.sectionSpans("core.plan").map(s => (s.endMs - s.startMs) / 1000.0))
    r.layer("operators.sync_merge.partitions_touched") = Util.mean(touchedCounts.toSeq)
    conn.close()
  }
}
