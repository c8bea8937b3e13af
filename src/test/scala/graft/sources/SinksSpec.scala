package graft.sources

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.streaming.Streams

object SinksSpecState {
  val published = new ConcurrentLinkedQueue[String]()
  val producers = new AtomicInteger(0)
}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("foreachPublisher opens one producer per non-empty partition and publishes every row") {
    SinksSpecState.published.clear()
    SinksSpecState.producers.set(0)
    val df = (1 to 10).map(i => (i, s"m$i")).toDF("id", "body").repartition(3)
    Sinks.foreachPublisher(df)(
      mkProducer = () => { SinksSpecState.producers.incrementAndGet(); "conn" })(
      publish = (_, row) => SinksSpecState.published.add(row.getString(1)))(
      close = _ => ())
    assert(SinksSpecState.published.size() == 10)
    assert(SinksSpecState.producers.get() <= 3 && SinksSpecState.producers.get() >= 1)
  }

  test("console sink prints without error in both modes") {
    val df = Seq((1, "a")).toDF("id", "v")
    Sinks.console(df)
    Sinks.console(df, asJson = true)
  }

  test("xml console rendering round-trips through the XML parser") {
    val df = Seq((1, "a<b"), (2, "plain")).toDF("id", "v")
    val xs = Sinks.renderXml(df, rowTag = "rec")
    assert(xs.length == 2 && xs.forall(_.startsWith("<rec>")))
    // escaped content survives a parse round-trip
    assert(xs.exists(_.contains("a&lt;b")))
    Sinks.console(df, 20, "xml")
    Sinks.console(df, 20, "html")
  }

  test("html console rendering escapes cell content") {
    val df = Seq((1, "<script>")).toDF("id", "v")
    val html = Sinks.renderHtml(df)
    assert(html.startsWith("<table><tr><th>id</th><th>v</th></tr>"))
    assert(html.contains("<td>&lt;script&gt;</td>") && !html.contains("<script>"))
  }

  test("parquetSized caps rows per output file and round-trips content") {
    val dir = tempDir("graft_sized_") + "/out"
    val df = spark.range(10000).toDF("id").coalesce(1)
    FileSink.parquetSized(df, dir, maxRecordsPerFile = 1000)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length >= 10)          // one writer task still rolls files
    assert(spark.read.parquet(dir).count() == 10000)
  }

  test("orc round-trips every column type bit-exactly") {
    val dir = tempDir("graft_orc_") + "/out"
    val df = Seq(
      (1L, "a", 1.5, java.sql.Timestamp.valueOf("2024-01-01 10:30:00.123456")),
      (2L, "b", -0.25, java.sql.Timestamp.valueOf("2024-06-30 23:59:59.999999")))
      .toDF("id", "s", "d", "ts")
    FileSink.orc(df, dir)
    val back = spark.read.orc(dir)
    // names + types must survive; ORC read-back relaxes nullability (all
    // columns come back nullable), which the driver's compare ignores too
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("jsonlSized writes one JSON object per line in sized shards") {
    val dir = tempDir("graft_jsonl_") + "/out"
    val df = spark.range(5000)
      .selectExpr("id", "concat('doc ', id) AS text").coalesce(1)
    FileSink.jsonlSized(df, dir, maxRecordsPerFile = 1000)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))
    assert(parts.length >= 5)           // one writer task still rolls files
    val back = spark.read.text(dir)
    assert(back.count() == 5000)
    // every line is a self-contained JSON object with the row's fields, in
    // column order
    val first = back.filter(org.apache.spark.sql.functions
      .get_json_object($"value", "$.id") === "7").as[String].head()
    assert(first == """{"id":7,"text":"doc 7"}""")
  }

  test("jsonlSized gzip shards round-trip through the text reader") {
    val dir = tempDir("graft_jsonlgz_") + "/out"
    FileSink.jsonlSized(spark.range(100).toDF("id"), dir,
      maxRecordsPerFile = 1000, compression = Some("gzip"))
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".txt.gz")))
    assert(spark.read.text(dir).count() == 100)
  }

  test("compactTo rewrites many small files into the sized layout") {
    val base = tempDir("graft_cmp_")
    spark.range(5000).toDF("id").repartition(50).write.parquet(s"$base/small")
    def parts(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts(s"$base/small") == 50)
    FileSink.compactTo(spark, s"$base/small", s"$base/compact", targetRowsPerFile = 2500)
    assert(parts(s"$base/compact") == 2)
    assert(spark.read.parquet(s"$base/compact").count() == 5000)
  }

  test("kafka sink fails fast with a clear message when the connector jar is absent") {
    assert(!Sinks.kafkaAvailable)
    val e = intercept[IllegalArgumentException] {
      Sinks.kafka(Seq(("k", "v")).toDF("key", "value"), "localhost:9092", "t")
    }
    assert(e.getMessage.contains("connector jar"))
  }

  test("TtlCache caches within the TTL and rebuilds after invalidate") {
    val builds = new AtomicInteger(0)
    val cache = new TtlCache(ttlSeconds = 3600)
    def build = { builds.incrementAndGet(); Seq((1, "x")).toDF("id", "v") }
    val a = cache.get(build)
    val b = cache.get(build)
    assert(builds.get() == 1 && (a eq b))
    cache.invalidate()
    cache.get(build)
    assert(builds.get() == 2)
  }

  test("TtlCache duration semantics: N expires, 0 forever, -1 off (clock-injected)") {
    // the reference's `duration` cache contract (Pdo.php:100, doc/Pdo.md:53)
    val builds = new AtomicInteger(0)
    var now = 1000L
    def build = { builds.incrementAndGet(); Seq((1, "x")).toDF("id", "v") }
    val ttl = new TtlCache(ttlSeconds = 10, clock = () => now)
    ttl.get(build); now += 9; ttl.get(build)
    assert(builds.get() == 1, "within-TTL read must not rebuild")
    now += 2 // 11s since build: past the TTL — the read must re-read
    ttl.get(build)
    assert(builds.get() == 2, "post-expiry read must rebuild")
    val forever = new TtlCache(ttlSeconds = 0, clock = () => now)
    forever.get(build); now += 1000000L; forever.get(build)
    assert(builds.get() == 3, "duration 0 caches forever")
    val off = new TtlCache(ttlSeconds = -1, clock = () => now)
    off.get(build); off.get(build)
    assert(builds.get() == 5, "duration -1 disables caching (every read rebuilds)")
  }

  test("overwritePartitions replaces only the partitions present in the frame") {
    val dir = tempDir("graft_dpo_") + "/t"
    Seq((1, "d1"), (2, "d1"), (3, "d2")).toDF("id", "day")
      .write.partitionBy("day").parquet(dir)
    // backfill day d1 with corrected data; d2 must remain untouched
    FileSink.overwritePartitions(
      Seq((10, "d1")).toDF("id", "day"), dir, Seq("day"))
    val back = spark.read.parquet(dir).as[(Int, String)].collect().toSet
    assert(back == Set((10, "d1"), (3, "d2")))
    // the dynamic mode must be per-write, not leaked into the session:
    // a later plain Overwrite+partitionBy must still truncate ALL partitions
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode") != "dynamic")
    FileSink.partitionedBy(Seq((7, "d3")).toDF("id", "day"), dir, "parquet", Seq("day"))
    assert(spark.read.parquet(dir).as[(Int, String)].collect().toSet == Set((7, "d3")))
  }

  test("checkpointed incremental ingest processes only NEW files per run") {
    val dir = tempDir("graft_incr_")
    val data = s"$dir/data"; val ckpt = s"$dir/ckpt"
    new java.io.File(data).mkdirs()
    def drop(name: String, rows: Seq[Long]): Unit = {
      rows.toDF("id").coalesce(1).write.parquet(s"$dir/stage_$name")
      new java.io.File(s"$dir/stage_$name").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          new java.io.File(data, s"$name.parquet").toPath))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    def runOnce(): Unit = {
      val s = Streams.fileStream(spark, data, schema)
      val q = graft.streaming.Streams.foreachBatchSink(s, ckpt) { (b, _) =>
        val rows = b.as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().toSeq.sorted
        if (rows.nonEmpty) seen.synchronized { seen += rows }
      }
      q.awaitTermination()
    }
    drop("a", Seq(1L, 2L)); runOnce()
    drop("b", Seq(3L)); runOnce()
    runOnce()  // no new files → no new delivery
    assert(seen.toSeq == Seq(Seq(1L, 2L), Seq(3L)))
  }

  test("fileStream turns file arrivals into micro-batches") {
    val dir = tempDir("graft_fs_")
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    df1.write.parquet(s"$dir/batch1")
    // move parquet files into the watched dir root
    val root = new java.io.File(dir)
    new java.io.File(s"$dir/batch1").listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.move(f.toPath, new java.io.File(root, f.getName).toPath))
    val stream = Streams.fileStream(spark, dir, df1.schema)
    val got = Streams.runToMemoryComplete(spark, stream, outputMode = "append")
    assert(got.count() == 2)
  }
}
