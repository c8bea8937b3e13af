package graft
package queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.ext.Dedup
import graft.functions.{TextFunctions => T}
import graft.operators.{Enrich, Sync}
import graft.sources.{FileSink, FileSource, JdbcSink, JdbcSource}
import graft.SparkEntry.{eventsUs, tmpDir}

/** Sources and sinks: file, JDBC, WARC and Excel scans, write-then-read-back
  * sinks, physical layouts (z-order, partition pruning, bucketing) and the
  * pooled per-partition enrichment client.
  */
object SourceSinkQueries {

  /** The WARC fixture: file k < 120 holds a warcinfo record plus `k % 5 + 1`
    * (request, response) pairs; even-k files use per-record gzip members.
    */
  private def warcFiles(s: SparkSession, dir: String): DataFrame = {
    val ids = Tables(s, dir).documents.select(col("doc_id"))
      .filter(col("doc_id") < 120)
      .withColumn("n", (col("doc_id") % 5 + 1).cast("int"))
      .withColumn("gz", col("doc_id") % 2 === 0)
    graft.sources.Warc.genWarcs(ids, "doc_id", "n", "gz")
  }

  def cases: Seq[QueryCase] = Seq(
    QueryCase("src_file_scan", (s, dir) => {
      val out = tmpDir(dir, "src_file_scan")
      val nation = Tables(s, dir).nation
      FileSink.csv(nation, out)
      FileSource.scanDir(s, out, "csv", Seq("csv"),
        schema = Some(StructType(Seq(
          StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType)))),
        options = Map("header" -> "true"))
    }, Oracle("SELECT n_nationkey, n_name, n_regionkey FROM nation")),

    QueryCase("src_jdbc_scan", (s, dir) => {
      System.setProperty("derby.stream.error.file", "/tmp/graft_q/derby.log")
      val url = s"jdbc:derby:${tmpDir(dir, s"derby_${ProcessHandle.current().pid()}")};create=true"
      val nation = Tables(s, dir).nation
      JdbcSink.append(nation, url, "nation_t", mode = SaveMode.Overwrite)
      JdbcSource.read(s, url, "nation_t",
        partitioning = Some(JdbcSource.Partitioning("n_nationkey", 0, 25, 4)),
        fetchSize = 100)
    }, Oracle("SELECT n_nationkey, n_name, n_regionkey FROM nation")),

    // declarative query-array mode (Sources\Pdo mode (b)): the spec is data,
    // the plan is still one Catalyst pipeline
    QueryCase("src_query_spec", (s, dir) => {
      graft.operators.QuerySpec(
        where = Some("l_shipdate <= '1998-09-01'"),
        groupBy = Seq("l_returnflag"),
        agg = Seq(
          "n" -> "count(1)",
          "qty" -> "cast(sum(cast(l_quantity as decimal(18,2))) as double)"),
        having = Some("n > 0"),
        orderBy = Seq("l_returnflag"),
        limit = Some(5))(Tables(s, dir).lineitem)
    }, Oracle(
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag HAVING count(*) > 0
        |ORDER BY l_returnflag LIMIT 5""".stripMargin)),

    // file-level lineage: every row carries its source file (provenance for
    // audits/backfills). Basename only — the oracle harness resolves tables
    // through views, so the full path isn't reachable on the DuckDB side
    QueryCase("src_lineage", (s, dir) =>
      Tables(s, dir).nation.select(col("n_nationkey"),
        regexp_extract(input_file_name(), "[^/]+$", 0).as("src_file")),
      Oracle("SELECT n_nationkey, 'nation.parquet' AS src_file FROM nation")),

    // schema evolution across ingest generations: a corpus written over
    // years gains columns; old files must stay readable in the same scan.
    // Two generations (gen2 adds `value`), one mergeSchema read — missing
    // columns surface as NULL, counted per type. At 100 TB re-writing
    // history for every added column is not an option; this is the
    // fixture-drift lesson (round 10) turned into a first-class operator.
    QueryCase("src_schema_evolution", (s, dir) => {
      val out = tmpDir(dir, "events_generations")
      val ev = eventsUs(s, dir).select("event_id", "user_id", "event_type", "value")
      ev.filter(col("event_id") % 2 === 0).drop("value")
        .write.mode("overwrite").parquet(s"$out/gen=1")
      ev.filter(col("event_id") % 2 === 1)
        .write.mode("overwrite").parquet(s"$out/gen=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          count(col("value")).as("n_val"),
          min(col("value")).as("min_val"),
          max(col("value")).as("max_val"))
    },
    // gen1 = even event_ids WITHOUT value, gen2 = odd WITH value; the
    // merged scan sees value as NULL for gen1 rows
    Oracle(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(count(CASE WHEN event_id % 2 = 1 THEN value END) AS BIGINT) AS n_val,
        |  min(CASE WHEN event_id % 2 = 1 THEN value END) AS min_val,
        |  max(CASE WHEN event_id % 2 = 1 THEN value END) AS max_val
        |FROM events GROUP BY 1""".stripMargin)),

    QueryCase("sink_batch_insert", (s, dir) => {
      val out = tmpDir(dir, "sink_batch_insert")
      val orders = Tables(s, dir).orders
      FileSink.parquet(orders.filter(col("o_orderkey") % 2 === 0), out)
      FileSink.parquet(orders.filter(col("o_orderkey") % 2 =!= 0), out, SaveMode.Append)
      s.read.parquet(out)
    }, Oracle("SELECT * FROM orders")),

    QueryCase("sink_file_csv", (s, dir) => {
      val out = tmpDir(dir, "sink_file_csv")
      FileSink.csv(Tables(s, dir).region, out)
      FileSource.csv(s, out, StructType(Seq(
        StructField("r_regionkey", IntegerType), StructField("r_name", StringType))))
    }, Oracle("SELECT * FROM region")),

    // Sinks\Amqp/Nsq delivery contract, oracle-checked end to end: every
    // documents row publishes through a per-partition seam channel
    // (Sinks.amqpPublish → AmqpPublishApi) into the in-process broker, an
    // AmqpIngest spools the deliveries, and the committed spool content is
    // the result — DuckDB checks it equals the source column exactly (no
    // loss, no duplication across 8 publisher partitions). Fresh broker/
    // spool names per invocation keep re-runs in one JVM independent. The
    // driver-side lift of the spool into a frame is the in-JVM test
    // double's shape, not the scale path (a real broker's spool is read
    // back through the streaming source).
    QueryCase("sink_queue_publish", (s, dir) => {
      import s.implicits._
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val bname = s"sinkpub_$tag"
      val qname = s"sinkpub_spool_$tag"
      val docs = Tables(s, dir).documents
        .select(col("doc_id").cast("string").as("body")).repartition(8)
      graft.sources.Sinks.amqpPublish(docs, "body")(
        () => graft.streaming.InProcessAmqpBroker.named(bname).publisher())
      val broker = graft.streaming.InProcessAmqpBroker.named(bname)
      val ingest = new graft.streaming.AmqpIngest(broker, qname,
        prefetch = Int.MaxValue)
      val n = ingest.pump()
      ingest.commitUpTo(n)
      graft.streaming.MessageQueues.slice(qname, 0L, n).map(_._2).toDF("body")
    }, Oracle("SELECT CAST(doc_id AS VARCHAR) AS body FROM documents")),

    QueryCase("sink_file_xml", (s, dir) => {
      val out = tmpDir(dir, "sink_file_xml")
      FileSink.xml(Tables(s, dir).region, out, rowTag = "rec")
      FileSource.xml(s, out, rowTag = "rec",
        schema = Some(StructType(Seq(
          StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))))
    }, Oracle("SELECT * FROM region")),

    QueryCase("src_excel_roundtrip", (s, dir) => {
      val out = tmpDir(dir, "src_excel") + "/region.xlsx"
      graft.sources.Excel.write(Tables(s, dir).region, out)
      graft.sources.Excel.read(s, out)        // all-string, like the reference
    }, Oracle("SELECT CAST(r_regionkey AS VARCHAR) AS r_regionkey, r_name FROM region")),

    QueryCase("sink_flag_dedup", (s, dir) => {
      val ev = eventsUs(s, dir)
      Sync.latestVersion(ev, Seq("user_id", "event_type"),
        Seq(col("ts_us"), col("event_id")))
    }, Oracle(
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |  ORDER BY epoch_us(ts) DESC, event_id DESC) = 1""".stripMargin)),

    QueryCase("enrich_http", (s, dir) => {
      Enrich.withPartitionClient[Unit](
        Tables(s, dir).nation.select("n_nationkey", "n_name"),
        inCol = "n_name", outCol = "enriched",
        mkClient = () => (),
        call = (_, name) => name.toUpperCase + "_OK")
    }, Oracle("SELECT n_nationkey, n_name, upper(n_name) || '_OK' AS enriched FROM nation")),

    // size-governed parquet write → read-back (content equality is the
    // oracle; SinksSpec asserts the file-count contract)
    QueryCase("sink_file_sized", (s, dir) => {
      val out = tmpDir(dir, "sized_orders")
      FileSink.parquetSized(Tables(s, dir).orders, out, maxRecordsPerFile = 2000)
      s.read.parquet(out)
    }, Oracle("SELECT * FROM orders")),

    // ORC round-trip (Spark-native second columnar format): every orders
    // column — int64/string/double/TIMESTAMP_NTZ — must survive the
    // write→read cycle bit-exactly vs the parquet-sourced oracle
    QueryCase("sink_file_orc", (s, dir) => {
      val out = tmpDir(dir, "orc_orders")
      FileSink.orc(Tables(s, dir).orders, out)
      s.read.orc(out)
    }, Oracle("SELECT * FROM orders")),

    // partition-pruned keyed MERGE into partitioned parquet: seed the
    // table, upsert price bumps for key%7=0 plus brand-new keys, read the
    // WHOLE table back — the oracle is the same merge as one SELECT
    QueryCase("sink_upsert_partitioned", (s, dir) => {
      val base = tmpDir(dir, "upsert_part_orders")
      val orders = Tables(s, dir).orders
      FileSink.partitionedBy(orders, base, "parquet", Seq("o_orderpriority"))
      val updates = orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .unionByName(orders.filter(col("o_orderkey") % 1000 === 3)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      Sync.upsertPartitioned(s, base, updates,
        keys = Seq("o_orderkey"), partitionCol = "o_orderpriority")
      s.read.parquet(base).select(orders.columns.map(col): _*)
    },
    // the merge expressed as one SELECT: key%7 rows take the price bump,
    // everything else unchanged, new keys appended
    Oracle(
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_orderstatus,
        |  o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 1000 = 3""".stripMargin)),

    // JSONL training export → read-back: the written lines are parsed with
    // the JSON-path extractor, so the oracle (a plain projection) verifies
    // the whole render→shard→stream round trip
    QueryCase("sink_file_jsonl", (s, dir) => {
      val out = tmpDir(dir, "jsonl_docs")
      FileSink.jsonlSized(
        Tables(s, dir).documents.select("doc_id", "lang", "source"),
        out, maxRecordsPerFile = 100)
      s.read.text(out).select(
        get_json_object(col("value"), "$.doc_id").cast("bigint").as("doc_id"),
        get_json_object(col("value"), "$.lang").as("lang"),
        get_json_object(col("value"), "$.source").as("source"))
    }, Oracle("SELECT doc_id, lang, source FROM documents")),

    // z-order clustered write → read-back: content equality is the oracle
    // (ZOrderSpec asserts the per-file min/max narrowing that makes the
    // layout skip files on multi-dimension filters)
    QueryCase("layout_zorder", (s, dir) => {
      val out = tmpDir(dir, "zorder_orders")
      graft.sources.ZOrder.writeClustered(Tables(s, dir).orders, out,
        Seq("o_custkey", "o_totalprice"), numPartitions = 8)
      s.read.parquet(out)
    }, Oracle("SELECT * FROM orders")),

    // ingest-time layout: events land hive-partitioned by day, so the
    // day-range scan below reads ONLY the matching directories
    // (PartitionFilters — PlanShapeSpec pins it). At 100 TB this is the
    // difference between scanning three days and scanning the history.
    QueryCase("layout_partition_prune", (s, dir) => {
      val out = tmpDir(dir, "events_by_day")
      val ev = eventsUs(s, dir)
        .withColumn("day", expr("ts_us div 86400000000"))
      graft.sources.Layout.writePartitioned(ev, out, "day")
      // bounded driver scalar (one min over a partition column), same class
      // as the index-training collects
      val lo = ev.agg(min("day")).head.getLong(0)
      s.read.parquet(out)
        .filter(col("day").between(lo, lo + 2))
        // partition-value directories type-infer as INT at this scale; the
        // oracle's epoch arithmetic is BIGINT — normalize
        .groupBy(col("day").cast("bigint").as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("user_id")).as("n_users"))
    }, Oracle(
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, event_type, user_id
        |           FROM events),
        |  b AS (SELECT min(day) AS lo FROM e)
        |SELECT e.day, e.event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e, b WHERE e.day BETWEEN b.lo AND b.lo + 2
        |GROUP BY 1, 2""".stripMargin)),

    // co-located join: both sides written bucketed on their join key with
    // the same bucket count, so the recurring join runs with zero Exchange
    // below it (PlanShapeSpec pins the shuffle-free SortMergeJoin). The
    // ingest pays the shuffle once; every nightly join after that is free.
    QueryCase("layout_bucketed_join", (s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val evT = s"g_ev_bkt$tag"
      val custT = s"g_cust_bkt$tag"
      graft.sources.Layout.writeBucketed(
        eventsUs(s, dir).select("user_id", "event_type"),
        evT, tmpDir(dir, "bkt_events"), buckets = 8, bucketCol = "user_id")
      graft.sources.Layout.writeBucketed(
        Tables(s, dir).customer.select("c_custkey", "c_mktsegment"),
        custT, tmpDir(dir, "bkt_customer"), buckets = 8, bucketCol = "c_custkey")
      s.table(evT).join(s.table(custT), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
    }, Oracle(
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin)),

    // WARC crawl ingestion (ISO 28500 — the Common Crawl container):
    // file k holds a warcinfo record + per page i a (request, response)
    // pair; even-k files use the per-record-gzip-member layout, so one
    // key exercises BOTH the plain parse and the multi-member inflate.
    // body_md5 proves byte-exact content-block extraction.
    QueryCase("src_warc_records", (s, dir) => {
      val files = warcFiles(s, dir)
      graft.sources.Warc.warcRecords(files, "doc_id", "content")
        .select(col("doc_id").as("file_id"), col("rec_idx"),
          col("warc_type"), col("record_id"), col("target_uri"),
          col("warc_date"), col("content_length"),
          md5(col("body")).as("body_md5"))
    },
    // every WARC field re-derived from the fixture formula with ZERO
    // parsing: the hash match proves version/header/content-block walk
    // AND the multi-member gunzip (even-k files) are byte-exact —
    // body_md5 is DuckDB's md5 over the identically-constructed string
    Oracle(
      """WITH ids AS (SELECT doc_id AS k, CAST(doc_id % 5 + 1 AS INT) AS n,
        |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS dd
        |  FROM documents WHERE doc_id < 120),
        |  pages AS (SELECT k, dd, CAST(i AS INT) AS i,
        |      lpad(CAST(i % 60 AS VARCHAR), 2, '0') AS ss,
        |      'http://site' || k || '.example/page' || i AS uri,
        |      CASE WHEN (k*3 + i) % 7 = 0 THEN 404 ELSE 200 END AS st,
        |      CASE WHEN (k*3 + i) % 7 = 0 THEN 'Not Found' ELSE 'OK' END AS reason,
        |      '<html><head><title>T' || k || '-' || i ||
        |        '</title></head><body><p>alpha' || k || ' beta' || i ||
        |        ' gamma' || ((k*7 + i) % 100) ||
        |        '</p><script>var x=1;</script></body></html>' AS html
        |    FROM ids, unnest(range(0, n)) t(i)),
        |  allr AS (
        |    SELECT k, 0 AS rec_idx, 'warcinfo' AS warc_type,
        |      '<urn:uuid:' || k || '-info>' AS record_id,
        |      CAST(NULL AS VARCHAR) AS target_uri,
        |      '2026-01-' || dd || 'T00:00:00Z' AS warc_date,
        |      'software: graft ' || k || chr(13) || chr(10) AS body
        |    FROM ids
        |    UNION ALL
        |    SELECT k, 1 + 2*i, 'request', '<urn:uuid:' || k || '-' || i || '-req>',
        |      uri, '2026-01-' || dd || 'T00:01:' || ss || 'Z',
        |      'GET /page' || i || ' HTTP/1.1' || chr(13) || chr(10) ||
        |        'Host: site' || k || '.example' || chr(13) || chr(10) ||
        |        chr(13) || chr(10)
        |    FROM pages
        |    UNION ALL
        |    SELECT k, 2 + 2*i, 'response', '<urn:uuid:' || k || '-' || i || '-resp>',
        |      uri, '2026-01-' || dd || 'T00:02:' || ss || 'Z',
        |      'HTTP/1.1 ' || st || ' ' || reason || chr(13) || chr(10) ||
        |        'Content-Type: text/html; charset=utf-8' || chr(13) || chr(10) ||
        |        'Content-Length: ' || length(html) || chr(13) || chr(10) ||
        |        chr(13) || chr(10) || html
        |    FROM pages)
        |SELECT k AS file_id, CAST(rec_idx AS INT) AS rec_idx, warc_type,
        |  record_id, target_uri, warc_date,
        |  CAST(length(body) AS BIGINT) AS content_length, md5(body) AS body_md5
        |FROM allr""".stripMargin)),

    // WARC → page text: response records' HTTP envelopes split (status,
    // content-type) and the HTML body stripped to visible text — the
    // crawl container feeding the text tier in one shuffle-free plan
    QueryCase("src_warc_http", (s, dir) => {
      val files = warcFiles(s, dir)
      graft.sources.Warc.warcResponses(files, "doc_id", "content")
        .select(col("doc_id").as("file_id"), col("rec_idx"),
          col("target_uri"), col("http_status"), col("http_content_type"),
          T.htmlToText(col("http_body")).as("page_text"))
    },
    // response records only, HTTP envelope split by formula; page_text =
    // the htmlToText of the formula HTML, which collapses to the literal
    // "T{k}-{i} alpha{k} beta{i} gamma{m}" (title text kept, script
    // dropped wholesale, tags → collapsed whitespace)
    Oracle(
      """WITH ids AS (SELECT doc_id AS k, CAST(doc_id % 5 + 1 AS INT) AS n
        |  FROM documents WHERE doc_id < 120)
        |SELECT k AS file_id, CAST(2 + 2*i AS INT) AS rec_idx,
        |  'http://site' || k || '.example/page' || i AS target_uri,
        |  CAST(CASE WHEN (k*3 + i) % 7 = 0 THEN 404 ELSE 200 END AS INT)
        |    AS http_status,
        |  'text/html; charset=utf-8' AS http_content_type,
        |  'T' || k || '-' || i || ' alpha' || k || ' beta' || i ||
        |    ' gamma' || ((k*7 + i) % 100) AS page_text
        |FROM ids, unnest(range(0, n)) t(i)""".stripMargin)),

    // the END-TO-END crawl pipeline in ONE shuffle-minimal plan: .warc.gz
    // bytes → response records → visible text → C4 clean + page gate →
    // canonical-URL dedup (tracking params stripped; same-site re-crawls
    // collapse) → exact content dedup (mirror sites collapse) — the first
    // pipeline a real crawl user builds; every stage is individually
    // oracled above and the composition is re-derived wholesale here
    QueryCase("src_warc_pipeline", (s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 60)
        .withColumn("n", (col("doc_id") % 3 + 2).cast("int"))
        .withColumn("gz", col("doc_id") % 2 === 0)
      val files = graft.sources.Warc.genCrawlWarcs(ids, "doc_id", "n", "gz")
      val pages = graft.sources.Warc.warcResponses(files, "doc_id", "content")
        .filter(col("http_status") === 200)
        .select((col("doc_id") * 1000 + col("rec_idx")).as("page_id"),
          col("target_uri"), T.htmlToText(col("http_body")).as("raw_text"))
      val gated = pages
        .withColumn("clean_text", T.c4CleanLines(col("raw_text")))
        .filter(T.c4Keep(col("clean_text")))
      val urlDeduped = graft.ext.Urls.dedupByUrl(gated, "page_id", "target_uri")
      Dedup.exact(urlDeduped, Seq("clean_text"), "page_id")
        .select(col("page_id"), col("url_norm"), col("clean_text"))
    },
    // the composed crawl pipeline, re-derived stage by stage: status
    // filter by the 404 formula, visible text from (m, i), the C4 line
    // rule + page gate replayed token-for-token (NOT by plant residue —
    // the rules themselves run in SQL), canonical URL from (s, i) with
    // tracking params gone, then min-page_id winners per URL and per
    // distinct clean text
    Oracle(
      """WITH ids AS (SELECT doc_id AS k, doc_id % 10 AS s, doc_id % 5 AS m,
        |    CAST(doc_id % 3 + 2 AS INT) AS n
        |  FROM documents WHERE doc_id < 60),
        |  pg AS (SELECT k, s, m, CAST(i AS INT) AS i, (m*3 + i) % 5 AS v,
        |      k * 1000 + 2 + 2*i AS page_id
        |    FROM ids, unnest(range(0, 4)) t(i)
        |    WHERE i < n AND (k*3 + i) % 7 <> 0),
        |  txt AS (SELECT page_id, s, m, i,
        |      'Crawl ' || m || ' ' || i || ' Site ' || m || ' page ' || i ||
        |      ' carries crawl words number ' || ((m*7 + i) % 50) ||
        |      '. Another sentence follows with plenty of words here. ' ||
        |      CASE WHEN v = 0 THEN 'Closing remark has lorem ipsum inside.'
        |           WHEN v = 1 THEN 'Closing remark is {styled} badly today.'
        |           WHEN v = 2 THEN 'unpunctuated tail'
        |           ELSE 'Closing remark ends the page cleanly.' END AS text
        |    FROM pg),
        |  cl AS (SELECT page_id, s, m, i, array_to_string(list_filter(
        |      string_split(text, chr(10)), l ->
        |      (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
        |        OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
        |      AND len(list_filter(string_split(trim(l), ' '), w -> len(w) > 0)) >= 5
        |      AND NOT contains(lower(trim(l)), 'javascript')), chr(10)) AS clean_text
        |    FROM txt),
        |  sen AS (SELECT page_id, s, m, i, clean_text,
        |      len(list_filter(list_transform(
        |        string_split(regexp_replace(clean_text, '([.!?]+)\s+', '\1' || chr(1), 'g'), chr(1)),
        |        x -> trim(x)), x -> length(x) > 0)) AS ns
        |    FROM cl),
        |  gate AS (SELECT page_id, s, i, clean_text FROM sen
        |    WHERE ns >= 3 AND NOT contains(lower(clean_text), 'lorem ipsum')
        |      AND NOT contains(clean_text, '{')
        |      AND NOT list_has_any(
        |        list_filter(string_split_regex(lower(clean_text), '[ \n]'),
        |          t -> len(t) > 0), ['viagra', 'casino', 'xxx'])),
        |  urld AS (SELECT page_id, clean_text,
        |      'http://site' || s || '.example/page' || i || '?q=' || (i % 3) AS url_norm,
        |      row_number() OVER (PARTITION BY s, i ORDER BY page_id) AS rk
        |    FROM gate),
        |  u1 AS (SELECT page_id, url_norm, clean_text FROM urld WHERE rk = 1),
        |  ex AS (SELECT page_id, url_norm, clean_text,
        |      row_number() OVER (PARTITION BY clean_text ORDER BY page_id) AS rk2
        |    FROM u1)
        |SELECT page_id, url_norm, clean_text FROM ex WHERE rk2 = 1""".stripMargin)))
}
