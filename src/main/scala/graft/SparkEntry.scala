package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Pipeline, Tables}
import graft.ext.{Bloom, Curation, Dedup, Media, Multimodal, Similarity, Spans}
import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.operators.{AsOf, ColumnOps, Enrich, Parse, Sync}
import graft.sources.{FileSink, FileSource, JdbcSink, JdbcSource, LineParser, LineParserConfig}
import graft.streaming.Streams

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (plus the LLM-data-pipeline ext tier)
  * is registered as a `queries` entry; `oracleSql` carries the equivalent
  * DuckDB SQL for the hash-compared correctness gate. Only the
  * approximate-by-design ANN paths and the wall-clock snowflake id are
  * rows-only, and each names an oracled companion gate in
  * [[rowsOnlyGates]] (planted-duplicate retrieval / invariant gates); the
  * LSH dedup tiers reach exact oracles through candidate → exact-rescore
  * pipelines. SparkEntrySpec pins that contract.
  *
  * Cross-engine determinism rules used throughout (see SURVEY.md §7.4):
  *  - money aggregates go through DECIMAL(18,2) (exact) and cast the final
  *    result to DOUBLE — bit-identical in both engines;
  *  - `events.ts` has drifted across fixture generations: parquet
  *    TIMESTAMP(NANOS) (Spark reads it as nanos-long under `nanosAsLong`,
  *    DuckDB truncates to µs) vs plain timestamp[us] (Spark reads
  *    TIMESTAMP/TIMESTAMP_NTZ). Every query derives `ts_us` = µs BIGINT
  *    from whichever type arrived ([[tsUsCol]]) — DuckDB's `epoch_us(ts)`
  *    agrees with both under a UTC session;
  *  - integer per-mille text stats use floor(x+0.5), identical half-up in
  *    both engines; floating scores are rounded and tie-broken by id.
  */
object SparkEntry {

  /** Scratch dir for queries that exercise a write-then-read-back sink path. */
  private def tmpDir(sfDir: String, name: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    s"/tmp/graft_q/$tag/$name"
  }

  /** SF-INDEPENDENT artifact dir for queries whose DuckDB oracle
    * `read_parquet()`s something the query itself wrote (k-means
    * centroids, PQ codebooks — trained state that is not SQL-derivable
    * but IS a persisted table the oracle can re-apply). The path must be
    * a compile-time constant because oracle SQL is a static string; the
    * last Verify/Bench run at any SF owns it, and oracle_check always
    * runs right after the Verify that wrote it (same contract as the
    * driver's gate).
    */
  private def oracleArtifactDir(name: String): String =
    s"/tmp/graft_q/oracle_artifacts/$name"

  /** Build-once-per-JVM persisted fixtures, one memo keyed by (artifact
    * name, sfDir): the pre-built index or trained model a classify- or
    * score-only query reads. Repeated calls (primer + query, or Verify +
    * smoke specs) pay the build exactly once per scale factor; `build`
    * writes the artifact into the dir it is handed.
    */
  private val artifactMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private def cachedArtifact(sfDir: String, name: String)(build: String => Unit): String =
    artifactMemo.computeIfAbsent((name, sfDir), _ => {
      val dir = tmpDir(sfDir, name)
      build(dir)
      dir
    })

  /** Near-dedup signature index over `documents` — the persisted corpus
    * `dedup_near_classify` classifies against.
    */
  private def cachedNearIndexDir(s: SparkSession, sfDir: String): String =
    cachedArtifact(sfDir, "near_index_cached") { idx =>
      val d = Tables(s, sfDir).documents.select("doc_id", "text")
      Dedup.buildNearIndex(d, "doc_id", "text", idx)
    }

  /** BM25 inverted index over `documents` — the fixture
    * `search_bm25_indexed` queries against.
    */
  private def cachedSearchIndexDir(s: SparkSession, sfDir: String): String =
    cachedArtifact(sfDir, "search_index_cached") { idx =>
      val d = Tables(s, sfDir).documents.select("doc_id", "text")
      graft.ext.SearchIndex.build(d, "doc_id", "text", idx, nBuckets = 64)
    }

  /** Unigram LM over the English slice — the stored model
    * `text_lm_persisted` scores against.
    */
  private def cachedLmModelDir(s: SparkSession, sfDir: String): String =
    cachedArtifact(sfDir, "lm_model_cached") { dir =>
      val en = Tables(s, sfDir).documents.filter(col("lang") === "en")
      graft.ext.Lm.writeModel(s,
        graft.ext.Lm.unigramModel(en, "text", maxVocab = 4096), dir)
    }

  /** Bigram LM — `text_lm_bigram_persisted` scores against the STORED
    * artifact, proving the two-table round trip is lossless.
    */
  private def cachedBigramModelDir(s: SparkSession, sfDir: String): String =
    cachedArtifact(sfDir, "lm_bigram_cached") { dir =>
      val en = Tables(s, sfDir).documents.filter(col("lang") === "en")
      graft.ext.Lm.writeBigramModel(s,
        graft.ext.Lm.bigramModel(en, "text", maxVocab = 4096, maxBigrams = 512),
        dir)
    }

  /** BPE merge table over `documents` — the tokenizer `text_bpe_counts`
    * applies.
    */
  private def cachedBpeMergesDir(s: SparkSession, sfDir: String): String =
    cachedArtifact(sfDir, "bpe_merges_cached") { dir =>
      graft.ext.Bpe.writeMerges(s,
        graft.ext.Bpe.trainMerges(Tables(s, sfDir).documents, "text",
          maxMerges = 200), dir)
    }

  /** Untimed setup per bench key: Bench runs these BEFORE starting the
    * query's clock, so a key that exists to time the INCREMENTAL cost of an
    * operation (classify against an existing index) isn't billed for the
    * pay-once build its fixture needs. Verify ignores this map — the query
    * closures are self-sufficient (they prime lazily on first call).
    */
  def benchPrimers: Map[String, (SparkSession, String) => Unit] = Map(
    "dedup_near_classify" -> ((s, dir) => { cachedNearIndexDir(s, dir); () }),
    "search_bm25_indexed" -> ((s, dir) => { cachedSearchIndexDir(s, dir); () }),
    "search_bm25_batch" -> ((s, dir) => { cachedSearchIndexDir(s, dir); () }),
    "search_hybrid_rrf" -> ((s, dir) => { cachedSearchIndexDir(s, dir); () }),
    "text_lm_persisted" -> ((s, dir) => { cachedLmModelDir(s, dir); () }),
    "text_lm_bigram_persisted" -> ((s, dir) => { cachedBigramModelDir(s, dir); () }),
    "text_bpe_counts" -> ((s, dir) => { cachedBpeMergesDir(s, dir); () }),
    "text_bpe_counts_gate" -> ((s, dir) => { cachedBpeMergesDir(s, dir); () }))

  private def withNanosAsLong(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Run `body` with `spark.sql.shuffle.partitions` scoped to `n`, restoring
    * the previous value after. Streaming queries use this: each stateful
    * operator materializes one state store PER shuffle partition (a
    * stream-stream join keeps four), so the partition count should track
    * STATE VOLUME, not core count — at this test scale 32 partitions is
    * pure store-setup overhead (measured 9.3 s → 2.7 s on the interval
    * join with 8). At 100 TB the same knob goes the other way: size it so
    * each store's state fits its executor. Results are partitioning-
    * independent (oracle-verified), only the wall clock moves.
    */
  private def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** µs-BIGINT event time from `ts`, whatever its fixture-era type:
    * nanos BIGINT → `div 1000`; TIMESTAMP / TIMESTAMP_NTZ → `unix_micros`
    * (NTZ is cast through the UTC session, matching DuckDB's naive
    * `epoch_us`). Fails loudly on anything else rather than mis-scaling. */
  private def tsUsCol(dt: DataType): Column = dt match {
    case LongType                             => expr("ts div 1000")
    case TimestampType | TimestampNTZType     => unix_micros(col("ts").cast("timestamp"))
    case other => throw new IllegalArgumentException(
      s"events.ts has unsupported type $other (expected nanos BIGINT or timestamp)")
  }

  /** TIMESTAMP event time from `ts` for streaming plans, same dispatch. */
  private def tsTCol(dt: DataType): Column = dt match {
    case LongType                         => timestamp_micros(expr("ts div 1000"))
    case TimestampType | TimestampNTZType => col("ts").cast("timestamp")
    case other => throw new IllegalArgumentException(
      s"events.ts has unsupported type $other (expected nanos BIGINT or timestamp)")
  }

  /** events with `ts_us` (µs-truncated BIGINT event time) prepended. */
  private def eventsUs(spark: SparkSession, dir: String): DataFrame = {
    withNanosAsLong(spark)
    val ev = Tables(spark, dir).events
    ev.withColumn("ts_us", tsUsCol(ev.schema("ts").dataType))
      .drop("ts")
  }

  /** Fixture for the span-dedup pair `dedup_dup_spans`/`dedup_strip_spans`:
    * every third document gains a shared 8-token boilerplate suffix (a
    * cross-document duplicated SPAN inside otherwise-unique text — exactly
    * what whole-document dedup misses) and every seventh is duplicated
    * verbatim under a shifted id (whole-document spans).
    */
  private def spanFixture(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents.select("doc_id", "text")
    val planted = d.withColumn("text",
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" LICENSE HEADER COMMON TO MANY DOCUMENTS IN CORPUS")))
        .otherwise(col("text")))
    planted.unionByName(planted.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Lineitem scan → pushdown filter → ColumnOps reshape → aggregate
    * (SURVEY.md §7.2 step 1: the whole pipeline surface in one plan).
    */
  def entry(spark: SparkSession): DataFrame = {
    val li = Tables(spark, "/root/testdata/sf0.001").lineitem
    val reshape = Pipeline(
      ColumnOps.include(
        "flag"  -> "l_returnflag",
        "status" -> "l_linestatus",
        "qty"   -> "cast(l_quantity as decimal(18,2))",
        "price" -> "cast(l_extendedprice as decimal(18,2))",
        "ship"  -> "l_shipdate"),
      ColumnOps.addFields("src" -> lit("graft")),
      ColumnOps.rename("ship" -> "shipdate"))
    reshape(li.filter(col("l_shipdate") <= lit("1998-09-01")))
      .groupBy("flag", "status", "src")
      .agg(sum("qty").cast("double").as("sum_qty"),
        sum("price").cast("double").as("sum_price"),
        count(lit(1)).as("n"))
  }

  /** One entry per implemented operator from SURVEY.md §2 + ext tier. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- flagship-style aggregate (TPC-H Q1 shape) ----
    "q1_agg" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
      li.filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2)))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // multi-join aggregate (TPC-H Q5 shape): dims broadcast, fact shuffles
    // once on the join key — Catalyst picks broadcast for the small sides
    "q2_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(t.nation, col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2)))))
            .cast("double").as("revenue"),
          countDistinct("o_orderkey").as("n_orders"))
    }),

    "q3_rollup" -> ((s, dir) =>
      Tables(s, dir).lineitem
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("qty"))),

    "q4_topk" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.orders.groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("spend"),
          count(lit(1)).as("n_orders"))
        .orderBy(desc("spend"), col("o_custkey"))
        .limit(10)
    }),

    // EXACT percentiles without the percentile-aggregate's per-group value
    // buffer: GK-bracketed two-pass order statistics (graft.ext.Stats) —
    // bit-identical results, bounded memory at any group size
    "q5_percentile" -> ((s, dir) =>
      graft.ext.Stats.exactPercentiles(Tables(s, dir).lineitem,
        Seq("l_returnflag"), "l_extendedprice",
        Seq("p50" -> 0.5, "p95" -> 0.95))),

    // approx_percentile (GK sketch, bounded memory) checked against the
    // EXACT value within 1% — a tolerance gate the oracle can assert
    // without reproducing Spark's sketch internals. The exact arm uses the
    // bounded two-pass Stats.exactPercentiles, so neither arm buffers a
    // group's values in one task.
    "q5_approx_percentile" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
      val ap = li.groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("ap50"),
          expr("approx_percentile(l_extendedprice, 0.95, 10000)").as("ap95"))
      val ex = graft.ext.Stats.exactPercentiles(li,
        Seq("l_returnflag"), "l_extendedprice", Seq("ep50" -> 0.5, "ep95" -> 0.95))
      ap.join(ex, Seq("l_returnflag"))
        .select(col("l_returnflag"),
          (abs(col("ap50") - col("ep50")) <= col("ep50") * 0.01).as("p50_ok"),
          (abs(col("ap95") - col("ep95")) <= col("ep95") * 0.01).as("p95_ok"))
    }),

    // collect_set joined to a scalar: the driver's pandas compare can't hash
    // raw array cells, and a delimited string is hash-equivalent here
    "q6_collect" -> ((s, dir) =>
      Tables(s, dir).lineitem.groupBy("l_returnflag")
        .agg(array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses"))),

    "q7_pivot" -> ((s, dir) =>
      Tables(s, dir).lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double"))),

    "q8_setops" -> ((s, dir) => {
      val o = Tables(s, dir).orders.select("o_custkey")
      val c = Tables(s, dir).customer.filter(col("c_acctbal") > 0)
        .select(col("c_custkey").as("o_custkey"))
      o.intersect(c).exceptAll(o.filter(col("o_custkey") % 10 === 0).select("o_custkey").distinct())
    }),

    // ---- sources ----
    "src_file_scan" -> ((s, dir) => {
      val out = tmpDir(dir, "src_file_scan")
      val nation = Tables(s, dir).nation
      FileSink.csv(nation, out)
      FileSource.scanDir(s, out, "csv", Seq("csv"),
        schema = Some(StructType(Seq(
          StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType)))),
        options = Map("header" -> "true"))
    }),

    "src_jdbc_scan" -> ((s, dir) => {
      System.setProperty("derby.stream.error.file", "/tmp/graft_q/derby.log")
      val url = s"jdbc:derby:${tmpDir(dir, s"derby_${ProcessHandle.current().pid()}")};create=true"
      val nation = Tables(s, dir).nation
      JdbcSink.append(nation, url, "nation_t", mode = SaveMode.Overwrite)
      JdbcSource.read(s, url, "nation_t",
        partitioning = Some(JdbcSource.Partitioning("n_nationkey", 0, 25, 4)),
        fetchSize = 100)
    }),

    // ---- LineParser (headLine/dataLine/endLine/fieldLine + csv quoting) ----
    "xf_lineparser_csv" -> ((s, dir) => {
      import s.implicits._
      val lines = Seq(
        "batch_id,region",                  // 1: fieldLine (shared values)
        "name,city,note",                   // 2: headLine
        "Alice,\"Spring, field\",ok",       // 3: data (quoted delimiter)
        "\"Bo\"\"b\",NYC,\"x,y\"",          // 4: data (escaped quote)
        "Cara,LA,plain",                    // 5: data
        "Dave,SF,cut")                      // 6: beyond endLine — dropped
      LineParser.parseLines(s.createDataset(lines), LineParserConfig(
        headLine = 2, dataStart = 3, endLine = Some(5),
        fieldLine = Some(1), fieldNames = Seq("fbatch", "fregion")))
    }),

    // dataLine[] list semantics (reference `LineParser.php:175`): rows 3 and
    // 6 are data, 4-5 are junk, and everything from the max listed row on is
    // data again — the gap proves the list path, the tail proves `>= max`
    "xf_lineparser_rows" -> ((s, dir) => {
      import s.implicits._
      val lines = Seq(
        "name,city",          // 1: headLine
        "junk1,junk1",        // 2: skipped
        "Alice,Paris",        // 3: listed data row
        "junk2,junk2",        // 4: skipped (the gap)
        "junk3,junk3",        // 5: skipped
        "Bob,Rome",           // 6: max(dataLines) → data from here on
        "Cara,Oslo")          // 7: >= max → data
      LineParser.parseLines(s.createDataset(lines), LineParserConfig(
        headLine = 1, dataLines = Seq(3, 6)))
    }),

    // declarative query-array mode (Sources\Pdo mode (b)): the spec is data,
    // the plan is still one Catalyst pipeline
    "src_query_spec" -> ((s, dir) => {
      graft.operators.QuerySpec(
        where = Some("l_shipdate <= '1998-09-01'"),
        groupBy = Seq("l_returnflag"),
        agg = Seq(
          "n" -> "count(1)",
          "qty" -> "cast(sum(cast(l_quantity as decimal(18,2))) as double)"),
        having = Some("n > 0"),
        orderBy = Seq("l_returnflag"),
        limit = Some(5))(Tables(s, dir).lineitem)
    }),

    // ---- column algebra ----
    "xf_project_include" -> ((s, dir) => {
      ColumnOps.include(
        "okey" -> "l_orderkey",
        "qty"  -> "cast(l_quantity as bigint)",
        "flag" -> "l_returnflag")(Tables(s, dir).lineitem)
    }),

    "xf_project_exclude" -> ((s, dir) =>
      ColumnOps.exclude("p_retailprice")(Tables(s, dir).part)),

    "xf_rename" -> ((s, dir) =>
      ColumnOps.rename("c_name" -> "cust_name", "c_acctbal" -> "balance")(
        Tables(s, dir).customer)),

    "xf_addfield" -> ((s, dir) =>
      ColumnOps.addFields("src" -> lit("graft"), "flag" -> lit(1))(
        Tables(s, dir).supplier)),

    // parity-only variant: dense oracle-deterministic ids via ONE
    // partition-less window — allowlisted in PlanShapeSpec for the 25-row
    // nation ONLY; the scale path is xf_idkey_snowflake below
    "xf_idkey" -> ((s, dir) =>
      ColumnOps.idKeyOrdered("rid", col("n_nationkey"))(Tables(s, dir).nation)),

    // the production id generator: snowflake ids, zero shuffle, time-
    // sortable. Ids are wall-clock-based → rows-only; the oracled gate
    // below asserts the invariants that matter (cardinality preserved,
    // global uniqueness, positivity) deterministically
    "xf_idkey_snowflake" -> ((s, dir) =>
      ColumnOps.idKeySnowflake("rid")(
        Tables(s, dir).orders.select("o_orderkey"))),

    "xf_idkey_snowflake_gate" -> ((s, dir) => {
      val ids = ColumnOps.idKeySnowflake("rid")(
        Tables(s, dir).orders.select("o_orderkey"))
      ids.agg(count(lit(1)).as("n_rows"),
        countDistinct(col("rid")).as("n_unique"),
        (min(col("rid")) > 0L).as("all_positive"))
    }),

    // ---- XML parse/format ----
    "xf_xml_parse" -> ((s, dir) => {
      val xml = Tables(s, dir).customer.withColumn("doc",
        when(col("c_custkey") % 2 === 0,
          concat(lit("<rec><a>"), col("c_name"), lit("</a></rec>")))
          .otherwise(concat(lit("<rec><b>"), col("c_name"), lit("</b></rec>"))))
      Parse.xmlExtract(
        xml.select(col("c_custkey"), col("doc")), "doc",
        StructType(Seq(StructField("a", StringType), StructField("b", StringType))),
        fields = Map("name" -> Seq("a", "b")), keepInput = true)
        .drop("doc")
    }),

    "xf_xml_format" -> ((s, dir) => {
      val c = Tables(s, dir).customer
      val roundtrip = c.select(col("c_custkey"),
        Parse.xmlFormat(struct(col("c_mktsegment").as("seg")), rowTag = "rec").as("x"))
      roundtrip.select(col("c_custkey"),
        Parse.xmlParse(col("x"),
          StructType(Seq(StructField("seg", StringType)))).getField("seg").as("seg"))
    }),

    // ---- sync ops (the reference's relational heart) ----
    "sync_anti_insert" -> ((s, dir) => {
      val orders = Tables(s, dir).orders
      Sync.antiInsert(orders, orders.filter(col("o_orderkey") % 3 === 0), Seq("o_orderkey"))
    }),

    "sync_anti_expr_join" -> ((s, dir) => {
      val orders = Tables(s, dir).orders
      val target = orders.filter(col("o_orderdate") < lit("1995-01-01")).as("t")
      Sync.antiInsertExpr(orders.as("f"), target,
        expr("f.o_custkey % 100 = t.o_custkey % 100"))
    }),

    "sync_watermark" -> ((s, dir) => {
      val orders = Tables(s, dir).orders
      Sync.watermarkIncr(orders, orders.filter(col("o_orderdate") < lit("1995-06-01")),
        "o_orderdate")
    }),

    "sync_incr_paged" -> ((s, dir) => {
      val orders = Tables(s, dir).orders
      Sync.incrPage(orders, orders.filter(col("o_orderdate") < lit("1995-06-01")),
        "o_orderdate", Seq(col("o_orderkey")), pageSize = 500)
    }),

    "sync_upsert" -> ((s, dir) => {
      val c = Tables(s, dir).customer
      val updates = c.filter(col("c_custkey") % 2 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
      val inserts = c.withColumn("c_custkey", col("c_custkey") + 10000000L)
      Sync.upsert(updates.unionByName(inserts), c, Seq("c_custkey"))
    }),

    // as-of enrichment: each event gets the user's latest order state at
    // or before the event time (right side deduped per (key, ts) first —
    // as-of ties are ambiguous in every engine)
    "asof_join" -> ((s, dir) => {
      val ev = eventsUs(s, dir).select("event_id", "user_id", "ts_us")
      val ord = Sync.latestVersion(Tables(s, dir).orders,
          Seq("o_custkey", "o_orderdate"), Seq(col("o_orderkey")))
        .select(col("o_custkey").as("user_id"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ots"), col("o_totalprice"))
      AsOf.joinBackward(ev, ord, Seq("user_id"), "ts_us", "ots", Seq("o_totalprice"))
    }),

    // next-event-after direction, same dedup + oracle pattern
    "asof_join_fwd" -> ((s, dir) => {
      val ev = eventsUs(s, dir).select("event_id", "user_id", "ts_us")
      val ord = Sync.latestVersion(Tables(s, dir).orders,
          Seq("o_custkey", "o_orderdate"), Seq(col("o_orderkey")))
        .select(col("o_custkey").as("user_id"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ots"), col("o_totalprice"))
      AsOf.joinForward(ev, ord, Seq("user_id"), "ts_us", "ots", Seq("o_totalprice"))
    }),

    "del_where" -> ((s, dir) =>
      Sync.delWhere(Tables(s, dir).lineitem, col("l_shipdate") < lit("1994-01-01"))),

    // per-key top-k (WindowGroupLimit pre-filters map-side): each
    // customer's 3 biggest orders
    "q11_topk_per_key" -> ((s, dir) =>
      ColumnOps.topKPerKey(Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)(
        Tables(s, dir).orders)
        .select("o_custkey", "o_orderkey", "rank_in_key")),

    // blocked fuzzy join: every customer matched to a deterministically
    // dirtied twin within edit distance 2, blocking on the stable suffix
    "fuzzy_match" -> ((s, dir) => {
      val cust = Tables(s, dir).customer
        .select(col("c_custkey").as("id_l"), col("c_name").as("name_l"))
      val dirty = Tables(s, dir).customer
        .select(col("c_custkey").as("id_r"),
          regexp_replace(col("c_name"), "ustome", "ustoma").as("name_r"))
      graft.operators.Fuzzy.joinByEditDistance(cust, dirty,
        "name_l", "name_r", maxDist = 2, blockKey = substring(_, -6, 6))
        .select("id_l", "id_r", "edit_dist")
    }),

    // JSON column extraction (events.props carries a JSON payload)
    "xf_json_parse" -> ((s, dir) =>
      eventsUs(s, dir).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))),

    // struct → compact JSON text (field order = struct order, no spaces —
    // same rendering in both engines for int/string fields)
    "xf_json_format" -> ((s, dir) =>
      eventsUs(s, dir).select(col("event_id"),
        to_json(struct(col("event_id"), col("event_type"))).as("j"))),

    // window-function surface: per-customer order sequence with running
    // spend (decimal-exact, cast to double at the edge) and previous order
    "q9_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables(s, dir).orders.select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("rn"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("run_spend"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"))
    }),

    // full CUBE lattice (q3 covers ROLLUP)
    "q3_cube" -> ((s, dir) =>
      Tables(s, dir).lineitem
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))),

    // correlation/variance from EXACT decimal sums (n·Σxy−ΣxΣy …): float
    // aggregation order varies per partitioning, so the engine computes the
    // moments exactly and divides once at the edge — bit-identical on any
    // cluster size, hash-comparable cross-engine (no tolerance needed)
    "q10_stats" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .select(col("l_returnflag"),
          col("l_quantity").cast("decimal(18,2)").as("x"),
          col("l_extendedprice").cast("decimal(18,2)").as("y"))
      li.groupBy("l_returnflag").agg(
          count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          // each moment difference is exact decimal; cast to double BEFORE
          // the product — the product of two ~1e16 decimals overflows
          // Decimal(38) at sf0.1 and beyond
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
            .as("corr_qty_price"),
          round(((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
            (col("n") * col("n"))).cast("double"), 4).as("var_qty"))
    }),

    // file-level lineage: every row carries its source file (provenance for
    // audits/backfills). Basename only — the oracle harness resolves tables
    // through views, so the full path isn't reachable on the DuckDB side
    "src_lineage" -> ((s, dir) =>
      Tables(s, dir).nation.select(col("n_nationkey"),
        regexp_extract(input_file_name(), "[^/]+$", 0).as("src_file"))),

    // schema evolution across ingest generations: a corpus written over
    // years gains columns; old files must stay readable in the same scan.
    // Two generations (gen2 adds `value`), one mergeSchema read — missing
    // columns surface as NULL, counted per type. At 100 TB re-writing
    // history for every added column is not an option; this is the
    // fixture-drift lesson (round 10) turned into a first-class operator.
    "src_schema_evolution" -> ((s, dir) => {
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
    }),

    // data-quality expectations: all rules over lineitem in one agg pass
    // (one intentionally-violated rule so both branches are exercised)
    "dq_expectations" -> ((s, dir) =>
      graft.operators.Expectations.check(Tables(s, dir).lineitem, Seq(
        "qty_positive" -> (col("l_quantity") > 0),
        "key_not_null" -> col("l_orderkey").isNotNull,
        "discount_in_range" -> (col("l_discount") >= 0 && col("l_discount") <= 1),
        "qty_under_40" -> (col("l_quantity") < 40)))),

    // time-series densify + impute: per-type daily counts on a gapless
    // grid, forward-filled then zero-coalesced
    "ts_gapfill_ffill" -> ((s, dir) => {
      val daily = eventsUs(s, dir)
        .withColumn("day", expr("ts_us div 86400000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      val grid = graft.operators.TimeSeries.gapFill(daily, Seq("event_type"), "day")
      graft.operators.TimeSeries.ffill(grid, Seq("event_type"), "day", Seq("cnt"))
        .select(col("event_type"), col("day"),
          coalesce(col("cnt"), lit(0L)).as("cnt_ff"))
    }),

    // batch twin of stream_session_counts — same oracle, zero streaming
    // machinery: gap-based sessionize + per-session aggregate
    "batch_sessionize" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      Sync.sessionize(ev, Seq("user_id"), "ts_us", gap = 1800000000L)
        .groupBy("user_id", "session_id")
        .agg(timestamp_micros(min(col("ts_us"))).as("wstart"),
          count(lit(1)).as("cnt"))
        .select("wstart", "user_id", "cnt")
    }),

    // SCD2 history build: event log → versioned dimension rows
    // (valid_from/valid_to, null = current version)
    "sync_scd2" -> ((s, dir) => {
      val ev = eventsUs(s, dir).select("user_id", "event_type", "ts_us", "event_id")
      Sync.scd2FromHistory(ev, keys = Seq("user_id"), attrs = Seq("event_type"),
        tsCol = "ts_us", orderTieCols = Seq("event_id"))
        .select("user_id", "event_type", "valid_from", "valid_to")
    }),

    // ---- sinks ----
    "sink_batch_insert" -> ((s, dir) => {
      val out = tmpDir(dir, "sink_batch_insert")
      val orders = Tables(s, dir).orders
      FileSink.parquet(orders.filter(col("o_orderkey") % 2 === 0), out)
      FileSink.parquet(orders.filter(col("o_orderkey") % 2 =!= 0), out, SaveMode.Append)
      s.read.parquet(out)
    }),

    "sink_file_csv" -> ((s, dir) => {
      val out = tmpDir(dir, "sink_file_csv")
      FileSink.csv(Tables(s, dir).region, out)
      FileSource.csv(s, out, StructType(Seq(
        StructField("r_regionkey", IntegerType), StructField("r_name", StringType))))
    }),

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
    "sink_queue_publish" -> ((s, dir) => {
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
    }),

    "sink_file_xml" -> ((s, dir) => {
      val out = tmpDir(dir, "sink_file_xml")
      FileSink.xml(Tables(s, dir).region, out, rowTag = "rec")
      FileSource.xml(s, out, rowTag = "rec",
        schema = Some(StructType(Seq(
          StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))))
    }),

    "src_excel_roundtrip" -> ((s, dir) => {
      val out = tmpDir(dir, "src_excel") + "/region.xlsx"
      graft.sources.Excel.write(Tables(s, dir).region, out)
      graft.sources.Excel.read(s, out)        // all-string, like the reference
    }),

    "sink_flag_dedup" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      Sync.latestVersion(ev, Seq("user_id", "event_type"),
        Seq(col("ts_us"), col("event_id")))
    }),

    // ---- enrichment (pooled per-partition client) ----
    "enrich_http" -> ((s, dir) => {
      Enrich.withPartitionClient[Unit](
        Tables(s, dir).nation.select("n_nationkey", "n_name"),
        inCol = "n_name", outCol = "enriched",
        mkClient = () => (),
        call = (_, name) => name.toUpperCase + "_OK")
    }),

    // ---- ext: dedup ----
    "dedup_exact" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val withCopies = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.exact(withCopies, Seq("text"), "doc_id")
    }),

    "dedup_ngram_jaccard" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val withCopies = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.ngramJaccardPairs(withCopies, "doc_id", "text", shingleN = 3, minJaccard = 0.5)
    }),

    // span-level boilerplate signal: per-doc count/ratio of shingles that
    // appear in >= 2 documents corpus-wide (what pairwise dedup misses)
    "dedup_span_stats" -> ((s, dir) =>
      Dedup.spanStats(Tables(s, dir).documents.select("doc_id", "text"),
        "doc_id", "text", shingleN = 3, minDf = 2)),

    // span-level exact substring dedup (Lee et al. arXiv:2107.06499 shape):
    // locate the exact token ranges that repeat corpus-wide. Fixture plants
    // an 8-token boilerplate suffix on every third doc (a cross-doc
    // duplicated SPAN in docs that are otherwise unique) plus verbatim
    // copies of every seventh (whole-doc spans)
    "dedup_dup_spans" -> ((s, dir) =>
      Spans.duplicateSpans(spanFixture(s, dir), "doc_id", "text",
        shingleN = 3, minCount = 2)),

    // the removal half: cut every duplicated span, keep everything else
    "dedup_strip_spans" -> ((s, dir) =>
      Spans.removeDuplicateSpans(spanFixture(s, dir), "doc_id", "text",
        shingleN = 3, minCount = 2)),

    // C4/RefinedWeb-style corpus-wide duplicate-LINE removal over the same
    // injected line structure as text_repetition (even ids carry their
    // text twice): self-repeats and cross-doc repeated lines both go
    "dedup_strip_lines" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val mtext = when(col("doc_id") % 2 === 0,
        concat_ws("\n", col("text"), col("text"),
          concat(lit("END "), col("doc_id"))))
        .otherwise(concat_ws("\n", col("text"),
          concat(lit("END "), col("doc_id"))))
      Spans.stripDuplicateLines(d.select(col("doc_id"), mtext.as("text")),
        "doc_id", "text", minCount = 2)
    }),

    // incremental ingest dedup: corpus = 80% of docs, batch = the rest plus
    // re-submitted copies of corpus content under new ids; only novel
    // content may come back (first-in-batch wins on in-batch dups)
    "dedup_incremental" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val corpus = d.filter(col("doc_id") % 5 =!= 0)
      val batch = d.filter(col("doc_id") % 5 === 0)
        .unionByName(corpus.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.incrementalExact(batch, corpus, Seq("text"), "doc_id")
        .select("doc_id")
    }),

    // Bloom-filter membership dedup (Dolma shape): corpus → one broadcast
    // bitmap, batch classified map-only — no batch shuffle, no corpus
    // rescan. Probes are md5-derived double hashing, so the oracle replays
    // the bitmap test as exact set-membership of probe positions
    "dedup_bloom" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val corpus = d.filter(col("doc_id") % 5 =!= 0)
      val batch = d.filter(col("doc_id") % 5 === 0)
        .unionByName(corpus.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      val bits = Bloom.build(corpus, "text", k = 7, mBits = 1L << 20)
      Bloom.flagDuplicates(batch, "text", bits, k = 7, mBits = 1L << 20)
        .select(col("doc_id"), col("maybe_dup"))
    }),

    // winnowing candidates (SIGMOD'03) rescored with exact n-gram Jaccard —
    // the standard LSH recall/precision split: candidates bound the pair
    // space, the exact rescore restores precision, and the oracle checks the
    // whole pipeline against DuckDB's all-pairs exact Jaccard (equality
    // holds iff candidate recall is total, which it is on this corpus)
    "dedup_winnow_pairs" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val withCopies = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000L))
      val cands = Dedup.winnowPairs(withCopies, "doc_id", "text", minShared = 1)
      Dedup.rescoreJaccard(withCopies, cands, "doc_id", "text",
        shingleN = 3, minJaccard = 0.5)
    }),

    // MinHash-LSH candidates, same exact-Jaccard rescore + oracle. The
    // composed form shares ONE tokenize+shingle scan between the candidate
    // signatures and the exact rescore (r20, guide §1.2 — composing the two
    // public stages shingled the corpus twice); results are identical
    // (DedupSpec pins composed == two-stage, and the DuckDB all-pairs
    // oracle is unchanged)
    "dedup_minhash_pairs" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val withCopies = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.minhashDupPairs(withCopies, "doc_id", "text",
        shingleN = 3, minJaccard = 0.5)
    }),

    // SimHash hamming-0 candidates verified as true exact duplicates (text
    // equality) — deterministic (banding always catches hamming-0, identical
    // text always hashes identically), so DuckDB's identical-text pair set
    // is an exact oracle. Near-dup simhash (maxHamming>0) is covered by
    // DedupSpec's bit-equivalence + banding tests.
    "dedup_simhash_pairs" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val withCopies = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000L))
      val cands = Dedup.simhashPairs(withCopies, "doc_id", "text", maxHamming = 0)
      Dedup.rescoreExact(withCopies, cands, "doc_id", Seq("text"))
    }),

    // pairs → duplicate clusters: min-label connected components over the
    // (oracle-equal) rescored MinHash pair graph; DuckDB verifies via a
    // recursive-CTE transitive closure of the same all-pairs graph
    // single shared shingle scan for candidates + rescore (composing the
    // two public stages would tokenize the corpus twice — Dedup
    // .nearDupComponents holds the one-scan plan)
    "dedup_components" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val withCopies = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.nearDupComponents(withCopies, "doc_id", "text", minJaccard = 0.5)
    }),

    // the composite nearDedup pipeline END-TO-END (LSH candidates → exact
    // rescore → connected components → one representative per cluster):
    // its stages are oracle-green individually above; this key pins their
    // COMPOSITION against DuckDB all-pairs Jaccard + recursive-CTE closure
    // + min-id representative filter. Equality holds iff candidate recall
    // is total — the same measured corpus property the pair oracles pin.
    "dedup_near_e2e" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val withCopies = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.nearDedup(withCopies, "doc_id", "text", minJaccard = 0.5)
    }),

    // daily-ingest near-dedup against a persisted signature index: corpus
    // indexed once (band postings + shingle hashes, no text), then a batch
    // of [even-doc verbatim copies | fresh unique-token docs | a second
    // copy of each fresh doc] classifies as dup_corpus / admitted /
    // dup_batch respectively — the corpus is never re-tokenized. Exact
    // Jaccard rescoring makes the verdicts oracle-checkable.
    "dedup_near_incremental" -> ((s, dir) => {
      val idx = tmpDir(dir, "near_index")
      val d = Tables(s, dir).documents.select("doc_id", "text")
      Dedup.buildNearIndex(d, "doc_id", "text", idx)
      val cid = col("doc_id").cast("string")
      val fresh = concat(lit("qz"), cid, lit("a qz"), cid, lit("b qz"), cid,
        lit("c qz"), cid, lit("d qz"), cid, lit("e"))
      val batch = d.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .unionByName(d.filter(col("doc_id") % 2 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"), fresh.as("text")))
        .unionByName(d.filter(col("doc_id") % 2 === 1)
          .select((col("doc_id") + 3000000L).as("doc_id"), fresh.as("text")))
      Dedup.nearDedupIncremental(batch, "doc_id", "text", idx, minJaccard = 0.5)
    }),

    // classify-only sibling of dedup_near_incremental: the SAME batch
    // classified against a memoized PRE-BUILT index ([[cachedNearIndexDir]]
    // — Bench primes it outside the timing window via benchPrimers), so the
    // bench line measures the per-batch classify alone — the operator's
    // actual daily cost — while dedup_near_incremental keeps timing the
    // pay-once build + classify together. Same output, same oracle.
    "dedup_near_classify" -> ((s, dir) => {
      val idx = cachedNearIndexDir(s, dir)
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val cid = col("doc_id").cast("string")
      val fresh = concat(lit("qz"), cid, lit("a qz"), cid, lit("b qz"), cid,
        lit("c qz"), cid, lit("d qz"), cid, lit("e"))
      val batch = d.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .unionByName(d.filter(col("doc_id") % 2 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"), fresh.as("text")))
        .unionByName(d.filter(col("doc_id") % 2 === 1)
          .select((col("doc_id") + 3000000L).as("doc_id"), fresh.as("text")))
      Dedup.nearDedupIncremental(batch, "doc_id", "text", idx, minJaccard = 0.5)
    }),

    // sign-LSH candidates + exact-cosine filter; scores rounded so the
    // all-pairs DuckDB cosine oracle hash-matches (identical vectors always
    // collide in every table → recall is total at this threshold)
    "dedup_embedding_pairs" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      Dedup.embeddingDupPairs(withCopies, "vec_id", "embedding", dim = 64,
        threshold = 0.999)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
    }),

    // SemDeDup-shape clustered semantic dedup: hash-ordered deterministic
    // anchors partition the embedding space into k hard cells (zero-shuffle
    // argmax-cosine assignment), pairs compared within cells only. The
    // DuckDB oracle re-derives the same anchors, assignment, and pairs —
    // the whole pipeline is replicated, like ann_lsh_topk's
    "dedup_semantic_pairs" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      Dedup.semanticDupPairs(withCopies, "vec_id", "embedding", k = 16,
        threshold = 0.999)
        .select(col("cell"), col("id_a"), col("id_b"),
          round(col("cos"), 4).as("cos"))
    }),

    // daily-ingest semantic dedup against a persisted cell index: corpus
    // indexed once (frozen anchors + cell-assigned vectors), then a batch
    // of [even-id verbatim copies | negated odd-id vectors | a second copy
    // of each negation] classifies as dup_corpus / admitted / dup_batch.
    // Negation keeps every float bit-exact across engines, lands far from
    // the corpus at 0.999 cosine, and makes the +2M/+3M twins identical —
    // the embedding modality's analogue of dedup_near_incremental's
    // unique-token fresh docs. The oracle re-derives anchors, both
    // assignments, the within-batch closure, and the cross match.
    "dedup_semantic_incremental" -> ((s, dir) => {
      val idx = tmpDir(dir, "sem_index")
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      Dedup.buildSemanticIndex(e, "vec_id", "embedding", idx, k = 16, dim = 64)
      val neg = transform(col("embedding"), x => negate(x))
      val batch = e.filter(col("vec_id") % 2 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") % 2 === 1)
          .select((col("vec_id") + 2000000L).as("vec_id"), neg.as("embedding")))
        .unionByName(e.filter(col("vec_id") % 2 === 1)
          .select((col("vec_id") + 3000000L).as("vec_id"), neg.as("embedding")))
      Dedup.semanticDedupIncremental(batch, "vec_id", "embedding", idx,
        k = 16, dim = 64, threshold = 0.999)
    }),

    // the SemDeDup pipeline end-to-end (cells → within-cell pairs →
    // components → min-id representative): oracle = the same partition +
    // recursive-CTE closure + representative filter in DuckDB
    "dedup_semantic" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      Dedup.semanticDedup(withCopies, "vec_id", "embedding", k = 16,
        threshold = 0.999)
        .select("vec_id")
    }),

    // cross-corpus exact-overlap audit: the right corpus carries verbatim
    // copies of every doc_id%3=0 doc (shifted ids) plus modified decoys —
    // exactly the copy pairs must surface, at (id, hash) join cost
    "dedup_cross_corpus" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val right = d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" novel tail")).as("text")))
      Dedup.crossCorpusPairs(d, right, Seq("text"), "doc_id", "doc_id")
    }),

    // ---- ext: similarity search ----
    "ann_cosine_topk" -> ((s, dir) =>
      Similarity.cosineTopK(Tables(s, dir).embeddings, "vec_id", "embedding",
        queryId = 1L, k = 20)),

    // int8-quantized scan: ranking by INTEGER code dot products is bit-exact
    // across engines, so unlike the float-LSH variants this ANN path gets a
    // full hash oracle (1/4 the scan bytes of float32 at 100 TB)
    "ann_int8_topk" -> ((s, dir) =>
      Similarity.int8TopK(Tables(s, dir).embeddings, "vec_id", "embedding",
        queryId = 1L, k = 20)),

    // int8 candidate scan + exact-cosine rescore of the top 4k: recovers the
    // exact ranking (oracle: the same all-pairs cosine SQL as
    // ann_cosine_topk), while the wide read stays on the 1-byte codes
    "ann_int8_rescored" -> ((s, dir) =>
      Similarity.int8TopKRescored(Tables(s, dir).embeddings, "vec_id",
        "embedding", queryId = 1L, k = 20)),

    // batch int8 search from the PERSISTED code table: integer scores are
    // bit-exact across engines, so the whole batch ranking gets a full
    // hash oracle (the only batch-ANN tier where that is possible)
    "ann_int8_batch" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings
      val path = tmpDir(dir, "int8_codes")
      Similarity.writeCodes(e, "vec_id", "embedding", path)
      val codes = s.read.parquet(path)
      Similarity.int8TopKMany(codes, "vec_id",
        codes.filter(col("vec_id").between(1L, 5L)), "vec_id", k = 10)
    }),

    // 1-bit sign quantization: Hamming ranking over packed sign bits (64
    // dims = ONE 8-byte long/row — 32× less scan than float32). Integer
    // distances ⇒ full hash oracle (oracle re-derives the sign bits and
    // counts per-dim disagreements)
    "ann_hamming_topk" -> ((s, dir) =>
      Similarity.hammingTopK(Tables(s, dir).embeddings, "vec_id", "embedding",
        dim = 64, queryId = 1L, k = 20)),

    // Hamming candidate scan + exact-cosine rescore of the top 4k: BOTH
    // stages are deterministic, so the oracle replicates the candidate cut
    // too — a full-pipeline oracle, no recall assumption
    "ann_hamming_rescored" -> ((s, dir) =>
      Similarity.hammingRescoredTopK(Tables(s, dir).embeddings, "vec_id",
        "embedding", dim = 64, queryId = 1L, k = 10, rescoreFactor = 4)),

    // batch Hamming search from the PERSISTED signature table: xor+popcount
    // heap kernel, one pass over 8-byte signatures; integer distances ⇒ the
    // whole batch ranking is hash-oracled like ann_int8_batch
    "ann_hamming_batch" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings
      val path = tmpDir(dir, "sign_sigs")
      Similarity.writeSignBits(e, "vec_id", "embedding", dim = 64, path)
      val sigs = s.read.parquet(path)
      Similarity.hammingTopKMany(sigs, "vec_id",
        sigs.filter(col("vec_id").between(1L, 5L)), "vec_id", k = 10)
    }),

    // lshBits sized to the test corpus (~500 vecs): 2^6 buckets keeps them
    // populated; the 16-bit default is the 100 TB setting (see Similarity).
    // FULL hash oracle since r10: the deterministic hyperplanes are inlined
    // into the DuckDB SQL, which replicates bucketing + multi-probe +
    // rescore (lshTopkOracleSql) — the parameters here must stay in sync
    // with that oracle entry.
    "ann_lsh_topk" -> ((s, dir) =>
      Similarity.lshTopK(Tables(s, dir).embeddings, "vec_id", "embedding", dim = 64,
        queryId = 1L, k = 10, lshBits = 6, probes = 4)),

    // IVF coarse-quantizer ANN (k-means cells + probe-pruned search).
    // FULL oracle since r13: the k-means FIT isn't SQL-expressible, but
    // the fitted centroids are a persisted 8-row table — the query
    // writeIndexes them to a fixed artifact path and the DuckDB oracle
    // read_parquet()s them back, re-deriving cell assignment (argmin
    // squared-L2, ties to lowest cell — the assignCells contract), probe
    // selection, and the cosine top-k entirely in SQL. Assignment goes
    // through assignCells (not model.transform) precisely so that
    // tie-breaks are a stated cross-engine contract.
    "ann_ivf" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings
      val path = oracleArtifactDir("ann_ivf")
      // maxIter=3: a coarse quantizer needs placement, not convergence —
      // recall comes from nProbe (see Ivf scaladoc); 5 iterations measured
      // ~1.5 s slower for identical search results on this corpus
      val fit = graft.ext.Ivf.build(e, "vec_id", "embedding", nLists = 8,
        maxIter = 3)
      val assigned = graft.ext.Ivf.assignCells(e, "vec_id", "embedding",
        fit.centroids)
      graft.ext.Ivf.writeIndex(graft.ext.Ivf.Index(assigned, fit.centroids), path)
      val idx = graft.ext.Ivf.readIndex(s, path)
      graft.ext.Ivf.search(idx.assigned, idx, "vec_id", "embedding",
        queryVec = Seq.fill(64)(0.1), k = 10, nProbe = 2)
    }),

    // batch k-NN via bucket join + per-query window rank. FULL hash oracle
    // since r12: knnBucketOracleSql replicates bucketing + join + windowed
    // rescore with the planes inlined — parameters here must stay in sync
    // with that oracle entry.
    "ann_knn_bucket" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.bucketJoinKnn(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        dim = 64, k = 5, lshBits = 6)
    }),

    // product-quantized ADC scan (FAISS-style m-byte codes, 32× the scan-
    // byte cut of float32). FULL oracle since r13, same technique as
    // ann_ivf: the trained codebooks persist to a fixed artifact path via
    // writeIndex and the DuckDB oracle read_parquet()s them, re-deriving
    // per-subspace encoding (argmin, ties to lowest code), the query's
    // distance table, and the ADC ranking in SQL. adist is rounded to 4
    // decimals on BOTH sides after ranking (the ranking itself compares
    // raw doubles produced by identical sequential-sum order).
    "ann_pq" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings
      val path = oracleArtifactDir("ann_pq")
      val cb = graft.ext.Pq.train(e, "embedding", dim = 64, m = 8)
      val codes = graft.ext.Pq.encode(e, "vec_id", "embedding", cb)
      graft.ext.Pq.writeIndex(codes, cb, path)
      val (codes2, cb2) = graft.ext.Pq.readIndex(s, path)
      val qv = e.filter(col("vec_id") === 1L).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      graft.ext.Pq.adcTopK(codes2.filter(col("vec_id") =!= 1L), cb2, "vec_id",
        qv, k = 10)
        .withColumn("adist", round(col("adist"), 4))
    }),

    // the SQL registration surface driven end-to-end: GraftFunctions
    // registers the native expressions in the session's FunctionRegistry and
    // the query runs as pure SQL through graft_cosine — same math as
    // ann_cosine_topk, same oracle
    "sql_cosine_topk" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Tables(s, dir).embeddings.createOrReplaceTempView("sql_emb")
      s.sql("""SELECT e.vec_id, round(graft_cosine(e.embedding, q.qv), 4) AS score
              |FROM sql_emb e, (SELECT embedding AS qv FROM sql_emb WHERE vec_id = 1) q
              |WHERE e.vec_id <> 1
              |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)
    }),

    // the text tier through pure SQL: registered graft_* functions in a
    // quality-gated projection, verified against the same DuckDB formulas
    "sql_text_pipeline" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Tables(s, dir).documents.createOrReplaceTempView("sql_docs")
      s.sql("""SELECT doc_id, graft_token_count(text) AS n_tok,
              |  graft_quality_pm(text) AS q
              |FROM sql_docs WHERE graft_quality_pm(text) >= 300""".stripMargin)
    }),

    // ---- ANN oracle companions: planted-duplicate retrieval. Each
    // approximate index must retrieve the exact copy of every query vector
    // (cosine 1.0 — identical vectors share buckets/cells deterministically),
    // giving the approximate paths a hash-checkable correctness gate the
    // driver can verify from the parquet alone.
    "ann_lsh_recall" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      (1L to 5L).map { qid =>
        Similarity.lshTopK(withCopies, "vec_id", "embedding", dim = 64,
          queryId = qid, k = 10, lshBits = 6, probes = 4)
          .filter(col("vec_id") === qid + 1000000L)
          .select(lit(qid).as("query_id"), col("vec_id").as("hit_id"), col("score"))
      }.reduce(_ unionByName _)
    }),

    "ann_knn_recall" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      Similarity.bucketJoinKnn(withCopies, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", dim = 64, k = 5, lshBits = 6)
        .filter(col("corpus_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("corpus_id").as("hit_id"), col("score"))
    }),

    "ann_ivf_recall" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      // the query IS corpus vector 1, so its nearest centroid is its own
      // cell and nProbe=1 must surface both copies at cosine 1.0
      val qv = e.filter(col("vec_id") === 1L).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      val idx = graft.ext.Ivf.build(withCopies, "vec_id", "embedding",
        nLists = 8, maxIter = 2)
      graft.ext.Ivf.search(idx.assigned, idx, "vec_id", "embedding",
        queryVec = qv, k = 2, nProbe = 1)
    }),

    // batch (many-query) IVF, planted-duplicate gate: every query vector is
    // its own nearest centroid's cell-mate with its copy, so nProbe=1 must
    // surface the copy at cosine 1.0 for ALL 20 queries in one distributed
    // search — no driver round-trip per query (k=3 absorbs incidental
    // rounded-1.0 ties ahead of the planted hit)
    "ann_ivf_batch_recall" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      val idx = graft.ext.Ivf.build(withCopies, "vec_id", "embedding",
        nLists = 8, maxIter = 2)
      graft.ext.Ivf.searchMany(idx.assigned, idx, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 3, nProbe = 1)
        .filter(col("corpus_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("corpus_id").as("hit_id"), col("score"))
    }),

    // IVF daily-append gate: the corpus is indexed+persisted ONCE, then a
    // batch of planted copies is appended by nearest-EXISTING-centroid
    // assignment (Ivf.appendIndex — no k-means refit), and the batch search
    // runs from the RE-READ index. Every appended copy shares its
    // original's cell, so nProbe=1 must surface it at cosine 1.0 — the gate
    // that certifies append-then-search, the daily ANN-ingest shape
    "ann_ivf_append_recall" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val idx = graft.ext.Ivf.build(e, "vec_id", "embedding",
        nLists = 8, maxIter = 2)
      val path = tmpDir(dir, "ivf_append_index")
      graft.ext.Ivf.writeIndex(idx, path)
      graft.ext.Ivf.appendIndex(s, path,
        e.filter(col("vec_id") < 20)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
        "vec_id", "embedding")
      val loaded = graft.ext.Ivf.readIndex(s, path)
      graft.ext.Ivf.searchMany(loaded.assigned, loaded,
        e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 3, nProbe = 1)
        .filter(col("corpus_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("corpus_id").as("hit_id"), col("score"))
    }),

    // PQ planted-duplicate gate: a copy encodes to the query's own code, so
    // its ADC distance is the sum of per-subspace minima — the global
    // minimum — and MUST appear in the top-k (k=4 absorbs the query's own
    // corpus row and incidental code collisions). One adcTopKMany plan for
    // all 5 queries — the same batch shape as every other ANN gate (the
    // old form built 5 per-query plans in a driver loop and unioned them).
    "ann_pq_recall" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      val cb = graft.ext.Pq.train(withCopies, "embedding", dim = 64, m = 8)
      val codes = graft.ext.Pq.encode(withCopies, "vec_id", "embedding", cb)
      graft.ext.Pq.adcTopKMany(codes, cb, "vec_id",
        e.filter(col("vec_id").between(1L, 5L)), "vec_id", "embedding", k = 4)
        .filter(col("corpus_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("corpus_id").as("hit_id"))
    }),

    // persisted-index PQ, batch form: the corpus is encoded ONCE, the full
    // index (codes + codebooks) round-trips through parquet, and the
    // planted-duplicate batch search runs from the REREAD index — the
    // encode-once/search-many shape a 100 TB deployment actually uses
    // (per-query adcTopK from fresh codes is ann_pq)
    "ann_pq_persisted_recall" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      val cb = graft.ext.Pq.train(withCopies, "embedding", dim = 64, m = 8)
      val codes = graft.ext.Pq.encode(withCopies, "vec_id", "embedding", cb)
      val path = tmpDir(dir, "pq_index")
      graft.ext.Pq.writeIndex(codes, cb, path)
      val (codes2, cb2) = graft.ext.Pq.readIndex(s, path)
      graft.ext.Pq.adcTopKMany(codes2, cb2, "vec_id",
        e.filter(col("vec_id").between(1L, 5L)), "vec_id", "embedding", k = 4)
        .filter(col("corpus_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("corpus_id").as("hit_id"))
    }),

    // composed IVF-PQ (the FAISS IVFADC architecture) from a PERSISTED
    // index: the coarse quantizer prunes which cells are scanned (parquet
    // partition pruning), PQ makes each scanned code m bytes + m lookups.
    // Planted-duplicate gate: a copy shares its original's cell and code →
    // globally minimal ADC distance at nProbe=1 (k=3 absorbs the query's
    // own corpus row + incidental code collisions)
    // IVF-PQ daily-append gate: the index is built WITHOUT the copies,
    // which then arrive as a daily batch through IvfPq.appendIndex —
    // nearest-existing-centroid assignment + residual encode with the
    // EXISTING codebooks, no refit. A verbatim copy gets its original's
    // cell and identical code, so the batch search from the re-read index
    // must surface it (k=3 absorbs the tied original row + collisions)
    "ann_ivfpq_append_recall" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val idx = graft.ext.IvfPq.build(e, "vec_id", "embedding",
        dim = 64, m = 8, nLists = 8, maxIter = 2)
      val path = tmpDir(dir, "ivfpq_append_index")
      graft.ext.IvfPq.writeIndex(idx, path)
      graft.ext.IvfPq.appendIndex(s, path,
        e.filter(col("vec_id") < 20)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
        "vec_id", "embedding")
      val idx2 = graft.ext.IvfPq.readIndex(s, path)
      graft.ext.IvfPq.searchMany(idx2, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 3, nProbe = 1)
        .filter(col("corpus_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("corpus_id").as("hit_id"))
    }),

    "ann_ivfpq_recall" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      val idx = graft.ext.IvfPq.build(withCopies, "vec_id", "embedding",
        dim = 64, m = 8, nLists = 8, maxIter = 2)
      val path = tmpDir(dir, "ivfpq_index")
      graft.ext.IvfPq.writeIndex(idx, path)
      val idx2 = graft.ext.IvfPq.readIndex(s, path)
      graft.ext.IvfPq.searchMany(idx2, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 3, nProbe = 1)
        .filter(col("corpus_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("corpus_id").as("hit_id"))
    }),

    // ---- ext: text analysis ----
    "text_stats" -> ((s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        T.tokenCount(col("text")).as("n_tokens"),
        T.approxBpeTokenCount(col("text")).as("n_bpe"),
        T.punctPerMille(col("text")).as("punct_pm"),
        T.avgWordLenMilli(col("text")).as("awl_milli"))),

    "text_langid" -> ((s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        T.langId(col("text")).as("lang_pred"))),

    "text_quality" -> ((s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        T.qualityPerMille(col("text")).as("quality_pm"))),

    "text_fingerprint" -> ((s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        T.fingerprint(col("text")).as("fp"))),

    // two-phase salted aggregation — result must equal the plain group-by
    // (the salt only changes task placement, never the answer)
    "skew_salted_agg" -> ((s, dir) =>
      graft.operators.Skew.saltedSumCount(
        Tables(s, dir).lineitem
          .withColumn("qty", col("l_quantity").cast("decimal(18,2)")),
        Seq("l_returnflag"), "qty", factor = 8,
        sumName = "sum_qty", countName = "n")
        .withColumn("sum_qty", col("sum_qty").cast("double"))),

    // salted JOIN end-to-end: the hot-key spreading must be semantically
    // invisible — the oracle is the plain unsalted join + aggregate
    "skew_salted_join" -> ((s, dir) => {
      val small = Tables(s, dir).supplier
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.operators.Skew.saltedJoin(
          Tables(s, dir).lineitem.select(
            col("l_suppkey"), col("l_extendedprice").cast("decimal(18,2)").as("price")),
          small, Seq("l_suppkey"), factor = 8)
        .groupBy("s_nationkey")
        .agg(sum(col("price")).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    }),

    // deterministic training-order shuffle: the permutation key is the
    // oracle (order-insensitive hash compare); the range-sort execution
    // contract is unit-tested in CurationSpec
    "curate_shuffle" -> ((s, dir) =>
      Curation.shuffleByHash(Tables(s, dir).documents, "doc_id", numPartitions = 8)
        .select("doc_id", "shuffle_key")),

    // size-governed parquet write → read-back (content equality is the
    // oracle; SinksSpec asserts the file-count contract)
    "sink_file_sized" -> ((s, dir) => {
      val out = tmpDir(dir, "sized_orders")
      FileSink.parquetSized(Tables(s, dir).orders, out, maxRecordsPerFile = 2000)
      s.read.parquet(out)
    }),

    // ORC round-trip (Spark-native second columnar format): every orders
    // column — int64/string/double/TIMESTAMP_NTZ — must survive the
    // write→read cycle bit-exactly vs the parquet-sourced oracle
    "sink_file_orc" -> ((s, dir) => {
      val out = tmpDir(dir, "orc_orders")
      FileSink.orc(Tables(s, dir).orders, out)
      s.read.orc(out)
    }),

    // partition-pruned keyed MERGE into partitioned parquet: seed the
    // table, upsert price bumps for key%7=0 plus brand-new keys, read the
    // WHOLE table back — the oracle is the same merge as one SELECT
    "sink_upsert_partitioned" -> ((s, dir) => {
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
    }),

    // JSONL training export → read-back: the written lines are parsed with
    // the JSON-path extractor, so the oracle (a plain projection) verifies
    // the whole render→shard→stream round trip
    "sink_file_jsonl" -> ((s, dir) => {
      val out = tmpDir(dir, "jsonl_docs")
      FileSink.jsonlSized(
        Tables(s, dir).documents.select("doc_id", "lang", "source"),
        out, maxRecordsPerFile = 100)
      s.read.text(out).select(
        get_json_object(col("value"), "$.doc_id").cast("bigint").as("doc_id"),
        get_json_object(col("value"), "$.lang").as("lang"),
        get_json_object(col("value"), "$.source").as("source"))
    }),

    // per-source quality-percentile filter: keep each source's best half
    "curate_quality_topk" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"), col("source"),
        T.qualityPerMille(col("text")).as("quality_pm"))
      Curation.topQuantileByGroup(d, "source", "quality_pm", "doc_id", 0.5)
    }),

    // same scoring against the STORED model (the deployment shape: train
    // daily, score every batch): stamped-artifact read → broadcast join.
    // Oracle identical to text_lm_score — the model round-trips losslessly
    "text_lm_persisted" -> ((s, dir) =>
      graft.ext.Lm.scoreUnigram(Tables(s, dir).documents, "doc_id", "text",
        graft.ext.Lm.readModel(s, cachedLmModelDir(s, dir)))),

    // CCNet perplexity buckets: head/middle/tail within each language by
    // the per-language quartiles of the LM score — exact `percentile`
    // AGGREGATE (map-side combinable), never an ntile window; the
    // |languages|-row threshold table broadcast-joins back
    "curate_ppl_buckets" -> ((s, dir) => {
      val d = Tables(s, dir).documents
      graft.ext.Lm.pplBuckets(d, "doc_id", "text", "lang",
        graft.ext.Lm.unigramModel(d.filter(col("lang") === "en"), "text",
          maxVocab = 4096))
    }),

    // DSIR data selection: importance-weight every document toward the
    // src0 slice over 256 hashed unigram buckets (both count tables are
    // ≤256 rows → broadcast regardless of corpus size), keep the top 100
    // by integer milli-nat weight
    "curate_dsir" -> ((s, dir) =>
      graft.ext.Lm.dsirTopK(Tables(s, dir).documents, "doc_id", "text",
        col("source") === "src0", k = 100, buckets = 256)),

    // DSIR's actual sampler: Gumbel-top-k resampling ∝ importance weight,
    // noise derived from md5 of the id (never rand()) — deterministic,
    // cross-engine reproducible selection
    "curate_dsir_sample" -> ((s, dir) =>
      graft.ext.Lm.dsirSampleK(Tables(s, dir).documents, "doc_id", "text",
        col("source") === "src0", k = 100, buckets = 256)),

    // Naive-Bayes quality classifier (fastText-shaped): train on a 60%
    // hash split with "from a curated source" labels, score the held-out
    // docs with broadcast per-token log-odds + smoothed prior
    "curate_nb_quality" -> ((s, dir) =>
      graft.ext.Lm.nbTrainScore(Tables(s, dir).documents, "doc_id", "text",
        col("source").isin("src0", "src1", "src2", "src3", "src4"),
        trainPerMille = 600, maxVocab = 4096)),

    // per-source hard cap: each source contributes at most its 50 best docs
    // by quality score — the per-domain cap of a pretraining mix
    "curate_source_caps" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"), col("source"),
        T.qualityPerMille(col("text")).as("quality_pm"))
      Curation.capPerStratum(d, "source", "quality_pm", "doc_id", cap = 50)
    }),

    // quality-weighted Bernoulli sample: keep probability = quality/1000
    // per row (continuous per-row weights, vs mixture's per-stratum rates)
    "curate_weighted_sample" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"),
        T.qualityPerMille(col("text")).as("quality_pm"))
      Curation.sampleByWeight(d, "doc_id", col("quality_pm"), salt = "wsamp")
    }),

    // context-window chunking: 64-token chunks, 16-token overlap
    "curate_chunk" -> ((s, dir) =>
      Curation.chunkByTokens(Tables(s, dir).documents, "doc_id", "text",
        chunkTokens = 64, overlapTokens = 16)),

    // BM25 relevance search (Lucene-style +1 idf), fixed-order score
    // assembly → bit-deterministic, full DuckDB oracle
    "search_bm25" -> ((s, dir) =>
      graft.ext.Search.bm25TopK(Tables(s, dir).documents, "doc_id", "text",
        Seq("hash", "join", "vector"), k = 20)),

    // same query answered from the PERSISTED inverted index (tokenize once
    // at build, per-query work ∝ hit set: bkt-pruned postings scan, pushed
    // term filter, stats from O(segments) rows). Primed: the bench clock
    // times the indexed query, not the pay-once build. Same oracle as
    // search_bm25 — index and scan must agree score for score.
    "search_bm25_indexed" -> ((s, dir) =>
      graft.ext.SearchIndex.bm25TopKIndexed(s, cachedSearchIndexDir(s, dir),
        Seq("hash", "join", "vector"), k = 20, idColName = "doc_id")),

    // daily-append ingest equivalence, full-oracled: build the index on
    // half the corpus, append the other half, query — the oracle scores
    // the WHOLE corpus, so any append-path drift (stats segmenting,
    // postings bucketing, dl denormalization) breaks the hash
    "search_bm25_index_append" -> ((s, dir) => {
      val out = tmpDir(dir, "search_index_append")
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val d = Tables(s, dir).documents.select("doc_id", "text")
      graft.ext.SearchIndex.build(d.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", out, nBuckets = 64)
      graft.ext.SearchIndex.append(d.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", out)
      graft.ext.SearchIndex.bm25TopKIndexed(s, out,
        Seq("hash", "join", "vector"), k = 20, idColName = "doc_id")
    }),

    // batch BM25 from the persisted index: one bkt-pruned postings scan
    // serves a frame of queries with per-query term sets; contributions
    // sum as micro-unit BIGINTs, so the per-(query, doc) aggregate is
    // integer math and the DuckDB oracle replicates it exactly
    "search_bm25_batch" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (1L, Seq("hash", "join")),
        (2L, Seq("vector", "scan")),
        (3L, Seq("stream", "window", "dup"))).toDF("query_id", "terms")
      graft.ext.SearchIndex.bm25TopKIndexedMany(s, cachedSearchIndexDir(s, dir),
        queries, "query_id", "terms", k = 10, idColName = "doc_id")
    }),

    // hybrid retrieval: RRF-fuse the lexical (batch BM25 from the index)
    // and semantic (int8 batch cosine) rankings per query — rank-only
    // fusion, fixed-order float assembly, full DuckDB oracle replicating
    // quantization, both rankings, and the fusion arithmetic
    "search_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).embeddings
      val path = tmpDir(dir, "int8_codes_hybrid")
      Similarity.writeCodes(e, "vec_id", "embedding", path)
      val codes = s.read.parquet(path)
      val semW = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("iscore"), col("corpus_id"))
      val sem = Similarity.int8TopKMany(codes, "vec_id",
          codes.filter(col("vec_id").between(1L, 3L)), "vec_id", k = 20)
        .withColumn("rank", row_number().over(semW).cast("bigint"))
        .select(col("query_id"), col("corpus_id").as("doc_id"), col("rank"))
      val queries = Seq(
        (1L, Seq("hash", "join")),
        (2L, Seq("vector", "scan")),
        (3L, Seq("stream", "window", "dup"))).toDF("query_id", "terms")
      val lex = graft.ext.SearchIndex.bm25TopKIndexedMany(s,
        cachedSearchIndexDir(s, dir), queries, "query_id", "terms",
        k = 20, idColName = "doc_id")
      graft.ext.Search.rrfFuse(Seq(lex, sem), "query_id", "doc_id",
        kRrf = 60, topK = 10)
    }),

    // z-order clustered write → read-back: content equality is the oracle
    // (ZOrderSpec asserts the per-file min/max narrowing that makes the
    // layout skip files on multi-dimension filters)
    "layout_zorder" -> ((s, dir) => {
      val out = tmpDir(dir, "zorder_orders")
      graft.sources.ZOrder.writeClustered(Tables(s, dir).orders, out,
        Seq("o_custkey", "o_totalprice"), numPartitions = 8)
      s.read.parquet(out)
    }),

    // ingest-time layout: events land hive-partitioned by day, so the
    // day-range scan below reads ONLY the matching directories
    // (PartitionFilters — PlanShapeSpec pins it). At 100 TB this is the
    // difference between scanning three days and scanning the history.
    "layout_partition_prune" -> ((s, dir) => {
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
    }),

    // co-located join: both sides written bucketed on their join key with
    // the same bucket count, so the recurring join runs with zero Exchange
    // below it (PlanShapeSpec pins the shuffle-free SortMergeJoin). The
    // ingest pays the shuffle once; every nightly join after that is free.
    "layout_bucketed_join" -> ((s, dir) => {
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
    }),

    // single-pass numeric column profiling (one scan for all stats; exact
    // decimal means so the doubles are engine-stable)
    "dq_profile" -> ((s, dir) =>
      graft.operators.Profile.numeric(Tables(s, dir).lineitem,
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // corpus vocabulary head: top-30 tokens by frequency with doc frequency
    "text_top_tokens" -> ((s, dir) =>
      graft.ext.Search.topTokens(Tables(s, dir).documents,
        "doc_id", "text", k = 30)),

    // corpus-relative rare-token ratio (integer-only "poor man's
    // perplexity"): per-mille of a doc's token occurrences that appear ≤ 2
    // times in the whole corpus
    "text_rare_tokens" -> ((s, dir) =>
      graft.ext.Search.rareTokenStats(Tables(s, dir).documents,
        "doc_id", "text", maxCount = 2L)),

    // TF-IDF keyword extraction: top-3 terms per document
    "text_tfidf_topk" -> ((s, dir) =>
      graft.ext.Search.tfidfTopTerms(Tables(s, dir).documents,
        "doc_id", "text", k = 3)),

    // real-subword token counts: BPE merges trained ON this corpus
    // (200 merges, stamped artifact), applied per DISTINCT word. Counts
    // are exact under the trained tokenizer — not DuckDB-expressible
    // (the merge loop), so rows-only with the value-tying gate below
    "text_bpe_counts" -> ((s, dir) =>
      graft.ext.Bpe.tokenCounts(Tables(s, dir).documents, "doc_id", "text",
        graft.ext.Bpe.readMerges(s, cachedBpeMergesDir(s, dir)))),

    // the gate ties text_bpe_counts to DuckDB-computable ground truth:
    // row count and TOTAL WORD COUNT must match the documents table
    // exactly, and the two tokenizer invariants (≥1 token per word,
    // ≤ non-space characters per doc) must have zero violations
    "text_bpe_counts_gate" -> ((s, dir) => {
      val d = Tables(s, dir).documents
      val counts = graft.ext.Bpe.tokenCounts(d, "doc_id", "text",
        graft.ext.Bpe.readMerges(s, cachedBpeMergesDir(s, dir)))
      counts.join(d.select(col("doc_id"),
          length(regexp_replace(col("text"), "\\s", "")).cast("bigint")
            .as("__nsc")), "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("total_words"),
          sum(when(col("n_bpe_tokens") < col("n_words"), 1L).otherwise(0L))
            .as("viol_low"),
          sum(when(col("n_bpe_tokens") > col("__nsc"), 1L).otherwise(0L))
            .as("viol_high"))
    }),

    // external-tokenizer interop: a hand-built 20-merge fixture vocab in
    // the public merges.txt format (ranked pairs, #version header) loaded
    // through the REAL file parser, persisted+restamped, then applied by
    // the same tokenCounts path — gate shape identical to
    // text_bpe_counts_gate (row/word totals vs DuckDB, zero invariant
    // violations), proving rank order survives the text round trip
    "text_bpe_external" -> ((s, dir) => {
      val d = Tables(s, dir).documents
      val file = java.nio.file.Paths.get(tmpDir(dir, "bpe_external"), "merges.txt")
      java.nio.file.Files.createDirectories(file.getParent)
      // 20 ranked merges over common English letter pairs; 'in g' fuses a
      // PRODUCT of merge 5, so multi-level application is exercised
      java.nio.file.Files.write(file, ("#version: 0.2\n" +
        Seq("t h", "th e", "a n", "an d", "i n", "e r", "o n", "r e",
          "h e", "a t", "e s", "o u", "i s", "i t", "a l", "a r",
          "s t", "t o", "o f", "in g").mkString("\n") + "\n").getBytes("UTF-8"))
      val loaded = graft.ext.Bpe.loadMergesText(s, file.toString)
      val mdir = tmpDir(dir, "bpe_external_idx")
      graft.ext.Bpe.writeMerges(s, loaded, mdir)
      val counts = graft.ext.Bpe.tokenCounts(d, "doc_id", "text",
        graft.ext.Bpe.readMerges(s, mdir))
      counts.join(d.select(col("doc_id"),
          length(regexp_replace(col("text"), "\\s", "")).cast("bigint")
            .as("__nsc")), "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("total_words"),
          sum(when(col("n_bpe_tokens") < col("n_words"), 1L).otherwise(0L))
            .as("viol_low"),
          sum(when(col("n_bpe_tokens") > col("__nsc"), 1L).otherwise(0L))
            .as("viol_high"))
    }),

    // CCNet-style unigram LM scoring: train an add-one-smoothed LM on the
    // English slice, score EVERY document by mean milli-nat token
    // log-probability. The model is bounded (≤ maxVocab+1 rows) and
    // broadcast; scoring is one corpus scan with integer sums, so the
    // result is partitioning-independent and hash-exact vs DuckDB
    "text_lm_score" -> ((s, dir) => {
      val d = Tables(s, dir).documents
      graft.ext.Lm.scoreUnigram(d, "doc_id", "text",
        graft.ext.Lm.unigramModel(d.filter(col("lang") === "en"), "text",
          maxVocab = 4096))
    }),

    // bigram LM with stupid backoff (Brants et al. EMNLP'07): one step
    // closer to CCNet's KenLM than the unigram proxy. maxBigrams = 512
    // BINDS on this fixture (907 distinct vocab-vocab bigrams), so the
    // deterministic (count desc, pair) cut is exercised, not just declared
    "text_lm_bigram" -> ((s, dir) => {
      val d = Tables(s, dir).documents
      graft.ext.Lm.scoreBigram(d, "doc_id", "text",
        graft.ext.Lm.bigramModel(d.filter(col("lang") === "en"), "text",
          maxVocab = 4096, maxBigrams = 512))
    }),

    // the deployment shape for the bigram tier: score against the STORED
    // two-table model — oracle identical to text_lm_bigram (the round trip
    // is lossless by construction)
    "text_lm_bigram_persisted" -> ((s, dir) =>
      graft.ext.Lm.scoreBigram(Tables(s, dir).documents, "doc_id", "text",
        graft.ext.Lm.readBigramModel(s, cachedBigramModelDir(s, dir)))),

    // per-source corpus dashboard: counts/tokens/languages exactly, plus an
    // HLL sketch (approx_count_distinct — mergeable, constant memory, the
    // 100 TB path for distinct counts) tolerance-gated at ±5% vs the exact
    // distinct, same oracle pattern as q5_approx_percentile
    "corpus_stats" -> ((s, dir) => {
      // fingerprint (minhash-over-shingles) is the expensive scalar here —
      // project it ONCE per row; the three distinct-aggregates then read a
      // 32-char column instead of re-deriving the shingle pipeline each
      val d = Tables(s, dir).documents.select(col("source"), col("lang"),
        T.tokenCount(col("text")).as("__ntok"), T.fingerprint(col("text")).as("__fp"))
      d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        (abs(approx_count_distinct(col("__fp"), 0.02) - countDistinct(col("__fp")))
          .cast("double") / countDistinct(col("__fp")) <= 0.05).as("hll_ok"))
    }),

    // dirt (markup, control chars, ragged whitespace) is injected on both
    // engines identically — the synthetic docs are already clean, so the
    // query would otherwise verify an identity map
    "text_clean" -> ((s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        T.cleanText(concat(lit("<b>Hi</b>\t "), col("text"),
          lit("  <br/> end\u0001"))).as("clean"))),

    // PII (an email, an IP, a phone number keyed by doc_id) appended on both
    // engines, then masked; the raw text also passes through the same
    // regexes, so accidental in-corpus matches are mirrored too
    "text_redact" -> ((s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        T.redactPii(concat(col("text"), lit(" contact: user"), col("doc_id"),
          lit("@example.com or 10.0.0.1 or +1 (555) 010-"), col("doc_id")))
          .as("redacted"))),

    // heuristic quality signals: repetition (dup n-gram), caps, digits
    "text_signals" -> ((s, dir) =>
      Tables(s, dir).documents.select(col("doc_id"),
        T.dupNgramPerMille(col("text"), 2).as("dup2_pm"),
        T.dupNgramPerMille(col("text"), 3).as("dup3_pm"),
        T.capsPerMille(col("text")).as("caps_pm"),
        T.digitPerMille(col("text")).as("digit_pm"))),

    // Gopher repetition filters (Rae et al. arXiv:2112.11446 Table A1):
    // line-level duplicate fractions + the top-3-gram character fraction.
    // The fixture injects line structure (docs are single-line): even ids
    // carry their text twice as two lines plus a unique tail line, odd ids
    // once plus the tail — line signals fire on evens, stay 0 on odds.
    "text_repetition" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val mtext = when(col("doc_id") % 2 === 0,
        concat_ws("\n", col("text"), col("text"),
          concat(lit("END "), col("doc_id"))))
        .otherwise(concat_ws("\n", col("text"),
          concat(lit("END "), col("doc_id"))))
      d.select(col("doc_id"),
        T.dupLinePerMille(mtext).as("dup_line_pm"),
        T.dupLineCharPerMille(mtext).as("dup_line_char_pm"),
        T.topNgramCharPerMille(col("text"), 3).as("top3gram_pm"))
    }),

    // Unicode-script densities + dominant-script label: the fixture mixes
    // Cyrillic / CJK tails into the Latin corpus so every class fires
    "text_script" -> ((s, dir) => {
      val mtext = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" привет мир"))
          .when(col("doc_id") % 3 === 1, lit(" 你好 世界"))
          .otherwise(lit("")))
      Tables(s, dir).documents.select(col("doc_id"),
        T.latinPerMille(mtext).as("latin_pm"),
        T.cyrillicPerMille(mtext).as("cyrillic_pm"),
        T.cjkPerMille(mtext).as("cjk_pm"),
        T.dominantScript(mtext).as("script"))
    }),

    // Luhn-validated card masking: id%4=0 and %4=2 carry checksum-VALID
    // numbers (masked), %4=1 a checksum-broken lookalike (kept) — the
    // precision a pattern-only redactor cannot express
    "text_redact_cc" -> ((s, dir) => {
      val mtext = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" card 4111 1111 1111 1111 end"))
          .when(col("doc_id") % 4 === 1, lit(" ref 4111 1111 1111 1112 end"))
          .when(col("doc_id") % 4 === 2, lit(" acct 5500-0000-0000-0004 ok"))
          .otherwise(lit("")))
      Tables(s, dir).documents.select(col("doc_id"),
        T.redactCreditCards(mtext).as("redacted"))
    }),

    // the composite Gopher quality rule (Rae et al. Table A1): all seven
    // sub-signals as integer per-milles plus the keep bit. The fixture
    // injects rule-triggering structure (docs are single-line, no bullets/
    // ellipses/symbols): id%3=0 adds a bullet line, id%4=0 an
    // ellipsis-ended line, id%5=0 a symbol-run line — so every rule fires
    // on some docs and not others
    "text_gopher_quality" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val mtext = concat_ws("\n",
        when(col("doc_id") % 3 === 0, lit("- bullet item"))
          .otherwise(concat(lit("intro "), col("doc_id"))),
        col("text"),
        when(col("doc_id") % 4 === 0, lit("wait for it..."))
          .otherwise(concat(lit("END "), col("doc_id"))),
        when(col("doc_id") % 5 === 0, lit("### ## #")).otherwise(lit("tail")))
      d.select(col("doc_id"),
        T.tokenCount(mtext).as("n_words"),
        T.avgWordLenMilli(mtext).as("mean_wlen_milli"),
        T.symbolWordRatioPerMille(mtext).as("symbol_pm"),
        T.bulletLinePerMille(mtext).as("bullet_line_pm"),
        T.ellipsisLinePerMille(mtext).as("ellipsis_line_pm"),
        T.alphaWordPerMille(mtext).as("alpha_word_pm"),
        T.stopwordHits(regexp_replace(mtext, "\\s+", " "), T.GopherStopwords)
          .cast("bigint").as("stop_hits"))
        // keep derived from the PROJECTED signals (gopherKeep would
        // re-evaluate every regex — 2× the scan work for the same bit).
        // minStopHits relaxed to 1 on the fixture (its SQL-word vocabulary
        // carries only 'the' from the Gopher list; the production default
        // of 2 would make keep constant-0 and gate nothing)
        .withColumn("keep",
          (col("n_words").between(50L, 100000L) &&
            col("mean_wlen_milli").between(3000L, 10000L) &&
            col("symbol_pm") <= 100L && col("bullet_line_pm") < 900L &&
            col("ellipsis_line_pm") < 300L && col("alpha_word_pm") >= 800L &&
            col("stop_hits") >= 1L).cast("bigint"))
    }),

    // C4 line-level cleaning (Raffel et al. 2020 §2.2): the fixture mixes
    // keepable lines (≥5 words, terminal punct) with boilerplate the rule
    // must strip — no-punct body text, enable-JS banners, short lines —
    // and the oracle replays the keep rule token-for-token
    "text_c4_clean" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val mtext = concat_ws("\n",
        concat(lit("Intro words for doc "), col("doc_id"), lit(" ok.")),
        col("text"),
        lit("Please enable javascript to view this page."),
        when(col("doc_id") % 3 === 0, lit("Too short line."))
          .otherwise(lit("This line has six words total.")),
        concat(lit("Tail marker words for doc "), col("doc_id"), lit("?")))
      d.select(col("doc_id"),
        size(split(mtext, "\n")).cast("bigint").as("n_lines"),
        size(split(T.c4CleanLines(mtext), "\n")).cast("bigint").as("n_kept"),
        T.c4CleanLines(mtext).as("clean_text"))
    }),

    // the full C4 page gate over already-cleaned text: ≥3 sentences, no
    // lorem ipsum, no curly brace, no bad-word token — fixture plants
    // each violation on a residue class, survivors keep their clean text
    "curate_c4_filter" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val mtext = concat_ws("\n",
        concat(lit("Intro words for doc "), col("doc_id"), lit(" ok.")),
        when(col("doc_id") % 5 === 0,
          lit("Lorem ipsum dolor sit amet consectetur."))
          .otherwise(lit("This page has real content sentences.")),
        when(col("doc_id") % 7 === 0,
          lit("Config block { display none } here."))
          .otherwise(lit("Another safe line of plain words.")),
        when(col("doc_id") % 11 === 0,
          lit("Buy cheap viagra pills online now."))
          .otherwise(lit("Closing words for this page end.")),
        col("text"))
      val cleaned = T.c4CleanLines(mtext)
      d.select(col("doc_id"), cleaned.as("clean_text"),
          T.sentenceCount(cleaned).as("n_sentences"))
        .filter(T.c4Keep(col("clean_text")))
    }),

    // HTML → visible text: the fixture wraps each doc in a full page
    // (head/title/style/script/comment/entities) and the extractor must
    // recover exactly title + heading + body text + decoded tail — the
    // oracle replicates the same construction AND extraction in DuckDB
    "text_html_extract" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val html = concat(
        lit("<html><head><title>T"), col("doc_id"),
        lit("</title><style>p { color: red; }</style>"),
        lit("<script>var x = 1 && s[0];</script></head>"),
        lit("<body><h1>Doc "), col("doc_id"), lit("</h1><p>"), col("text"),
        lit("</p><!-- hidden\ncomment --><div>tail &amp; &lt;q&gt; &quot;z&quot; &#39;y&#39;&nbsp;end</div></body></html>"))
      d.select(col("doc_id"), T.htmlToText(html).as("extracted"))
    }),

    // sentence-aware chunking: the fixture injects a period after every
    // 8th word, so 20-token chunks pack two sentences and never split one;
    // the oracle re-derives the greedy fold with a recursive CTE
    "curate_chunk_sentences" -> ((s, dir) => {
      val mtext = regexp_replace(col("text"), "((\\S+ ){7}\\S+) ", "$1. ")
      Curation.chunkBySentences(
        Tables(s, dir).documents.select(col("doc_id"), mtext.as("text")),
        "doc_id", "text", maxTokens = 20)
    }),

    // URL canonicalization (the C4/RefinedWeb pre-content-dedup stage):
    // the fixture forks each page id k = doc_id/2 into two messy variants
    // (case-shuffled scheme/host, default port, trailing slash, tracking
    // params, fragment, param order) that must normalize identically
    "curate_url_normalize" -> ((s, dir) => {
      val k = floor(col("doc_id") / 2).cast("long")
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
        lit("://Site"), (k % 7).cast("string"),
        when(col("doc_id") % 2 === 0, lit(".Example.COM:443"))
          .otherwise(lit(".example.com")),
        lit("/docs/"), k.cast("string"),
        when(col("doc_id") % 2 === 0, lit("/?utm_source=feed&b=2&a=1#frag"))
          .otherwise(lit("?a=1&b=2")))
      Tables(s, dir).documents.select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          graft.ext.Urls.normalizeUrl(col("url")).as("url_norm"),
          graft.ext.Urls.urlHost(col("url")).as("host"),
          graft.ext.Urls.urlDomain(col("url")).as("domain"))
    }),

    // URL-level dedup: both variants of page k collapse to one canonical
    // URL; keep the smallest doc_id (the even variant)
    "curate_url_dedup" -> ((s, dir) => {
      val k = floor(col("doc_id") / 2).cast("long")
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
        lit("://Site"), (k % 7).cast("string"),
        when(col("doc_id") % 2 === 0, lit(".Example.COM:443"))
          .otherwise(lit(".example.com")),
        lit("/docs/"), k.cast("string"),
        when(col("doc_id") % 2 === 0, lit("/?utm_source=feed&b=2&a=1#frag"))
          .otherwise(lit("?a=1&b=2")))
      graft.ext.Urls.dedupByUrl(
        Tables(s, dir).documents.select(col("doc_id"), url.as("url")),
        "doc_id", "url")
        .select("doc_id", "url_norm")
    }),

    // ---- ext: corpus curation (deterministic md5-keyed sampling/splits —
    // pure scan-side predicates, reproducible across engines/partitionings;
    // see Curation) ----
    "curate_sample_hash" -> ((s, dir) =>
      Curation.sampleByHash(Tables(s, dir).documents, "doc_id",
        keepPerMille = 200, salt = "s1").select("doc_id", "lang")),

    "curate_split_hash" -> ((s, dir) =>
      Curation.splitByHash(Tables(s, dir).documents, "doc_id")
        .select("doc_id", "split")),

    // domain-mixture sampling: per-source keep rates (upsample src0,
    // drop src1, 30% everything else) as one scan-side predicate
    "curate_mixture" -> ((s, dir) =>
      Curation.mixtureByHash(Tables(s, dir).documents, "doc_id", "source",
        Map("src0" -> 1000, "src1" -> 0), defaultPerMille = 300)
        .select("doc_id", "source")),

    "curate_stratified_n" -> ((s, dir) =>
      Curation.stratifiedFixedN(Tables(s, dir).documents, "doc_id", "lang", n = 10)
        .select("doc_id", "lang")),

    // per-stratum TOKEN budgets (the unit real data mixes are specified
    // in): fill each language in deterministic hash order until its
    // character budget is exhausted
    "curate_token_budget" -> ((s, dir) =>
      Curation.sampleToTokenBudget(
        Tables(s, dir).documents.select("doc_id", "lang", "n_chars"),
        "doc_id", "lang", "n_chars",
        budgets = Map("en" -> 60000L), defaultBudget = 25000L, salt = "tb")),

    // same cut with the unique-key precondition ENFORCED — doc ids are
    // unique, so the result (and oracle) is identical; the key's purpose
    // is measuring what the extra fail-fast aggregate costs (the number
    // behind Curation's off-by-default rationale, tracked in SCALING.md)
    "curate_token_budget_checked" -> ((s, dir) =>
      Curation.sampleToTokenBudget(
        Tables(s, dir).documents.select("doc_id", "lang", "n_chars"),
        "doc_id", "lang", "n_chars",
        budgets = Map("en" -> 60000L), defaultBudget = 25000L, salt = "tb",
        checkUniqueKeys = true)),

    // the mixture-planning report: what each stratum holds, before setting
    // rates/budgets — one partial-agg'd groupBy, integer-exact
    "curate_token_stats" -> ((s, dir) =>
      Curation.tokenStats(
        Tables(s, dir).documents
          .select(col("lang"), T.tokenCount(col("text")).as("n_tok")),
        "lang", "n_tok")),

    // the materialized form of packing: one row per (shard, bin) with the
    // member texts concatenated in deterministic bin order
    "curate_pack_examples" -> ((s, dir) => {
      val d = Tables(s, dir).documents
        .select(col("doc_id"), col("text"), T.tokenCount(col("text")).as("n_tok"))
      Curation.packExamples(d, "doc_id", "text", "n_tok",
        maxTokensPerBin = 512, shards = 8)
        .select(col("shard").cast("bigint").as("shard"), col("bin"),
          col("n_docs"), col("n_tokens"), col("text"))
    }),

    // greedy sequence packing into 512-token bins across 8 hash shards
    "curate_pack_greedy" -> ((s, dir) => {
      val d = Tables(s, dir).documents
        .select(col("doc_id"), T.tokenCount(col("text")).as("n_tok"))
      Curation.packSequences(d, "doc_id", "n_tok", maxTokensPerBin = 512, shards = 8)
        .select(col("doc_id"), col("n_tok"), col("shard").cast("bigint").as("shard"),
          col("bin"), col("bin_offset"))
    }),

    // eval-set decontamination: docs with doc_id % 10 == 0 play the eval
    // set; surviving train doc_ids must match DuckDB's shingle-overlap join
    "curate_decontaminate" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val train = d.filter(col("doc_id") % 10 =!= 0)
      val heldOut = d.filter(col("doc_id") % 10 === 0)
      Curation.decontaminate(train, heldOut, "doc_id", "text", shingleN = 3)
        .select("doc_id")
    }),

    // the decon AUDIT: which eval doc leaked into which train doc and how
    // strongly — same fixture as curate_decontaminate, pair-level output
    "curate_contamination" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val train = d.filter(col("doc_id") % 10 =!= 0)
      val heldOut = d.filter(col("doc_id") % 10 === 0)
      Curation.contaminationReport(train, heldOut, "doc_id", "text", shingleN = 3)
    }),

    // persisted decontamination index (daily-ingest shape): benchmarks are
    // shingled ONCE into a stamped hash index — half at build, half via a
    // later append — then a training batch (non-eval docs + planted copies
    // of eval content under shifted ids) classifies against the stored
    // hashes alone, broadcast over the batch postings. Planted leaks must
    // drop; everything else survives. Oracle re-derives both sides.
    "curate_decontam_indexed" -> ((s, dir) => {
      val idx = tmpDir(dir, "decontam_index")
      val d = Tables(s, dir).documents.select("doc_id", "text")
      val ev = d.filter(col("doc_id") % 10 === 0)
      Curation.buildDecontamIndex(ev.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", idx, shingleN = 3)
      Curation.appendDecontamIndex(ev.filter(col("doc_id") % 20 =!= 0),
        "doc_id", "text", idx, shingleN = 3)
      val batch = d.filter(col("doc_id") % 10 =!= 0)
        .unionByName(ev.select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      Curation.decontaminateIncremental(batch, "doc_id", "text", idx, shingleN = 3)
        .select("doc_id")
    }),

    // deterministic 2.5× upsampling: every doc twice + half the keys a
    // third time (the >1× side of mixture weighting)
    "curate_upsample" -> ((s, dir) =>
      Curation.upsampleByHash(Tables(s, dir).documents, "doc_id",
        ratePerMille = 2500).select("doc_id", "copy_idx")),

    // deterministic negative sampling for contrastive pairs: 8 negatives
    // per query over the dense vec_id space
    "curate_negatives" -> ((s, dir) =>
      Curation.negativeSampleDense(
        Tables(s, dir).embeddings.filter(col("vec_id") <= 5).select("vec_id"),
        "vec_id", maxId = 500, n = 8)),

    // the composite pretrain-cleaning pipeline: language filter → quality
    // gate → exact dedup → deterministic split (each stage is individually
    // oracle-verified above; this checks their composition end-to-end)
    "curate_pretrain_pipeline" -> ((s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"),
        T.langId(col("text")).as("lang_pred"),
        T.qualityPerMille(col("text")).as("quality_pm"),
        T.tokenCount(col("text")).as("n_tokens"))
        .filter(col("lang_pred") === "en" && col("quality_pm") >= 200 &&
          col("n_tokens") >= 5)
      val dd = Dedup.exact(d, Seq("text"), "doc_id")
      Curation.splitByHash(dd, "doc_id").select("doc_id", "n_tokens", "split")
    }),

    // L2 normalization: values scaled ×10⁴ and floored half-up so the
    // DuckDB-side division hash-matches (same guard for zero vectors)
    "vec_l2_normalize" -> ((s, dir) =>
      Tables(s, dir).embeddings.select(col("vec_id"),
        array_join(transform(V.l2Normalize(col("embedding")),
          x => floor(x * 10000 + lit(0.5)).cast("bigint")), ",").as("v_tenk"))),

    // int8 scalar quantization (4× memory cut for ANN scans): verified via
    // integer aggregates of the quantized codes — bit-exact across engines,
    // unlike a float reconstruction-error metric
    "vec_quantize_int8" -> ((s, dir) =>
      Tables(s, dir).embeddings
        .select(col("vec_id"), V.quantizeInt8(col("embedding")).as("qs"))
        .select(col("vec_id"), round(col("qs.scale"), 6).as("scale"),
          aggregate(col("qs.q"), lit(0L), (a, x) => a + x.cast("bigint")).as("sum_q"),
          array_min(col("qs.q")).cast("bigint").as("min_q"),
          array_max(col("qs.q")).cast("bigint").as("max_q"))),

    // 1-bit sign packing verified directly: the packed BIGINT word and its
    // popcount — both exact integers, so the oracle re-derives the word via
    // HUGEINT shifted sums and wraps to signed 64-bit
    "vec_sign_bits" -> ((s, dir) =>
      Tables(s, dir).embeddings
        .select(col("vec_id"),
          element_at(V.packSignBits(col("embedding"), 64), 1).as("sig_word"))
        .select(col("vec_id"), col("sig_word"),
          call_function("bit_count", col("sig_word")).cast("bigint").as("n_pos"))),

    // deterministic Rademacher projection 64→16 over int8-quantized codes:
    // integer sums are order-independent, so the md5-derived ±1 matrix makes
    // the whole projection hash-oracle-able (same precedent as ann_int8_topk)
    "vec_random_projection" -> ((s, dir) => {
      val q = Tables(s, dir).embeddings.select(col("vec_id"),
        V.quantizeInt8(col("embedding")).getField("q").as("q"))
      q.select(col("vec_id"),
          posexplode(V.randomProjection(col("q"), dim = 64, outDim = 16)))
        .select(col("vec_id"), col("pos").cast("bigint").as("j"),
          col("col").cast("bigint").as("proj"))
    }),

    // batched inference harness end-to-end: a deterministic stand-in model
    // (code-point count mod 997) scores documents through the per-partition
    // batching machinery; the oracle checks id↔score alignment survives
    // batch boundaries under any partitioning
    "infer_batched" -> ((s, dir) =>
      graft.ext.Inference.scoreBatched(s,
        Tables(s, dir).documents.select("doc_id", "text"),
        "doc_id", "text", batchSize = 32, numPartitions = 8) { batch =>
        batch.map(t => (t.codePointCount(0, t.length) % 997).toDouble)
      }),

    // ---- ext: multimodal plumbing ----
    // NULL payloads are filtered on both engines: Spark's md5/substr of a
    // NULL column and DuckDB's unnest-join disagree on whether the doc
    // appears at all, so the contract is "decode skips missing media"
    "mm_frame_sample" -> ((s, dir) => {
      val docs = Tables(s, dir).documents.filter(col("text").isNotNull)
      val media = Multimodal.fromText(docs, "doc_id", "text", "video")
      Multimodal.sampleFrames(media, frameBytes = 64, everyNth = 2)
        .select(col("media_id"), col("frame_idx").cast("bigint").as("frame_idx"),
          col("frame").cast("string").as("frame"))
    }),

    // ---- ext: multimodal — REAL codecs (JDK ImageIO / RIFF parse) ----
    // Fixtures are deterministic gray patterns round-tripped through REAL
    // PNG bytes: the query encodes pattern→PNG, decodes PNG→pixels with
    // javax.imageio, and derives integer facts; the oracle re-derives the
    // same facts straight from the pattern formula — losslessness of the
    // codec round-trip is exactly what the hash compare proves.
    "mm_decode" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 120)
        .withColumn("k", floor(col("doc_id") / 2).cast("long"))
        .withColumn("p", (col("doc_id") % 2).cast("int"))
      val media = Media.genPatternPngs(ids, "doc_id", "k", "p", w = 9, h = 8)
      Media.decodeImageMeta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("width"), col("height"),
          col("channels"), col("mime"), col("dhash"))
    }),

    // image metadata scrub (the image-side PII redaction: EXIF GPS/serial/
    // XMP live in metadata): every fixture carries an eXIf orientation tag
    // the scrub must REMOVE — afterwards decode sees the raw stored grid
    // (no EXIF rotation), so dims/dhash re-derive from the plain pattern
    // formula, and meta_stripped proves bytes actually left every payload
    "mm_image_scrub" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("p", lit(0))
        .withColumn("o", (col("doc_id") % 8 + 1).cast("int"))
      val media = Media.genPatternPngs(ids, "doc_id", "k", "p", w = 9, h = 8)
      val tagged = Media.genTaggedPngs(
        media.join(ids.select(col("doc_id"), col("o")), Seq("doc_id")),
        "doc_id", "content", "o")
      val scrubbed = Media.stripImageMetadata(tagged, "doc_id", "content")
      Media.decodeImageMeta(scrubbed, "doc_id", "content")
        .join(scrubbed.select(col("doc_id"), col("bytes_removed")), Seq("doc_id"))
        .select(col("doc_id").as("media_id"), col("width"), col("height"),
          col("channels"), col("mime"), col("dhash"),
          (col("bytes_removed") > 0).as("meta_stripped"))
    }),

    // perceptual near-dup image pairs: dHash + lossless band join (output
    // == the all-pairs Hamming≤3 filter, at band-bucket cost)
    "mm_image_dedup" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 400)
        .withColumn("k", floor(col("doc_id") / 2).cast("long"))
        .withColumn("p", (col("doc_id") % 2).cast("int"))
      val media = Media.genPatternPngs(ids, "doc_id", "k", "p", w = 9, h = 8)
      val hashed = Media.decodeImageMeta(media, "doc_id", "content")
        .select(col("doc_id"), col("dhash"))
      Media.dhashNearPairs(hashed, "doc_id", "dhash", maxDist = 3)
    }),

    // dHash composed with the batch Hamming ANN kernel: image search IS
    // the existing 1-word signature tier with sig = [dhash]
    "mm_image_search" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 400)
        .withColumn("k", floor(col("doc_id") / 2).cast("long"))
        .withColumn("p", (col("doc_id") % 2).cast("int"))
      val media = Media.genPatternPngs(ids, "doc_id", "k", "p", w = 9, h = 8)
      val sigs = Media.decodeImageMeta(media, "doc_id", "content")
        .select(col("doc_id"), array(col("dhash")).as("sig"))
      Similarity.hammingTopKMany(sigs, "doc_id",
        sigs.filter(col("doc_id") < 10), "doc_id", k = 5)
    }),

    // real area resize: 18×16 pattern → 9×8 block means, emitted as
    // exploded pixels (media_id, x, y, gray) the oracle re-averages
    "mm_resize" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 100)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("p", lit(0))
      val media = Media.genPatternPngs(ids, "doc_id", "k", "p", w = 18, h = 16)
      val small = Media.resizeImage(media, "doc_id", "content", tw = 9, th = 8)
      Media.imagePixels(small, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("x"), col("y"), col("gray"))
    }),

    // WAV header decode: REAL RIFF fmt/data chunk parse over generated
    // 16-bit PCM payloads with id-derived parameters
    "mm_audio_meta" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("rate", when(col("doc_id") % 3 === 0, 8000)
          .when(col("doc_id") % 3 === 1, 16000).otherwise(44100))
        .withColumn("ch", (col("doc_id") % 2 + 1).cast("int"))
        .withColumn("frames", (lit(100) + (col("doc_id") % 50) * 10).cast("int"))
      val media = Media.genWavs(ids, "doc_id", "rate", "ch", "frames")
      Media.decodeAudioMeta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("sample_rate"),
          col("channels"), col("bits"), col("n_frames"), col("duration_ms"))
    }),

    // WAV metadata scrub: every fixture carries a LIST(INFO) artist tag
    // the scrub must remove — header facts re-derive unchanged and
    // meta_stripped proves bytes actually left every payload
    "mm_audio_scrub" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("rate", when(col("doc_id") % 3 === 0, 8000)
          .when(col("doc_id") % 3 === 1, 16000).otherwise(44100))
        .withColumn("ch", (col("doc_id") % 2 + 1).cast("int"))
        .withColumn("frames", (lit(100) + (col("doc_id") % 50) * 10).cast("int"))
        .withColumn("artist",
          concat(lit("GRAFT-PII artist="), col("doc_id")))
      val media = Media.genWavs(ids, "doc_id", "rate", "ch", "frames")
      val tagged = Media.genInfoTagged(
        media.join(ids.select(col("doc_id"), col("artist")), Seq("doc_id")),
        "doc_id", "content", "artist")
      val scrubbed = Media.stripMediaMetadata(tagged, "doc_id", "content")
      Media.decodeAudioMeta(scrubbed, "doc_id", "content")
        .join(scrubbed.select(col("doc_id"),
          (col("bytes_removed") > 0).as("meta_stripped")), Seq("doc_id"))
        .select(col("doc_id").as("media_id"), col("sample_rate"),
          col("channels"), col("bits"), col("n_frames"), col("duration_ms"),
          col("meta_stripped"))
    }),

    // RIFF/AVI main-header decode: the video leg of the real-container
    // triad (avih chunk nested in LIST(hdrl) — a two-level RIFF walk)
    "mm_video_meta" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("uspf", when(col("doc_id") % 3 === 0, 41667)
          .when(col("doc_id") % 3 === 1, 33333).otherwise(16667))
        .withColumn("frames", (lit(100) + (col("doc_id") % 60) * 25).cast("int"))
        .withColumn("w", (lit(320) + (col("doc_id") % 4) * 160).cast("int"))
        .withColumn("h", (lit(240) + (col("doc_id") % 4) * 120).cast("int"))
      val media = Media.genAvis(ids, "doc_id", "uspf", "frames", "w", "h")
      Media.decodeVideoMeta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("width"), col("height"),
          col("n_frames"), col("n_streams"), col("fps_x1000"),
          col("duration_ms"))
    }),

    // ISO-BMFF (MP4) metadata — the container the dominant share of crawl
    // video arrives in: real box walk over ftyp/mvhd/tkhd/stts/stsz; the
    // fixture writes a real sample table (fixed-size stsz branch) and an
    // optional dimensionless audio track, and every output field is
    // re-derived integer math in the oracle
    "mm_mp4_meta" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("ts", when(col("doc_id") % 3 === 0, 90000L)
          .when(col("doc_id") % 3 === 1, 30000L).otherwise(12800L))
        .withColumn("dl", when(col("doc_id") % 3 === 0, 3000L)
          .when(col("doc_id") % 3 === 1, 1001L).otherwise(512L))
        .withColumn("n", (lit(24) + (col("doc_id") % 40) * 3).cast("int"))
        .withColumn("w", (lit(320) + (col("doc_id") % 4) * 160).cast("int"))
        .withColumn("h", (lit(240) + (col("doc_id") % 4) * 120).cast("int"))
        .withColumn("audio", col("doc_id") % 2 === 0)
      val media = Media.genMp4s(ids, "doc_id", "ts", "dl", "n", "w", "h",
        "audio")
      Media.decodeMp4Meta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("major_brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"), col("n_frames"), col("fps_x1000"))
    }),

    // AVI metadata scrub: planted LIST(INFO) artist tag removed, avih
    // facts re-derive unchanged (mm_video_meta fixture formulas)
    "mm_video_scrub" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("uspf", when(col("doc_id") % 3 === 0, 41667)
          .when(col("doc_id") % 3 === 1, 33333).otherwise(16667))
        .withColumn("frames", (lit(100) + (col("doc_id") % 60) * 25).cast("int"))
        .withColumn("w", (lit(320) + (col("doc_id") % 4) * 160).cast("int"))
        .withColumn("h", (lit(240) + (col("doc_id") % 4) * 120).cast("int"))
        .withColumn("artist",
          concat(lit("GRAFT-PII artist="), col("doc_id")))
      val media = Media.genAvis(ids, "doc_id", "uspf", "frames", "w", "h")
      val tagged = Media.genInfoTagged(
        media.join(ids.select(col("doc_id"), col("artist")), Seq("doc_id")),
        "doc_id", "content", "artist")
      val scrubbed = Media.stripMediaMetadata(tagged, "doc_id", "content")
      Media.decodeVideoMeta(scrubbed, "doc_id", "content")
        .join(scrubbed.select(col("doc_id"),
          (col("bytes_removed") > 0).as("meta_stripped")), Seq("doc_id"))
        .select(col("doc_id").as("media_id"), col("width"), col("height"),
          col("n_frames"), col("n_streams"), col("fps_x1000"),
          col("duration_ms"), col("meta_stripped"))
    }),

    // MP4 metadata scrub is size-PRESERVING (rewriting box lengths would
    // shift the absolute stco offsets): the udta every genMp4s fixture
    // plants is renamed free + zeroed in place — meta_zeroed checks the
    // PII marker is byte-gone, size_preserved that nothing moved, and the
    // box-walk facts re-derive unchanged
    "mm_mp4_scrub" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("ts", when(col("doc_id") % 3 === 0, 90000L)
          .when(col("doc_id") % 3 === 1, 30000L).otherwise(12800L))
        .withColumn("dl", when(col("doc_id") % 3 === 0, 3000L)
          .when(col("doc_id") % 3 === 1, 1001L).otherwise(512L))
        .withColumn("n", (lit(24) + (col("doc_id") % 40) * 3).cast("int"))
        .withColumn("w", (lit(320) + (col("doc_id") % 4) * 160).cast("int"))
        .withColumn("h", (lit(240) + (col("doc_id") % 4) * 120).cast("int"))
        .withColumn("audio", col("doc_id") % 2 === 0)
      val media = Media.genMp4s(ids, "doc_id", "ts", "dl", "n", "w", "h",
        "audio")
      val scrubbed = Media.stripMediaMetadata(media, "doc_id", "content")
      Media.decodeMp4Meta(scrubbed, "doc_id", "content")
        .join(scrubbed.select(col("doc_id"),
          (!contains(col("content"), lit("GRAFT-PII".getBytes)))
            .as("meta_zeroed"),
          (col("bytes_removed") === 0).as("size_preserved")), Seq("doc_id"))
        .select(col("doc_id").as("media_id"), col("major_brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"), col("n_frames"), col("fps_x1000"),
          col("meta_zeroed"), col("size_preserved"))
    }),

    // FRAGMENTED MP4 (DASH/CMAF/streaming recorders — empty moov sample
    // tables, per-fragment moof/tfhd/trun runs): the same metadata facts
    // now sourced from the fragment walk + trex defaults
    "mm_mp4_frag_meta" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("ts", when(col("doc_id") % 3 === 0, 90000L)
          .when(col("doc_id") % 3 === 1, 30000L).otherwise(12800L))
        .withColumn("dl", when(col("doc_id") % 3 === 0, 3000L)
          .when(col("doc_id") % 3 === 1, 1001L).otherwise(512L))
        .withColumn("n", (lit(24) + (col("doc_id") % 40) * 3).cast("int"))
        .withColumn("w", (lit(320) + (col("doc_id") % 4) * 160).cast("int"))
        .withColumn("h", (lit(240) + (col("doc_id") % 4) * 120).cast("int"))
      val media = Media.genFmp4s(ids, "doc_id", "ts", "dl", "n", "w", "h")
      Media.decodeMp4Meta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("major_brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"), col("n_frames"), col("fps_x1000"))
    }),

    // scrub ⊥ fragmentation: the size-preserving udta neutralization must
    // leave every moof/trun offset valid — facts re-derive unchanged from
    // the fragment walk, the PII marker is byte-gone, nothing moved
    "mm_mp4_frag_scrub" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("ts", when(col("doc_id") % 3 === 0, 90000L)
          .when(col("doc_id") % 3 === 1, 30000L).otherwise(12800L))
        .withColumn("dl", when(col("doc_id") % 3 === 0, 3000L)
          .when(col("doc_id") % 3 === 1, 1001L).otherwise(512L))
        .withColumn("n", (lit(24) + (col("doc_id") % 40) * 3).cast("int"))
        .withColumn("w", (lit(320) + (col("doc_id") % 4) * 160).cast("int"))
        .withColumn("h", (lit(240) + (col("doc_id") % 4) * 120).cast("int"))
      val media = Media.genFmp4s(ids, "doc_id", "ts", "dl", "n", "w", "h")
      val scrubbed = Media.stripMediaMetadata(media, "doc_id", "content")
      Media.decodeMp4Meta(scrubbed, "doc_id", "content")
        .join(scrubbed.select(col("doc_id"),
          (!contains(col("content"), lit("GRAFT-PII".getBytes)))
            .as("meta_zeroed"),
          (col("bytes_removed") === 0).as("size_preserved")), Seq("doc_id"))
        .select(col("doc_id").as("media_id"), col("major_brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"), col("n_frames"), col("fps_x1000"),
          col("meta_zeroed"), col("size_preserved"))
    }),

    // fMP4 frame walk: moof/trun sample runs yield payloads
    // byte-identical to the plain-container fixtures, so this key shares
    // mm_mp4_frames' oracle SQL verbatim — fragmentation never enters
    // the frame-dedup algebra
    "mm_mp4_frag_frames" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 80)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("n", (col("doc_id") % 3 + 2).cast("int"))
        .withColumn("fs", lit(2).cast("int"))
      val media = Media.genPatternFmp4s(ids, "doc_id", "k", "n", "fs",
        w = 9, h = 8)
      Media.videoFrames(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash"))
    }),

    // fMP4 keyframes: fragment boundaries ARE the sync points a DASH
    // packager cuts at — fragment size = the keyframed fixture's stss
    // step, so mm_mp4_keyframes' oracle SQL replays verbatim
    "mm_mp4_frag_keyframes" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 80)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("n", (col("doc_id") % 5 + 4).cast("int"))
        .withColumn("fs", (col("doc_id") % 3 + 2).cast("int"))
      val media = Media.genPatternFmp4s(ids, "doc_id", "k", "n", "fs",
        w = 9, h = 8)
      Media.mp4Keyframes(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash"))
    }),

    // SELF-INITIALIZING DASH MEDIA SEGMENT (r19): styp + sidx + moof/mdat
    // with NO moov anywhere — the shape a DASH CDN serves between init
    // refreshes. timescale/duration re-derive from sidx, sample facts
    // from the explicit-field trun walk; no tkhd exists, so dims are 0×0
    "mm_mp4_segment_meta" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("ts", when(col("doc_id") % 3 === 0, 90000L)
          .when(col("doc_id") % 3 === 1, 30000L).otherwise(12800L))
        .withColumn("dl", when(col("doc_id") % 3 === 0, 3000L)
          .when(col("doc_id") % 3 === 1, 1001L).otherwise(512L))
        .withColumn("n", (lit(24) + (col("doc_id") % 40) * 3).cast("int"))
      val media = Media.genSegMp4s(ids, "doc_id", "ts", "dl", "n")
      Media.decodeMp4Meta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("major_brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"), col("n_frames"), col("fps_x1000"))
    }),

    // moov-lessness never enters the frame algebra: byte-identical
    // pattern payloads through the sidx-bound fragment walk share
    // mm_mp4_frames' oracle SQL verbatim
    "mm_mp4_segment_frames" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 80)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("n", (col("doc_id") % 3 + 2).cast("int"))
        .withColumn("fs", lit(2).cast("int"))
      val media = Media.genPatternSegMp4s(ids, "doc_id", "k", "n", "fs",
        w = 9, h = 8)
      Media.videoFrames(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash"))
    }),

    // fragment starts are the segment's sync points — fragment size = the
    // keyframed fixture's stss step, so mm_mp4_keyframes' SQL replays
    "mm_mp4_segment_keyframes" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 80)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("n", (col("doc_id") % 5 + 4).cast("int"))
        .withColumn("fs", (col("doc_id") % 3 + 2).cast("int"))
      val media = Media.genPatternSegMp4s(ids, "doc_id", "k", "n", "fs",
        w = 9, h = 8)
      Media.mp4Keyframes(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash"))
    }),

    // JPEG-side scrub semantics (the r18 ADVICE fix, proven per row):
    // Exif orientation DROPS (decode sees raw un-rotated dims — 5..8
    // would swap them), APP14 Adobe and ICC APP2 SURVIVE (decode-critical
    // color markers), non-ICC MPF APP2 and post-EOI trailer bytes are
    // GONE — each flag re-derived as a constant, dims varying per row
    "mm_image_scrub_jpeg" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 120)
        .withColumn("w", (lit(9) + col("doc_id") % 4).cast("int"))
        .withColumn("h", (lit(8) + col("doc_id") % 3).cast("int"))
        .withColumn("o", (col("doc_id") % 8 + 1).cast("int"))
      val media = Media.genAdobeTaggedJpegs(ids, "doc_id", "w", "h", "o")
      val scrubbed = Media.stripImageMetadata(media, "doc_id", "content")
      Media.decodeImageMeta(scrubbed, "doc_id", "content")
        .join(scrubbed.select(col("doc_id"),
          contains(col("content"), lit("Adobe".getBytes)).as("adobe_kept"),
          contains(col("content"), lit("ICC_PROFILE".getBytes))
            .as("icc_kept"),
          (!contains(col("content"), lit("MPFSECRET".getBytes)))
            .as("mpf_gone"),
          (!contains(col("content"), lit("XAPP14-PII".getBytes)))
            .as("xapp14_gone"),
          (!contains(col("content"), lit("TRAILER-PII".getBytes)))
            .as("trailer_gone")), Seq("doc_id"))
        .select(col("doc_id").as("media_id"), col("width"), col("height"),
          col("mime"), col("adobe_kept"), col("icc_kept"), col("mpf_gone"),
          col("xapp14_gone"), col("trailer_gone"))
    }),

    // the videoScenes slot for MP4: each stss sync sample IS a scene
    // start, so the scene table (scene_idx = sync rank, start frame,
    // representative dhash) comes off the keyframe walk directly — no
    // full decode, no dHash-distance pass, no shuffle
    "mm_mp4_scenes" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 80)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("n", (col("doc_id") % 5 + 4).cast("int"))
        .withColumn("step", (col("doc_id") % 3 + 2).cast("int"))
      val media = Media.genPatternMp4sKeyframed(ids, "doc_id", "k", "n",
        "step", w = 9, h = 8)
      Media.mp4Scenes(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("scene_idx"),
          col("start_frame_idx"), col("width"), col("height"), col("dhash"))
    }),

    // the MP4 keyframe-economy pipeline: stss sync samples → dHash →
    // video-level near-dup pairs — the mm_video_pipeline shape WITHOUT
    // the full-decode + scene-diff stages (the container's own sync table
    // plays the scene index), which is the per-file cost model that
    // matters at 100 TB. Videos arrive in content-identical pairs; each
    // pair must match on its 2 keyframes alone
    "mm_mp4_pipeline" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 60)
        .withColumn("k", floor(col("doc_id") / 2).cast("long"))
        .withColumn("n", lit(6).cast("int"))
        .withColumn("step", lit(3).cast("int"))
      val media = Media.genPatternMp4sKeyframed(ids, "doc_id", "k", "n",
        "step", w = 9, h = 8)
      val keyframes = Media.mp4Keyframes(media, "doc_id", "content")
        .select(col("doc_id"), col("dhash")).localCheckpoint(true)
      Media.videoNearPairs(keyframes, "doc_id", "dhash",
        minShared = 2, maxHashFreq = 1000)
    }),

    // LENIENT scrub (the form that composes upstream of ingest sinks):
    // good WAVs lose exactly their planted LIST(INFO) tag
    // (bytes_removed = 20 + len + pad, re-derived from the artist-string
    // length in SQL), junk payloads flow through UNMODIFIED with
    // scrub_ok=false + the failure class — one corrupt payload must never
    // fail the task the way the strict op (by design) does
    "mm_media_scrub_lenient" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("rate", lit(8000)).withColumn("ch", lit(1))
        .withColumn("frames", lit(50))
        .withColumn("artist",
          concat(lit("GRAFT-PII artist="), col("doc_id")))
      val good = Media.genInfoTagged(
        Media.genWavs(ids.filter(col("doc_id") % 5 =!= 4),
          "doc_id", "rate", "ch", "frames")
          .join(ids.select(col("doc_id"), col("artist")), Seq("doc_id")),
        "doc_id", "content", "artist")
      val bad = ids.filter(col("doc_id") % 5 === 4)
        .select(col("doc_id"),
          concat(lit("junk #"), col("doc_id").cast("string"))
            .cast("binary").as("content"))
      Media.stripMediaMetadataLenient(good.unionByName(bad),
        "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("scrub_ok"),
          col("scrub_err"), col("bytes_removed"))
    }),

    // MP4 frame walk: stsz/stsc/stco sample extraction + PNG decode —
    // the same pixel formula as mm_video_frames, proving the frame-dedup
    // tier is container-independent (an MP4 re-container of an AVI
    // classifies as a dup because these hashes match)
    "mm_mp4_frames" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 80)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("n", (col("doc_id") % 3 + 2).cast("int"))
      val media = Media.genPatternMp4s(ids, "doc_id", "k", "n", w = 9, h = 8)
      Media.videoFrames(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash"))
    }),

    // audio-track-FIRST MP4s (the real-crawl track order): both traks
    // carry sample tables, the first is 'soun' junk — the hdlr-typed
    // track selection must land on the 'vide' trak, proven by this key
    // sharing mm_mp4_frames' oracle SQL verbatim (identical frame hashes
    // to the video-first twin; positional selection would decode garbage)
    "mm_mp4_frames_avorder" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 80)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("n", (col("doc_id") % 3 + 2).cast("int"))
      val media = Media.genPatternMp4sAvOrder(ids, "doc_id", "k", "n",
        w = 9, h = 8)
      Media.videoFrames(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash"))
    }),

    // variable-frame-rate MP4: the stts carries TWO delta runs (first
    // half at dl, second at 2·dl) — fps_x1000 must be the
    // duration-WEIGHTED n·ts·1000/(n1·dl + n2·2dl), which the oracle
    // re-derives exactly; a first-delta-only reader reports ts·1000/dl
    // and hash-mismatches every row
    "mm_mp4_meta_vfr" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("ts", when(col("doc_id") % 3 === 0, 90000L)
          .when(col("doc_id") % 3 === 1, 30000L).otherwise(12800L))
        .withColumn("dl", when(col("doc_id") % 3 === 0, 3000L)
          .when(col("doc_id") % 3 === 1, 1001L).otherwise(512L))
        .withColumn("n", (lit(24) + (col("doc_id") % 40) * 3).cast("int"))
        .withColumn("w", (lit(320) + (col("doc_id") % 4) * 160).cast("int"))
        .withColumn("h", (lit(240) + (col("doc_id") % 4) * 120).cast("int"))
      val media = Media.genVfrMp4s(ids, "doc_id", "ts", "dl", "n", "w", "h")
      Media.decodeMp4Meta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("major_brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"), col("n_frames"), col("fps_x1000"))
    }),

    // edts/elst edit-list awareness (r19): half the fixtures plant a
    // non-identity head-trim edit list, half carry no edts box at all —
    // has_edit_list re-derives from the planting column while every
    // other box-walk fact stays the genMp4s math (the elst box must not
    // perturb the walk). The flag is a routing FACT: frames decode in
    // sample order regardless (fine for dedup; presentation-order
    // pipelines route on it)
    "mm_mp4_meta_elst" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("ts", when(col("doc_id") % 3 === 0, 90000L)
          .when(col("doc_id") % 3 === 1, 30000L).otherwise(12800L))
        .withColumn("dl", when(col("doc_id") % 3 === 0, 3000L)
          .when(col("doc_id") % 3 === 1, 1001L).otherwise(512L))
        .withColumn("n", (lit(24) + (col("doc_id") % 40) * 3).cast("int"))
        .withColumn("w", (lit(320) + (col("doc_id") % 4) * 160).cast("int"))
        .withColumn("h", (lit(240) + (col("doc_id") % 4) * 120).cast("int"))
        .withColumn("el", col("doc_id") % 2 === 0)
      val media = Media.genElstMp4s(ids, "doc_id", "ts", "dl", "n", "w",
        "h", "el")
      Media.decodeMp4Meta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("major_brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"), col("n_frames"), col("fps_x1000"),
          col("has_edit_list"))
    }),

    // ctts composition-offset awareness (r19, the elst fact's sibling):
    // decode order ≠ presentation order when the video track carries a
    // ctts table (B-frame reordering) — the frame tier correctly ignores
    // the offsets for dedup, and this flag lets a presentation-order
    // pipeline route such files. Planted on odd ids; the box must not
    // perturb any other walk fact
    "mm_mp4_meta_ctts" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("ts", when(col("doc_id") % 3 === 0, 90000L)
          .when(col("doc_id") % 3 === 1, 30000L).otherwise(12800L))
        .withColumn("dl", when(col("doc_id") % 3 === 0, 3000L)
          .when(col("doc_id") % 3 === 1, 1001L).otherwise(512L))
        .withColumn("n", (lit(24) + (col("doc_id") % 40) * 3).cast("int"))
        .withColumn("w", (lit(320) + (col("doc_id") % 4) * 160).cast("int"))
        .withColumn("h", (lit(240) + (col("doc_id") % 4) * 120).cast("int"))
        .withColumn("ct", col("doc_id") % 2 === 1)
      val media = Media.genCttsMp4s(ids, "doc_id", "ts", "dl", "n", "w",
        "h", "ct")
      Media.decodeMp4Meta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("major_brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"), col("n_frames"), col("fps_x1000"),
          col("has_comp_offsets"))
    }),

    // stss keyframe sampling: the sync-sample table is the container's
    // OWN scene-start list, so the MP4 tier samples representatives
    // WITHOUT decoding every frame (the per-file economy at 100 TB —
    // the AVI tier must decode all frames and diff dHashes instead).
    // Fixture plants sync samples 1, 1+step, …; oracle = the pattern
    // dhash formula over exactly the f % step = 0 frames
    "mm_mp4_keyframes" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 80)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("n", (col("doc_id") % 5 + 4).cast("int"))
        .withColumn("step", (col("doc_id") % 3 + 2).cast("int"))
      val media = Media.genPatternMp4sKeyframed(ids, "doc_id", "k", "n",
        "step", w = 9, h = 8)
      Media.mp4Keyframes(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash"))
    }),

    // the keyframe-path maxFrames guard (r19): sparse-stss videos (at
    // most 4 sync samples) decode under the cap with rows bit-equal to
    // the strict walk, while NO-stss videos — the degenerate shape where
    // every sample is sync per ISO 14496-12 §8.6.2 and the "cheap"
    // keyframe path silently becomes the full frame walk — exceed the
    // cap and quarantine as ONE frame_ok=false row instead of decoding
    // unbounded inside one task
    "mm_mp4_keyframes_lenient" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 80)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("n", (col("doc_id") % 5 + 4).cast("int"))
        .withColumn("step", (col("doc_id") % 3 + 2).cast("int"))
        .withColumn("n6", lit(6).cast("int"))
      val keyframed = Media.genPatternMp4sKeyframed(
        ids.filter(col("doc_id") % 4 =!= 3), "doc_id", "k", "n", "step",
        w = 9, h = 8)
      val noStss = Media.genPatternMp4s(
        ids.filter(col("doc_id") % 4 === 3), "doc_id", "k", "n6",
        w = 9, h = 8)
      Media.mp4KeyframesLenient(keyframed.unionByName(noStss),
          "doc_id", "content", maxFrames = 4)
        .select(col("doc_id").as("media_id"), col("frame_ok"),
          col("frame_err"), col("frame_idx"), col("width"), col("height"),
          col("dhash"))
    }),

    // same guard on the scene-table op: sync rank + start frame re-derive
    // for the sparse-stss rows, the no-stss shape quarantines
    "mm_mp4_scenes_lenient" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 80)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("n", (col("doc_id") % 5 + 4).cast("int"))
        .withColumn("step", (col("doc_id") % 3 + 2).cast("int"))
        .withColumn("n6", lit(6).cast("int"))
      val keyframed = Media.genPatternMp4sKeyframed(
        ids.filter(col("doc_id") % 4 =!= 3), "doc_id", "k", "n", "step",
        w = 9, h = 8)
      val noStss = Media.genPatternMp4s(
        ids.filter(col("doc_id") % 4 === 3), "doc_id", "k", "n6",
        w = 9, h = 8)
      Media.mp4ScenesLenient(keyframed.unionByName(noStss),
          "doc_id", "content", maxFrames = 4)
        .select(col("doc_id").as("media_id"), col("frame_ok"),
          col("frame_err"), col("scene_idx"), col("start_frame_idx"),
          col("width"), col("height"), col("dhash"))
    }),

    // WARC crawl ingestion (ISO 28500 — the Common Crawl container):
    // file k holds a warcinfo record + per page i a (request, response)
    // pair; even-k files use the per-record-gzip-member layout, so one
    // key exercises BOTH the plain parse and the multi-member inflate.
    // body_md5 proves byte-exact content-block extraction.
    "src_warc_records" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 120)
        .withColumn("n", (col("doc_id") % 5 + 1).cast("int"))
        .withColumn("gz", col("doc_id") % 2 === 0)
      val files = graft.sources.Warc.genWarcs(ids, "doc_id", "n", "gz")
      graft.sources.Warc.warcRecords(files, "doc_id", "content")
        .select(col("doc_id").as("file_id"), col("rec_idx"),
          col("warc_type"), col("record_id"), col("target_uri"),
          col("warc_date"), col("content_length"),
          md5(col("body")).as("body_md5"))
    }),

    // WARC → page text: response records' HTTP envelopes split (status,
    // content-type) and the HTML body stripped to visible text — the
    // crawl container feeding the text tier in one shuffle-free plan
    "src_warc_http" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 120)
        .withColumn("n", (col("doc_id") % 5 + 1).cast("int"))
        .withColumn("gz", col("doc_id") % 2 === 0)
      val files = graft.sources.Warc.genWarcs(ids, "doc_id", "n", "gz")
      graft.sources.Warc.warcResponses(files, "doc_id", "content")
        .select(col("doc_id").as("file_id"), col("rec_idx"),
          col("target_uri"), col("http_status"), col("http_content_type"),
          T.htmlToText(col("http_body")).as("page_text"))
    }),

    // the END-TO-END crawl pipeline in ONE shuffle-minimal plan: .warc.gz
    // bytes → response records → visible text → C4 clean + page gate →
    // canonical-URL dedup (tracking params stripped; same-site re-crawls
    // collapse) → exact content dedup (mirror sites collapse) — the first
    // pipeline a real crawl user builds; every stage is individually
    // oracled above and the composition is re-derived wholesale here
    "src_warc_pipeline" -> ((s, dir) => {
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
    }),

    // PDF text extraction (ISO 32000): object/stream walk + FlateDecode
    // + content-stream tokenizer; the fixture rotates show syntax per
    // page (hex+T*, split-TJ+', plain Tj+T*) and toggles Flate per doc —
    // every variant must land on the identical formula text
    "mm_pdf_text" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("n", (col("doc_id") % 4 + 1).cast("int"))
        .withColumn("flate", col("doc_id") % 2 === 0)
      val files = graft.ext.Pdf.genPdfs(ids, "doc_id", "n", "flate")
      graft.ext.Pdf.pdfText(files, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("stream_idx"),
          col("pdf_version"), col("text"))
    }),

    // PDF /ToUnicode CMap (ISO 32000 §9.10.3): glyph codes in hex show
    // strings decode through the font's bfchar/bfrange map (UTF-16BE
    // destinations) — the non-Latin extraction path; each page mixes a
    // Latin-1 standard font and a CMap'd CID font mid-stream, and the
    // oracle re-derives every Greek codepoint from the fixture formula
    "mm_pdf_unicode" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("n", (col("doc_id") % 3 + 1).cast("int"))
        .withColumn("flate", col("doc_id") % 2 === 0)
      val files = graft.ext.Pdf.genPdfsUnicode(ids, "doc_id", "n", "flate")
      graft.ext.Pdf.pdfText(files, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("stream_idx"),
          col("pdf_version"), col("text"))
    }),

    // PDF 1.5+ object streams: the same unicode fixtures with page and
    // font dicts PACKED inside a deflated /Type /ObjStm — invisible to a
    // raw-byte scan, how modern writers emit them; the oracle is the
    // mm_pdf_unicode SQL verbatim (same page-text formula), so the hash
    // match proves packed dicts resolve exactly like top-level ones
    "mm_pdf_objstm" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("n", (col("doc_id") % 3 + 1).cast("int"))
        .withColumn("flate", col("doc_id") % 2 === 0)
      val files = graft.ext.Pdf.genPdfsObjStm(ids, "doc_id", "n", "flate")
      graft.ext.Pdf.pdfText(files, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("stream_idx"),
          col("pdf_version"), col("text"))
    }),

    // PDF → text tier END-TO-END in one plan: object walk + FlateDecode +
    // content-stream tokenize, then token-window chunking and per-chunk
    // quality scoring — extraction feeding curation, all per-row
    // expressions after the decode, zero shuffles
    "mm_pdf_pipeline" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 120)
        .withColumn("n", (col("doc_id") % 4 + 1).cast("int"))
        .withColumn("flate", col("doc_id") % 2 === 0)
      val files = graft.ext.Pdf.genPdfs(ids, "doc_id", "n", "flate")
      val pages = graft.ext.Pdf.pdfText(files, "doc_id", "content")
        .select((col("doc_id") * 10 + col("stream_idx")).as("page_id"),
          col("text"))
      Curation.chunkByTokens(pages, "page_id", "text",
          chunkTokens = 4, overlapTokens = 1)
        .select(col("page_id"), col("chunk_idx"), col("chunk"),
          T.tokenCount(col("chunk")).as("n_tokens"),
          T.qualityPerMille(col("chunk")).as("quality_pm"))
    }),

    // dirty-corpus quarantine: odd ids carry garbage bytes; the lenient
    // decoder must split the stream in ONE pass without failing the job
    "mm_decode_quarantine" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 200)
        .withColumn("k", floor(col("doc_id") / 2).cast("long"))
        .withColumn("p", lit(0))
      val good = Media.genPatternPngs(ids.filter(col("doc_id") % 2 === 0),
        "doc_id", "k", "p", w = 9, h = 8)
      val bad = ids.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"),
          concat(lit("not an image #"), col("doc_id").cast("string"))
            .cast("binary").as("content"))
      Media.decodeImageMetaLenient(good.unionByName(bad), "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("decode_ok"),
          col("decode_err"), col("mime"), col("width"), col("height"),
          col("dhash"))
    }),

    // container-aware time windowing from the parsed header (frame-aligned
    // 25 ms windows, ragged tail)
    "mm_audio_windows" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 60)
        .withColumn("rate", when(col("doc_id") % 3 === 0, 8000)
          .when(col("doc_id") % 3 === 1, 16000).otherwise(44100))
        .withColumn("ch", (col("doc_id") % 2 + 1).cast("int"))
        .withColumn("frames", (lit(200) + (col("doc_id") % 7) * 97).cast("int"))
      val media = Media.genWavs(ids, "doc_id", "rate", "ch", "frames")
      Media.audioWindows(media, "doc_id", "content", windowMs = 25)
        .select(col("doc_id").as("media_id"), col("window_idx"),
          col("start_ms"), col("n_bytes"), col("n_frames"))
    }),

    // LAION-style image-quality gate over REAL decoded pixels: exact
    // integer luma stats per image, thresholds composed in the plan
    // (min-dim 8, aspect within [1/2, 2], not solid-color) — the odd ids'
    // 5x4 thumbnails are dropped by the dimension gate
    "mm_image_quality" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("p", lit(0))
      val big = Media.genPatternPngs(
        ids.filter(col("doc_id") % 2 === 0), "doc_id", "k", "p", w = 9, h = 8)
      val small = Media.genPatternPngs(
        ids.filter(col("doc_id") % 2 =!= 0), "doc_id", "k", "p", w = 5, h = 4)
      Media.imageStats(big.unionByName(small), "doc_id", "content")
        .filter(col("width") >= 8 && col("height") >= 8 &&
          col("width") * 1000 <= col("height") * 2000 &&
          col("height") * 1000 <= col("width") * 2000 &&
          col("luma_min") < col("luma_max"))
        .select(col("doc_id").as("media_id"), col("width"), col("height"),
          col("n_px"), col("luma_sum"), col("luma_sq_sum"),
          col("luma_min"), col("luma_max"), col("mean_milli"))
    }),

    // average hash (second perceptual family next to dHash): 16x16
    // pattern → exact 2x2 block means → bit = cell > grid mean, all
    // integer math the oracle replays pixel-for-pixel
    "mm_ahash" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 120)
        .withColumn("k", floor(col("doc_id") / 2).cast("long"))
        .withColumn("p", (col("doc_id") % 2).cast("int"))
      val media = Media.genPatternPngs(ids, "doc_id", "k", "p", w = 16, h = 16)
      Media.imageAHash(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("width"), col("height"),
          col("ahash"))
    }),

    // real PCM scan: per-window sum of squared 16-bit samples + peak, cut
    // on the same header-derived windows as mm_audio_windows; silence
    // classification stays in the plan as an exact integer compare
    "mm_audio_energy" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 100)
        .withColumn("rate", when(col("doc_id") % 3 === 0, 8000)
          .when(col("doc_id") % 3 === 1, 16000).otherwise(44100))
        .withColumn("ch", (col("doc_id") % 2 + 1).cast("int"))
        .withColumn("frames", (lit(150) + (col("doc_id") % 11) * 37).cast("int"))
      val media = Media.genWavs(ids, "doc_id", "rate", "ch", "frames")
      Media.audioEnergy(media, "doc_id", "content", windowMs = 20)
        .select(col("doc_id").as("media_id"), col("window_idx"),
          col("start_ms"), col("n_samples"), col("sum_sq"), col("peak_abs"),
          (col("sum_sq") < col("n_samples").cast("long") * 5440L).as("silent"))
    }),

    // AUDIO near-dup pairs — the third modality joins the Hamming dedup
    // tier: energy-delta-sign fingerprint (gain-invariant), banded pair
    // join reused verbatim from the image tier. Odd ids are modeled
    // re-encodes of their even sibling (exactly one fingerprint bit
    // flipped — never identical, always in band reach)
    "mm_audio_dedup" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("k", floor(col("doc_id") / 2).cast("long"))
        .withColumn("p", (col("doc_id") % 2).cast("int"))
        .withColumn("nw", lit(65).cast("int"))
      val media = Media.genToneWavs(ids, "doc_id", "k", "p", "nw")
      val fp = Media.audioFingerprint(media, "doc_id", "content", windowMs = 20)
      Media.dhashNearPairs(fp, "doc_id", "afp", maxDist = 3)
    }),

    // image+caption pair curation end-to-end: decode → dHash near-dup
    // representative selection (band join, drop the larger id of every
    // near pair) → caption length gate — the multimodal tier composed
    // with the text tier in one plan
    "mm_pair_curation" -> ((s, dir) => {
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 300)
      val ids = docs.select(col("doc_id"))
        .withColumn("k", floor(col("doc_id") / 2).cast("long"))
        .withColumn("p", (col("doc_id") % 2).cast("int"))
      val media = Media.genPatternPngs(ids, "doc_id", "k", "p", w = 9, h = 8)
      val meta = Media.decodeImageMeta(media, "doc_id", "content")
        .select(col("doc_id"), col("width"), col("height"), col("dhash"))
      val losers = Media.dhashNearPairs(meta, "doc_id", "dhash", maxDist = 3)
        .select(col("right_id").as("doc_id")).distinct()
      meta.join(losers, Seq("doc_id"), "left_anti")
        .join(docs, Seq("doc_id"))
        .filter(T.tokenCount(col("text")) >= 10L && col("width") >= 8)
        .select(col("doc_id").as("media_id"), col("dhash"),
          T.tokenCount(col("text")).as("n_tokens"))
    }),

    // EXIF-orientation normalization: the fixture stores each pattern
    // ROTATED/MIRRORED (all 8 CIPA orientations, lossless PNG + eXIf
    // chunk); a correct decoder returns the DISPLAY grid, so the oracle is
    // the plain pattern formula with zero orientation math — the hash
    // match proves the rotation recall hole is closed
    "mm_image_orient" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 160)
        .withColumn("k", floor(col("doc_id") / 8).cast("long"))
        .withColumn("p", lit(0))
        .withColumn("o", (col("doc_id") % 8 + 1).cast("int"))
      val media = Media.genPatternPngsOriented(ids, "doc_id", "k", "p", "o",
        w = 9, h = 8)
      Media.decodeImageMeta(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("width"), col("height"),
          col("mime"), col("dhash"))
    }),

    // rotated near-dups surface in the dedup band join: same-k fixtures
    // differ by perturbation (p) AND stored orientation (o) — without
    // normalization the rotated copies would hash unrelated and the pair
    // set would silently lose them
    "mm_image_dedup_orient" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 320)
        .withColumn("k", floor(col("doc_id") / 4).cast("long"))
        .withColumn("p", (col("doc_id") % 2).cast("int"))
        .withColumn("o", (col("doc_id") % 4 * 2 + 1).cast("int"))
      val media = Media.genPatternPngsOriented(ids, "doc_id", "k", "p", "o",
        w = 9, h = 8)
      val hashed = Media.decodeImageMeta(media, "doc_id", "content")
        .select(col("doc_id"), col("dhash"))
      Media.dhashNearPairs(hashed, "doc_id", "dhash", maxDist = 3)
    }),

    // dirty-corpus quarantine, audio leg: odd ids carry non-WAV bytes; the
    // lenient decoder splits the stream in one pass, good rows bit-equal
    // to the strict path
    "mm_audio_quarantine" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("rate", when(col("doc_id") % 3 === 0, 8000)
          .when(col("doc_id") % 3 === 1, 16000).otherwise(44100))
        .withColumn("ch", (col("doc_id") % 2 + 1).cast("int"))
        .withColumn("frames", (lit(100) + (col("doc_id") % 50) * 10).cast("int"))
      val good = Media.genWavs(ids.filter(col("doc_id") % 2 === 0),
        "doc_id", "rate", "ch", "frames")
      val bad = ids.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"),
          concat(lit("not audio #"), col("doc_id").cast("string"))
            .cast("binary").as("content"))
      Media.decodeAudioMetaLenient(good.unionByName(bad), "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("decode_ok"),
          col("decode_err"), col("mime"), col("sample_rate"), col("channels"),
          col("bits"), col("n_frames"), col("duration_ms"))
    }),

    // dirty-corpus quarantine, video leg: odd ids carry garbage; lenient
    // AVI decode quarantines in place
    "mm_video_quarantine" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 150)
        .withColumn("uspf", when(col("doc_id") % 3 === 0, 41667)
          .when(col("doc_id") % 3 === 1, 33333).otherwise(16667))
        .withColumn("frames", (lit(100) + (col("doc_id") % 60) * 25).cast("int"))
        .withColumn("w", (lit(320) + (col("doc_id") % 4) * 160).cast("int"))
        .withColumn("h", (lit(240) + (col("doc_id") % 4) * 120).cast("int"))
      val good = Media.genAvis(ids.filter(col("doc_id") % 2 === 0),
        "doc_id", "uspf", "frames", "w", "h")
      val bad = ids.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"),
          concat(lit("not video #"), col("doc_id").cast("string"))
            .cast("binary").as("content"))
      Media.decodeVideoMetaLenient(good.unionByName(bad), "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("decode_ok"),
          col("decode_err"), col("mime"), col("width"), col("height"),
          col("n_frames"), col("n_streams"), col("fps_x1000"),
          col("duration_ms"))
    }),

    // REAL frame content from video: LIST(movi) walk → per-frame codec
    // decode → dHash, one row per frame — frame-level dedup drops into the
    // existing Hamming tier; the oracle re-derives every frame's pixels
    // from the per-frame pattern formula (k·8+f)
    "mm_video_frames" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 80)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("n", (col("doc_id") % 3 + 2).cast("int"))
      val media = Media.genPatternAvis(ids, "doc_id", "k", "n", w = 9, h = 8)
      Media.videoFrames(media, "doc_id", "content")
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash"))
    }),

    // frame-level video DEDUP over the real container decode: groups of 4
    // videos share a pattern (trims — frame counts vary, so n_shared =
    // min frame count), and one 24-video mega-group drives its common
    // frame hashes past maxHashFreq=10 — those must contribute NO pair
    // evidence (the hot-frame cap), while n_left/n_right keep true counts
    "mm_video_dedup" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 96)
        .withColumn("k", when(col("doc_id") < 24, 0L)
          .otherwise(floor(col("doc_id") / 4)).cast("long"))
        .withColumn("n", (col("doc_id") % 3 + 2).cast("int"))
      val media = Media.genPatternAvis(ids, "doc_id", "k", "n", w = 9, h = 8)
      // materialize: the pairing plan references frames from 5 branches,
      // each of which would otherwise re-decode every video (r15 audit)
      val frames = Media.videoFrames(media, "doc_id", "content")
        .localCheckpoint(true)
      Media.videoNearPairs(frames, "doc_id", "dhash",
        minShared = 2, maxHashFreq = 10)
    }),

    // the SAME shared-frame dedup over a MIXED-container corpus: even ids
    // arrive as AVI, odd as MP4 — identical pattern frames hash
    // identically through both walks, so every group pairs ACROSS
    // containers (each group of 4 is 2 AVI + 2 MP4); the oracle is the
    // mm_video_dedup SQL verbatim — container never enters the algebra
    "mm_video_dedup_mixed" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 96)
        .withColumn("k", when(col("doc_id") < 24, 0L)
          .otherwise(floor(col("doc_id") / 4)).cast("long"))
        .withColumn("n", (col("doc_id") % 3 + 2).cast("int"))
      val avis = Media.genPatternAvis(ids.filter(col("doc_id") % 2 === 0),
        "doc_id", "k", "n", w = 9, h = 8)
      val mp4s = Media.genPatternMp4s(ids.filter(col("doc_id") % 2 === 1),
        "doc_id", "k", "n", w = 9, h = 8)
      val frames = Media.videoFrames(avis.unionByName(mp4s),
        "doc_id", "content").localCheckpoint(true)
      Media.videoNearPairs(frames, "doc_id", "dhash",
        minShared = 2, maxHashFreq = 10)
    }),

    // scene-cut detection over real frame decode: fixtures hold
    // bit-identical frames within a scene (prev_dist 0) and formula-
    // divergent hashes at each boundary; the running cut count is the
    // scene index — "one frame per scene" sampling is a filter away
    "mm_video_scenes" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 60)
        .withColumn("k", col("doc_id").cast("long"))
        .withColumn("n", ((col("doc_id") % 3 + 2) * 2).cast("int"))
        .withColumn("len", lit(2).cast("int"))
      val media = Media.genSceneAvis(ids, "doc_id", "k", "n", "len", w = 9, h = 8)
      val frames = Media.videoFrames(media, "doc_id", "content")
      Media.videoScenes(frames, "doc_id", "frame_idx", "dhash", cutDist = 8)
        .select(col("doc_id").as("media_id"), col("frame_idx"),
          col("prev_dist"), col("is_cut"), col("scene_idx"))
    }),

    // the A/V tier END-TO-END (the video mirror of src_warc_pipeline):
    // dirty AVI corpus → lenient quarantine gate → REAL frame decode →
    // scene cuts → keyframe sampling (one frame per scene) → video
    // near-dup pairs over the sampled keyframes — every stage
    // individually oracled above, the composition replayed wholesale
    "mm_video_pipeline" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 90)
        .withColumn("k", floor(col("doc_id") / 4).cast("long"))
        .withColumn("n", lit(6).cast("int"))
        .withColumn("len", lit(2).cast("int"))
      val good = Media.genSceneAvis(ids.filter(col("doc_id") % 2 === 0),
        "doc_id", "k", "n", "len", w = 9, h = 8)
      val bad = ids.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"),
          concat(lit("junk #"), col("doc_id").cast("string"))
            .cast("binary").as("content"))
      val decoded = Media.decodeVideoMetaLenient(
        good.unionByName(bad), "doc_id", "content")
      val healthy = good.join(decoded.filter(col("decode_ok"))
        .select("doc_id"), Seq("doc_id"), "left_semi")
      val frames = Media.videoFrames(healthy, "doc_id", "content")
        .localCheckpoint(true)
      val keyframes = Media
        .videoScenes(frames, "doc_id", "frame_idx", "dhash", cutDist = 8)
        .filter(col("prev_dist").isNull || col("is_cut"))
        .select(col("doc_id"), col("dhash"))
      Media.videoNearPairs(keyframes, "doc_id", "dhash",
        minShared = 2, maxHashFreq = 1000)
    }),

    // RE-ENCODED video copies: each group of 3 = [original | lossy
    // re-encode (every frame perturbed — dHashes near but never equal) |
    // trim]. Plain exact-hash pairing misses the re-encode; clustering
    // the frame-hash vocabulary (Hamming ≤ 3 components) and pairing on
    // cluster representatives finds all three pairs per group
    "mm_video_dedup_reenc" -> ((s, dir) => {
      val ids = Tables(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 36)
        .withColumn("k", floor(col("doc_id") / 3).cast("long"))
        .withColumn("p", when(col("doc_id") % 3 === 1, 1).otherwise(0).cast("int"))
        .withColumn("n", when(col("doc_id") % 3 === 2, 2).otherwise(3).cast("int"))
      val media = Media.genPatternAvisPerturbed(ids, "doc_id", "k", "p", "n",
        w = 9, h = 8)
      val frames = Media.videoFrames(media, "doc_id", "content")
        .localCheckpoint(true)
      Media.videoNearPairsClustered(frames, "doc_id", "dhash",
        maxDist = 3, minShared = 2)
    }),

    // ---- streaming (file stream over the events table, AvailableNow) ----
    // DataSource v2 queue source (the AMQP/NSQ stand-in) driven end-to-end:
    // deterministic messages → micro-batch stream → aggregate
    "stream_queue_source" -> ((s, dir) => {
      withShufflePartitions(s, 8) {
      import graft.streaming.MessageQueues
      MessageQueues.clear("verify_q")
      MessageQueues.push("verify_q", "alpha", "beta", "alpha", "gamma", "beta", "alpha")
      val src = s.readStream.format("graft.streaming.QueueSourceProvider")
        .option("queue", "verify_q").load()
      Streams.runToMemoryComplete(s, src.groupBy("body").count().withColumnRenamed("count", "cnt"))
      }
    }),

    "stream_tumbling_counts" -> ((s, dir) => {
      withShufflePartitions(s, 8) {
      withNanosAsLong(s)
      val schema = graft.core.Tables.source(s, s"$dir/events.parquet").schema
      val ev = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ts_t", tsTCol(schema("ts").dataType))
      val counts = Streams.windowedCounts(ev, "ts_t", "1 hour", None, "1 hour",
        Seq("event_type"))
      Streams.runToMemoryComplete(s, counts, outputMode = "complete")
      }
    }),

    "stream_sliding_counts" -> ((s, dir) => {
      withShufflePartitions(s, 8) {
      withNanosAsLong(s)
      val schema = graft.core.Tables.source(s, s"$dir/events.parquet").schema
      val ev = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ts_t", tsTCol(schema("ts").dataType))
      val counts = Streams.windowedCounts(ev, "ts_t", "1 hour", Some("30 minutes"),
        "1 hour", Seq("event_type"))
      Streams.runToMemoryComplete(s, counts, outputMode = "complete")
      }
    }),

    "stream_session_counts" -> ((s, dir) => {
      withShufflePartitions(s, 8) {
      withNanosAsLong(s)
      val schema = graft.core.Tables.source(s, s"$dir/events.parquet").schema
      val ev = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ts_t", tsTCol(schema("ts").dataType))
      val counts = Streams.sessionCounts(ev, "ts_t", "30 minutes", "1 hour",
        Seq("user_id"))
      Streams.runToMemoryComplete(s, counts, outputMode = "complete")
      }
    }),

    // curation ops are stateless scan-side predicates, so they run
    // unchanged on streams: deterministic split of an event stream,
    // aggregated per split (complete mode) — oracle is the batch equivalent
    "stream_split_counts" -> ((s, dir) => {
      withShufflePartitions(s, 8) {
      withNanosAsLong(s)
      val schema = graft.core.Tables.source(s, s"$dir/events.parquet").schema
      val ev = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val split = Curation.splitByHash(ev, "user_id")
      Streams.runToMemoryComplete(s,
        split.groupBy("split").count().withColumnRenamed("count", "cnt"),
        outputMode = "complete")
      }
    }),

    // stream–static join: the streaming side enriches against a static dim
    // (broadcast per micro-batch — no state, no watermark needed)
    "stream_static_join" -> ((s, dir) => {
      withShufflePartitions(s, 8) {
      withNanosAsLong(s)
      val schema = graft.core.Tables.source(s, s"$dir/events.parquet").schema
      val ev = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val cust = Tables(s, dir).customer
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = ev.join(cust, ev("user_id") === cust("c_custkey"))
        .groupBy("c_mktsegment").count().withColumnRenamed("count", "cnt")
      Streams.runToMemoryComplete(s, joined, outputMode = "complete")
      }
    }),

    "stream_dedup_keys" -> ((s, dir) => {
      withShufflePartitions(s, 8) {
      withNanosAsLong(s)
      val schema = graft.core.Tables.source(s, s"$dir/events.parquet").schema
      val ev = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ts_t", tsTCol(schema("ts").dataType))
      val dd = Streams.dedupWithinWatermark(ev, "ts_t", "1 hour",
        Seq("user_id", "event_type"))
      // distinct: state-bounded dedup guarantees no dupes only within the
      // watermark horizon; the batch-equivalence check is over the key set
      Streams.runToMemoryComplete(s, dd, outputMode = "append")
        .select("user_id", "event_type").distinct()
      }
    }),

    // streaming corpus ingest with exact content dedup: a duplicated
    // document feed (every text arrives twice under different ids, split
    // over multiple micro-batches) must land in the corpus exactly once.
    // The admitted CONTENT set is batch-order-independent, so the oracle
    // compares texts — which id survives a cross-batch duplicate is
    // arrival order, deliberately not asserted (the unit spec pins the
    // in-batch min-id rule)
    "stream_ingest_dedup" -> ((s, dir) => {
      withShufflePartitions(s, 8) {
        val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_q_").toString
        val docs = Tables(s, dir).documents.select("doc_id", "text")
        docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000L))
          .coalesce(4).write.parquet(s"$tmp/in")
        val q = Streams.ingestDedup(
          Streams.fileStream(s, s"$tmp/in", docs.schema,
            options = Map("maxFilesPerTrigger" -> "1")),
          s"$tmp/corpus", contentCols = Seq("text"), idCol = "doc_id",
          checkpoint = s"$tmp/ckpt")
        q.awaitTermination()
        s.read.parquet(s"$tmp/corpus").select("text")
      }
    }),

    // Bloom-admission streaming ingest: duplicated feed through the
    // map-only bitmap gate — corpus holds each distinct content exactly
    // once (at this fill the FP term is ~1e-17, and deterministically so:
    // probes are md5-derived, so a run either has a collision forever or
    // never — this fixture has none)
    "stream_ingest_bloom" -> ((s, dir) => {
      withShufflePartitions(s, 8) {
        val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_b_").toString
        val docs = Tables(s, dir).documents.select("doc_id", "text")
        docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000L))
          .coalesce(4).write.parquet(s"$tmp/in")
        val q = Streams.ingestBloomDedup(
          Streams.fileStream(s, s"$tmp/in", docs.schema,
            options = Map("maxFilesPerTrigger" -> "1")),
          s"$tmp/corpus", s"$tmp/bloom", idCol = "doc_id", textCol = "text",
          checkpoint = s"$tmp/ckpt")
        q.awaitTermination()
        s.read.parquet(s"$tmp/corpus").select("text")
      }
    }),

    // custom bounded per-key state (flatMapGroupsWithState with event-time
    // timeout): running count/sum per user with idle-key eviction — the
    // 100 TB-safe form for unbounded key domains. The feed arrives in one
    // AvailableNow batch and the idle timeout exceeds its span, so no key
    // evicts mid-run and the emitted totals equal the batch aggregate
    // (eviction across batches is pinned by the StreamsSpec unit). The
    // summed value is integral (event_id % 1000) so the double running_sum
    // is order-independent and hash-exact cross-engine.
    "stream_running_totals" -> ((s, dir) => {
      withShufflePartitions(s, 8) {
      withNanosAsLong(s)
      val schema = graft.core.Tables.source(s, s"$dir/events.parquet").schema
      val ev = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ts_t", tsTCol(schema("ts").dataType))
        .withColumn("ival", (col("event_id") % 1000L).cast("double"))
      val totals = Streams.runningTotalsExpiring(ev, "user_id", "ival",
        "ts_t", watermarkDelay = "1 hour", idleTimeout = "30 days")
      Streams.runToMemoryComplete(s, totals, outputMode = "append")
      }
    }),

    // stream-stream interval join (click → purchase attribution within
    // 30 min): watermark-evicted join state on both sides; inner join in
    // append mode emits each matched pair exactly once
    "stream_stream_join" -> ((s, dir) => {
      withShufflePartitions(s, 8) {
      withNanosAsLong(s)
      val schema = graft.core.Tables.source(s, s"$dir/events.parquet").schema
      def ev = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ts_t", tsTCol(schema("ts").dataType))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts_t").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts_t").as("p_ts"))
      val joined = Streams.intervalJoin(clicks, purchases,
        col("user_id") === col("p_user"), "click_ts", "p_ts",
        watermarkDelay = "1 hour", maxGap = "30 minutes")
      Streams.runToMemoryComplete(s, joined, outputMode = "append")
        .select("user_id", "click_id", "purchase_id")
      }
    })
  )

  /** DuckDB rendering of [[Curation.hashBucket]]: fold the first 4 hex chars
    * of md5(key ‖ ':' ‖ salt) to an int via instr on the hex alphabet (the
    * same trick as the mm_decode_features oracle — 16.0**k keeps the math in
    * exact-double range so it matches Spark's conv(..,16,10) bit-for-bit).
    */
  /** Shared oracle CTE chain for `dedup_dup_spans` / `dedup_strip_spans`:
    * rebuilds the span fixture (boilerplate suffix on every third doc,
    * verbatim copy of every seventh), the positional 3-gram postings, the
    * corpus-wide occurrence filter (total occurrences, n >= 2), and the
    * run merge (windows <= 3 apart chain into one island) — the DuckDB
    * mirror of `Spans.duplicateSpans`.
    */
  private val spanOraclePrefix: String =
    """base AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
      |    THEN text || ' LICENSE HEADER COMMON TO MANY DOCUMENTS IN CORPUS'
      |    ELSE text END AS text FROM documents),
      |  corpus AS (SELECT doc_id, text FROM base
      |    UNION ALL SELECT doc_id + 1000000, text FROM base WHERE doc_id % 7 = 0),
      |  tok AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM corpus),
      |  pv0 AS (SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN []
      |    ELSE list_transform(range(1, len(w) - 1), i ->
      |      struct_pack(pos := i - 1, sng := array_to_string(w[i:i+2], ' '))) END) AS u FROM tok),
      |  pv AS (SELECT doc_id, u.pos AS pos, u.sng AS sng FROM pv0),
      |  hits AS (SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos, count(*) OVER (PARTITION BY sng) AS n FROM pv) WHERE n >= 2),
      |  runs AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM (
      |    SELECT doc_id, pos, CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
      |      OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 3 THEN 1 ELSE 0 END AS brk FROM hits))""".stripMargin

  /** DuckDB rendering of [[graft.ext.Lm.unigramModel]] (English reference
    * slice, maxVocab 4096) + [[graft.ext.Lm.scoreUnigram]] over
    * `documents` — shared by `text_lm_score` and `text_lm_persisted` (the
    * stored model round-trips losslessly, so both queries have the same
    * oracle).
    */
  /** The text_lm_bigram / text_lm_bigram_persisted oracle: the full
    * stupid-backoff pipeline re-derived in DuckDB (see the map entry
    * comments for the construction).
    */
  private val bigramScoreOracleSql: String =
    """WITH rt AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |    FROM documents WHERE lang = 'en' AND length(trim(text)) > 0),
        |  counts AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM rt GROUP BY 1),
        |  kept AS (SELECT w, c FROM counts ORDER BY c DESC, w LIMIT 4096),
        |  st AS (SELECT (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM counts) AS n_tok,
        |                (SELECT CAST(count(*) AS BIGINT) FROM kept) AS v),
        |  vocab AS (SELECT w, CAST(floor(ln((c + 1.0) / (n_tok + v + 1)) * 1000 + 0.5) AS BIGINT) AS lp
        |    FROM kept CROSS JOIN st),
        |  oov AS (SELECT CAST(floor(ln(1.0 / (n_tok + v + 1)) * 1000 + 0.5) AS BIGINT) AS lp FROM st),
        |  rtl AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |    FROM documents WHERE lang = 'en' AND length(trim(text)) > 0),
        |  rp AS (SELECT doc_id, unnest(list_transform(range(2, len(t) + 1),
        |      i -> struct_pack(w1 := t[i-1], w2 := t[i]))) AS p FROM rtl),
        |  bp AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM rp),
        |  bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bp
        |    JOIN kept k1 ON bp.w1 = k1.w
        |    JOIN kept k2 ON bp.w2 = k2.w
        |    GROUP BY w1, w2 ORDER BY c12 DESC, w1, w2 LIMIT 512),
        |  bi AS (SELECT w1, w2, CAST(floor(ln(CAST(c12 AS DOUBLE) / c.c) * 1000 + 0.5) AS BIGINT) AS lp2
        |    FROM bc JOIN counts c ON bc.w1 = c.w),
        |  dt AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |    FROM documents WHERE length(trim(text)) > 0),
        |  dp AS (SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
        |      i -> struct_pack(w1 := CASE WHEN i = 1 THEN CAST(NULL AS VARCHAR) ELSE t[i-1] END, w2 := t[i]))) AS p FROM dt),
        |  dr AS (SELECT doc_id, p.w1 AS dw1, p.w2 AS dw2 FROM dp),
        |  sc AS (SELECT doc_id, dw2,
        |      CASE WHEN dw1 IS NULL THEN coalesce(v.lp, o.lp)
        |           ELSE coalesce(b.lp2, -916 + coalesce(v.lp, o.lp)) END AS lp
        |    FROM dr LEFT JOIN vocab v ON dr.dw2 = v.w
        |    LEFT JOIN bi b ON dr.dw1 = b.w1 AND dr.dw2 = b.w2
        |    CROSS JOIN oov o),
        |  agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |      CAST(sum(lp) AS BIGINT) AS sum_lp_milli FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_tokens, sum_lp_milli,
        |  CAST(floor(CAST(sum_lp_milli AS DOUBLE) / n_tokens + 0.5) AS BIGINT) AS avg_lp_milli
        |FROM agg
        |UNION ALL
        |SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |FROM documents WHERE length(trim(text)) = 0""".stripMargin

  private val lmScoreOracleSql: String =
    """WITH rt AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |    FROM documents WHERE lang = 'en' AND length(trim(text)) > 0),
      |  counts AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM rt GROUP BY 1),
      |  kept AS (SELECT w, c FROM counts ORDER BY c DESC, w LIMIT 4096),
      |  st AS (SELECT (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM counts) AS n_tok,
      |                (SELECT CAST(count(*) AS BIGINT) FROM kept) AS v),
      |  vocab AS (SELECT w,
      |      CAST(floor(ln((c + 1.0) / (n_tok + v + 1)) * 1000 + 0.5) AS BIGINT) AS lp
      |    FROM kept CROSS JOIN st),
      |  oov AS (SELECT CAST(floor(ln(1.0 / (n_tok + v + 1)) * 1000 + 0.5) AS BIGINT) AS lp
      |    FROM st),
      |  dt AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |    FROM documents WHERE length(trim(text)) > 0),
      |  ds AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |      CAST(sum(coalesce(vocab.lp, oov.lp)) AS BIGINT) AS sum_lp
      |    FROM dt LEFT JOIN vocab USING (w) CROSS JOIN oov GROUP BY doc_id)
      |SELECT d.doc_id, CAST(coalesce(ds.n_tokens, 0) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(ds.sum_lp, 0) AS BIGINT) AS sum_lp_milli,
      |  CAST(CASE WHEN ds.n_tokens IS NULL THEN 0
      |    ELSE floor(CAST(ds.sum_lp AS DOUBLE) / ds.n_tokens + 0.5) END AS BIGINT) AS avg_lp_milli
      |FROM documents d LEFT JOIN ds USING (doc_id)""".stripMargin

  private def duckBucket(keyExpr: String, buckets: Int, salt: String): String =
    s"""CAST(list_sum(list_transform(range(1, 5),
       |    k -> (instr('0123456789abcdef', substr(md5($keyExpr || ':$salt'), CAST(k AS INT), 1)) - 1)
       |         * (16.0 ** (4 - k)))) AS BIGINT) % $buckets""".stripMargin

  /** DuckDB rendering of [[graft.functions.TextFunctions.qualityPerMille]]
    * over `documents`: projects `doc_id`, any `extraCols`, and `quality_pm`.
    */
  private def duckQualityPm(extraCols: String*): String = {
    val extra = extraCols.map(c => s"$c, ").mkString
    s"""SELECT doc_id, ${extra}CAST(floor(
       |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
       |    * (1.0 - least(CAST(punct_pm AS DOUBLE) / 300.0, 1.0)) * 1000 + 0.5) AS BIGINT) AS quality_pm
       |  FROM (SELECT doc_id, $extra
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
       |    CASE WHEN length(text) = 0 THEN 0
       |      ELSE floor((length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))) * 1000.0 / length(text) + 0.5) END AS punct_pm
       |  FROM documents)""".stripMargin
  }

  /** Every rows-only key (a [[queries]] entry with no [[oracleSql]]) must
    * name an oracled companion gate here — a hash-verified query exercising
    * the same code path (the ANN recall-gate pattern: approximate indexes
    * can't be SQL-oracled directly, but their planted-duplicate retrieval
    * can). [[graft.SparkEntrySpec]] enforces the pairing structurally, so a
    * key can never again land rows-only without a named correctness gate.
    */
  def rowsOnlyGates: Map[String, String] = Map(
    // ann_ivf / ann_pq graduated to FULL oracles in r13 (the oracle
    // read_parquet()s the persisted centroids/codebooks and re-derives
    // assignment + search in SQL); the two keys left are the genuinely
    // irreducible ones: a wall-clock id generator and a driver-side
    // iterative merge loop.
    "xf_idkey_snowflake"  -> "xf_idkey_snowflake_gate",
    "text_bpe_counts"     -> "text_bpe_counts_gate")

  /** The per-bit sign-LSH bucket assembly as DuckDB SQL over a column `v`
    * (list of DOUBLE): each hyperplane is inlined as a literal list and
    * contributes its bit iff the projection is positive — the exact
    * semantics of [[graft.functions.SignLshBucketExpr]]. Shared by every
    * oracle that models a sign-LSH index instead of assuming recall.
    */
  private def lshBitTermsSql(lshBits: Int, dim: Int, seed: Int): String = {
    val planes = graft.functions.SignLshBucketExpr.planesFor(lshBits, dim, seed)
    planes.zipWithIndex.map { case (p, b) =>
      val lst = p.map(_.toString).mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, ${dim + 1}), " +
        s"i -> v[i] * ($lst)[i])) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("\n   + ")
  }

  /** Full-pipeline oracle for `ann_lsh_topk`: the sign-LSH hyperplanes are
    * deterministic plan-time constants ([[graft.functions.SignLshBucketExpr
    * .planesFor]]), so the SQL can REPLICATE the whole pipeline — per-bit
    * plane projections (planes inlined as literals), the bucket assembly,
    * the multi-probe set (query bucket + the first `probes-1` single-bit
    * flips), and the exact-cosine rescore — in an independent engine.
    * That is a strictly stronger check than the previous rows-only +
    * recall-gate pairing: it pins the bucketing itself, with NO
    * total-recall assumption (measured recall at these parameters is far
    * from total on this near-random corpus — single-table sign-LSH cannot
    * hash-match brute force here, which is exactly why the oracle must
    * model the index, not the exhaustive ranking).
    *
    * Sign-boundary caveat: both engines sum the projection in doubles; a
    * projection within float-rounding distance of 0 could in principle
    * flip a bit between engines (same order of magnitude of risk as the
    * round(score,4) tie convention every float oracle here accepts).
    */
  private def lshTopkOracleSql(lshBits: Int, dim: Int, seed: Int,
                               probes: Int, queryId: Long, k: Int): String = {
    val bitTerms = lshBitTermsSql(lshBits, dim, seed)
    val probeList = (Seq("q.qb") ++
      (0 until math.max(probes - 1, 0)).map(b => s"xor(q.qb, ${1L << b})"))
      .mkString(", ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |b AS (SELECT vec_id, v,
       |   $bitTerms AS bkt FROM e),
       |q AS (SELECT v AS qv, bkt AS qb FROM b WHERE vec_id = $queryId),
       |cand AS (SELECT b.vec_id, b.v, q.qv FROM b, q
       |  WHERE b.vec_id <> $queryId AND b.bkt IN ($probeList))
       |SELECT vec_id, round(list_sum(list_transform(range(1, ${dim + 1}), i -> v[i] * qv[i]))
       |  / sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> v[i] * v[i]))
       |       * list_sum(list_transform(range(1, ${dim + 1}), i -> qv[i] * qv[i]))), 4) AS score
       |FROM cand ORDER BY score DESC, vec_id LIMIT $k""".stripMargin
  }

  /** BM25 over the whole `documents` corpus for terms (hash, join, vector),
    * top 20 — one oracle shared by the scan form (`search_bm25`), the
    * persisted-index form (`search_bm25_indexed`), and the build+append
    * form (`search_bm25_index_append`): all three must produce identical
    * corpus-wide scores, so index bucketing / dl denormalization / stats
    * segmenting cannot drift without breaking the hash.
    */
  private val bm25OracleSql: String =
    """WITH dl AS (SELECT doc_id AS id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS dl
      |  FROM documents),
      |  c AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |  tf AS (SELECT id, w, count(*) AS tf FROM (
      |    SELECT doc_id AS id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |    FROM documents WHERE length(trim(text)) > 0)
      |    WHERE w IN ('hash', 'join', 'vector') GROUP BY 1, 2),
      |  dft AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      |  ctr AS (SELECT tf.id, tf.w,
      |    ln((c.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
      |      * (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / c.avgdl)) AS cb
      |  FROM tf JOIN dft USING (w) JOIN dl ON tf.id = dl.id CROSS JOIN c),
      |  pt AS (SELECT id,
      |    sum(CASE WHEN w = 'hash' THEN cb END) AS c1,
      |    sum(CASE WHEN w = 'join' THEN cb END) AS c2,
      |    sum(CASE WHEN w = 'vector' THEN cb END) AS c3
      |  FROM ctr GROUP BY id)
      |SELECT id AS doc_id,
      |  round(coalesce(c1, 0) + coalesce(c2, 0) + coalesce(c3, 0), 4) AS score
      |FROM pt ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Shared CTE block for the batch-BM25 oracles: the (query, term) frame,
    * corpus stats, term frequencies, and the MICRO-UNIT integer per-term
    * contributions summed per (query, doc) — replicating
    * [[graft.ext.SearchIndex.bm25TopKIndexedMany]]'s quantized aggregation
    * exactly (integer sums are immune to float addition order, so the
    * whole batch path is hash-exact cross-engine).
    */
  private val bm25BatchCtesSql: String =
    """qt(query_id, w) AS (
      |    VALUES (1, 'hash'), (1, 'join'), (2, 'vector'), (2, 'scan'),
      |           (3, 'stream'), (3, 'window'), (3, 'dup')),
      |  dl AS (SELECT doc_id AS id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS dl
      |    FROM documents),
      |  c AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |  tf AS (SELECT id, w, count(*) AS tf FROM (
      |      SELECT doc_id AS id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |      FROM documents WHERE length(trim(text)) > 0)
      |    WHERE w IN (SELECT w FROM qt) GROUP BY 1, 2),
      |  dft AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      |  ctr AS (SELECT qt.query_id, tf.id,
      |      CAST(round(ln((c.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
      |        * (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / c.avgdl))
      |        * 1000000) AS BIGINT) AS cu
      |    FROM tf JOIN dft USING (w) JOIN qt USING (w) JOIN dl ON tf.id = dl.id CROSS JOIN c),
      |  scg AS (SELECT query_id, id, CAST(sum(cu) AS BIGINT) AS score_u FROM ctr GROUP BY 1, 2)""".stripMargin

  /** Full-pipeline oracle for `ann_knn_bucket` — the same model-the-index
    * promotion `ann_lsh_topk` got in r10, for the BATCH k-NN path: DuckDB
    * recomputes every vector's sign-LSH bucket (planes inlined via
    * [[lshBitTermsSql]]), self-joins corpus×queries on the bucket, rescores
    * with exact cosine rounded to 4, and keeps each query's top `k` by
    * (score desc, corpus_id asc) — replicating [[graft.ext.Similarity
    * .bucketJoinKnn]]'s window rank exactly, with no recall assumption.
    * Rounding comes BEFORE ranking on both sides, so rounded ties break on
    * corpus_id identically in both engines.
    */
  private def knnBucketOracleSql(lshBits: Int, dim: Int, seed: Int,
                                 maxQueryId: Long, k: Int): String = {
    val bitTerms = lshBitTermsSql(lshBits, dim, seed)
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |b AS (SELECT vec_id, v,
       |   $bitTerms AS bkt FROM e),
       |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |  round(list_sum(list_transform(range(1, ${dim + 1}), i -> c.v[i] * q.v[i]))
       |    / sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> c.v[i] * c.v[i]))
       |         * list_sum(list_transform(range(1, ${dim + 1}), i -> q.v[i] * q.v[i]))), 4) AS score
       |  FROM b c JOIN b q ON c.bkt = q.bkt
       |  WHERE q.vec_id < $maxQueryId AND c.vec_id <> q.vec_id)
       |SELECT query_id, corpus_id, score FROM (
       |  SELECT query_id, corpus_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS rk
       |  FROM scored) WHERE rk <= $k""".stripMargin
  }

  /** Shared DuckDB CTE prefix for the SemDeDup oracles
    * (`dedup_semantic_pairs`, `dedup_semantic`): the copies fixture, the
    * k=16 hash-ordered anchors, the argmax-cosine cell assignment (ties →
    * lowest cell, matching the Spark side's greatest-struct on
    * (cos, -cell)), and the within-cell exact-cosine pairs. Parameters
    * (k, dim=64, +1000000 copies) must stay in sync with the query
    * entries. Yields CTEs `u`, `anch`, `sc`, `asg`, `pr`; consumers append
    * the threshold filter so pair keys and closure keys share one prefix.
    */
  private val semanticOraclePrefix: String = {
    def cos(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))" +
        s" / sqrt(list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)))" +
        s" * list_sum(list_transform(range(1, 65), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))"
    s"""u AS (SELECT vec_id AS id, embedding AS v FROM embeddings
       |    UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings),
       |  anch AS (SELECT CAST(rn - 1 AS INTEGER) AS cell, v FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn, v
       |    FROM u) WHERE rn <= 16),
       |  sc AS (SELECT u.id, u.v, a.cell, ${cos("u.v", "a.v")} AS cos
       |    FROM u CROSS JOIN anch a),
       |  asg AS (SELECT id, v, cell FROM (SELECT id, v, cell,
       |      row_number() OVER (PARTITION BY id ORDER BY cos DESC, cell ASC) AS rn
       |    FROM sc) WHERE rn = 1),
       |  pr AS (SELECT a.cell, a.id AS id_a, b.id AS id_b, ${cos("a.v", "b.v")} AS cos
       |    FROM asg a JOIN asg b ON a.cell = b.cell AND a.id < b.id)""".stripMargin
  }

  /** Full-pipeline oracle for `dedup_semantic_incremental`: DuckDB
    * re-derives the frozen corpus anchors (k=16, hash order), assigns BOTH
    * corpus and batch to cells by argmax cosine, closes the within-batch
    * within-cell pair graph recursively (dup_batch = non-min members), and
    * matches survivors against same-cell corpus vectors (dup_corpus).
    * Verdict precedence mirrors `Dedup.semanticDedupIncremental` exactly.
    */
  private val semanticIncrementalOracleSql: String = {
    def cos(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))" +
        s" / sqrt(list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)))" +
        s" * list_sum(list_transform(range(1, 65), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))"
    s"""WITH RECURSIVE corpus AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
       |  anch AS (SELECT CAST(rn - 1 AS INTEGER) AS cell, v FROM (
       |    SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn, v
       |    FROM corpus) WHERE rn <= 16),
       |  batch AS (
       |    SELECT vec_id + 1000000 AS id, embedding AS v FROM embeddings WHERE vec_id % 2 = 0
       |    UNION ALL SELECT vec_id + 2000000, list_transform(embedding, x -> -x)
       |      FROM embeddings WHERE vec_id % 2 = 1
       |    UNION ALL SELECT vec_id + 3000000, list_transform(embedding, x -> -x)
       |      FROM embeddings WHERE vec_id % 2 = 1),
       |  casg AS (SELECT id, v, cell FROM (SELECT c.id, c.v, a.cell,
       |      row_number() OVER (PARTITION BY c.id
       |        ORDER BY ${cos("c.v", "a.v")} DESC, a.cell ASC) AS rn
       |    FROM corpus c CROSS JOIN anch a) WHERE rn = 1),
       |  basg AS (SELECT id, v, cell FROM (SELECT b.id, b.v, a.cell,
       |      row_number() OVER (PARTITION BY b.id
       |        ORDER BY ${cos("b.v", "a.v")} DESC, a.cell ASC) AS rn
       |    FROM batch b CROSS JOIN anch a) WHERE rn = 1),
       |  bp AS (SELECT a.id AS id_a, b.id AS id_b FROM basg a
       |    JOIN basg b ON a.cell = b.cell AND a.id < b.id
       |    WHERE ${cos("a.v", "b.v")} >= 0.999),
       |  edges AS (SELECT id_a AS s, id_b AS d FROM bp
       |    UNION SELECT id_b, id_a FROM bp),
       |  walk AS (SELECT s AS id, s AS comp FROM edges
       |    UNION SELECT e.s, w.comp FROM edges e JOIN walk w ON e.d = w.id),
       |  comp AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
       |  xdup AS (SELECT DISTINCT b.id FROM basg b JOIN casg c ON b.cell = c.cell
       |    WHERE ${cos("b.v", "c.v")} >= 0.999)
       |SELECT b.id,
       |  CASE WHEN comp.comp IS NOT NULL AND comp.comp <> b.id THEN 'dup_batch'
       |       WHEN EXISTS (SELECT 1 FROM xdup x WHERE x.id = b.id) THEN 'dup_corpus'
       |       ELSE 'admitted' END AS verdict
       |FROM batch b LEFT JOIN comp ON b.id = comp.id""".stripMargin
  }

  /** Shared oracle for `dedup_near_incremental` AND `dedup_near_classify`
    * (identical pipeline output; the keys differ only in what their bench
    * timing covers — build+classify vs classify against a primed index).
    */
  private val nearIncrementalOracleSql: String =
    """WITH RECURSIVE corpus AS (SELECT doc_id AS id, text FROM documents),
      |  batch AS (
      |    SELECT doc_id + 1000000 AS id, text FROM documents WHERE doc_id % 2 = 0
      |    UNION ALL
      |    SELECT doc_id + 2000000 AS id,
      |      'qz'||CAST(doc_id AS VARCHAR)||'a qz'||CAST(doc_id AS VARCHAR)||'b qz'||
      |      CAST(doc_id AS VARCHAR)||'c qz'||CAST(doc_id AS VARCHAR)||'d qz'||
      |      CAST(doc_id AS VARCHAR)||'e' AS text
      |    FROM documents WHERE doc_id % 2 = 1
      |    UNION ALL
      |    SELECT doc_id + 3000000 AS id,
      |      'qz'||CAST(doc_id AS VARCHAR)||'a qz'||CAST(doc_id AS VARCHAR)||'b qz'||
      |      CAST(doc_id AS VARCHAR)||'c qz'||CAST(doc_id AS VARCHAR)||'d qz'||
      |      CAST(doc_id AS VARCHAR)||'e' AS text
      |    FROM documents WHERE doc_id % 2 = 1),
      |  btok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM batch),
      |  bsh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
      |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM btok),
      |  bsz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM bsh),
      |  binv AS (SELECT id, unnest(s) AS sng FROM bsh),
      |  ctok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM corpus),
      |  csh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
      |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM ctok),
      |  csz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM csh),
      |  cinv AS (SELECT id, unnest(s) AS sng FROM csh),
      |  bpr AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      |    FROM binv a JOIN binv b ON a.sng = b.sng AND a.id < b.id GROUP BY 1, 2),
      |  bp AS (SELECT bpr.id_a, bpr.id_b FROM bpr
      |    JOIN bsz sa ON bpr.id_a = sa.id JOIN bsz sb ON bpr.id_b = sb.id
      |    WHERE CAST(bpr.inter AS DOUBLE) / (sa.n + sb.n - bpr.inter) >= 0.5),
      |  edges AS (SELECT id_a AS s, id_b AS d FROM bp
      |    UNION SELECT id_b, id_a FROM bp),
      |  walk AS (SELECT s AS id, s AS comp FROM edges
      |    UNION SELECT e.s, w.comp FROM edges e JOIN walk w ON e.d = w.id),
      |  comp AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
      |  xpr AS (SELECT b.id AS bid, c.id AS cid, count(*) AS inter
      |    FROM binv b JOIN cinv c ON b.sng = c.sng GROUP BY 1, 2),
      |  xdup AS (SELECT DISTINCT xpr.bid FROM xpr
      |    JOIN bsz ON xpr.bid = bsz.id JOIN csz ON xpr.cid = csz.id
      |    WHERE CAST(xpr.inter AS DOUBLE) / (bsz.n + csz.n - xpr.inter) >= 0.5)
      |SELECT b.id,
      |  CASE WHEN comp.comp IS NOT NULL AND comp.comp <> b.id THEN 'dup_batch'
      |       WHEN EXISTS (SELECT 1 FROM xdup x WHERE x.bid = b.id) THEN 'dup_corpus'
      |       ELSE 'admitted' END AS verdict
      |FROM batch b LEFT JOIN comp ON b.id = comp.id""".stripMargin

  /** DuckDB oracle SQL per query (same parquet tables, bare table names).
    * Omitted keys (xxhash64/sign-LSH-based ops) get a rows-only check.
    */
  def oracleSql: Map[String, String] = {
    val m = oracleSqlBase
    // layout-variant keys replay their base key's SQL verbatim — the
    // varied dimension (video container / PDF object layout) never enters
    // the algebra, and that is exactly what the shared oracle proves
    // the scrub oracles are their base meta oracles + constant TRUE
    // flags: scrubbing must leave every decode fact bit-identical, and
    // THAT is what sharing the SQL proves
    def withFlags(base: String, flags: String): String =
      base.replace("\nFROM ids", s",\n  $flags\nFROM ids")
    m + ("mm_video_dedup_mixed" -> m("mm_video_dedup")) +
      // audio-first track order never enters the algebra: the hdlr-typed
      // selection must yield frames identical to the video-first fixture
      ("mm_mp4_frames_avorder" -> m("mm_mp4_frames")) +
      // fragmentation never enters the frame/keyframe algebra: the fMP4
      // fixtures carry byte-identical payloads and fragment size = the
      // planted stss step, so both SQLs replay verbatim
      ("mm_mp4_frag_frames" -> m("mm_mp4_frames")) +
      ("mm_mp4_frag_keyframes" -> m("mm_mp4_keyframes")) +
      // moov-LESS media segments (styp/sidx): same pattern payloads
      // through the sidx-bound walk — both SQLs replay verbatim
      ("mm_mp4_segment_frames" -> m("mm_mp4_frames")) +
      ("mm_mp4_segment_keyframes" -> m("mm_mp4_keyframes")) +
      // same page-text formula; only the header version differs (ObjStm
      // is a PDF 1.5 feature, and the fixture headers say so)
      ("mm_pdf_objstm" -> m("mm_pdf_unicode").replace("'1.4'", "'1.5'")) +
      ("mm_audio_scrub" ->
        withFlags(m("mm_audio_meta"), "TRUE AS meta_stripped")) +
      ("mm_video_scrub" ->
        withFlags(m("mm_video_meta"), "TRUE AS meta_stripped")) +
      ("mm_mp4_scrub" ->
        withFlags(m("mm_mp4_meta"),
          "TRUE AS meta_zeroed, TRUE AS size_preserved")) +
      ("mm_mp4_frag_scrub" ->
        withFlags(m("mm_mp4_frag_meta"),
          "TRUE AS meta_zeroed, TRUE AS size_preserved"))
  }

  private def oracleSqlBase: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q2_join" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q3_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q4_topk" ->
      """SELECT o_custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_custkey
        |ORDER BY spend DESC, o_custkey LIMIT 10""".stripMargin,

    "q5_percentile" ->
      """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.95) AS p95
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // the oracle asserts the tolerance gate, not the sketch internals
    "q5_approx_percentile" ->
      """SELECT l_returnflag, true AS p50_ok, true AS p95_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q6_collect" ->
      """SELECT l_returnflag,
        |  array_to_string(array_agg(DISTINCT l_linestatus ORDER BY l_linestatus), ',') AS statuses
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q7_pivot" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
        |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q8_setops" ->
      """SELECT o_custkey FROM orders
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 0
        |EXCEPT
        |SELECT DISTINCT o_custkey FROM orders WHERE o_custkey % 10 = 0""".stripMargin,

    "src_file_scan" -> "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    // gen1 = even event_ids WITHOUT value, gen2 = odd WITH value; the
    // merged scan sees value as NULL for gen1 rows
    "src_schema_evolution" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(count(CASE WHEN event_id % 2 = 1 THEN value END) AS BIGINT) AS n_val,
        |  min(CASE WHEN event_id % 2 = 1 THEN value END) AS min_val,
        |  max(CASE WHEN event_id % 2 = 1 THEN value END) AS max_val
        |FROM events GROUP BY 1""".stripMargin,

    "src_jdbc_scan" -> "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    "xf_lineparser_csv" ->
      """SELECT * FROM (VALUES
        |  ('batch_id', 'region', 'Alice', 'Spring, field', 'ok'),
        |  ('batch_id', 'region', 'Bo"b', 'NYC', 'x,y'),
        |  ('batch_id', 'region', 'Cara', 'LA', 'plain')
        |) AS t(fbatch, fregion, name, city, note)""".stripMargin,

    "xf_lineparser_rows" ->
      """SELECT * FROM (VALUES
        |  ('Alice', 'Paris'), ('Bob', 'Rome'), ('Cara', 'Oslo')
        |) AS t(name, city)""".stripMargin,

    "src_query_spec" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag HAVING count(*) > 0
        |ORDER BY l_returnflag LIMIT 5""".stripMargin,

    "xf_project_include" ->
      "SELECT l_orderkey AS okey, CAST(l_quantity AS BIGINT) AS qty, l_returnflag AS flag FROM lineitem",

    "xf_project_exclude" ->
      "SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part",

    "xf_rename" ->
      "SELECT c_custkey, c_name AS cust_name, c_nationkey, c_acctbal AS balance, c_mktsegment FROM customer",

    "xf_addfield" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal, 'graft' AS src, 1 AS flag FROM supplier",

    "xf_idkey" ->
      "SELECT n_nationkey, n_name, n_regionkey, row_number() OVER (ORDER BY n_nationkey) AS rid FROM nation",

    // the gate asserts the snowflake invariants, not the time-based ids:
    // one id per row, all distinct, all positive (same
    // tolerance-gate-as-oracle pattern as q5_approx_percentile)
    "xf_idkey_snowflake_gate" ->
      "SELECT count(*) AS n_rows, count(*) AS n_unique, true AS all_positive FROM orders",

    "xf_xml_parse" ->
      "SELECT c_name AS name, c_custkey FROM customer",

    "xf_xml_format" ->
      "SELECT c_custkey, c_mktsegment AS seg FROM customer",

    "sync_anti_insert" ->
      """SELECT * FROM orders f WHERE NOT EXISTS (
        |  SELECT 1 FROM orders t WHERE t.o_orderkey % 3 = 0 AND t.o_orderkey = f.o_orderkey)""".stripMargin,

    "sync_anti_expr_join" ->
      """SELECT * FROM orders f WHERE NOT EXISTS (
        |  SELECT 1 FROM orders t WHERE t.o_orderdate < TIMESTAMP '1995-01-01'
        |    AND t.o_custkey % 100 = f.o_custkey % 100)""".stripMargin,

    "sync_watermark" ->
      """SELECT * FROM orders WHERE o_orderdate >
        |  (SELECT max(o_orderdate) FROM orders WHERE o_orderdate < TIMESTAMP '1995-06-01')""".stripMargin,

    "sync_incr_paged" ->
      """SELECT * FROM orders WHERE o_orderdate >
        |  (SELECT max(o_orderdate) FROM orders WHERE o_orderdate < TIMESTAMP '1995-06-01')
        |ORDER BY o_orderdate, o_orderkey LIMIT 500""".stripMargin,

    "sync_upsert" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 1000 ELSE c_acctbal END AS c_acctbal,
        |  c_mktsegment
        |FROM customer
        |UNION ALL
        |SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer""".stripMargin,

    "del_where" ->
      "SELECT * FROM lineitem WHERE NOT (l_shipdate < TIMESTAMP '1994-01-01')",

    "asof_join" ->
      """WITH ord AS (
        |  SELECT o_custkey, epoch_us(o_orderdate) AS ots, o_totalprice
        |  FROM orders
        |  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) = 1),
        |e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
        |SELECT e.event_id, e.user_id, e.ts_us, ord.o_totalprice
        |FROM e ASOF LEFT JOIN ord ON e.user_id = ord.o_custkey AND e.ts_us >= ord.ots""".stripMargin,

    "asof_join_fwd" ->
      """WITH ord AS (
        |  SELECT o_custkey, epoch_us(o_orderdate) AS ots, o_totalprice
        |  FROM orders
        |  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) = 1),
        |e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
        |SELECT e.event_id, e.user_id, e.ts_us, ord.o_totalprice
        |FROM e ASOF LEFT JOIN ord ON e.user_id = ord.o_custkey AND e.ts_us <= ord.ots""".stripMargin,

    "sink_batch_insert" -> "SELECT * FROM orders",

    "sink_file_csv" -> "SELECT * FROM region",

    "sink_queue_publish" ->
      "SELECT CAST(doc_id AS VARCHAR) AS body FROM documents",

    "sink_file_xml" -> "SELECT * FROM region",

    "src_excel_roundtrip" ->
      "SELECT CAST(r_regionkey AS VARCHAR) AS r_regionkey, r_name FROM region",

    "sink_flag_dedup" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |  ORDER BY epoch_us(ts) DESC, event_id DESC) = 1""".stripMargin,

    "enrich_http" ->
      "SELECT n_nationkey, n_name, upper(n_name) || '_OK' AS enriched FROM nation",

    "dedup_exact" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT doc_id, text FROM u
        |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1""".stripMargin,

    // a faithful CONTENT join, not just the planted identity pairs: the
    // sf0.1 fixture carries a handful of naturally-duplicated texts
    // (4992 distinct of 5000), and every cross-corpus content match must
    // surface — the identity-only form undercounted by those extras
    "dedup_cross_corpus" ->
      """WITH rightc AS (
        |  SELECT doc_id + 1000000 AS rid, text AS rtext FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' novel tail' FROM documents WHERE doc_id % 3 = 1)
        |SELECT l.doc_id AS left_id, r.rid AS right_id
        |FROM documents l JOIN rightc r ON l.text = r.rtext""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH u AS (SELECT doc_id AS id, text FROM documents
        |    UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |  tok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM u),
        |  sh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM tok),
        |  sz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM sh),
        |  inv AS (SELECT id, unnest(s) AS sng FROM sh),
        |  invc AS (SELECT id, sng FROM (
        |    SELECT id, sng, count(*) OVER (PARTITION BY sng) AS df FROM inv) WHERE df <= 1000),
        |  pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |    FROM invc a JOIN invc b ON a.sng = b.sng AND a.id < b.id GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, p.inter, sa.n AS n_a, sb.n AS n_b,
        |  CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) AS jaccard
        |FROM pairs p JOIN sz sa ON p.id_a = sa.id JOIN sz sb ON p.id_b = sb.id
        |WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.5""".stripMargin,

    "dedup_span_stats" ->
      """WITH tok AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM documents),
        |  sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM tok),
        |  inv AS (SELECT doc_id, unnest(s) AS sng FROM sh),
        |  cnt AS (SELECT doc_id, count(*) AS n_shingles,
        |    CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_shingles
        |    FROM (SELECT doc_id, sng, count(*) OVER (PARTITION BY sng) AS df FROM inv)
        |    GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(c.n_shingles, 0) AS BIGINT) AS n_shingles,
        |  CAST(coalesce(c.dup_shingles, 0) AS BIGINT) AS dup_shingles,
        |  CAST(CASE WHEN coalesce(c.n_shingles, 0) = 0 THEN 0
        |    ELSE floor(c.dup_shingles * 1000.0 / c.n_shingles + 0.5) END AS BIGINT) AS dup_pm
        |FROM documents d LEFT JOIN cnt c ON d.doc_id = c.doc_id""".stripMargin,

    "dedup_dup_spans" ->
      (s"WITH $spanOraclePrefix\n" +
        """SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
          |  CAST(max(pos) + 3 AS BIGINT) AS span_end
          |FROM runs GROUP BY doc_id, isl""".stripMargin),

    "dedup_strip_spans" ->
      (s"WITH $spanOraclePrefix,\n" +
        """  spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 3 AS e
          |    FROM runs GROUP BY doc_id, isl),
          |  sl AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans
          |    FROM spans GROUP BY doc_id),
          |  cleaned AS (SELECT t.doc_id, t.w,
          |      list_filter(range(0, len(t.w)), i ->
          |        len(list_filter(coalesce(sl.spans, []), sp -> i >= sp.s AND i < sp.e)) = 0) AS kept
          |    FROM tok t LEFT JOIN sl ON t.doc_id = sl.doc_id)
          |SELECT doc_id,
          |  coalesce(array_to_string(list_transform(kept, i -> w[CAST(i + 1 AS INTEGER)]), ' '), '') AS clean_text,
          |  CAST(len(w) - len(kept) AS BIGINT) AS n_removed
          |FROM cleaned""".stripMargin),

    "dedup_strip_lines" ->
      """WITH mt AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
        |    THEN concat_ws(chr(10), text, text, 'END ' || doc_id)
        |    ELSE concat_ws(chr(10), text, 'END ' || doc_id) END AS mtext FROM documents),
        |  ln AS (SELECT doc_id, list_filter(list_transform(string_split(mtext, chr(10)),
        |    l -> trim(l)), l -> length(l) > 0) AS ls FROM mt),
        |  pv AS (SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
        |    i -> struct_pack(no := i - 1, line := ls[i]))) AS u FROM ln),
        |  inv AS (SELECT doc_id, u.no AS no, u.line AS line FROM pv),
        |  dup AS (SELECT line FROM (SELECT line, count(*) AS n FROM inv GROUP BY 1) WHERE n >= 2),
        |  rm AS (SELECT doc_id, list(no) AS rmno FROM inv
        |    WHERE line IN (SELECT line FROM dup) GROUP BY doc_id),
        |  je AS (SELECT l.doc_id, l.ls, coalesce(r.rmno, []) AS rmno
        |    FROM ln l LEFT JOIN rm r ON l.doc_id = r.doc_id),
        |  ke AS (SELECT doc_id, ls, list_filter(range(0, len(ls)),
        |    i -> NOT list_contains(rmno, i)) AS kept FROM je)
        |SELECT doc_id,
        |  coalesce(array_to_string(list_transform(kept, i -> ls[CAST(i + 1 AS INTEGER)]), chr(10)), '') AS clean_text,
        |  CAST(len(ls) - len(kept) AS BIGINT) AS n_removed_lines FROM ke""".stripMargin,

    "dedup_incremental" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        |  batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |    UNION ALL SELECT doc_id + 1000000, text FROM corpus WHERE doc_id % 7 = 0),
        |  b1 AS (SELECT doc_id, text FROM batch
        |    QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
        |SELECT doc_id FROM b1
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b1.text)""".stripMargin,

    // the Bloom bitmap replayed as set-membership: h1/h2 are the 12-hex-char
    // md5 prefix folds (exact in doubles: 16^12 < 2^53), h2 forced odd,
    // probe_i = (h1 + i*h2) mod 2^20; maybe_dup = all 7 probes present in
    // the corpus position set — EXACTLY the bitmap test, false positives
    // and all
    "dedup_bloom" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        |  batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |    UNION ALL SELECT doc_id + 1000000, text FROM corpus WHERE doc_id % 7 = 0),
        |  chh AS (SELECT
        |      CAST(list_sum(list_transform(range(1, 13),
        |        k -> (instr('0123456789abcdef', substr(md5(coalesce(text, '') || ':graft:b1'), CAST(k AS INT), 1)) - 1)
        |             * (16.0 ** (12 - k)))) AS BIGINT) AS h1,
        |      CAST(list_sum(list_transform(range(1, 13),
        |        k -> (instr('0123456789abcdef', substr(md5(coalesce(text, '') || ':graft:b2'), CAST(k AS INT), 1)) - 1)
        |             * (16.0 ** (12 - k)))) AS BIGINT) | 1 AS h2
        |    FROM corpus),
        |  cp AS (SELECT DISTINCT (h1 + h2 * i) % 1048576 AS p
        |    FROM chh, unnest(range(0, 7)) t(i)),
        |  bhh AS (SELECT doc_id,
        |      CAST(list_sum(list_transform(range(1, 13),
        |        k -> (instr('0123456789abcdef', substr(md5(coalesce(text, '') || ':graft:b1'), CAST(k AS INT), 1)) - 1)
        |             * (16.0 ** (12 - k)))) AS BIGINT) AS h1,
        |      CAST(list_sum(list_transform(range(1, 13),
        |        k -> (instr('0123456789abcdef', substr(md5(coalesce(text, '') || ':graft:b2'), CAST(k AS INT), 1)) - 1)
        |             * (16.0 ** (12 - k)))) AS BIGINT) | 1 AS h2
        |    FROM batch),
        |  bp AS (SELECT doc_id, (h1 + h2 * i) % 1048576 AS p
        |    FROM bhh, unnest(range(0, 7)) t(i))
        |SELECT bp.doc_id, bool_and(cp.p IS NOT NULL) AS maybe_dup
        |FROM bp LEFT JOIN cp ON cp.p = bp.p
        |GROUP BY bp.doc_id""".stripMargin,

    // exact-Jaccard oracle for the LSH-candidate + rescore pipelines: equals
    // DuckDB's all-pairs exact Jaccard because candidate recall is total on
    // this corpus (every >=0.5 pair here has jaccard >= 0.9 — measured; the
    // S-curve places candidate probability ~1 there)
    "dedup_minhash_pairs" ->
      """WITH u AS (SELECT doc_id AS id, text FROM documents
        |    UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |  tok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM u),
        |  sh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM tok),
        |  sz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM sh),
        |  inv AS (SELECT id, unnest(s) AS sng FROM sh),
        |  pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |    FROM inv a JOIN inv b ON a.sng = b.sng AND a.id < b.id GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b,
        |  CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) AS jaccard
        |FROM pairs p JOIN sz sa ON p.id_a = sa.id JOIN sz sb ON p.id_b = sb.id
        |WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.5""".stripMargin,

    "dedup_winnow_pairs" ->
      """WITH u AS (SELECT doc_id AS id, text FROM documents
        |    UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |  tok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM u),
        |  sh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM tok),
        |  sz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM sh),
        |  inv AS (SELECT id, unnest(s) AS sng FROM sh),
        |  pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |    FROM inv a JOIN inv b ON a.sng = b.sng AND a.id < b.id GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b,
        |  CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) AS jaccard
        |FROM pairs p JOIN sz sa ON p.id_a = sa.id JOIN sz sb ON p.id_b = sb.id
        |WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.5""".stripMargin,

    "dedup_components" ->
      """WITH RECURSIVE u AS (SELECT doc_id AS id, text FROM documents
        |    UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |  tok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM u),
        |  sh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM tok),
        |  sz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM sh),
        |  inv AS (SELECT id, unnest(s) AS sng FROM sh),
        |  pr AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |    FROM inv a JOIN inv b ON a.sng = b.sng AND a.id < b.id GROUP BY 1, 2),
        |  p AS (SELECT pr.id_a, pr.id_b FROM pr
        |    JOIN sz sa ON pr.id_a = sa.id JOIN sz sb ON pr.id_b = sb.id
        |    WHERE CAST(pr.inter AS DOUBLE) / (sa.n + sb.n - pr.inter) >= 0.5),
        |  edges AS (SELECT id_a AS s, id_b AS d FROM p
        |    UNION SELECT id_b, id_a FROM p),
        |  walk AS (SELECT s AS id, s AS comp FROM edges
        |    UNION SELECT e.s, w.comp FROM edges e JOIN walk w ON e.d = w.id)
        |SELECT id, min(comp) AS comp FROM walk GROUP BY id""".stripMargin,

    "dedup_near_e2e" ->
      """WITH RECURSIVE u AS (SELECT doc_id AS id, text FROM documents
        |    UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |  tok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM u),
        |  sh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM tok),
        |  sz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM sh),
        |  inv AS (SELECT id, unnest(s) AS sng FROM sh),
        |  pr AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |    FROM inv a JOIN inv b ON a.sng = b.sng AND a.id < b.id GROUP BY 1, 2),
        |  p AS (SELECT pr.id_a, pr.id_b FROM pr
        |    JOIN sz sa ON pr.id_a = sa.id JOIN sz sb ON pr.id_b = sb.id
        |    WHERE CAST(pr.inter AS DOUBLE) / (sa.n + sb.n - pr.inter) >= 0.5),
        |  edges AS (SELECT id_a AS s, id_b AS d FROM p
        |    UNION SELECT id_b, id_a FROM p),
        |  walk AS (SELECT s AS id, s AS comp FROM edges
        |    UNION SELECT e.s, w.comp FROM edges e JOIN walk w ON e.d = w.id),
        |  dupes AS (SELECT id FROM walk GROUP BY id HAVING min(comp) <> id)
        |SELECT u.id AS doc_id, u.text FROM u
        |WHERE NOT EXISTS (SELECT 1 FROM dupes dd WHERE dd.id = u.id)""".stripMargin,

    // same exact-Jaccard semantics as the Spark pipeline: within-batch
    // min-label components (dup_batch for non-min members), then corpus
    // match >= 0.5 (dup_corpus), else admitted
    "dedup_near_incremental" -> nearIncrementalOracleSql,

    // identical pipeline output, classify-only timing — same oracle
    "dedup_near_classify" -> nearIncrementalOracleSql,

    // identical-text pairs (plain = excludes NULL text on both engines —
    // NULL simhash never enters a band bucket in Spark either)
    "dedup_simhash_pairs" ->
      """WITH u AS (SELECT doc_id AS id, text FROM documents
        |    UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT a.id AS id_a, b.id AS id_b
        |FROM u a JOIN u b ON a.text = b.text AND a.id < b.id""".stripMargin,

    "dedup_embedding_pairs" ->
      """WITH u AS (SELECT vec_id AS id, embedding AS v FROM embeddings
        |    UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings),
        |  c AS (SELECT a.id AS id_a, b.id AS id_b,
        |    list_sum(list_transform(range(1, 65), i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.v[i] AS DOUBLE) * CAST(a.v[i] AS DOUBLE)))
        |         * list_sum(list_transform(range(1, 65), i -> CAST(b.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)))) AS cos
        |  FROM u a JOIN u b ON a.id < b.id)
        |SELECT id_a, id_b, round(cos, 4) AS cos FROM c WHERE cos >= 0.999""".stripMargin,

    // full-pipeline SemDeDup oracle: DuckDB re-derives the hash-ordered
    // anchors, the argmax-cosine cell assignment, and the within-cell
    // pairs (see semanticOraclePrefix — parameters must stay in sync with
    // the dedup_semantic_pairs / dedup_semantic query entries)
    "dedup_semantic_pairs" ->
      (s"WITH $semanticOraclePrefix\n" +
        "SELECT cell, id_a, id_b, round(cos, 4) AS cos FROM pr WHERE cos >= 0.999"),

    "dedup_semantic_incremental" -> semanticIncrementalOracleSql,

    "dedup_semantic" ->
      (s"WITH RECURSIVE $semanticOraclePrefix,\n" +
        """  p AS (SELECT id_a, id_b FROM pr WHERE cos >= 0.999),
          |  edges AS (SELECT id_a AS s, id_b AS d FROM p
          |    UNION SELECT id_b, id_a FROM p),
          |  walk AS (SELECT s AS id, s AS comp FROM edges
          |    UNION SELECT e.s, w.comp FROM edges e JOIN walk w ON e.d = w.id),
          |  dupes AS (SELECT id FROM walk GROUP BY id HAVING min(comp) <> id)
          |SELECT u.id AS vec_id FROM u
          |WHERE NOT EXISTS (SELECT 1 FROM dupes dd WHERE dd.id = u.id)""".stripMargin),

    "ann_lsh_recall" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id, 1.0 AS score
        |FROM embeddings WHERE vec_id BETWEEN 1 AND 5""".stripMargin,

    // full-pipeline LSH oracle: planes inlined as literals, DuckDB
    // recomputes buckets + probes + rescore (see lshTopkOracleSql)
    "ann_lsh_topk" ->
      lshTopkOracleSql(lshBits = 6, dim = 64, seed = 42, probes = 4,
        queryId = 1L, k = 10),

    "ann_knn_recall" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id, 1.0 AS score
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    // full-pipeline batch-kNN oracle: buckets + bucket join + windowed
    // rescore all replicated in DuckDB (see knnBucketOracleSql) — the
    // parameters must stay in sync with the ann_knn_bucket query entry
    "ann_knn_bucket" ->
      knnBucketOracleSql(lshBits = 6, dim = 64, seed = 42,
        maxQueryId = 10L, k = 5),

    "ann_ivf_recall" ->
      """SELECT * FROM (VALUES (CAST(1 AS BIGINT), 1.0),
        |  (CAST(1000001 AS BIGINT), 1.0)) AS t(vec_id, score)""".stripMargin,

    "ann_ivf_batch_recall" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id, 1.0 AS score
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    "ann_ivf_append_recall" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id, 1.0 AS score
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    "ann_pq_recall" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id
        |FROM embeddings WHERE vec_id BETWEEN 1 AND 5""".stripMargin,

    "ann_pq_persisted_recall" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id
        |FROM embeddings WHERE vec_id BETWEEN 1 AND 5""".stripMargin,

    "ann_ivfpq_recall" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    "ann_ivfpq_append_recall" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    // IVF re-derived from the persisted quantizer: centroids come from the
    // artifact the query wrote (k-means fit is the ONLY non-SQL step);
    // assignment (argmin L2, ties → lowest cell), probe selection, and the
    // probed cosine top-k are all re-computed in SQL. (centroid[i] - 0.1)²
    // equals Spark's (0.1 - centroid[i])² exactly — FP negation is exact.
    "ann_ivf" ->
      """WITH cents AS (SELECT list_id, centroid
        |    FROM read_parquet('/tmp/graft_q/oracle_artifacts/ann_ivf/centroids/*.parquet')),
        |  probes AS (SELECT list_id FROM (
        |    SELECT list_id, list_sum(list_transform(range(1, 65),
        |      i -> (centroid[i] - 0.1) * (centroid[i] - 0.1))) AS d FROM cents)
        |    ORDER BY d, list_id LIMIT 2),
        |  asg AS (SELECT vec_id, embedding FROM (
        |    SELECT e.vec_id, e.embedding, c.list_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(range(1, 65),
        |          i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
        |             * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))),
        |        c.list_id) AS rk
        |    FROM embeddings e, cents c)
        |    WHERE rk = 1 AND list_id IN (SELECT list_id FROM probes))
        |SELECT vec_id,
        |  round(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * 0.1))
        |    / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
        |         * list_sum(list_transform(range(1, 65), i -> 0.1 * 0.1))), 4) AS score
        |FROM asg ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    // PQ ADC re-derived from the persisted codebooks: encode = per-subspace
    // argmin (ties → lowest code), the query's distance table = squared L2
    // of query slice vs codeword, adist = subspace-ORDERED sum of lookups
    // (list(d ORDER BY subspace) → list_sum matches Spark's sequential
    // j=0..7 accumulation); rounded to 4 decimals after ranking, like the
    // Spark side
    "ann_pq" ->
      """WITH cb AS (SELECT subspace, code, centroid
        |    FROM read_parquet('/tmp/graft_q/oracle_artifacts/ann_pq/codebooks/*.parquet')),
        |  q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |    FROM embeddings WHERE vec_id = 1),
        |  tbl AS (SELECT subspace, code,
        |      list_sum(list_transform(range(1, 9),
        |        i -> (qv[subspace*8 + i] - centroid[i]) * (qv[subspace*8 + i] - centroid[i]))) AS d
        |    FROM cb, q),
        |  enc AS (SELECT vec_id, subspace, code FROM (
        |    SELECT e.vec_id, c.subspace, c.code,
        |      row_number() OVER (PARTITION BY e.vec_id, c.subspace ORDER BY
        |        list_sum(list_transform(range(1, 9),
        |          i -> (CAST(e.embedding[c.subspace*8 + i] AS DOUBLE) - c.centroid[i])
        |             * (CAST(e.embedding[c.subspace*8 + i] AS DOUBLE) - c.centroid[i]))),
        |        c.code) AS rk
        |    FROM embeddings e, cb c WHERE e.vec_id <> 1)
        |    WHERE rk = 1),
        |  ad AS (SELECT enc.vec_id, list_sum(list(tbl.d ORDER BY enc.subspace)) AS adist
        |    FROM enc JOIN tbl ON tbl.subspace = enc.subspace AND tbl.code = enc.code
        |    GROUP BY enc.vec_id)
        |SELECT vec_id, round(adist, 4) AS adist
        |FROM ad ORDER BY ad.adist, vec_id LIMIT 10""".stripMargin,

    "ann_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
        |SELECT vec_id,
        |  round(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
        |         * list_sum(list_transform(range(1, 65), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))), 4) AS score
        |FROM embeddings, q WHERE vec_id <> 1
        |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin,

    // rescored int8 ANN recovers the exact ranking → same oracle as the
    // brute-force cosine scan
    "ann_int8_rescored" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
        |SELECT vec_id,
        |  round(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
        |         * list_sum(list_transform(range(1, 65), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))), 4) AS score
        |FROM embeddings, q WHERE vec_id <> 1
        |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin,

    // the batch ranking uses the same quantization as ann_int8_topk; per
    // query: rank by integer dot desc, corpus id asc, top 10, no self-match
    "ann_int8_batch" ->
      """WITH sc AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
        |  FROM embeddings),
        |  q8 AS (SELECT vec_id, CASE WHEN s = 0 THEN list_transform(v, x -> 0)
        |    ELSE list_transform(v, x -> CAST(round(x / s) AS INT)) END AS qa FROM sc),
        |  qq AS (SELECT vec_id AS query_id, qa AS qv FROM q8 WHERE vec_id BETWEEN 1 AND 5),
        |  scored AS (SELECT query_id, q8.vec_id AS corpus_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(qa[i] AS BIGINT) * qv[i])) AS BIGINT) AS iscore
        |    FROM q8, qq WHERE q8.vec_id <> query_id)
        |SELECT query_id, corpus_id, iscore FROM (
        |  SELECT query_id, corpus_id, iscore,
        |    row_number() OVER (PARTITION BY query_id ORDER BY iscore DESC, corpus_id) AS rk
        |  FROM scored) WHERE rk <= 10""".stripMargin,

    // sign-bit Hamming ranking: per-dim sign disagreement count — pure
    // integer, replicated dim-by-dim (no packing needed oracle-side)
    "ann_hamming_topk" ->
      """WITH sg AS (SELECT vec_id,
        |    list_transform(embedding, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS sb
        |  FROM embeddings),
        |  q AS (SELECT sb AS qb FROM sg WHERE vec_id = 1)
        |SELECT vec_id, CAST(list_sum(list_transform(range(1, 65),
        |    i -> CASE WHEN sb[i] <> qb[i] THEN 1 ELSE 0 END)) AS BIGINT) AS hdist
        |FROM sg, q WHERE vec_id <> 1
        |ORDER BY hdist, vec_id LIMIT 20""".stripMargin,

    // full two-stage pipeline: Hamming top-40 candidate cut (hdist asc, id
    // asc — deterministic), then exact-cosine rescore of ONLY those
    "ann_hamming_rescored" ->
      """WITH sg AS (SELECT vec_id,
        |    list_transform(embedding, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS sb
        |  FROM embeddings),
        |  q AS (SELECT sb AS qb FROM sg WHERE vec_id = 1),
        |  hd AS (SELECT vec_id, CAST(list_sum(list_transform(range(1, 65),
        |      i -> CASE WHEN sb[i] <> qb[i] THEN 1 ELSE 0 END)) AS BIGINT) AS hdist
        |    FROM sg, q WHERE vec_id <> 1),
        |  cand AS (SELECT vec_id FROM hd ORDER BY hdist, vec_id LIMIT 40),
        |  qv AS (SELECT embedding AS qve FROM embeddings WHERE vec_id = 1)
        |SELECT e.vec_id,
        |  round(list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qve[i] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
        |         * list_sum(list_transform(range(1, 65), i -> CAST(qve[i] AS DOUBLE) * CAST(qve[i] AS DOUBLE)))), 4) AS score
        |FROM embeddings e JOIN cand USING (vec_id), qv
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    // per query: rank by hdist asc, corpus id asc, top 10, no self-match
    "ann_hamming_batch" ->
      """WITH sg AS (SELECT vec_id,
        |    list_transform(embedding, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS sb
        |  FROM embeddings),
        |  qq AS (SELECT vec_id AS query_id, sb AS qb FROM sg WHERE vec_id BETWEEN 1 AND 5),
        |  scored AS (SELECT query_id, sg.vec_id AS corpus_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CASE WHEN sb[i] <> qb[i] THEN 1 ELSE 0 END)) AS BIGINT) AS hdist
        |    FROM sg, qq WHERE sg.vec_id <> query_id)
        |SELECT query_id, corpus_id, hdist FROM (
        |  SELECT query_id, corpus_id, hdist,
        |    row_number() OVER (PARTITION BY query_id ORDER BY hdist, corpus_id) AS rk
        |  FROM scored) WHERE rk <= 10""".stripMargin,

    "ann_int8_topk" ->
      """WITH sc AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
        |  FROM embeddings),
        |  q8 AS (SELECT vec_id, CASE WHEN s = 0 THEN list_transform(v, x -> 0)
        |    ELSE list_transform(v, x -> CAST(round(x / s) AS INT)) END AS qa FROM sc),
        |  qq AS (SELECT qa AS qv FROM q8 WHERE vec_id = 1)
        |SELECT vec_id, CAST(list_sum(list_transform(range(1, 65),
        |    i -> CAST(qa[i] AS BIGINT) * qv[i])) AS BIGINT) AS iscore
        |FROM q8, qq WHERE vec_id <> 1
        |ORDER BY iscore DESC, vec_id LIMIT 20""".stripMargin,

    "sql_text_pipeline" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tok,
        |  q FROM (
        |  SELECT doc_id, text, CAST(floor(
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
        |    * (1.0 - least(CAST(punct_pm AS DOUBLE) / 300.0, 1.0)) * 1000 + 0.5) AS BIGINT) AS q
        |  FROM (SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    CASE WHEN length(text) = 0 THEN 0
        |      ELSE floor((length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) * 1000.0 / length(text) + 0.5) END AS punct_pm
        |  FROM documents))
        |WHERE q >= 300""".stripMargin,

    // same math through the SQL registration surface
    "sql_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
        |SELECT vec_id,
        |  round(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
        |         * list_sum(list_transform(range(1, 65), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))), 4) AS score
        |FROM embeddings, q WHERE vec_id <> 1
        |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin,

    "text_stats" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |    + length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS BIGINT) AS n_bpe,
        |  CAST(CASE WHEN length(text) = 0 THEN 0
        |    ELSE floor((length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) * 1000.0 / length(text) + 0.5) END AS BIGINT) AS punct_pm,
        |  CAST(floor(length(regexp_replace(trim(text), '\s+', '', 'g')) * 1000.0 /
        |    greatest(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1) + 0.5) AS BIGINT) AS awl_milli
        |FROM documents""".stripMargin,

    "text_langid" ->
      """SELECT doc_id, CASE
        |  WHEN en = 0 AND de = 0 AND fr = 0 THEN 'und'
        |  WHEN en >= de AND en >= fr THEN 'en'
        |  WHEN de >= fr THEN 'de'
        |  ELSE 'fr' END AS lang_pred
        |FROM (SELECT doc_id,
        |  (CASE WHEN instr(' ' || lower(text) || ' ', ' the ') > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN instr(' ' || lower(text) || ' ', ' and ') > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN instr(' ' || lower(text) || ' ', ' of ') > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN instr(' ' || lower(text) || ' ', ' a ') > 0 THEN 1 ELSE 0 END) AS en,
        |  (CASE WHEN instr(' ' || lower(text) || ' ', ' der ') > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN instr(' ' || lower(text) || ' ', ' und ') > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN instr(' ' || lower(text) || ' ', ' die ') > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN instr(' ' || lower(text) || ' ', ' ein ') > 0 THEN 1 ELSE 0 END) AS de,
        |  (CASE WHEN instr(' ' || lower(text) || ' ', ' le ') > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN instr(' ' || lower(text) || ' ', ' la ') > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN instr(' ' || lower(text) || ' ', ' et ') > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN instr(' ' || lower(text) || ' ', ' un ') > 0 THEN 1 ELSE 0 END) AS fr
        |FROM documents)""".stripMargin,

    "text_quality" ->
      """SELECT doc_id, CAST(floor(
        |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
        |  * (1.0 - least(CAST(punct_pm AS DOUBLE) / 300.0, 1.0)) * 1000 + 0.5) AS BIGINT) AS quality_pm
        |FROM (SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  CASE WHEN length(text) = 0 THEN 0
        |    ELSE floor((length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) * 1000.0 / length(text) + 0.5) END AS punct_pm
        |FROM documents)""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id, CASE WHEN len(s) = 0 THEN md5(text)
        |  ELSE list_aggregate(list_transform(s, x -> md5(x)), 'min') END AS fp
        |FROM (SELECT doc_id, text, CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END AS s
        |  FROM (SELECT doc_id, text, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM documents))""".stripMargin,

    // real-codec image oracles: the dHash is re-derived straight from the
    // pattern formula (the PNG round-trip is lossless, so decode(encode(g))
    // == g); the 64-bit hash is assembled as two 32-bit halves with integer
    // shifts and recombined into a signed BIGINT (two's complement: hi ≥
    // 2^31 → subtract 2^32 before scaling) because DuckDB's ** returns
    // DOUBLE, which cannot hold 64 distinct bits
    "mm_decode" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id // 2 AS k, doc_id % 2 AS p
        |    FROM documents WHERE doc_id < 120),
        |  g AS (SELECT id, x, y,
        |      ((k*31 + x*x*3 + y*y*5 + x*y*7) % 256
        |       + p * (CASE WHEN (x + y*9) % 29 = 0 THEN 1 ELSE 0 END)) % 256 AS v
        |    FROM ids, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT DISTINCT id FROM ids) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id)
        |SELECT id AS media_id, 9 AS width, 8 AS height, 1 AS channels,
        |  'image/png' AS mime,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash
        |FROM hs""".stripMargin,

    // the scrub oracle is the RAW pattern decode (p=0, k=id): eXIf gone →
    // no orientation transform → dims stay 9×8 and the hash is the plain
    // formula grid's; meta_stripped TRUE for every row (all carried eXIf)
    "mm_image_scrub" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k
        |    FROM documents WHERE doc_id < 150),
        |  g AS (SELECT id, x, y,
        |      (k*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM ids, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT DISTINCT id FROM ids) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id)
        |SELECT id AS media_id, 9 AS width, 8 AS height, 1 AS channels,
        |  'image/png' AS mime,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash,
        |  TRUE AS meta_stripped
        |FROM hs""".stripMargin,

    // band-join pair set == the all-pairs Hamming filter (lossless by
    // pigeonhole), so the oracle IS the all-pairs filter over formula
    // hashes
    "mm_image_dedup" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id // 2 AS k, doc_id % 2 AS p
        |    FROM documents WHERE doc_id < 400),
        |  g AS (SELECT id, x, y,
        |      ((k*31 + x*x*3 + y*y*5 + x*y*7) % 256
        |       + p * (CASE WHEN (x + y*9) % 29 = 0 THEN 1 ELSE 0 END)) % 256 AS v
        |    FROM ids, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT DISTINCT id FROM ids) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id),
        |  h AS (SELECT id,
        |      CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |           ELSE hi * 4294967296 + lo END AS dh
        |    FROM hs)
        |SELECT a.id AS left_id, b.id AS right_id,
        |  CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS hdist
        |FROM h a JOIN h b ON a.id < b.id
        |WHERE bit_count(xor(a.dh, b.dh)) <= 3""".stripMargin,

    "mm_image_search" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id // 2 AS k, doc_id % 2 AS p
        |    FROM documents WHERE doc_id < 400),
        |  g AS (SELECT id, x, y,
        |      ((k*31 + x*x*3 + y*y*5 + x*y*7) % 256
        |       + p * (CASE WHEN (x + y*9) % 29 = 0 THEN 1 ELSE 0 END)) % 256 AS v
        |    FROM ids, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT DISTINCT id FROM ids) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id),
        |  h AS (SELECT id,
        |      CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |           ELSE hi * 4294967296 + lo END AS dh
        |    FROM hs)
        |SELECT query_id, corpus_id, hdist FROM (
        |  SELECT q.id AS query_id, c.id AS corpus_id,
        |    CAST(bit_count(xor(q.dh, c.dh)) AS BIGINT) AS hdist,
        |    row_number() OVER (PARTITION BY q.id
        |      ORDER BY bit_count(xor(q.dh, c.dh)), c.id) AS rk
        |  FROM h q JOIN h c ON q.id < 10 AND c.id <> q.id)
        |WHERE rk <= 5""".stripMargin,

    "mm_audio_meta" ->
      """WITH ids AS (SELECT doc_id AS id,
        |    CASE WHEN doc_id % 3 = 0 THEN 8000 WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END AS rate,
        |    CAST(doc_id % 2 + 1 AS INT) AS ch,
        |    100 + (doc_id % 50) * 10 AS frames
        |  FROM documents WHERE doc_id < 150)
        |SELECT id AS media_id, CAST(rate AS INT) AS sample_rate, ch AS channels,
        |  16 AS bits, CAST(frames AS BIGINT) AS n_frames,
        |  CAST((frames * ch * 2 * 1000) // (rate * ch * 2) AS BIGINT) AS duration_ms
        |FROM ids""".stripMargin,

    "mm_video_meta" ->
      """WITH ids AS (SELECT doc_id AS id,
        |    CASE WHEN doc_id % 3 = 0 THEN 41667 WHEN doc_id % 3 = 1 THEN 33333 ELSE 16667 END AS uspf,
        |    100 + (doc_id % 60) * 25 AS frames,
        |    320 + (doc_id % 4) * 160 AS w,
        |    240 + (doc_id % 4) * 120 AS h
        |  FROM documents WHERE doc_id < 150)
        |SELECT id AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(frames AS INT) AS n_frames, 1 AS n_streams,
        |  CAST(1000000000 // uspf AS BIGINT) AS fps_x1000,
        |  CAST(uspf * frames // 1000 AS BIGINT) AS duration_ms
        |FROM ids""".stripMargin,

    // every MP4 field re-derived from the fixture formula: brand constant,
    // integer-floor duration/fps, track count from the audio toggle
    "mm_mp4_meta" ->
      """WITH ids AS (SELECT doc_id AS d,
        |    CASE WHEN doc_id % 3 = 0 THEN 90000 WHEN doc_id % 3 = 1 THEN 30000 ELSE 12800 END AS ts,
        |    CASE WHEN doc_id % 3 = 0 THEN 3000 WHEN doc_id % 3 = 1 THEN 1001 ELSE 512 END AS dl,
        |    24 + (doc_id % 40) * 3 AS n,
        |    320 + (doc_id % 4) * 160 AS w,
        |    240 + (doc_id % 4) * 120 AS h
        |  FROM documents WHERE doc_id < 150)
        |SELECT d AS media_id, 'isom' AS major_brand,
        |  CAST(ts AS BIGINT) AS timescale,
        |  CAST(n * dl * 1000 // ts AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN d % 2 = 0 THEN 2 ELSE 1 END AS INT) AS n_tracks,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(n AS INT) AS n_frames,
        |  CAST(ts * 1000 // dl AS BIGINT) AS fps_x1000
        |FROM ids""".stripMargin,

    // JPEG scrub: dims re-derive raw (orientation tag provably gone — a
    // surviving 5..8 tag would swap them), marker-survival flags constant
    // (the APP14 keep is identifier-gated: Adobe survives, XAPP14 drops)
    "mm_image_scrub_jpeg" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id < 120)
        |SELECT id AS media_id,
        |  CAST(9 + id % 4 AS INT) AS width,
        |  CAST(8 + id % 3 AS INT) AS height,
        |  'image/jpeg' AS mime,
        |  TRUE AS adobe_kept, TRUE AS icc_kept,
        |  TRUE AS mpf_gone, TRUE AS xapp14_gone, TRUE AS trailer_gone
        |FROM ids""".stripMargin,

    // scene table: sync samples are f % step = 0, so scene_idx = f//step
    // and start_frame_idx = f; dhash is the same per-frame formula
    "mm_mp4_scenes" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k, doc_id % 5 + 4 AS n,
        |      doc_id % 3 + 2 AS step
        |    FROM documents WHERE doc_id < 80),
        |  fr AS (SELECT id, k * 8 + f AS kf, CAST(f AS INT) AS f,
        |      CAST(f // step AS INT) AS sidx
        |    FROM ids, unnest(range(0, 8)) tf(f)
        |    WHERE f < n AND f % step = 0),
        |  g AS (SELECT id, f, x, y,
        |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f, i.sidx,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f, sidx FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f, i.sidx)
        |SELECT id AS media_id, sidx AS scene_idx, f AS start_frame_idx,
        |  9 AS width, 8 AS height,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash
        |FROM hs""".stripMargin,

    // keyframe pipeline: pair (2i, 2i+1) shares pattern k=i → identical
    // stss keyframes (f = 0, 3) → one pair per group with exactly 2
    // shared signatures; cross-group kf spaces are disjoint (< 256, no
    // pattern fold), so no other pair exists
    "mm_mp4_pipeline" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id < 60)
        |SELECT CAST(id AS BIGINT) AS left_id,
        |  CAST(id + 1 AS BIGINT) AS right_id,
        |  CAST(2 AS BIGINT) AS n_shared,
        |  CAST(2 AS BIGINT) AS n_left,
        |  CAST(2 AS BIGINT) AS n_right
        |FROM ids WHERE id % 2 = 0""".stripMargin,

    // lenient scrub: the planted LIST(INFO) size re-derives from the
    // artist-string LENGTH (8 LIST hdr + 4 INFO + 8 IART hdr + text +
    // word pad); junk rows keep scrub_ok=false + the failure class
    "mm_media_scrub_lenient" ->
      """WITH ids AS (SELECT doc_id AS id,
        |    length('GRAFT-PII artist=' || CAST(doc_id AS VARCHAR)) AS len
        |  FROM documents WHERE doc_id < 150)
        |SELECT id AS media_id,
        |  CAST(id % 5 != 4 AS BOOLEAN) AS scrub_ok,
        |  CASE WHEN id % 5 = 4 THEN 'IllegalArgumentException'
        |       ELSE NULL END AS scrub_err,
        |  CAST(CASE WHEN id % 5 = 4 THEN 0
        |       ELSE 20 + len + (len % 2) END AS INT) AS bytes_removed
        |FROM ids""".stripMargin,

    // fMP4: one video track, constant trex duration — the same floor
    // math as mm_mp4_meta, sourced from the fragment walk
    "mm_mp4_frag_meta" ->
      """WITH ids AS (SELECT doc_id AS d,
        |    CASE WHEN doc_id % 3 = 0 THEN 90000 WHEN doc_id % 3 = 1 THEN 30000 ELSE 12800 END AS ts,
        |    CASE WHEN doc_id % 3 = 0 THEN 3000 WHEN doc_id % 3 = 1 THEN 1001 ELSE 512 END AS dl,
        |    24 + (doc_id % 40) * 3 AS n,
        |    320 + (doc_id % 4) * 160 AS w,
        |    240 + (doc_id % 4) * 120 AS h
        |  FROM documents WHERE doc_id < 150)
        |SELECT d AS media_id, 'isom' AS major_brand,
        |  CAST(ts AS BIGINT) AS timescale,
        |  CAST(n * dl * 1000 // ts AS BIGINT) AS duration_ms,
        |  CAST(1 AS INT) AS n_tracks,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(n AS INT) AS n_frames,
        |  CAST(ts * 1000 // dl AS BIGINT) AS fps_x1000
        |FROM ids""".stripMargin,

    // media segment: sidx supplies timescale + summed subsegment
    // durations; NO moov means no tkhd (dims 0×0) and one sidx-bound
    // track; n_frames from the explicit-field trun walk
    "mm_mp4_segment_meta" ->
      """WITH ids AS (SELECT doc_id AS d,
        |    CASE WHEN doc_id % 3 = 0 THEN 90000 WHEN doc_id % 3 = 1 THEN 30000 ELSE 12800 END AS ts,
        |    CASE WHEN doc_id % 3 = 0 THEN 3000 WHEN doc_id % 3 = 1 THEN 1001 ELSE 512 END AS dl,
        |    24 + (doc_id % 40) * 3 AS n
        |  FROM documents WHERE doc_id < 150)
        |SELECT d AS media_id, 'msdh' AS major_brand,
        |  CAST(ts AS BIGINT) AS timescale,
        |  CAST(n * dl * 1000 // ts AS BIGINT) AS duration_ms,
        |  CAST(1 AS INT) AS n_tracks,
        |  CAST(0 AS INT) AS width, CAST(0 AS INT) AS height,
        |  CAST(n AS INT) AS n_frames,
        |  CAST(ts * 1000 // dl AS BIGINT) AS fps_x1000
        |FROM ids""".stripMargin,

    // VFR: duration in timescale units = (n/2)·dl + (n−n/2)·2dl; fps is
    // the duration-weighted total — integer floors replayed exactly
    "mm_mp4_meta_vfr" ->
      """WITH ids AS (SELECT doc_id AS d,
        |    CASE WHEN doc_id % 3 = 0 THEN 90000 WHEN doc_id % 3 = 1 THEN 30000 ELSE 12800 END AS ts,
        |    CASE WHEN doc_id % 3 = 0 THEN 3000 WHEN doc_id % 3 = 1 THEN 1001 ELSE 512 END AS dl,
        |    24 + (doc_id % 40) * 3 AS n,
        |    320 + (doc_id % 4) * 160 AS w,
        |    240 + (doc_id % 4) * 120 AS h
        |  FROM documents WHERE doc_id < 150),
        |  v AS (SELECT *, (n // 2) * dl + (n - n // 2) * 2 * dl AS dur
        |    FROM ids)
        |SELECT d AS media_id, 'isom' AS major_brand,
        |  CAST(ts AS BIGINT) AS timescale,
        |  CAST(dur * 1000 // ts AS BIGINT) AS duration_ms,
        |  CAST(2 AS INT) AS n_tracks,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(n AS INT) AS n_frames,
        |  CAST(n * ts * 1000 // dur AS BIGINT) AS fps_x1000
        |FROM v""".stripMargin,

    // elst: has_edit_list replays from the planting column (even ids);
    // every other field is the single-track genMp4s floor math — an
    // edts box in the trak must not perturb the walk
    "mm_mp4_meta_elst" ->
      """WITH ids AS (SELECT doc_id AS d,
        |    CASE WHEN doc_id % 3 = 0 THEN 90000 WHEN doc_id % 3 = 1 THEN 30000 ELSE 12800 END AS ts,
        |    CASE WHEN doc_id % 3 = 0 THEN 3000 WHEN doc_id % 3 = 1 THEN 1001 ELSE 512 END AS dl,
        |    24 + (doc_id % 40) * 3 AS n,
        |    320 + (doc_id % 4) * 160 AS w,
        |    240 + (doc_id % 4) * 120 AS h
        |  FROM documents WHERE doc_id < 150)
        |SELECT d AS media_id, 'isom' AS major_brand,
        |  CAST(ts AS BIGINT) AS timescale,
        |  CAST(n * dl * 1000 // ts AS BIGINT) AS duration_ms,
        |  CAST(1 AS INT) AS n_tracks,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(n AS INT) AS n_frames,
        |  CAST(ts * 1000 // dl AS BIGINT) AS fps_x1000,
        |  CAST(d % 2 = 0 AS BOOLEAN) AS has_edit_list
        |FROM ids""".stripMargin,

    // ctts: has_comp_offsets replays from the planting column (odd ids);
    // the single-track genMp4s floor math otherwise — a ctts box in the
    // stbl must not perturb the walk
    "mm_mp4_meta_ctts" ->
      """WITH ids AS (SELECT doc_id AS d,
        |    CASE WHEN doc_id % 3 = 0 THEN 90000 WHEN doc_id % 3 = 1 THEN 30000 ELSE 12800 END AS ts,
        |    CASE WHEN doc_id % 3 = 0 THEN 3000 WHEN doc_id % 3 = 1 THEN 1001 ELSE 512 END AS dl,
        |    24 + (doc_id % 40) * 3 AS n,
        |    320 + (doc_id % 4) * 160 AS w,
        |    240 + (doc_id % 4) * 120 AS h
        |  FROM documents WHERE doc_id < 150)
        |SELECT d AS media_id, 'isom' AS major_brand,
        |  CAST(ts AS BIGINT) AS timescale,
        |  CAST(n * dl * 1000 // ts AS BIGINT) AS duration_ms,
        |  CAST(1 AS INT) AS n_tracks,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(n AS INT) AS n_frames,
        |  CAST(ts * 1000 // dl AS BIGINT) AS fps_x1000,
        |  CAST(d % 2 = 1 AS BOOLEAN) AS has_comp_offsets
        |FROM ids""".stripMargin,

    // keyframes = the f % step = 0 subset of the pattern frame walk: the
    // planted stss table selects samples 1, 1+step, … and the dhash
    // formula re-derives per selected frame — same grid math as
    // mm_mp4_frames, restricted to the sync rows
    "mm_mp4_keyframes" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k, doc_id % 5 + 4 AS n,
        |      doc_id % 3 + 2 AS step
        |    FROM documents WHERE doc_id < 80),
        |  fr AS (SELECT id, k * 8 + f AS kf, CAST(f AS INT) AS f
        |    FROM ids, unnest(range(0, 8)) tf(f)
        |    WHERE f < n AND f % step = 0),
        |  g AS (SELECT id, f, x, y,
        |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f)
        |SELECT id AS media_id, f AS frame_idx, 9 AS width, 8 AS height,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash
        |FROM hs""".stripMargin,

    // keyframe maxFrames guard: ok rows = the mm_mp4_keyframes formula
    // over the sparse-stss ids (% 4 != 3, at most 4 sync samples under
    // the cap of 4); the no-stss ids (% 4 = 3, 6 every-sample-sync
    // frames) exceed the cap and yield ONE quarantine row each
    "mm_mp4_keyframes_lenient" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k, doc_id % 5 + 4 AS n,
        |      doc_id % 3 + 2 AS step
        |    FROM documents WHERE doc_id < 80),
        |  fr AS (SELECT id, k * 8 + f AS kf, CAST(f AS INT) AS f
        |    FROM ids, unnest(range(0, 8)) tf(f)
        |    WHERE id % 4 != 3 AND f < n AND f % step = 0),
        |  g AS (SELECT id, f, x, y,
        |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f)
        |SELECT id AS media_id, TRUE AS frame_ok,
        |  CAST(NULL AS VARCHAR) AS frame_err,
        |  f AS frame_idx, CAST(9 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash
        |FROM hs
        |UNION ALL
        |SELECT id AS media_id, FALSE AS frame_ok,
        |  'IllegalArgumentException' AS frame_err,
        |  CAST(NULL AS INT) AS frame_idx, CAST(NULL AS INT) AS width,
        |  CAST(NULL AS INT) AS height, CAST(NULL AS BIGINT) AS dhash
        |FROM ids WHERE id % 4 = 3""".stripMargin,

    // the scene-table twin: scene_idx = f // step (sync rank),
    // start_frame_idx = f, over the same sparse/no-stss id split
    "mm_mp4_scenes_lenient" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k, doc_id % 5 + 4 AS n,
        |      doc_id % 3 + 2 AS step
        |    FROM documents WHERE doc_id < 80),
        |  fr AS (SELECT id, k * 8 + f AS kf, CAST(f AS INT) AS f,
        |      CAST(f // step AS INT) AS sidx
        |    FROM ids, unnest(range(0, 8)) tf(f)
        |    WHERE id % 4 != 3 AND f < n AND f % step = 0),
        |  g AS (SELECT id, f, x, y,
        |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f, i.sidx,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f, sidx FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f, i.sidx)
        |SELECT id AS media_id, TRUE AS frame_ok,
        |  CAST(NULL AS VARCHAR) AS frame_err,
        |  sidx AS scene_idx, f AS start_frame_idx,
        |  CAST(9 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash
        |FROM hs
        |UNION ALL
        |SELECT id AS media_id, FALSE AS frame_ok,
        |  'IllegalArgumentException' AS frame_err,
        |  CAST(NULL AS INT) AS scene_idx, CAST(NULL AS INT) AS start_frame_idx,
        |  CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
        |  CAST(NULL AS BIGINT) AS dhash
        |FROM ids WHERE id % 4 = 3""".stripMargin,

    // identical dHash re-derivation as mm_video_frames — same pixel
    // formula, different container: the hash match proves the MP4 sample
    // walk yields byte-identical frame payloads
    "mm_mp4_frames" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k, doc_id % 3 + 2 AS n
        |    FROM documents WHERE doc_id < 80),
        |  fr AS (SELECT id, k * 8 + f AS kf, CAST(f AS INT) AS f
        |    FROM ids, unnest(range(0, 5)) tf(f) WHERE f < n),
        |  g AS (SELECT id, f, x, y,
        |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f)
        |SELECT id AS media_id, f AS frame_idx, 9 AS width, 8 AS height,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash
        |FROM hs""".stripMargin,

    // every WARC field re-derived from the fixture formula with ZERO
    // parsing: the hash match proves version/header/content-block walk
    // AND the multi-member gunzip (even-k files) are byte-exact —
    // body_md5 is DuckDB's md5 over the identically-constructed string
    "src_warc_records" ->
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
        |FROM allr""".stripMargin,

    // response records only, HTTP envelope split by formula; page_text =
    // the htmlToText of the formula HTML, which collapses to the literal
    // "T{k}-{i} alpha{k} beta{i} gamma{m}" (title text kept, script
    // dropped wholesale, tags → collapsed whitespace)
    "src_warc_http" ->
      """WITH ids AS (SELECT doc_id AS k, CAST(doc_id % 5 + 1 AS INT) AS n
        |  FROM documents WHERE doc_id < 120)
        |SELECT k AS file_id, CAST(2 + 2*i AS INT) AS rec_idx,
        |  'http://site' || k || '.example/page' || i AS target_uri,
        |  CAST(CASE WHEN (k*3 + i) % 7 = 0 THEN 404 ELSE 200 END AS INT)
        |    AS http_status,
        |  'text/html; charset=utf-8' AS http_content_type,
        |  'T' || k || '-' || i || ' alpha' || k || ' beta' || i ||
        |    ' gamma' || ((k*7 + i) % 100) AS page_text
        |FROM ids, unnest(range(0, n)) t(i)""".stripMargin,

    // the composed crawl pipeline, re-derived stage by stage: status
    // filter by the 404 formula, visible text from (m, i), the C4 line
    // rule + page gate replayed token-for-token (NOT by plant residue —
    // the rules themselves run in SQL), canonical URL from (s, i) with
    // tracking params gone, then min-page_id winners per URL and per
    // distinct clean text
    "src_warc_pipeline" ->
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
        |SELECT page_id, url_norm, clean_text FROM ex WHERE rk2 = 1""".stripMargin,

    // page text re-derived from the fixture formula with zero parsing —
    // the hash match proves the object walk, FlateDecode (even k), and
    // all three show-syntax variants extract the identical text
    "mm_pdf_text" ->
      """WITH ids AS (SELECT doc_id AS k, CAST(doc_id % 4 + 1 AS INT) AS n
        |  FROM documents WHERE doc_id < 150)
        |SELECT k AS media_id, CAST(i AS INT) AS stream_idx,
        |  '1.4' AS pdf_version,
        |  'Doc ' || k || ' page ' || i || chr(10) ||
        |    'alpha(' || ((k*13 + i) % 97) || ') beta' AS text
        |FROM ids, unnest(range(0, n)) t(i)""".stripMargin,

    // the CMap'd line re-derived codepoint-by-codepoint: chr() over the
    // fixture's bfrange base (0x0390 = 912) + offset, the bfchar space at
    // j=6 — the hash match proves bfchar/bfrange/UTF-16BE decode exactly
    "mm_pdf_unicode" ->
      """WITH ids AS (SELECT doc_id AS k, CAST(doc_id % 3 + 1 AS INT) AS n
        |  FROM documents WHERE doc_id < 150)
        |SELECT k AS media_id, CAST(i AS INT) AS stream_idx,
        |  '1.4' AS pdf_version,
        |  'Doc ' || k || ' page ' || i || ':' || chr(10) ||
        |  array_to_string([CASE WHEN j = 6 THEN ' '
        |      ELSE chr(CAST(912 + (k*13 + i*7 + j*3) % 64 AS INT)) END
        |    for j in range(0, 13)], '') AS text
        |FROM ids, unnest(range(0, n)) t(i)""".stripMargin,

    // the PDF→curation composition: page text from the fixture formula,
    // token-window chunks (size 4, stride 3 — the curate_chunk algebra),
    // then the text_quality formula per CHUNK
    "mm_pdf_pipeline" ->
      """WITH ids AS (SELECT doc_id AS k, CAST(doc_id % 4 + 1 AS INT) AS n
        |  FROM documents WHERE doc_id < 120),
        |  pages AS (SELECT k * 10 + i AS page_id,
        |      'Doc ' || k || ' page ' || i || chr(10) ||
        |      'alpha(' || ((k*13 + i) % 97) || ') beta' AS text
        |    FROM ids, unnest(range(0, n)) t(i)),
        |  tok AS (SELECT page_id, CASE WHEN length(trim(text)) = 0 THEN []
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM pages),
        |  ch AS (SELECT page_id, CAST(i AS BIGINT) AS chunk_idx,
        |      array_to_string(w[(i*3+1):(i*3+4)], ' ') AS chunk
        |    FROM tok, unnest(range(0, CAST(ceil(len(w) / 3.0) AS BIGINT))) AS t(i)),
        |  st AS (SELECT page_id, chunk_idx, chunk,
        |      CASE WHEN length(trim(chunk)) = 0 THEN 0
        |        ELSE len(regexp_split_to_array(trim(chunk), '\s+')) END AS nt,
        |      CASE WHEN length(chunk) = 0 THEN 0
        |        ELSE floor((length(chunk) - length(regexp_replace(chunk, '[!-/:-@\[-`{-~]', '', 'g'))) * 1000.0 / length(chunk) + 0.5) END AS punct_pm
        |    FROM ch)
        |SELECT page_id, chunk_idx, chunk, CAST(nt AS BIGINT) AS n_tokens,
        |  CAST(floor(least(CAST(nt AS DOUBLE) / 100.0, 1.0)
        |    * (1.0 - least(CAST(punct_pm AS DOUBLE) / 300.0, 1.0)) * 1000 + 0.5) AS BIGINT) AS quality_pm
        |FROM st""".stripMargin,

    // even ids decode (dhash re-derived from the pattern formula, perturb
    // p=0); odd ids are sniffed as octet-stream and quarantined with the
    // decoder's failure class — ImageIO returns null → requirement failed
    "mm_decode_quarantine" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id // 2 AS k
        |    FROM documents WHERE doc_id < 200),
        |  evens AS (SELECT id, k FROM ids WHERE id % 2 = 0),
        |  g AS (SELECT id, x, y,
        |      (k*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM evens, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id FROM evens) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id)
        |SELECT id AS media_id, TRUE AS decode_ok, CAST(NULL AS VARCHAR) AS decode_err,
        |  'image/png' AS mime, 9 AS width, 8 AS height,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash
        |FROM hs
        |UNION ALL
        |SELECT id AS media_id, FALSE AS decode_ok,
        |  'IllegalArgumentException' AS decode_err,
        |  'application/octet-stream' AS mime, CAST(NULL AS INT) AS width,
        |  CAST(NULL AS INT) AS height, CAST(NULL AS BIGINT) AS dhash
        |FROM ids WHERE id % 2 = 1""".stripMargin,

    "mm_audio_windows" ->
      """WITH ids AS (SELECT doc_id AS id,
        |    CASE WHEN doc_id % 3 = 0 THEN 8000 WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END AS rate,
        |    doc_id % 2 + 1 AS ch,
        |    200 + (doc_id % 7) * 97 AS frames
        |  FROM documents WHERE doc_id < 60),
        |  geom AS (SELECT id, rate * ch * 2 AS byte_rate, ch * 2 AS block_align,
        |      frames * ch * 2 AS data_bytes,
        |      greatest(ch * 2, ((rate * ch * 2) * 25 // 1000) // (ch * 2) * (ch * 2)) AS w_bytes
        |    FROM ids)
        |SELECT id AS media_id, CAST(i AS INT) AS window_idx,
        |  CAST((i * w_bytes) * 1000 // byte_rate AS BIGINT) AS start_ms,
        |  CAST(least(w_bytes, data_bytes - i * w_bytes) AS INT) AS n_bytes,
        |  CAST(least(w_bytes, data_bytes - i * w_bytes) // block_align AS INT) AS n_frames
        |FROM geom, unnest(range(0, greatest(1, (data_bytes + w_bytes - 1) // w_bytes))) t(i)""".stripMargin,

    // per-image integer luma stats re-derived from the pattern formula,
    // then the same dimension/aspect/solid gates applied in SQL
    "mm_image_quality" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k,
        |    CASE WHEN doc_id % 2 = 0 THEN 9 ELSE 5 END AS w,
        |    CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 4 END AS h
        |  FROM documents WHERE doc_id < 150),
        |  g AS (SELECT id, w, h, (k*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM ids, unnest(range(0, w)) tx(x), unnest(range(0, h)) ty(y)),
        |  st AS (SELECT id, w, h, count(*) AS n_px, sum(v) AS s, sum(v*v) AS sq,
        |      min(v) AS mn, max(v) AS mx
        |    FROM g GROUP BY id, w, h)
        |SELECT id AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(n_px AS INT) AS n_px, CAST(s AS BIGINT) AS luma_sum,
        |  CAST(sq AS BIGINT) AS luma_sq_sum, CAST(mn AS INT) AS luma_min,
        |  CAST(mx AS INT) AS luma_max, CAST(s * 1000 // n_px AS BIGINT) AS mean_milli
        |FROM st
        |WHERE w >= 8 AND h >= 8 AND w * 1000 <= h * 2000 AND h * 1000 <= w * 2000
        |  AND mn < mx""".stripMargin,

    // aHash replayed: 16x16 pattern → exact 2x2 block means → grid mean →
    // bit = cell > mean, packed hi/lo into one signed BIGINT
    "mm_ahash" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id // 2 AS k, doc_id % 2 AS p
        |    FROM documents WHERE doc_id < 120),
        |  g AS (SELECT id, x, y,
        |      ((k*31 + x*x*3 + y*y*5 + x*y*7) % 256
        |       + p * (CASE WHEN (x + y*16) % 29 = 0 THEN 1 ELSE 0 END)) % 256 AS v
        |    FROM ids, unnest(range(0, 16)) tx(x), unnest(range(0, 16)) ty(y)),
        |  b AS (SELECT id, x // 2 AS cx, y // 2 AS cy, CAST(SUM(v) // 4 AS BIGINT) AS bv
        |    FROM g GROUP BY id, x // 2, y // 2),
        |  m AS (SELECT id, SUM(bv) // 64 AS mean FROM b GROUP BY id),
        |  bits AS (SELECT b.id, cy*8 + cx AS bit
        |    FROM b JOIN m ON m.id = b.id WHERE bv > mean),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT DISTINCT id FROM ids) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id)
        |SELECT id AS media_id, 16 AS width, 16 AS height,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS ahash
        |FROM hs""".stripMargin,

    // every PCM sample re-derived from the generator formula
    // v(j) = (id·7 + j·13) mod 256 − 128, summed per header-cut window
    "mm_audio_energy" ->
      """WITH ids AS (SELECT doc_id AS id,
        |    CASE WHEN doc_id % 3 = 0 THEN 8000 WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END AS rate,
        |    doc_id % 2 + 1 AS ch,
        |    150 + (doc_id % 11) * 37 AS frames
        |  FROM documents WHERE doc_id < 100),
        |  geom AS (SELECT id, rate * ch * 2 AS br, ch * 2 AS ba,
        |      frames * ch * 2 AS db,
        |      greatest(ch * 2, ((rate * ch * 2) * 20 // 1000) // (ch * 2) * (ch * 2)) AS wb
        |    FROM ids),
        |  w AS (SELECT id, br, wb, i, i * wb AS woff, least(wb, db - i * wb) AS n
        |    FROM geom, unnest(range(0, greatest(1, (db + wb - 1) // wb))) t(i)),
        |  s AS (SELECT id, i, woff, br, n // 2 AS nsamp,
        |      SUM(((id*7 + j*13) % 256 - 128) * ((id*7 + j*13) % 256 - 128)) AS ss,
        |      MAX(abs((id*7 + j*13) % 256 - 128)) AS pk
        |    FROM w, unnest(range(woff // 2, woff // 2 + n // 2)) tj(j)
        |    GROUP BY id, i, woff, br, n)
        |SELECT id AS media_id, CAST(i AS INT) AS window_idx,
        |  CAST(woff * 1000 // br AS BIGINT) AS start_ms,
        |  CAST(nsamp AS INT) AS n_samples, CAST(ss AS BIGINT) AS sum_sq,
        |  CAST(pk AS INT) AS peak_abs,
        |  ss < nsamp * 5440 AS silent
        |FROM s""".stripMargin,

    // audio dedup: every window amplitude re-derived (window 0 forced to
    // 127/0 by the original first delta sign when p<>0 — the guaranteed
    // one-bit flip), delta-sign bits assembled into the signed 64-bit
    // fingerprint (equal window sizes make the energy comparison a pure
    // amplitude comparison), then the all-pairs Hamming filter the banded
    // join must equal exactly
    "mm_audio_dedup" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id // 2 AS k, doc_id % 2 AS p
        |  FROM documents WHERE doc_id < 150),
        |  amp AS (SELECT id, CAST(w AS INT) AS w,
        |      CASE WHEN p <> 0 AND w = 0 THEN
        |        CASE WHEN (k*31 + 10) % 120 > (k*31) % 120 THEN 127 ELSE 0 END
        |      ELSE (k*31 + w*w*7 + w*3) % 120 + 1 END AS a
        |    FROM ids, unnest(range(0, 65)) t(w)),
        |  bits AS (SELECT a1.id, a1.w AS bit
        |    FROM amp a1 JOIN amp a2 ON a2.id = a1.id AND a2.w = a1.w + 1
        |    WHERE a1.w < 64 AND a2.a > a1.a),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM ids i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id),
        |  h AS (SELECT id, CASE WHEN hi >= 2147483648
        |      THEN (hi - 4294967296) * 4294967296 + lo
        |      ELSE hi * 4294967296 + lo END AS fp FROM hs)
        |SELECT a.id AS left_id, b.id AS right_id,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hdist
        |FROM h a JOIN h b ON a.id < b.id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin,

    // dHash pair suppression (all-pairs filter ≡ the band join) + the
    // caption token gate, composed exactly as the Spark plan does
    "mm_pair_curation" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id // 2 AS k, doc_id % 2 AS p
        |    FROM documents WHERE doc_id < 300),
        |  g AS (SELECT id, x, y,
        |      ((k*31 + x*x*3 + y*y*5 + x*y*7) % 256
        |       + p * (CASE WHEN (x + y*9) % 29 = 0 THEN 1 ELSE 0 END)) % 256 AS v
        |    FROM ids, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT DISTINCT id FROM ids) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id),
        |  h AS (SELECT id,
        |      CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |           ELSE hi * 4294967296 + lo END AS dh
        |    FROM hs),
        |  losers AS (SELECT DISTINCT b.id FROM h a JOIN h b ON a.id < b.id
        |    WHERE bit_count(xor(a.dh, b.dh)) <= 3),
        |  tok AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
        |    FROM documents WHERE doc_id < 300)
        |SELECT h.id AS media_id, h.dh AS dhash, CAST(tok.nt AS BIGINT) AS n_tokens
        |FROM h LEFT JOIN losers ON losers.id = h.id
        |  JOIN tok ON tok.doc_id = h.id
        |WHERE losers.id IS NULL AND tok.nt >= 10""".stripMargin,

    // orientation-normalized decode: the oracle is the PLAIN display-grid
    // formula (k = doc_id//8, p=0) — no orientation math at all, because a
    // correct decoder undoes the stored rotation; dims are display 9x8 for
    // every one of the 8 stored orientations
    "mm_image_orient" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id // 8 AS k
        |    FROM documents WHERE doc_id < 160),
        |  g AS (SELECT id, x, y,
        |      (k*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM ids, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT DISTINCT id FROM ids) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id)
        |SELECT id AS media_id, 9 AS width, 8 AS height, 'image/png' AS mime,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash
        |FROM hs""".stripMargin,

    // rotated near-dups: all-pairs Hamming filter over formula hashes with
    // k = doc_id//4, p = doc_id%2 — stored orientation does not appear
    // because normalization removes it; the pair set therefore contains
    // cross-orientation pairs the un-normalized decoder would lose
    "mm_image_dedup_orient" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id // 4 AS k, doc_id % 2 AS p
        |    FROM documents WHERE doc_id < 320),
        |  g AS (SELECT id, x, y,
        |      ((k*31 + x*x*3 + y*y*5 + x*y*7) % 256
        |       + p * (CASE WHEN (x + y*9) % 29 = 0 THEN 1 ELSE 0 END)) % 256 AS v
        |    FROM ids, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT DISTINCT id FROM ids) i LEFT JOIN bits b ON b.id = i.id GROUP BY i.id),
        |  h AS (SELECT id,
        |      CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |           ELSE hi * 4294967296 + lo END AS dh
        |    FROM hs)
        |SELECT a.id AS left_id, b.id AS right_id,
        |  CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS hdist
        |FROM h a JOIN h b ON a.id < b.id
        |WHERE bit_count(xor(a.dh, b.dh)) <= 3""".stripMargin,

    // lenient audio: even ids re-derive the strict facts; odd ids are
    // sniffed octet-stream and quarantined with the parse-failure class
    "mm_audio_quarantine" ->
      """WITH ids AS (SELECT doc_id AS id,
        |    CASE WHEN doc_id % 3 = 0 THEN 8000 WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END AS rate,
        |    CAST(doc_id % 2 + 1 AS INT) AS ch,
        |    100 + (doc_id % 50) * 10 AS frames
        |  FROM documents WHERE doc_id < 150)
        |SELECT id AS media_id, TRUE AS decode_ok, CAST(NULL AS VARCHAR) AS decode_err,
        |  'audio/wav' AS mime, CAST(rate AS INT) AS sample_rate, ch AS channels,
        |  16 AS bits, CAST(frames AS BIGINT) AS n_frames,
        |  CAST((frames * ch * 2 * 1000) // (rate * ch * 2) AS BIGINT) AS duration_ms
        |FROM ids WHERE id % 2 = 0
        |UNION ALL
        |SELECT id AS media_id, FALSE AS decode_ok,
        |  'IllegalArgumentException' AS decode_err,
        |  'application/octet-stream' AS mime, CAST(NULL AS INT) AS sample_rate,
        |  CAST(NULL AS INT) AS channels, CAST(NULL AS INT) AS bits,
        |  CAST(NULL AS BIGINT) AS n_frames, CAST(NULL AS BIGINT) AS duration_ms
        |FROM ids WHERE id % 2 = 1""".stripMargin,

    // lenient video: even ids re-derive the strict avih facts; odd ids
    // quarantine with the parse-failure class
    "mm_video_quarantine" ->
      """WITH ids AS (SELECT doc_id AS id,
        |    CASE WHEN doc_id % 3 = 0 THEN 41667 WHEN doc_id % 3 = 1 THEN 33333 ELSE 16667 END AS uspf,
        |    100 + (doc_id % 60) * 25 AS frames,
        |    320 + (doc_id % 4) * 160 AS w,
        |    240 + (doc_id % 4) * 120 AS h
        |  FROM documents WHERE doc_id < 150)
        |SELECT id AS media_id, TRUE AS decode_ok, CAST(NULL AS VARCHAR) AS decode_err,
        |  'video/avi' AS mime, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(frames AS INT) AS n_frames, 1 AS n_streams,
        |  CAST(1000000000 // uspf AS BIGINT) AS fps_x1000,
        |  CAST(uspf * frames // 1000 AS BIGINT) AS duration_ms
        |FROM ids WHERE id % 2 = 0
        |UNION ALL
        |SELECT id AS media_id, FALSE AS decode_ok,
        |  'IllegalArgumentException' AS decode_err,
        |  'application/octet-stream' AS mime, CAST(NULL AS INT) AS width,
        |  CAST(NULL AS INT) AS height, CAST(NULL AS INT) AS n_frames,
        |  CAST(NULL AS INT) AS n_streams, CAST(NULL AS BIGINT) AS fps_x1000,
        |  CAST(NULL AS BIGINT) AS duration_ms
        |FROM ids WHERE id % 2 = 1""".stripMargin,

    // frame-level video decode: every frame f of id re-derives its pixels
    // from the per-frame formula (pattern k·8+f), then the dHash CTE —
    // the hash match proves the movi walk found every frame in order and
    // the codec round trip is lossless
    "mm_video_frames" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k, doc_id % 3 + 2 AS n
        |    FROM documents WHERE doc_id < 80),
        |  fr AS (SELECT id, k * 8 + f AS kf, CAST(f AS INT) AS f
        |    FROM ids, unnest(range(0, 5)) tf(f) WHERE f < n),
        |  g AS (SELECT id, f, x, y,
        |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f)
        |SELECT id AS media_id, f AS frame_idx, 9 AS width, 8 AS height,
        |  CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |       ELSE hi * 4294967296 + lo END AS dhash
        |FROM hs""".stripMargin,

    // video dedup: re-derive every frame's dHash from the formula, then
    // replay the operator's algebra exactly — per-video DISTINCT hashes,
    // hot-hash df-cap (freq > 10 drops BEFORE pairing; the 24-video
    // mega-group's common frames die here), equi-join pair counts with
    // minShared=2, and TRUE pre-cap per-video sizes
    "mm_video_dedup" ->
      """WITH ids AS (SELECT doc_id AS id,
        |    CASE WHEN doc_id < 24 THEN 0 ELSE doc_id // 4 END AS k,
        |    doc_id % 3 + 2 AS n
        |  FROM documents WHERE doc_id < 96),
        |  fr AS (SELECT id, k * 8 + f AS kf, CAST(f AS INT) AS f
        |    FROM ids, unnest(range(0, 4)) tf(f) WHERE f < n),
        |  g AS (SELECT id, f, x, y,
        |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f),
        |  vh AS (SELECT DISTINCT id,
        |      CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |           ELSE hi * 4294967296 + lo END AS dh FROM hs),
        |  freq AS (SELECT dh, count(*) AS c FROM vh GROUP BY 1),
        |  capped AS (SELECT vh.id, vh.dh FROM vh JOIN freq ON vh.dh = freq.dh
        |    WHERE freq.c <= 10),
        |  sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS nf FROM vh GROUP BY 1),
        |  pairs AS (SELECT a.id AS l, b.id AS r, CAST(count(*) AS BIGINT) AS sh
        |    FROM capped a JOIN capped b ON a.dh = b.dh AND a.id < b.id
        |    GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT l AS left_id, r AS right_id, sh AS n_shared,
        |  sa.nf AS n_left, sb.nf AS n_right
        |FROM pairs JOIN sizes sa ON sa.id = l JOIN sizes sb ON sb.id = r""".stripMargin,

    // the A/V composite: even ids (odd ids quarantine and never reach
    // output) re-derive frames with kf = k*16 + f//2, keyframes = frame 0
    // + every >8-bit cut, then the videoNearPairs algebra over keyframe
    // hashes — pairs of videos sharing k must pair on their full
    // keyframe set
    "mm_video_pipeline" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id // 4 AS k
        |  FROM documents WHERE doc_id < 90 AND doc_id % 2 = 0),
        |  fr AS (SELECT id, k * 16 + f // 2 AS kf, CAST(f AS INT) AS f
        |    FROM ids, unnest(range(0, 6)) tf(f)),
        |  g AS (SELECT id, f, x, y,
        |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f),
        |  h AS (SELECT id, f,
        |      CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |           ELSE hi * 4294967296 + lo END AS dh FROM hs),
        |  d AS (SELECT a.id, a.f, a.dh, bit_count(xor(a.dh, b.dh)) AS pd
        |    FROM h a LEFT JOIN h b ON b.id = a.id AND b.f = a.f - 1),
        |  vh AS (SELECT DISTINCT id, dh FROM d WHERE pd IS NULL OR pd > 8),
        |  sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS nf FROM vh GROUP BY 1),
        |  pairs AS (SELECT a.id AS l, b.id AS r, CAST(count(*) AS BIGINT) AS sh
        |    FROM vh a JOIN vh b ON a.dh = b.dh AND a.id < b.id
        |    GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT l AS left_id, r AS right_id, sh AS n_shared,
        |  sa.nf AS n_left, sb.nf AS n_right
        |FROM pairs JOIN sizes sa ON sa.id = l JOIN sizes sb ON sb.id = r""".stripMargin,

    // scene cuts: per-frame hashes re-derived with kf = k*16 + f//2 (two
    // identical frames per scene), lag-distance via self-join on f-1,
    // the same cut rule, and a running-sum window for the scene index
    "mm_video_scenes" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k,
        |    CAST((doc_id % 3 + 2) * 2 AS INT) AS n
        |  FROM documents WHERE doc_id < 60),
        |  fr AS (SELECT id, k * 16 + f // 2 AS kf, CAST(f AS INT) AS f
        |    FROM ids, unnest(range(0, 8)) tf(f) WHERE f < n),
        |  g AS (SELECT id, f, x, y,
        |      (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f),
        |  h AS (SELECT id, f,
        |      CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |           ELSE hi * 4294967296 + lo END AS dh FROM hs),
        |  d AS (SELECT a.id, a.f,
        |      CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS prev_dist
        |    FROM h a LEFT JOIN h b ON b.id = a.id AND b.f = a.f - 1),
        |  c AS (SELECT id, f, prev_dist,
        |      COALESCE(prev_dist > 8, FALSE) AS is_cut FROM d)
        |SELECT id AS media_id, f AS frame_idx, prev_dist, is_cut,
        |  CAST(SUM(CASE WHEN is_cut THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY id ORDER BY f) AS INT) AS scene_idx
        |FROM c""".stripMargin,

    // re-encoded copies: the perturbed frame re-derived (pixel (0,0)
    // forced to 255/0 by the original (0,0)→(1,0) gradient sign when
    // p<>0 — the guaranteed one-bit dHash flip), all-pairs Hamming ≤ 3
    // over the hash VOCABULARY, recursive-CTE closure to min-hash
    // representatives (the operator's banded candidates +
    // connectedComponents are exact, so the all-pairs replay must
    // agree), then the videoNearPairs algebra on representatives
    "mm_video_dedup_reenc" ->
      """WITH RECURSIVE ids AS (SELECT doc_id AS id, doc_id // 3 AS k,
        |    CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS p,
        |    CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 3 END AS n
        |  FROM documents WHERE doc_id < 36),
        |  fr AS (SELECT id, p, k * 8 + f AS kf, CAST(f AS INT) AS f
        |    FROM ids, unnest(range(0, 3)) tf(f) WHERE f < n),
        |  g AS (SELECT id, f, x, y,
        |      CASE WHEN p <> 0 AND x = 0 AND y = 0 THEN
        |        CASE WHEN (kf*31 + 3) % 256 > (kf*31) % 256 THEN 255 ELSE 0 END
        |      ELSE (kf*31 + x*x*3 + y*y*5 + x*y*7) % 256 END AS v
        |    FROM fr, unnest(range(0, 9)) tx(x), unnest(range(0, 8)) ty(y)),
        |  bits AS (SELECT a.id, a.f, a.y*8 + a.x AS bit
        |    FROM g a JOIN g b ON b.id = a.id AND b.f = a.f AND b.y = a.y AND b.x = a.x + 1
        |    WHERE a.x < 8 AND b.v > a.v),
        |  hs AS (SELECT i.id, i.f,
        |      CAST(COALESCE(SUM(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END), 0) AS BIGINT) AS hi,
        |      CAST(COALESCE(SUM(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END), 0) AS BIGINT) AS lo
        |    FROM (SELECT id, f FROM fr) i LEFT JOIN bits b ON b.id = i.id AND b.f = i.f
        |    GROUP BY i.id, i.f),
        |  vh AS (SELECT DISTINCT id,
        |      CASE WHEN hi >= 2147483648 THEN (hi - 4294967296) * 4294967296 + lo
        |           ELSE hi * 4294967296 + lo END AS dh FROM hs),
        |  vocab AS (SELECT DISTINCT dh FROM vh),
        |  hp AS (SELECT a.dh AS ha, b.dh AS hb FROM vocab a JOIN vocab b
        |    ON a.dh < b.dh AND bit_count(xor(a.dh, b.dh)) <= 3),
        |  edges AS (SELECT ha AS s, hb AS d FROM hp UNION SELECT hb, ha FROM hp),
        |  walk AS (SELECT s AS h, s AS comp FROM edges
        |    UNION SELECT e.s, w.comp FROM edges e JOIN walk w ON e.d = w.h),
        |  rep AS (SELECT h, min(comp) AS r FROM walk GROUP BY h),
        |  vr AS (SELECT DISTINCT vh.id, COALESCE(rep.r, vh.dh) AS rp
        |    FROM vh LEFT JOIN rep ON vh.dh = rep.h),
        |  sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS nf FROM vr GROUP BY 1),
        |  pairs AS (SELECT a.id AS l, b.id AS r2, CAST(count(*) AS BIGINT) AS sh
        |    FROM vr a JOIN vr b ON a.rp = b.rp AND a.id < b.id
        |    GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT l AS left_id, r2 AS right_id, sh AS n_shared,
        |  sa.nf AS n_left, sb.nf AS n_right
        |FROM pairs JOIN sizes sa ON sa.id = l JOIN sizes sb ON sb.id = r2""".stripMargin,

    // the C4 line-keep rule replayed token-for-token: terminal punct,
    // ≥5 space-separated words, no 'javascript'
    "text_c4_clean" ->
      """WITH mt AS (SELECT doc_id, concat_ws(chr(10),
        |    'Intro words for doc ' || doc_id || ' ok.',
        |    text,
        |    'Please enable javascript to view this page.',
        |    CASE WHEN doc_id % 3 = 0 THEN 'Too short line.'
        |         ELSE 'This line has six words total.' END,
        |    'Tail marker words for doc ' || doc_id || '?') AS mtext
        |  FROM documents),
        |  ln AS (SELECT doc_id, string_split(mtext, chr(10)) AS ls FROM mt),
        |  kp AS (SELECT doc_id, ls, list_filter(ls, l ->
        |      (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
        |        OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
        |      AND len(list_filter(string_split(trim(l), ' '), w -> len(w) > 0)) >= 5
        |      AND NOT contains(lower(trim(l)), 'javascript')) AS ks
        |    FROM ln)
        |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(ks) AS BIGINT) AS n_kept,
        |  array_to_string(ks, chr(10)) AS clean_text
        |FROM kp""".stripMargin,

    // the full C4 page gate: clean lines first, then ≥3 sentences, no
    // lorem ipsum, no brace, no bad-word token — each violation planted
    // on its own residue class
    "curate_c4_filter" ->
      """WITH mt AS (SELECT doc_id, concat_ws(chr(10),
        |    'Intro words for doc ' || doc_id || ' ok.',
        |    CASE WHEN doc_id % 5 = 0 THEN 'Lorem ipsum dolor sit amet consectetur.'
        |         ELSE 'This page has real content sentences.' END,
        |    CASE WHEN doc_id % 7 = 0 THEN 'Config block { display none } here.'
        |         ELSE 'Another safe line of plain words.' END,
        |    CASE WHEN doc_id % 11 = 0 THEN 'Buy cheap viagra pills online now.'
        |         ELSE 'Closing words for this page end.' END,
        |    text) AS mtext FROM documents),
        |  cl AS (SELECT doc_id, array_to_string(list_filter(
        |      string_split(mtext, chr(10)), l ->
        |      (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
        |        OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
        |      AND len(list_filter(string_split(trim(l), ' '), w -> len(w) > 0)) >= 5
        |      AND NOT contains(lower(trim(l)), 'javascript')), chr(10)) AS clean_text
        |    FROM mt),
        |  sen AS (SELECT doc_id, clean_text,
        |      len(list_filter(list_transform(
        |        string_split(regexp_replace(clean_text, '([.!?]+)\s+', '\1' || chr(1), 'g'), chr(1)),
        |        x -> trim(x)), x -> length(x) > 0)) AS ns
        |    FROM cl),
        |  tk AS (SELECT doc_id, clean_text, ns,
        |      list_filter(string_split_regex(lower(clean_text), '[ \n]'),
        |        t -> len(t) > 0) AS toks
        |    FROM sen)
        |SELECT doc_id, clean_text, CAST(ns AS BIGINT) AS n_sentences
        |FROM tk
        |WHERE ns >= 3 AND NOT contains(lower(clean_text), 'lorem ipsum')
        |  AND NOT contains(clean_text, '{')
        |  AND NOT list_contains(toks, 'viagra')
        |  AND NOT list_contains(toks, 'casino')
        |  AND NOT list_contains(toks, 'xxx')""".stripMargin,

    "mm_frame_sample" ->
      """SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_idx,
        |  substr(text, CAST(i * 64 + 1 AS INT), 64) AS frame
        |FROM documents, unnest(range(0, CAST(greatest(ceil(length(text) / 64.0), 1) AS BIGINT))) AS t(i)
        |WHERE i % 2 = 0 AND text IS NOT NULL""".stripMargin,

    "q11_topk_per_key" ->
      """SELECT o_custkey, o_orderkey, CAST(rn AS BIGINT) AS rank_in_key FROM (
        |  SELECT o_custkey, o_orderkey, row_number() OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,

    "fuzzy_match" ->
      """WITH l AS (SELECT c_custkey AS id_l, c_name AS name_l FROM customer),
        |  r AS (SELECT c_custkey AS id_r,
        |    regexp_replace(c_name, 'ustome', 'ustoma') AS name_r FROM customer)
        |SELECT id_l, id_r, CAST(levenshtein(name_l, name_r) AS BIGINT) AS edit_dist
        |FROM l JOIN r ON right(name_l, 6) = right(name_r, 6)
        |WHERE levenshtein(name_l, name_r) <= 2""".stripMargin,

    "xf_json_parse" ->
      """SELECT event_id, CAST(props ->> '$.k' AS BIGINT) AS k FROM events""",

    "xf_json_format" ->
      """SELECT event_id, CAST(to_json(struct_pack(event_id := event_id,
        |  event_type := event_type)) AS VARCHAR) AS j FROM events""".stripMargin,

    "q9_window" ->
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS rn,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_spend,
        |  lag(o_orderkey) OVER w AS prev_order
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q3_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q10_stats" ->
      """WITH m AS (SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr_qty_price,
        |  round(CAST(CAST(n * sxx - sx * sx AS DOUBLE) / (n * n) AS DOUBLE), 4) AS var_qty
        |FROM m""".stripMargin,

    "src_lineage" ->
      "SELECT n_nationkey, 'nation.parquet' AS src_file FROM nation",

    "dq_expectations" ->
      """WITH t AS (SELECT
        |    CAST(sum(CASE WHEN coalesce(l_quantity > 0, false) THEN 0 ELSE 1 END) AS BIGINT) AS v1,
        |    CAST(sum(CASE WHEN l_orderkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v2,
        |    CAST(sum(CASE WHEN coalesce(l_discount >= 0 AND l_discount <= 1, false) THEN 0 ELSE 1 END) AS BIGINT) AS v3,
        |    CAST(sum(CASE WHEN coalesce(l_quantity < 40, false) THEN 0 ELSE 1 END) AS BIGINT) AS v4,
        |    count(*) AS total
        |  FROM lineitem)
        |SELECT 'qty_positive' AS rule, v1 AS violations, total, v1 = 0 AS pass FROM t
        |UNION ALL SELECT 'key_not_null', v2, total, v2 = 0 FROM t
        |UNION ALL SELECT 'discount_in_range', v3, total, v3 = 0 FROM t
        |UNION ALL SELECT 'qty_under_40', v4, total, v4 = 0 FROM t""".stripMargin,

    "ts_gapfill_ffill" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS cnt
        |    FROM events GROUP BY 1, 2),
        |  spans AS (SELECT event_type, min(day) AS lo, max(day) AS hi FROM d GROUP BY 1),
        |  grid AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day FROM spans),
        |  j AS (SELECT g.event_type, g.day, d.cnt FROM grid g
        |    LEFT JOIN d USING (event_type, day))
        |SELECT event_type, day, coalesce(last_value(cnt IGNORE NULLS) OVER (
        |  PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING), 0) AS cnt_ff
        |FROM j""".stripMargin,

    // same SQL as stream_session_counts — the batch/stream twins must agree
    "batch_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
        |  m AS (SELECT user_id, tu,
        |    CASE WHEN tu - lag(tu) OVER (PARTITION BY user_id ORDER BY tu) >= 1800000000
        |      THEN 1 ELSE 0 END AS brk FROM e),
        |  sess AS (SELECT user_id, tu,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY tu ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT make_timestamp(min(tu)) AS wstart, user_id, count(*) AS cnt
        |FROM sess GROUP BY user_id, sid""".stripMargin,

    "sync_scd2" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu, event_id FROM events),
        |  m AS (SELECT user_id, event_type, tu, event_id,
        |    lag(event_type) OVER w AS pet, lag(tu) OVER w AS ptu
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
        |  v AS (SELECT user_id, event_type, tu, event_id FROM m
        |    WHERE ptu IS NULL OR event_type IS DISTINCT FROM pet)
        |SELECT user_id, event_type, tu AS valid_from,
        |  lead(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS valid_to
        |FROM v""".stripMargin,

    "text_tfidf_topk" ->
      """WITH toks AS (SELECT doc_id AS id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |    FROM documents WHERE length(trim(text)) > 0),
        |  tf AS (SELECT id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
        |  dft AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |  n AS (SELECT count(*) AS n_docs FROM documents),
        |  s AS (SELECT id, w, round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS score
        |    FROM tf JOIN dft USING (w) CROSS JOIN n)
        |SELECT id AS doc_id, w AS term, score, CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY score DESC, w) AS rn FROM s)
        |WHERE rn <= 3""".stripMargin,

    // same whitespace tokenization as text_tfidf_topk; top-30 by tf is a
    // deterministic SET (ties broken by token), so order-insensitive compare
    // is safe. count(*)/count(DISTINCT) are BIGINT in DuckDB already, but
    // cast anyway per the HUGEINT rule.
    "text_top_tokens" ->
      """WITH toks AS (SELECT doc_id AS id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0)
        |SELECT token, CAST(count(*) AS BIGINT) AS tf,
        |  CAST(count(DISTINCT id) AS BIGINT) AS df
        |FROM toks GROUP BY 1 ORDER BY tf DESC, token LIMIT 30""".stripMargin,

    "text_rare_tokens" ->
      """WITH tok AS (SELECT doc_id AS id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |  tf AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |  rc AS (SELECT t.id, CAST(count(*) AS BIGINT) AS rare
        |    FROM tok t JOIN tf ON t.w = tf.w WHERE tf.c <= 2 GROUP BY t.id),
        |  nt AS (SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT nt.doc_id, nt.n_tokens,
        |  CAST(coalesce(rc.rare, 0) AS BIGINT) AS rare_tokens,
        |  CAST(CASE WHEN nt.n_tokens = 0 THEN 0
        |    ELSE floor(coalesce(rc.rare, 0) * 1000.0 / nt.n_tokens + 0.5) END AS BIGINT) AS rare_pm
        |FROM nt LEFT JOIN rc ON nt.doc_id = rc.id""".stripMargin,

    // ground truth for the BPE gate: row count and exact total word count
    // from the documents table; the invariant violation counters must be
    // zero by the tokenizer's construction (≥1 token per word, tokens
    // concatenate back to the word so ≤ non-space chars)
    "text_bpe_counts_gate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END), 0) AS BIGINT) AS total_words,
        |  CAST(0 AS BIGINT) AS viol_low, CAST(0 AS BIGINT) AS viol_high
        |FROM documents""".stripMargin,

    // external merges gate: same ground truth as text_bpe_counts_gate —
    // the merge table changes WHICH subwords words split into, never the
    // word totals or the two tokenizer invariants
    "text_bpe_external" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END), 0) AS BIGINT) AS total_words,
        |  CAST(0 AS BIGINT) AS viol_low, CAST(0 AS BIGINT) AS viol_high
        |FROM documents""".stripMargin,

    // mirrors Lm.unigramModel + Lm.scoreUnigram: per-token milli-nat
    // log-probs rounded ONCE in the ≤4096-row model table, per-doc integer
    // sums; the smoothed-probability expression is spelled identically in
    // both engines so every double op is the same IEEE op
    "text_lm_score" -> lmScoreOracleSql,

    // the persisted-model variant scores against a lossless round-trip of
    // the same model — same oracle
    "text_lm_persisted" -> lmScoreOracleSql,

    // per-language quartile thresholds via quantile_cont — same R-7
    // interpolation as Spark's exact `percentile` aggregate
    "curate_ppl_buckets" ->
      """WITH rt AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |    FROM documents WHERE lang = 'en' AND length(trim(text)) > 0),
        |  counts AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM rt GROUP BY 1),
        |  kept AS (SELECT w, c FROM counts ORDER BY c DESC, w LIMIT 4096),
        |  st AS (SELECT (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM counts) AS n_tok,
        |                (SELECT CAST(count(*) AS BIGINT) FROM kept) AS v),
        |  vocab AS (SELECT w,
        |      CAST(floor(ln((c + 1.0) / (n_tok + v + 1)) * 1000 + 0.5) AS BIGINT) AS lp
        |    FROM kept CROSS JOIN st),
        |  oov AS (SELECT CAST(floor(ln(1.0 / (n_tok + v + 1)) * 1000 + 0.5) AS BIGINT) AS lp
        |    FROM st),
        |  dt AS (SELECT doc_id, lang,
        |      unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        |    FROM documents WHERE length(trim(text)) > 0),
        |  scored AS (SELECT doc_id, lang,
        |      CAST(floor(CAST(sum(coalesce(vocab.lp, oov.lp)) AS DOUBLE) / count(*)
        |        + 0.5) AS BIGINT) AS avg_lp_milli
        |    FROM dt LEFT JOIN vocab USING (w) CROSS JOIN oov GROUP BY doc_id, lang),
        |  thr AS (SELECT lang, quantile_cont(avg_lp_milli, 0.25) AS q_lo,
        |      quantile_cont(avg_lp_milli, 0.75) AS q_hi
        |    FROM scored GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.avg_lp_milli,
        |  CASE WHEN s.avg_lp_milli > t.q_hi THEN 'head'
        |       WHEN s.avg_lp_milli < t.q_lo THEN 'tail'
        |       ELSE 'middle' END AS bucket
        |FROM scored s JOIN thr t USING (lang)""".stripMargin,

    // the full bigram pipeline re-derived: unigram tier = lmScoreOracleSql's
    // model; bigram tier = vocab∩vocab adjacent-pair counts cut at 512
    // (count desc, pair — the cut BINDS here), unsmoothed conditionals;
    // scoring = bigram hit, else -916 (milli-ln 0.4) + unigram/OOV
    "text_lm_bigram" -> bigramScoreOracleSql,

    // persisted-model variant scores against a lossless round-trip of the
    // same two tables — same oracle
    "text_lm_bigram_persisted" -> bigramScoreOracleSql,


    // mirrors Lm.dsirTopK: md5 token buckets (same fold as every curation
    // oracle), add-one smoothed milli-nat log-ratios per bucket, integer
    // per-doc sums, deterministic top-100 (ties by doc_id)
    "curate_dsir" ->
      s"""WITH dt AS (SELECT doc_id, source,
         |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
         |  FROM documents WHERE length(trim(text)) > 0),
         |  tb AS (SELECT doc_id, source, ${duckBucket("w", 256, "graft")} AS b FROM dt),
         |  bc AS (SELECT b, CAST(count(*) AS BIGINT) AS cr,
         |      CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ct
         |    FROM tb GROUP BY 1),
         |  tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt FROM bc),
         |  lw AS (SELECT b, CAST(floor((ln((ct + 1.0) / (nt + 256))
         |      - ln((cr + 1.0) / (nr + 256))) * 1000 + 0.5) AS BIGINT) AS lw
         |    FROM bc CROSS JOIN tot),
         |  s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |      CAST(sum(lw) AS BIGINT) AS weight_milli
         |    FROM tb JOIN lw USING (b) GROUP BY 1)
         |SELECT doc_id, weight_milli, n_tokens FROM s
         |ORDER BY weight_milli DESC, doc_id LIMIT 100""".stripMargin,

    // mirrors Lm.dsirSampleK: same weight CTEs as curate_dsir, then the
    // Gumbel-max key (md5-uniform → −ln(−ln u)) rounded before ranking
    "curate_dsir_sample" ->
      s"""WITH dt AS (SELECT doc_id, source,
         |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
         |  FROM documents WHERE length(trim(text)) > 0),
         |  tb AS (SELECT doc_id, source, ${duckBucket("w", 256, "graft")} AS b FROM dt),
         |  bc AS (SELECT b, CAST(count(*) AS BIGINT) AS cr,
         |      CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ct
         |    FROM tb GROUP BY 1),
         |  tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt FROM bc),
         |  lw AS (SELECT b, CAST(floor((ln((ct + 1.0) / (nt + 256))
         |      - ln((cr + 1.0) / (nr + 256))) * 1000 + 0.5) AS BIGINT) AS lw
         |    FROM bc CROSS JOIN tot),
         |  s AS (SELECT doc_id, CAST(sum(lw) AS BIGINT) AS weight_milli
         |    FROM tb JOIN lw USING (b) GROUP BY 1)
         |SELECT doc_id, weight_milli,
         |  round(CAST(weight_milli AS DOUBLE) / 1000.0
         |    + (-ln(-ln((${duckBucket("CAST(doc_id AS VARCHAR)", 65536, "graft-gumbel")} + 0.5) / 65536.0))), 6) AS sample_key
         |FROM s ORDER BY sample_key DESC, doc_id LIMIT 100""".stripMargin,

    // mirrors Lm.nbTrainScore: 60% md5 hash split, total-count-capped
    // vocabulary, per-token milli-nat log-odds + smoothed doc-count prior
    "curate_nb_quality" ->
      s"""WITH lab AS (SELECT doc_id, text,
         |    source IN ('src0','src1','src2','src3','src4') AS lab,
         |    ${duckBucket("CAST(doc_id AS VARCHAR)", 1000, "graft")} AS hb
         |  FROM documents),
         |  tt AS (SELECT lab, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
         |    FROM lab WHERE hb < 600 AND length(trim(text)) > 0),
         |  counts AS (SELECT w,
         |      CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         |      CAST(sum(CASE WHEN lab THEN 0 ELSE 1 END) AS BIGINT) AS cn
         |    FROM tt GROUP BY 1),
         |  kept AS (SELECT w, cp, cn FROM counts ORDER BY (cp + cn) DESC, w LIMIT 4096),
         |  st AS (SELECT (SELECT CAST(coalesce(sum(cp), 0) AS BIGINT) FROM counts) AS np,
         |                (SELECT CAST(coalesce(sum(cn), 0) AS BIGINT) FROM counts) AS nn,
         |                (SELECT CAST(count(*) AS BIGINT) FROM kept) AS v,
         |                (SELECT CAST(coalesce(sum(CASE WHEN lab THEN 1 ELSE 0 END), 0) AS BIGINT)
         |                   FROM lab WHERE hb < 600) AS dp,
         |                (SELECT CAST(coalesce(sum(CASE WHEN lab THEN 0 ELSE 1 END), 0) AS BIGINT)
         |                   FROM lab WHERE hb < 600) AS dn),
         |  llr AS (SELECT w, CAST(floor((ln((cp + 1.0) / (np + v))
         |      - ln((cn + 1.0) / (nn + v))) * 1000 + 0.5) AS BIGINT) AS llr
         |    FROM kept CROSS JOIN st),
         |  pr AS (SELECT CAST(floor((ln(dp + 1.0) - ln(dn + 1.0)) * 1000 + 0.5) AS BIGINT) AS prior
         |    FROM st),
         |  ht AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
         |    FROM lab WHERE hb >= 600 AND length(trim(text)) > 0),
         |  hs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |      CAST(sum(coalesce(llr.llr, 0)) AS BIGINT) AS s
         |    FROM ht LEFT JOIN llr USING (w) GROUP BY 1)
         |SELECT l.doc_id, l.lab AS label,
         |  CAST(coalesce(hs.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(pr.prior + coalesce(hs.s, 0) AS BIGINT) AS score_milli,
         |  (pr.prior + coalesce(hs.s, 0)) > 0 AS predicted
         |FROM lab l LEFT JOIN hs USING (doc_id) CROSS JOIN pr
         |WHERE l.hb >= 600""".stripMargin,

    // mirrors Profile.numeric: means accumulate in DECIMAL(28,6) then divide
    // as doubles — bit-stable across engines (same IEEE ops on both sides)
    "dq_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
           |  CAST(coalesce(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_null,
           |  CAST(min($c) AS DOUBLE) AS min, CAST(max($c) AS DOUBLE) AS max,
           |  CAST(sum(CAST($c AS DECIMAL(28,6))) AS DOUBLE)
           |    / CAST(nullif(count($c), 0) AS DOUBLE) AS mean
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n")
    },

    // real area resize: each 9×8 output pixel is the floor-mean of its 2×2
    // source tile, re-derived from the 18×16 pattern (integer // division
    // matches Scala's Int division on the non-negative sums)
    "mm_resize" ->
      """WITH ids AS (SELECT doc_id AS id, doc_id AS k
        |    FROM documents WHERE doc_id < 100),
        |  g AS (SELECT id, x, y,
        |      (k*31 + x*x*3 + y*y*5 + x*y*7) % 256 AS v
        |    FROM ids, unnest(range(0, 18)) tx(x), unnest(range(0, 16)) ty(y))
        |SELECT id AS media_id, CAST(x // 2 AS INT) AS x, CAST(y // 2 AS INT) AS y,
        |  CAST(CAST(SUM(v) AS BIGINT) // 4 AS INT) AS gray
        |FROM g GROUP BY id, x // 2, y // 2""".stripMargin,

    "stream_tumbling_counts" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart, event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin,

    // duplicated feed → corpus holds each distinct content exactly once
    "stream_ingest_dedup" ->
      "SELECT DISTINCT text FROM documents",

    "stream_ingest_bloom" ->
      "SELECT DISTINCT text FROM documents",

    // sliding windows: each event belongs to the window starting at its
    // 30-min-truncated time and the one 30 min earlier (duration 1 h)
    "stream_sliding_counts" ->
      """WITH e AS (SELECT epoch_us(ts) AS tu, event_type FROM events),
        |  w AS (SELECT event_type, ((tu // 1800000000) - k) * 1800000000 AS ws, tu
        |    FROM e, unnest([0, 1]) AS t(k)),
        |  ok AS (SELECT event_type, ws FROM w WHERE tu - ws < 3600000000 AND tu >= ws)
        |SELECT make_timestamp(ws) AS wstart, event_type, count(*) AS cnt
        |FROM ok GROUP BY ws, event_type""".stripMargin,

    "stream_session_counts" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
        |  m AS (SELECT user_id, tu,
        |    CASE WHEN tu - lag(tu) OVER (PARTITION BY user_id ORDER BY tu) >= 1800000000
        |      THEN 1 ELSE 0 END AS brk FROM e),
        |  sess AS (SELECT user_id, tu,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY tu ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT make_timestamp(min(tu)) AS wstart, user_id, count(*) AS cnt
        |FROM sess GROUP BY user_id, sid""".stripMargin,

    "stream_queue_source" ->
      """SELECT * FROM (VALUES ('alpha', CAST(3 AS BIGINT)),
        |  ('beta', CAST(2 AS BIGINT)), ('gamma', CAST(1 AS BIGINT))) AS t(body, cnt)""".stripMargin,

    "stream_dedup_keys" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // single AvailableNow batch + idle timeout beyond the feed's span → the
    // expiring running totals equal the batch aggregate; the summed value
    // is integral so double accumulation order cannot change the hash
    "stream_running_totals" ->
      """SELECT CAST(user_id AS VARCHAR) AS user_id, count(*) AS running_count,
        |  CAST(sum(event_id % 1000) AS DOUBLE) AS running_sum
        |FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |GROUP BY user_id""".stripMargin,

    "stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS cnt
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "stream_split_counts" ->
      s"""SELECT CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
         |  ELSE 'test' END AS split, count(*) AS cnt
         |FROM (SELECT ${duckBucket("CAST(user_id AS VARCHAR)", 1000, "graft")} AS b
         |  FROM events)
         |GROUP BY 1""".stripMargin,

    "skew_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "skew_salted_join" ->
      """SELECT s_nationkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin,

    "curate_shuffle" ->
      """SELECT doc_id,
        |  md5(CAST(doc_id AS VARCHAR) || ':graft') AS shuffle_key
        |FROM documents""".stripMargin,

    "sink_file_sized" -> "SELECT * FROM orders",

    "sink_file_jsonl" -> "SELECT doc_id, lang, source FROM documents",

    "sink_file_orc" -> "SELECT * FROM orders",

    // the merge expressed as one SELECT: key%7 rows take the price bump,
    // everything else unchanged, new keys appended
    "sink_upsert_partitioned" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_orderstatus,
        |  o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 1000 = 3""".stripMargin,

    "layout_zorder" -> "SELECT * FROM orders",

    "layout_partition_prune" ->
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, event_type, user_id
        |           FROM events),
        |  b AS (SELECT min(day) AS lo FROM e)
        |SELECT e.day, e.event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e, b WHERE e.day BETWEEN b.lo AND b.lo + 2
        |GROUP BY 1, 2""".stripMargin,

    "layout_bucketed_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin,

    "curate_chunk" ->
      """WITH tok AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM documents)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  array_to_string(w[(i*48+1):(i*48+64)], ' ') AS chunk
        |FROM tok, unnest(range(0, CAST(ceil(len(w) / 48.0) AS BIGINT))) AS t(i)""".stripMargin,

    "search_bm25" -> bm25OracleSql,
    // the indexed and append-path forms must match the SAME corpus-wide
    // scores the scan form produces — one oracle, three code paths
    "search_bm25_indexed" -> bm25OracleSql,
    "search_bm25_index_append" -> bm25OracleSql,

    "search_bm25_batch" ->
      s"""WITH $bm25BatchCtesSql,
         |  lexrk AS (SELECT query_id, id, score_u,
         |      row_number() OVER (PARTITION BY query_id ORDER BY score_u DESC, id) AS rnk FROM scg)
         |SELECT CAST(query_id AS BIGINT) AS query_id, id AS doc_id,
         |  round(score_u / 1000000.0, 4) AS score, CAST(rnk AS BIGINT) AS rank
         |FROM lexrk WHERE rnk <= 10""".stripMargin,

    // hybrid RRF: the lexical CTEs above + the int8 quantization CTEs from
    // the ann_int8_batch oracle + rank-only fusion with the fixed
    // lexical-then-semantic addition order rrfFuse uses
    "search_hybrid_rrf" ->
      s"""WITH $bm25BatchCtesSql,
         |  lex AS (SELECT query_id, id, rnk FROM (
         |      SELECT query_id, id,
         |        row_number() OVER (PARTITION BY query_id ORDER BY score_u DESC, id) AS rnk
         |      FROM scg) WHERE rnk <= 20),
         |  sc8 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |      list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
         |    FROM embeddings),
         |  q8 AS (SELECT vec_id, CASE WHEN s = 0 THEN list_transform(v, x -> 0)
         |      ELSE list_transform(v, x -> CAST(round(x / s) AS INT)) END AS qa FROM sc8),
         |  qq AS (SELECT vec_id AS query_id, qa AS qv FROM q8 WHERE vec_id BETWEEN 1 AND 3),
         |  scored AS (SELECT query_id, q8.vec_id AS corpus_id,
         |      CAST(list_sum(list_transform(range(1, 65), i -> CAST(qa[i] AS BIGINT) * qv[i])) AS BIGINT) AS iscore
         |    FROM q8, qq WHERE q8.vec_id <> query_id),
         |  sem AS (SELECT query_id, id, rnk FROM (
         |      SELECT query_id, corpus_id AS id,
         |        row_number() OVER (PARTITION BY query_id ORDER BY iscore DESC, corpus_id) AS rnk
         |      FROM scored) WHERE rnk <= 20),
         |  fused AS (SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
         |      coalesce(lex.id, sem.id) AS id,
         |      round(coalesce(1.0 / (60 + lex.rnk), 0) + coalesce(1.0 / (60 + sem.rnk), 0), 6) AS rrf
         |    FROM lex FULL OUTER JOIN sem ON lex.query_id = sem.query_id AND lex.id = sem.id)
         |SELECT CAST(query_id AS BIGINT) AS query_id, id AS doc_id, rrf, CAST(rank AS BIGINT) AS rank
         |FROM (SELECT query_id, id, rrf,
         |    row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, id) AS rank FROM fused)
         |WHERE rank <= 10""".stripMargin,

    "curate_quality_topk" ->
      """SELECT doc_id, source, quality_pm FROM (
        |  SELECT doc_id, source, CAST(floor(
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
        |    * (1.0 - least(CAST(punct_pm AS DOUBLE) / 300.0, 1.0)) * 1000 + 0.5) AS BIGINT) AS quality_pm
        |  FROM (SELECT doc_id, source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    CASE WHEN length(text) = 0 THEN 0
        |      ELSE floor((length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) * 1000.0 / length(text) + 0.5) END AS punct_pm
        |  FROM documents))
        |QUALIFY percent_rank() OVER (PARTITION BY source
        |  ORDER BY quality_pm DESC, doc_id) <= 0.5""".stripMargin,

    "curate_source_caps" ->
      s"""SELECT doc_id, source, quality_pm FROM (${duckQualityPm("source")})
         |QUALIFY row_number() OVER (PARTITION BY source
         |  ORDER BY quality_pm DESC, doc_id) <= 50""".stripMargin,

    "curate_weighted_sample" ->
      s"""SELECT doc_id, quality_pm FROM (${duckQualityPm()})
         |WHERE ${duckBucket("CAST(doc_id AS VARCHAR)", 1000, "wsamp")} < quality_pm""".stripMargin,

    "corpus_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS total_tokens,
        |  count(DISTINCT lang) AS n_langs, true AS hll_ok
        |FROM documents GROUP BY source""".stripMargin,

    "text_clean" ->
      """SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(
        |  '<b>Hi</b>' || chr(9) || ' ' || text || '  <br/> end' || chr(1),
        |  '<[^>]*>', ' ', 'g'), '[\x00-\x1f\x7f]', '', 'g'), '\s+', ' ', 'g')) AS clean
        |FROM documents""".stripMargin,

    "text_redact" ->
      """SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |  text || ' contact: user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com or 10.0.0.1 or +1 (555) 010-' || CAST(doc_id AS VARCHAR),
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |  '\+?[0-9][0-9()\[\] .-]{6,}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM documents""".stripMargin,

    "text_signals" ->
      """WITH tok AS (SELECT doc_id, text, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM documents),
        |  sh AS (SELECT doc_id, text,
        |    CASE WHEN len(w) < 2 THEN []
        |      ELSE list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' ')) END AS s2,
        |    CASE WHEN len(w) < 3 THEN []
        |      ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END AS s3
        |  FROM tok)
        |SELECT doc_id,
        |  CAST(CASE WHEN len(s2) = 0 THEN 0
        |    ELSE floor((len(s2) - len(list_distinct(s2))) * 1000.0 / len(s2) + 0.5) END AS BIGINT) AS dup2_pm,
        |  CAST(CASE WHEN len(s3) = 0 THEN 0
        |    ELSE floor((len(s3) - len(list_distinct(s3))) * 1000.0 / len(s3) + 0.5) END AS BIGINT) AS dup3_pm,
        |  CAST(CASE WHEN length(text) = 0 THEN 0
        |    ELSE floor((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) * 1000.0 / length(text) + 0.5) END AS BIGINT) AS caps_pm,
        |  CAST(CASE WHEN length(text) = 0 THEN 0
        |    ELSE floor((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1000.0 / length(text) + 0.5) END AS BIGINT) AS digit_pm
        |FROM sh""".stripMargin,

    "text_repetition" ->
      """WITH mt AS (SELECT doc_id, text,
        |    CASE WHEN doc_id % 2 = 0 THEN concat_ws(chr(10), text, text, 'END ' || doc_id)
        |         ELSE concat_ws(chr(10), text, 'END ' || doc_id) END AS mtext FROM documents),
        |  ln AS (SELECT doc_id, list_filter(list_transform(string_split(mtext, chr(10)),
        |    l -> trim(l)), l -> length(l) > 0) AS ls FROM mt),
        |  lstat AS (SELECT doc_id,
        |    CAST(CASE WHEN len(ls) = 0 THEN 0
        |      ELSE floor((len(ls) - len(list_distinct(ls))) * 1000.0 / len(ls) + 0.5) END AS BIGINT) AS dup_line_pm,
        |    CAST(CASE WHEN coalesce(list_sum(list_transform(ls, l -> length(l))), 0) = 0 THEN 0
        |      ELSE floor(coalesce(list_sum(list_transform(
        |          list_filter(ls, l -> len(list_filter(ls, l2 -> l2 = l)) >= 2),
        |          l -> length(l))), 0) * 1000.0
        |        / list_sum(list_transform(ls, l -> length(l))) + 0.5) END AS BIGINT) AS dup_line_char_pm
        |    FROM ln),
        |  tok AS (SELECT doc_id, text, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM documents),
        |  sh AS (SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS sng FROM tok),
        |  cnt AS (SELECT doc_id, sng, count(*) AS c FROM sh GROUP BY 1, 2),
        |  top AS (SELECT doc_id, sng, c FROM (SELECT doc_id, sng, c,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, sng ASC) AS rn FROM cnt)
        |    WHERE rn = 1)
        |SELECT l.doc_id, l.dup_line_pm, l.dup_line_char_pm,
        |  CAST(coalesce(floor(t.c * length(t.sng) * 1000.0 / nullif(length(d.text), 0) + 0.5), 0) AS BIGINT) AS top3gram_pm
        |FROM lstat l JOIN documents d ON l.doc_id = d.doc_id
        |LEFT JOIN top t ON l.doc_id = t.doc_id""".stripMargin,

    // script densities re-derived with the same literal char classes; ties
    // and the und-fallback replicated
    "text_script" ->
      """WITH mt AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' привет мир'
        |         WHEN doc_id % 3 = 1 THEN ' 你好 世界'
        |         ELSE '' END AS t FROM documents),
        |  sig AS (SELECT doc_id,
        |    CAST(CASE WHEN length(t) = 0 THEN 0 ELSE floor((length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))) * 1000.0 / length(t) + 0.5) END AS BIGINT) AS latin_pm,
        |    CAST(CASE WHEN length(t) = 0 THEN 0 ELSE floor((length(t) - length(regexp_replace(t, '[Ѐ-ӿ]', '', 'g'))) * 1000.0 / length(t) + 0.5) END AS BIGINT) AS cyrillic_pm,
        |    CAST(CASE WHEN length(t) = 0 THEN 0 ELSE floor((length(t) - length(regexp_replace(t, '[一-鿿]', '', 'g'))) * 1000.0 / length(t) + 0.5) END AS BIGINT) AS cjk_pm
        |  FROM mt)
        |SELECT doc_id, latin_pm, cyrillic_pm, cjk_pm,
        |  CASE WHEN latin_pm = 0 AND cyrillic_pm = 0 AND cjk_pm = 0 THEN 'und'
        |       WHEN latin_pm >= cyrillic_pm AND latin_pm >= cjk_pm THEN 'latin'
        |       WHEN cyrillic_pm >= cjk_pm THEN 'cyrillic'
        |       ELSE 'cjk' END AS script
        |FROM sig""".stripMargin,

    // candidates from the same regex, Luhn re-derived per candidate, only
    // validated ones replaced (list_reduce folds replace over them)
    "text_redact_cc" ->
      """WITH mt AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' card 4111 1111 1111 1111 end'
        |         WHEN doc_id % 4 = 1 THEN ' ref 4111 1111 1111 1112 end'
        |         WHEN doc_id % 4 = 2 THEN ' acct 5500-0000-0000-0004 ok'
        |         ELSE '' END AS t FROM documents)
        |SELECT doc_id,
        |  list_reduce(list_prepend(t, list_filter(regexp_extract_all(t, '[0-9][0-9 -]{10,17}[0-9]'),
        |    c -> length(regexp_replace(c, '[^0-9]', '', 'g')) BETWEEN 13 AND 19
        |      AND CAST(list_sum(list_transform(range(1, length(regexp_replace(c, '[^0-9]', '', 'g')) + 1), i ->
        |        CASE WHEN (length(regexp_replace(c, '[^0-9]', '', 'g')) - i) % 2 = 1
        |          THEN CASE WHEN CAST(regexp_replace(c, '[^0-9]', '', 'g')[i] AS INT) * 2 > 9
        |               THEN CAST(regexp_replace(c, '[^0-9]', '', 'g')[i] AS INT) * 2 - 9
        |               ELSE CAST(regexp_replace(c, '[^0-9]', '', 'g')[i] AS INT) * 2 END
        |          ELSE CAST(regexp_replace(c, '[^0-9]', '', 'g')[i] AS INT) END)) AS BIGINT) % 10 = 0)),
        |    (a, b) -> replace(a, b, '<CC>')) AS redacted
        |FROM mt""".stripMargin,

    // the seven Gopher sub-signals + keep, re-derived rule by rule; the
    // whitespace-normalized padded-instr stopword probe matches the Spark
    // side exactly (minStopHits=1 on this fixture — see the query comment)
    "text_gopher_quality" ->
      """WITH mt AS (SELECT doc_id,
        |    concat_ws(chr(10),
        |      CASE WHEN doc_id % 3 = 0 THEN '- bullet item' ELSE 'intro ' || doc_id END,
        |      text,
        |      CASE WHEN doc_id % 4 = 0 THEN 'wait for it...' ELSE 'END ' || doc_id END,
        |      CASE WHEN doc_id % 5 = 0 THEN '### ## #' ELSE 'tail' END) AS mtext
        |  FROM documents),
        |  tok AS (SELECT doc_id, mtext,
        |    CASE WHEN length(trim(mtext)) = 0 THEN [] ELSE regexp_split_to_array(trim(mtext), '\s+') END AS w,
        |    list_filter(list_transform(string_split(mtext, chr(10)), l -> trim(l)), l -> length(l) > 0) AS ls,
        |    ' ' || lower(regexp_replace(mtext, '\s+', ' ', 'g')) || ' ' AS pad
        |  FROM mt),
        |  sig AS (SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(floor(length(regexp_replace(trim(mtext), '\s+', '', 'g')) * 1000.0 / greatest(len(w), 1) + 0.5) AS BIGINT) AS mean_wlen_milli,
        |    CAST(floor((
        |        (length(mtext) - length(replace(mtext, '#', '')))
        |        + (length(mtext) - length(regexp_replace(mtext, '\.{3}', '', 'g'))) / 3
        |        + (length(mtext) - length(replace(mtext, '…', '')))
        |      ) * 1000.0 / greatest(len(w), 1) + 0.5) AS BIGINT) AS symbol_pm,
        |    CAST(CASE WHEN len(ls) = 0 THEN 0 ELSE floor(len(list_filter(ls, l -> regexp_matches(l, '^[-*•]'))) * 1000.0 / len(ls) + 0.5) END AS BIGINT) AS bullet_line_pm,
        |    CAST(CASE WHEN len(ls) = 0 THEN 0 ELSE floor(len(list_filter(ls, l -> regexp_matches(l, '(\.{3}|…)$'))) * 1000.0 / len(ls) + 0.5) END AS BIGINT) AS ellipsis_line_pm,
        |    CAST(CASE WHEN len(w) = 0 THEN 0 ELSE floor(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) * 1000.0 / len(w) + 0.5) END AS BIGINT) AS alpha_word_pm,
        |    CAST((CASE WHEN instr(pad, ' the ') > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN instr(pad, ' be ') > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN instr(pad, ' to ') > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN instr(pad, ' of ') > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN instr(pad, ' and ') > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN instr(pad, ' that ') > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN instr(pad, ' have ') > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN instr(pad, ' with ') > 0 THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
        |  FROM tok)
        |SELECT doc_id, n_words, mean_wlen_milli, symbol_pm, bullet_line_pm,
        |  ellipsis_line_pm, alpha_word_pm, stop_hits,
        |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000 AND mean_wlen_milli BETWEEN 3000 AND 10000
        |    AND symbol_pm <= 100 AND bullet_line_pm < 900 AND ellipsis_line_pm < 300
        |    AND alpha_word_pm >= 800 AND stop_hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM sig""".stripMargin,

    // same page construction, same extraction pipeline: script/style/comment
    // drop → tag strip → entity decode (&amp; last) → whitespace collapse
    "text_html_extract" ->
      """WITH h AS (SELECT doc_id,
        |    '<html><head><title>T' || doc_id || '</title><style>p { color: red; }</style>' ||
        |    '<script>var x = 1 && s[0];</script></head><body><h1>Doc ' || doc_id || '</h1><p>' || text ||
        |    '</p><!-- hidden' || chr(10) || 'comment --><div>tail &amp; &lt;q&gt; &quot;z&quot; &#39;y&#39;&nbsp;end</div></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id, trim(regexp_replace(
        |  replace(replace(replace(replace(replace(replace(
        |    regexp_replace(regexp_replace(html, '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
        |      '(?s)<!--.*?-->|<[^>]*>', ' ', 'g'),
        |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |  '\s+', ' ', 'g')) AS extracted
        |FROM h""".stripMargin,

    // the greedy sentence-pack fold replayed as a recursive CTE: walk the
    // per-doc sentence token counts, open a new chunk when the budget
    // would overflow, then string_agg each chunk's sentences in order
    "curate_chunk_sentences" ->
      """WITH RECURSIVE mt AS (SELECT doc_id, regexp_replace(text, '((\S+ ){7}\S+) ', '\1. ', 'g') AS mtext FROM documents),
        |  sen AS (SELECT doc_id, list_filter(list_transform(
        |      string_split(regexp_replace(mtext, '([.!?]+)\s+', '\1' || chr(1), 'g'), chr(1)),
        |      x -> trim(x)), x -> length(x) > 0) AS ss FROM mt),
        |  tok AS (SELECT doc_id, ss, list_transform(ss, x ->
        |      CASE WHEN length(trim(x)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(x), '\s+')) END) AS tc
        |    FROM sen WHERE len(ss) > 0),
        |  w(doc_id, i, chunk_no, cur) AS (
        |    SELECT doc_id, 1, 0, tc[1] FROM tok
        |    UNION ALL
        |    SELECT w.doc_id, w.i + 1,
        |      CASE WHEN w.cur + tok.tc[w.i + 1] > 20 THEN w.chunk_no + 1 ELSE w.chunk_no END,
        |      CASE WHEN w.cur + tok.tc[w.i + 1] > 20 THEN tok.tc[w.i + 1] ELSE w.cur + tok.tc[w.i + 1] END
        |    FROM w JOIN tok ON w.doc_id = tok.doc_id WHERE w.i < len(tok.ss))
        |SELECT t.doc_id, CAST(w.chunk_no AS BIGINT) AS chunk_idx,
        |  string_agg(t.ss[w.i], ' ' ORDER BY w.i) AS chunk
        |FROM w JOIN tok t ON w.doc_id = t.doc_id
        |GROUP BY t.doc_id, w.chunk_no""".stripMargin,

    // the full canonicalization replicated: lowercased scheme/host, default
    // port stripped, trailing slash dropped, tracking params filtered, the
    // rest sorted, fragment gone
    "curate_url_normalize" ->
      """WITH u AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END || '://Site' ||
        |    CAST(CAST(floor(doc_id / 2.0) AS BIGINT) % 7 AS VARCHAR) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '.Example.COM:443' ELSE '.example.com' END ||
        |    '/docs/' || CAST(CAST(floor(doc_id / 2.0) AS BIGINT) AS VARCHAR) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '/?utm_source=feed&b=2&a=1#frag' ELSE '?a=1&b=2' END AS url
        |  FROM documents),
        |  parts AS (SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://[^/?#]*([^?#]*)', 2) AS rawpath,
        |    regexp_extract(url, '\?([^#]*)', 1) AS rawq
        |  FROM u),
        |  np AS (SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         ELSE hostport END AS host,
        |    CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
        |         ELSE regexp_replace(rawpath, '/+$', '') END AS path,
        |    array_to_string(list_sort(list_filter(string_split(rawq, '&'),
        |      p -> length(p) > 0 AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') AS qs
        |  FROM parts)
        |SELECT doc_id,
        |  scheme || '://' || host || path || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS url_norm,
        |  host,
        |  regexp_extract(regexp_replace(host, ':[0-9]+$', ''), '([^.:]+\.[^.:]+)$', 1) AS domain
        |FROM np""".stripMargin,

    // per canonical URL keep the smallest doc_id — min-per-group is the
    // exact semantics of the windowed keep
    "curate_url_dedup" ->
      """WITH u AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END || '://Site' ||
        |    CAST(CAST(floor(doc_id / 2.0) AS BIGINT) % 7 AS VARCHAR) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '.Example.COM:443' ELSE '.example.com' END ||
        |    '/docs/' || CAST(CAST(floor(doc_id / 2.0) AS BIGINT) AS VARCHAR) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '/?utm_source=feed&b=2&a=1#frag' ELSE '?a=1&b=2' END AS url
        |  FROM documents),
        |  parts AS (SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://[^/?#]*([^?#]*)', 2) AS rawpath,
        |    regexp_extract(url, '\?([^#]*)', 1) AS rawq
        |  FROM u),
        |  np AS (SELECT doc_id,
        |    scheme || '://' ||
        |    (CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |          WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |          ELSE hostport END) ||
        |    (CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
        |          ELSE regexp_replace(rawpath, '/+$', '') END) ||
        |    (CASE WHEN array_to_string(list_sort(list_filter(string_split(rawq, '&'),
        |        p -> length(p) > 0 AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') = '' THEN ''
        |      ELSE '?' || array_to_string(list_sort(list_filter(string_split(rawq, '&'),
        |        p -> length(p) > 0 AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') END) AS url_norm
        |  FROM parts)
        |SELECT min(doc_id) AS doc_id, url_norm FROM np GROUP BY url_norm""".stripMargin,

    "curate_sample_hash" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${duckBucket("CAST(doc_id AS VARCHAR)", 1000, "s1")} < 200""".stripMargin,

    "curate_split_hash" ->
      s"""SELECT doc_id, CASE WHEN b < 800 THEN 'train'
         |  WHEN b < 900 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |  ${duckBucket("CAST(doc_id AS VARCHAR)", 1000, "graft")} AS b
         |  FROM documents)""".stripMargin,

    "curate_mixture" ->
      s"""SELECT doc_id, source FROM (SELECT doc_id, source,
         |  ${duckBucket("CAST(doc_id AS VARCHAR)", 1000, "graft")} AS b
         |  FROM documents)
         |WHERE b < CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 0
         |  ELSE 300 END""".stripMargin,

    "curate_stratified_n" ->
      s"""SELECT doc_id, lang FROM (SELECT doc_id, lang,
         |  ${duckBucket("CAST(doc_id AS VARCHAR)", 65536, "graft")} AS b
         |  FROM documents)
         |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY b, doc_id) <= 10""".stripMargin,

    // the cum column stays internal (window sum over BIGINT would surface
    // as HUGEINT otherwise); comparison against the CASE budget is typeless
    "curate_token_budget" ->
      s"""SELECT doc_id, lang, n_chars FROM (SELECT doc_id, lang, n_chars,
         |  sum(CAST(n_chars AS BIGINT)) OVER (PARTITION BY lang
         |    ORDER BY ${duckBucket("CAST(doc_id AS VARCHAR)", 65536, "tb")}, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM documents)
         |WHERE cum <= CASE WHEN lang = 'en' THEN 60000 ELSE 25000 END""".stripMargin,

    // identical cut — the enforced precondition must not change the result
    "curate_token_budget_checked" ->
      s"""SELECT doc_id, lang, n_chars FROM (SELECT doc_id, lang, n_chars,
         |  sum(CAST(n_chars AS BIGINT)) OVER (PARTITION BY lang
         |    ORDER BY ${duckBucket("CAST(doc_id AS VARCHAR)", 65536, "tb")}, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM documents)
         |WHERE cum <= CASE WHEN lang = 'en' THEN 60000 ELSE 25000 END""".stripMargin,

    "curate_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST(sum(nt) AS BIGINT) // count(*) AS mean_tokens
        |FROM (SELECT lang,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS nt
        |  FROM documents)
        |GROUP BY lang""".stripMargin,

    "curate_pack_greedy" ->
      s"""WITH d AS (SELECT doc_id,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tok,
         |    ${duckBucket("CAST(doc_id AS VARCHAR)", 8, "graft")} AS shard
         |  FROM documents),
         |  c AS (SELECT doc_id, n_tok, shard,
         |    CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS cum FROM d)
         |SELECT doc_id, n_tok, shard, cum // 512 AS bin, cum % 512 AS bin_offset
         |FROM c""".stripMargin,

    "curate_pack_examples" ->
      s"""WITH d AS (SELECT doc_id, text,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tok,
         |    ${duckBucket("CAST(doc_id AS VARCHAR)", 8, "graft")} AS shard
         |  FROM documents),
         |  c AS (SELECT doc_id, text, n_tok, shard,
         |    CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS cum FROM d)
         |SELECT shard, cum // 512 AS bin, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  string_agg(text, ' ' ORDER BY cum % 512, doc_id) AS text
         |FROM c GROUP BY 1, 2""".stripMargin,

    "curate_upsample" ->
      s"""SELECT doc_id, CAST(k AS INT) AS copy_idx
         |FROM (SELECT doc_id, 2 + CASE WHEN
         |    ${duckBucket("CAST(doc_id AS VARCHAR)", 1000, "graft")} < 500
         |    THEN 1 ELSE 0 END AS copies FROM documents),
         |  unnest(range(1, copies + 1)) AS t(k)""".stripMargin,

    // lambda var renamed j: the outer k (negative index) must stay visible
    // inside the md5-fold
    "curate_negatives" ->
      """SELECT vec_id, neg_id FROM (
        |  SELECT vec_id, (CAST(list_sum(list_transform(range(1, 5),
        |    j -> (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR) || ':graft:' || CAST(k AS VARCHAR)), CAST(j AS INT), 1)) - 1)
        |         * (16.0 ** (4 - j)))) AS BIGINT) % 500) + 1 AS neg_id
        |  FROM embeddings, unnest(range(1, 9)) AS t(k)
        |  WHERE vec_id <= 5)
        |WHERE neg_id <> vec_id""".stripMargin,

    "curate_decontaminate" ->
      """WITH tr AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 <> 0),
        |  ev AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 = 0),
        |  trtok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM tr),
        |  trsh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM trtok),
        |  trinv AS (SELECT id, unnest(s) AS sng FROM trsh),
        |  evtok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM ev),
        |  evsh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM evtok),
        |  evsng AS (SELECT DISTINCT unnest(s) AS sng FROM evsh),
        |  capped AS (SELECT id, sng FROM (
        |    SELECT id, sng, count(*) OVER (PARTITION BY sng) AS df FROM trinv)
        |    WHERE df <= 10000),
        |  bad AS (SELECT DISTINCT c.id FROM capped c JOIN evsng e ON c.sng = e.sng)
        |SELECT t.id AS doc_id FROM tr t WHERE t.id NOT IN (SELECT id FROM bad)""".stripMargin,

    "curate_contamination" ->
      """WITH tr AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 <> 0),
        |  ev AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 = 0),
        |  trtok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM tr),
        |  trsh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM trtok),
        |  trinv AS (SELECT id, unnest(s) AS sng FROM trsh),
        |  evtok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM ev),
        |  evsh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM evtok),
        |  evinv AS (SELECT id, unnest(s) AS sng FROM evsh),
        |  trcap AS (SELECT id, sng FROM (
        |    SELECT id, sng, count(*) OVER (PARTITION BY sng) AS df FROM trinv)
        |    WHERE df <= 10000),
        |  evcap AS (SELECT id, sng FROM (
        |    SELECT id, sng, count(*) OVER (PARTITION BY sng) AS df FROM evinv)
        |    WHERE df <= 10000)
        |SELECT t.id AS train_id, e.id AS eval_id, count(*) AS shared_shingles
        |FROM trcap t JOIN evcap e ON t.sng = e.sng
        |GROUP BY 1, 2""".stripMargin,

    "curate_decontam_indexed" ->
      """WITH ev AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 = 0),
        |  tr AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 <> 0
        |    UNION ALL SELECT id + 2000000, text FROM ev),
        |  trtok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM tr),
        |  trsh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM trtok),
        |  trinv AS (SELECT id, unnest(s) AS sng FROM trsh),
        |  evtok AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS w FROM ev),
        |  evsh AS (SELECT id, list_distinct(CASE WHEN len(w) < 3 THEN []
        |    ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS s FROM evtok),
        |  evsng AS (SELECT DISTINCT unnest(s) AS sng FROM evsh),
        |  capped AS (SELECT id, sng FROM (
        |    SELECT id, sng, count(*) OVER (PARTITION BY sng) AS df FROM trinv)
        |    WHERE df <= 10000),
        |  bad AS (SELECT DISTINCT c.id FROM capped c JOIN evsng e ON c.sng = e.sng)
        |SELECT t.id AS doc_id FROM tr t WHERE t.id NOT IN (SELECT id FROM bad)""".stripMargin,

    "curate_pretrain_pipeline" ->
      s"""WITH f AS (SELECT doc_id, text,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         |    CASE WHEN length(text) = 0 THEN 0
         |      ELSE floor((length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))) * 1000.0 / length(text) + 0.5) END AS punct_pm,
         |    (CASE WHEN instr(' ' || lower(text) || ' ', ' the ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' and ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' of ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' a ') > 0 THEN 1 ELSE 0 END) AS en,
         |    (CASE WHEN instr(' ' || lower(text) || ' ', ' der ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' und ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' die ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' ein ') > 0 THEN 1 ELSE 0 END) AS de,
         |    (CASE WHEN instr(' ' || lower(text) || ' ', ' le ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' la ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' et ') > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN instr(' ' || lower(text) || ' ', ' un ') > 0 THEN 1 ELSE 0 END) AS fr
         |  FROM documents),
         |  q AS (SELECT doc_id, text, CAST(n_tokens AS BIGINT) AS n_tokens,
         |    CAST(floor(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         |      * (1.0 - least(CAST(punct_pm AS DOUBLE) / 300.0, 1.0)) * 1000 + 0.5) AS BIGINT) AS quality_pm,
         |    CASE WHEN en = 0 AND de = 0 AND fr = 0 THEN 'und'
         |      WHEN en >= de AND en >= fr THEN 'en'
         |      WHEN de >= fr THEN 'de' ELSE 'fr' END AS lang_pred
         |  FROM f),
         |  filt AS (SELECT doc_id, text, n_tokens FROM q
         |    WHERE lang_pred = 'en' AND quality_pm >= 200 AND n_tokens >= 5),
         |  dd AS (SELECT doc_id, n_tokens FROM filt
         |    QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
         |SELECT doc_id, n_tokens, CASE WHEN b < 800 THEN 'train'
         |  WHEN b < 900 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, n_tokens,
         |  ${duckBucket("CAST(doc_id AS VARCHAR)", 1000, "graft")} AS b FROM dd)""".stripMargin,

    "vec_l2_normalize" ->
      """SELECT vec_id, array_to_string(list_transform(range(1, 65),
        |  i -> CAST(floor(CASE WHEN n = 0 THEN CAST(embedding[i] AS DOUBLE)
        |       ELSE CAST(embedding[i] AS DOUBLE) / n END * 10000 + 0.5) AS BIGINT)), ',') AS v_tenk
        |FROM (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(range(1, 65),
        |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS n
        |  FROM embeddings)""".stripMargin,

    "vec_quantize_int8" ->
      """WITH sc AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
        |  FROM embeddings),
        |  q AS (SELECT vec_id, s, CASE WHEN s = 0 THEN list_transform(v, x -> 0)
        |    ELSE list_transform(v, x -> CAST(round(x / s) AS INT)) END AS qa FROM sc)
        |SELECT vec_id, round(s, 6) AS scale,
        |  CAST(list_sum(qa) AS BIGINT) AS sum_q,
        |  CAST(list_min(qa) AS BIGINT) AS min_q,
        |  CAST(list_max(qa) AS BIGINT) AS max_q
        |FROM q""".stripMargin,

    // packed word re-derived as a HUGEINT shifted sum (DuckDB's BIGINT <<
    // overflows at bit 63), wrapped to signed 64-bit to match Spark's long
    "vec_sign_bits" ->
      """WITH s AS (SELECT vec_id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CASE WHEN embedding[i] >= 0 THEN (CAST(1 AS HUGEINT) << (i - 1))
        |           ELSE CAST(0 AS HUGEINT) END)) AS u,
        |    CAST(list_sum(list_transform(embedding,
        |      x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END)) AS BIGINT) AS n_pos
        |  FROM embeddings)
        |SELECT vec_id,
        |  CAST(CASE WHEN u >= CAST(1 AS HUGEINT) << 63
        |    THEN u - (CAST(1 AS HUGEINT) << 64) ELSE u END AS BIGINT) AS sig_word,
        |  n_pos
        |FROM s""".stripMargin,

    "infer_batched" ->
      "SELECT doc_id, CAST(length(text) % 997 AS DOUBLE) AS score FROM documents",

    "vec_random_projection" ->
      """WITH sc AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
        |  FROM embeddings),
        |  q AS (SELECT vec_id, CASE WHEN s = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |    ELSE list_transform(v, x -> CAST(round(x / s) AS BIGINT)) END AS qa FROM sc)
        |SELECT vec_id, CAST(j AS BIGINT) AS j,
        |  CAST(list_sum(list_transform(range(0, 64), i ->
        |    CASE WHEN (instr('0123456789abcdef',
        |        substr(md5('graft:' || CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)) - 1) % 2 = 0
        |      THEN qa[CAST(i + 1 AS INT)] ELSE -qa[CAST(i + 1 AS INT)] END)) AS BIGINT) AS proj
        |FROM q, unnest(range(0, 16)) AS t(j)""".stripMargin,

    // inner interval join: every (click, purchase-within-30min) pair is
    // emitted once regardless of micro-batching, so the batch self-join is
    // an exact oracle
    "stream_stream_join" ->
      """SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND 1800000000""".stripMargin
  )
}
