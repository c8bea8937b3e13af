package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.operators.{AsOf, ColumnOps, Parse, Sync}
import graft.sources.{LineParser, LineParserConfig}
import graft.SparkEntry.eventsUs

/** Sync ops, the reference's relational heart (anti-insert, watermark and
  * paged incremental sync, upsert, SCD2, as-of joins), plus the row
  * transforms: LineParser, column algebra, XML/JSON parse and format.
  */
object SyncQueries {

  def cases: Seq[QueryCase] = Seq(
    QueryCase("xf_lineparser_csv", (s, dir) => {
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
    }, Oracle(
      """SELECT * FROM (VALUES
        |  ('batch_id', 'region', 'Alice', 'Spring, field', 'ok'),
        |  ('batch_id', 'region', 'Bo"b', 'NYC', 'x,y'),
        |  ('batch_id', 'region', 'Cara', 'LA', 'plain')
        |) AS t(fbatch, fregion, name, city, note)""".stripMargin)),

    // dataLine[] list semantics (reference `LineParser.php:175`): rows 3 and
    // 6 are data, 4-5 are junk, and everything from the max listed row on is
    // data again — the gap proves the list path, the tail proves `>= max`
    QueryCase("xf_lineparser_rows", (s, dir) => {
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
    }, Oracle(
      """SELECT * FROM (VALUES
        |  ('Alice', 'Paris'), ('Bob', 'Rome'), ('Cara', 'Oslo')
        |) AS t(name, city)""".stripMargin)),

    QueryCase("xf_project_include", (s, dir) => {
      ColumnOps.include(
        "okey" -> "l_orderkey",
        "qty"  -> "cast(l_quantity as bigint)",
        "flag" -> "l_returnflag")(Tables(s, dir).lineitem)
    }, Oracle("SELECT l_orderkey AS okey, CAST(l_quantity AS BIGINT) AS qty, l_returnflag AS flag FROM lineitem")),

    QueryCase("xf_project_exclude", (s, dir) =>
      ColumnOps.exclude("p_retailprice")(Tables(s, dir).part),
      Oracle("SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part")),

    QueryCase("xf_rename", (s, dir) =>
      ColumnOps.rename("c_name" -> "cust_name", "c_acctbal" -> "balance")(
        Tables(s, dir).customer),
      Oracle("SELECT c_custkey, c_name AS cust_name, c_nationkey, c_acctbal AS balance, c_mktsegment FROM customer")),

    QueryCase("xf_addfield", (s, dir) =>
      ColumnOps.addFields("src" -> lit("graft"), "flag" -> lit(1))(
        Tables(s, dir).supplier),
      Oracle("SELECT s_suppkey, s_name, s_nationkey, s_acctbal, 'graft' AS src, 1 AS flag FROM supplier")),

    // parity-only variant: dense oracle-deterministic ids via ONE
    // partition-less window — allowlisted in PlanShapeSpec for the 25-row
    // nation ONLY; the scale path is xf_idkey_snowflake below
    QueryCase("xf_idkey", (s, dir) =>
      ColumnOps.idKeyOrdered("rid", col("n_nationkey"))(Tables(s, dir).nation),
      Oracle("SELECT n_nationkey, n_name, n_regionkey, row_number() OVER (ORDER BY n_nationkey) AS rid FROM nation")),

    // the production id generator: snowflake ids, zero shuffle, time-
    // sortable. Ids are wall-clock-based → rows-only; the oracled gate
    // below asserts the invariants that matter (cardinality preserved,
    // global uniqueness, positivity) deterministically
    QueryCase("xf_idkey_snowflake", (s, dir) =>
      ColumnOps.idKeySnowflake("rid")(
        Tables(s, dir).orders.select("o_orderkey")),
      Gate("xf_idkey_snowflake_gate")),

    QueryCase("xf_idkey_snowflake_gate", (s, dir) => {
      val ids = ColumnOps.idKeySnowflake("rid")(
        Tables(s, dir).orders.select("o_orderkey"))
      ids.agg(count(lit(1)).as("n_rows"),
        countDistinct(col("rid")).as("n_unique"),
        (min(col("rid")) > 0L).as("all_positive"))
    },
    // the gate asserts the snowflake invariants, not the time-based ids:
    // one id per row, all distinct, all positive (same
    // tolerance-gate-as-oracle pattern as q5_approx_percentile)
    Oracle("SELECT count(*) AS n_rows, count(*) AS n_unique, true AS all_positive FROM orders")),

    QueryCase("xf_xml_parse", (s, dir) => {
      val xml = Tables(s, dir).customer.withColumn("doc",
        when(col("c_custkey") % 2 === 0,
          concat(lit("<rec><a>"), col("c_name"), lit("</a></rec>")))
          .otherwise(concat(lit("<rec><b>"), col("c_name"), lit("</b></rec>"))))
      Parse.xmlExtract(
        xml.select(col("c_custkey"), col("doc")), "doc",
        StructType(Seq(StructField("a", StringType), StructField("b", StringType))),
        fields = Map("name" -> Seq("a", "b")), keepInput = true)
        .drop("doc")
    }, Oracle("SELECT c_name AS name, c_custkey FROM customer")),

    QueryCase("xf_xml_format", (s, dir) => {
      val c = Tables(s, dir).customer
      val roundtrip = c.select(col("c_custkey"),
        Parse.xmlFormat(struct(col("c_mktsegment").as("seg")), rowTag = "rec").as("x"))
      roundtrip.select(col("c_custkey"),
        Parse.xmlParse(col("x"),
          StructType(Seq(StructField("seg", StringType)))).getField("seg").as("seg"))
    }, Oracle("SELECT c_custkey, c_mktsegment AS seg FROM customer")),

    QueryCase("sync_anti_insert", (s, dir) => {
      val orders = Tables(s, dir).orders
      Sync.antiInsert(orders, orders.filter(col("o_orderkey") % 3 === 0), Seq("o_orderkey"))
    }, Oracle(
      """SELECT * FROM orders f WHERE NOT EXISTS (
        |  SELECT 1 FROM orders t WHERE t.o_orderkey % 3 = 0 AND t.o_orderkey = f.o_orderkey)""".stripMargin)),

    QueryCase("sync_anti_expr_join", (s, dir) => {
      val orders = Tables(s, dir).orders
      val target = orders.filter(col("o_orderdate") < lit("1995-01-01")).as("t")
      Sync.antiInsertExpr(orders.as("f"), target,
        expr("f.o_custkey % 100 = t.o_custkey % 100"))
    }, Oracle(
      """SELECT * FROM orders f WHERE NOT EXISTS (
        |  SELECT 1 FROM orders t WHERE t.o_orderdate < TIMESTAMP '1995-01-01'
        |    AND t.o_custkey % 100 = f.o_custkey % 100)""".stripMargin)),

    QueryCase("sync_watermark", (s, dir) => {
      val orders = Tables(s, dir).orders
      Sync.watermarkIncr(orders, orders.filter(col("o_orderdate") < lit("1995-06-01")),
        "o_orderdate")
    }, Oracle(
      """SELECT * FROM orders WHERE o_orderdate >
        |  (SELECT max(o_orderdate) FROM orders WHERE o_orderdate < TIMESTAMP '1995-06-01')""".stripMargin)),

    QueryCase("sync_incr_paged", (s, dir) => {
      val orders = Tables(s, dir).orders
      Sync.incrPage(orders, orders.filter(col("o_orderdate") < lit("1995-06-01")),
        "o_orderdate", Seq(col("o_orderkey")), pageSize = 500)
    }, Oracle(
      """SELECT * FROM orders WHERE o_orderdate >
        |  (SELECT max(o_orderdate) FROM orders WHERE o_orderdate < TIMESTAMP '1995-06-01')
        |ORDER BY o_orderdate, o_orderkey LIMIT 500""".stripMargin)),

    QueryCase("sync_upsert", (s, dir) => {
      val c = Tables(s, dir).customer
      val updates = c.filter(col("c_custkey") % 2 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
      val inserts = c.withColumn("c_custkey", col("c_custkey") + 10000000L)
      Sync.upsert(updates.unionByName(inserts), c, Seq("c_custkey"))
    }, Oracle(
      """SELECT c_custkey, c_name, c_nationkey,
        |  CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 1000 ELSE c_acctbal END AS c_acctbal,
        |  c_mktsegment
        |FROM customer
        |UNION ALL
        |SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer""".stripMargin)),

    // as-of enrichment: each event gets the user's latest order state at
    // or before the event time (right side deduped per (key, ts) first —
    // as-of ties are ambiguous in every engine)
    QueryCase("asof_join", (s, dir) => {
      val ev = eventsUs(s, dir).select("event_id", "user_id", "ts_us")
      val ord = Sync.latestVersion(Tables(s, dir).orders,
          Seq("o_custkey", "o_orderdate"), Seq(col("o_orderkey")))
        .select(col("o_custkey").as("user_id"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ots"), col("o_totalprice"))
      AsOf.joinBackward(ev, ord, Seq("user_id"), "ts_us", "ots", Seq("o_totalprice"))
    }, Oracle(
      """WITH ord AS (
        |  SELECT o_custkey, epoch_us(o_orderdate) AS ots, o_totalprice
        |  FROM orders
        |  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) = 1),
        |e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
        |SELECT e.event_id, e.user_id, e.ts_us, ord.o_totalprice
        |FROM e ASOF LEFT JOIN ord ON e.user_id = ord.o_custkey AND e.ts_us >= ord.ots""".stripMargin)),

    // next-event-after direction, same dedup + oracle pattern
    QueryCase("asof_join_fwd", (s, dir) => {
      val ev = eventsUs(s, dir).select("event_id", "user_id", "ts_us")
      val ord = Sync.latestVersion(Tables(s, dir).orders,
          Seq("o_custkey", "o_orderdate"), Seq(col("o_orderkey")))
        .select(col("o_custkey").as("user_id"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ots"), col("o_totalprice"))
      AsOf.joinForward(ev, ord, Seq("user_id"), "ts_us", "ots", Seq("o_totalprice"))
    }, Oracle(
      """WITH ord AS (
        |  SELECT o_custkey, epoch_us(o_orderdate) AS ots, o_totalprice
        |  FROM orders
        |  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) = 1),
        |e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
        |SELECT e.event_id, e.user_id, e.ts_us, ord.o_totalprice
        |FROM e ASOF LEFT JOIN ord ON e.user_id = ord.o_custkey AND e.ts_us <= ord.ots""".stripMargin)),

    QueryCase("del_where", (s, dir) =>
      Sync.delWhere(Tables(s, dir).lineitem, col("l_shipdate") < lit("1994-01-01")),
      Oracle("SELECT * FROM lineitem WHERE NOT (l_shipdate < TIMESTAMP '1994-01-01')")),

    // blocked fuzzy join: every customer matched to a deterministically
    // dirtied twin within edit distance 2, blocking on the stable suffix
    QueryCase("fuzzy_match", (s, dir) => {
      val cust = Tables(s, dir).customer
        .select(col("c_custkey").as("id_l"), col("c_name").as("name_l"))
      val dirty = Tables(s, dir).customer
        .select(col("c_custkey").as("id_r"),
          regexp_replace(col("c_name"), "ustome", "ustoma").as("name_r"))
      graft.operators.Fuzzy.joinByEditDistance(cust, dirty,
        "name_l", "name_r", maxDist = 2, blockKey = substring(_, -6, 6))
        .select("id_l", "id_r", "edit_dist")
    }, Oracle(
      """WITH l AS (SELECT c_custkey AS id_l, c_name AS name_l FROM customer),
        |  r AS (SELECT c_custkey AS id_r,
        |    regexp_replace(c_name, 'ustome', 'ustoma') AS name_r FROM customer)
        |SELECT id_l, id_r, CAST(levenshtein(name_l, name_r) AS BIGINT) AS edit_dist
        |FROM l JOIN r ON right(name_l, 6) = right(name_r, 6)
        |WHERE levenshtein(name_l, name_r) <= 2""".stripMargin)),

    // JSON column extraction (events.props carries a JSON payload)
    QueryCase("xf_json_parse", (s, dir) =>
      eventsUs(s, dir).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k")),
      Oracle("""SELECT event_id, CAST(props ->> '$.k' AS BIGINT) AS k FROM events""")),

    // struct → compact JSON text (field order = struct order, no spaces —
    // same rendering in both engines for int/string fields)
    QueryCase("xf_json_format", (s, dir) =>
      eventsUs(s, dir).select(col("event_id"),
        to_json(struct(col("event_id"), col("event_type"))).as("j")),
      Oracle(
        """SELECT event_id, CAST(to_json(struct_pack(event_id := event_id,
          |  event_type := event_type)) AS VARCHAR) AS j FROM events""".stripMargin)),

    // time-series densify + impute: per-type daily counts on a gapless
    // grid, forward-filled then zero-coalesced
    QueryCase("ts_gapfill_ffill", (s, dir) => {
      val daily = eventsUs(s, dir)
        .withColumn("day", expr("ts_us div 86400000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      val grid = graft.operators.TimeSeries.gapFill(daily, Seq("event_type"), "day")
      graft.operators.TimeSeries.ffill(grid, Seq("event_type"), "day", Seq("cnt"))
        .select(col("event_type"), col("day"),
          coalesce(col("cnt"), lit(0L)).as("cnt_ff"))
    }, Oracle(
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS cnt
        |    FROM events GROUP BY 1, 2),
        |  spans AS (SELECT event_type, min(day) AS lo, max(day) AS hi FROM d GROUP BY 1),
        |  grid AS (SELECT event_type, unnest(range(lo, hi + 1)) AS day FROM spans),
        |  j AS (SELECT g.event_type, g.day, d.cnt FROM grid g
        |    LEFT JOIN d USING (event_type, day))
        |SELECT event_type, day, coalesce(last_value(cnt IGNORE NULLS) OVER (
        |  PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING), 0) AS cnt_ff
        |FROM j""".stripMargin)),

    // batch twin of stream_session_counts — same oracle, zero streaming
    // machinery: gap-based sessionize + per-session aggregate
    QueryCase("batch_sessionize", (s, dir) => {
      val ev = eventsUs(s, dir)
      Sync.sessionize(ev, Seq("user_id"), "ts_us", gap = 1800000000L)
        .groupBy("user_id", "session_id")
        .agg(timestamp_micros(min(col("ts_us"))).as("wstart"),
          count(lit(1)).as("cnt"))
        .select("wstart", "user_id", "cnt")
    },
    // same SQL as stream_session_counts — the batch/stream twins must agree
    Oracle(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
        |  m AS (SELECT user_id, tu,
        |    CASE WHEN tu - lag(tu) OVER (PARTITION BY user_id ORDER BY tu) >= 1800000000
        |      THEN 1 ELSE 0 END AS brk FROM e),
        |  sess AS (SELECT user_id, tu,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY tu ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT make_timestamp(min(tu)) AS wstart, user_id, count(*) AS cnt
        |FROM sess GROUP BY user_id, sid""".stripMargin)),

    // SCD2 history build: event log → versioned dimension rows
    // (valid_from/valid_to, null = current version)
    QueryCase("sync_scd2", (s, dir) => {
      val ev = eventsUs(s, dir).select("user_id", "event_type", "ts_us", "event_id")
      Sync.scd2FromHistory(ev, keys = Seq("user_id"), attrs = Seq("event_type"),
        tsCol = "ts_us", orderTieCols = Seq("event_id"))
        .select("user_id", "event_type", "valid_from", "valid_to")
    }, Oracle(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu, event_id FROM events),
        |  m AS (SELECT user_id, event_type, tu, event_id,
        |    lag(event_type) OVER w AS pet, lag(tu) OVER w AS ptu
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
        |  v AS (SELECT user_id, event_type, tu, event_id FROM m
        |    WHERE ptu IS NULL OR event_type IS DISTINCT FROM pet)
        |SELECT user_id, event_type, tu AS valid_from,
        |  lead(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS valid_to
        |FROM v""".stripMargin)))
}
