package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.operators.ColumnOps

/** TPC-H-shaped relational queries and the SQL surface: aggregates,
  * joins, rollups, windows, percentiles, set ops, the `graft_*` SQL
  * functions, skew handling and data-quality checks.
  */
object TpchQueries {

  def cases: Seq[QueryCase] = Seq(
    QueryCase("q1_agg", (s, dir) => {
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
    }, Oracle(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // multi-join aggregate (TPC-H Q5 shape): dims broadcast, fact shuffles
    // once on the join key — Catalyst picks broadcast for the small sides
    QueryCase("q2_join", (s, dir) => {
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
    }, Oracle(
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)),

    QueryCase("q3_rollup", (s, dir) =>
      Tables(s, dir).lineitem
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("qty")),
      Oracle(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    QueryCase("q4_topk", (s, dir) => {
      val t = Tables(s, dir)
      t.orders.groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("spend"),
          count(lit(1)).as("n_orders"))
        .orderBy(desc("spend"), col("o_custkey"))
        .limit(10)
    }, Oracle(
      """SELECT o_custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_custkey
        |ORDER BY spend DESC, o_custkey LIMIT 10""".stripMargin)),

    // EXACT percentiles without the percentile-aggregate's per-group value
    // buffer: GK-bracketed two-pass order statistics (graft.ext.Stats) —
    // bit-identical results, bounded memory at any group size
    QueryCase("q5_percentile", (s, dir) =>
      graft.ext.Stats.exactPercentiles(Tables(s, dir).lineitem,
        Seq("l_returnflag"), "l_extendedprice",
        Seq("p50" -> 0.5, "p95" -> 0.95)),
      Oracle(
        """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS p50,
          |  quantile_cont(l_extendedprice, 0.95) AS p95
          |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // approx_percentile (GK sketch, bounded memory) checked against the
    // EXACT value within 1% — a tolerance gate the oracle can assert
    // without reproducing Spark's sketch internals. The exact arm uses the
    // bounded two-pass Stats.exactPercentiles, so neither arm buffers a
    // group's values in one task.
    QueryCase("q5_approx_percentile", (s, dir) => {
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
    },
    // the oracle asserts the tolerance gate, not the sketch internals
    Oracle(
      """SELECT l_returnflag, true AS p50_ok, true AS p95_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // collect_set joined to a scalar: the driver's pandas compare can't hash
    // raw array cells, and a delimited string is hash-equivalent here
    QueryCase("q6_collect", (s, dir) =>
      Tables(s, dir).lineitem.groupBy("l_returnflag")
        .agg(array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses")),
      Oracle(
        """SELECT l_returnflag,
          |  array_to_string(array_agg(DISTINCT l_linestatus ORDER BY l_linestatus), ',') AS statuses
          |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    QueryCase("q7_pivot", (s, dir) =>
      Tables(s, dir).lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")),
      Oracle(
        """SELECT l_returnflag,
          |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
          |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O
          |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    QueryCase("q8_setops", (s, dir) => {
      val o = Tables(s, dir).orders.select("o_custkey")
      val c = Tables(s, dir).customer.filter(col("c_acctbal") > 0)
        .select(col("c_custkey").as("o_custkey"))
      o.intersect(c).exceptAll(o.filter(col("o_custkey") % 10 === 0).select("o_custkey").distinct())
    }, Oracle(
      """SELECT o_custkey FROM orders
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 0
        |EXCEPT
        |SELECT DISTINCT o_custkey FROM orders WHERE o_custkey % 10 = 0""".stripMargin)),

    // per-key top-k (WindowGroupLimit pre-filters map-side): each
    // customer's 3 biggest orders
    QueryCase("q11_topk_per_key", (s, dir) =>
      ColumnOps.topKPerKey(Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)(
        Tables(s, dir).orders)
        .select("o_custkey", "o_orderkey", "rank_in_key"),
      Oracle(
        """SELECT o_custkey, o_orderkey, CAST(rn AS BIGINT) AS rank_in_key FROM (
          |  SELECT o_custkey, o_orderkey, row_number() OVER (
          |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders) WHERE rn <= 3""".stripMargin)),

    // window-function surface: per-customer order sequence with running
    // spend (decimal-exact, cast to double at the edge) and previous order
    QueryCase("q9_window", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables(s, dir).orders.select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("rn"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("run_spend"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"))
    }, Oracle(
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS rn,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_spend,
        |  lag(o_orderkey) OVER w AS prev_order
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),

    // full CUBE lattice (q3 covers ROLLUP)
    QueryCase("q3_cube", (s, dir) =>
      Tables(s, dir).lineitem
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty")),
      Oracle(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)),

    // correlation/variance from EXACT decimal sums (n·Σxy−ΣxΣy …): float
    // aggregation order varies per partitioning, so the engine computes the
    // moments exactly and divides once at the edge — bit-identical on any
    // cluster size, hash-comparable cross-engine (no tolerance needed)
    QueryCase("q10_stats", (s, dir) => {
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
    }, Oracle(
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
        |FROM m""".stripMargin)),

    // data-quality expectations: all rules over lineitem in one agg pass
    // (one intentionally-violated rule so both branches are exercised)
    QueryCase("dq_expectations", (s, dir) =>
      graft.operators.Expectations.check(Tables(s, dir).lineitem, Seq(
        "qty_positive" -> (col("l_quantity") > 0),
        "key_not_null" -> col("l_orderkey").isNotNull,
        "discount_in_range" -> (col("l_discount") >= 0 && col("l_discount") <= 1),
        "qty_under_40" -> (col("l_quantity") < 40))),
      Oracle(
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
          |UNION ALL SELECT 'qty_under_40', v4, total, v4 = 0 FROM t""".stripMargin)),

    // the SQL registration surface driven end-to-end: GraftFunctions
    // registers the native expressions in the session's FunctionRegistry and
    // the query runs as pure SQL through graft_cosine — same math as
    // ann_cosine_topk, same oracle
    QueryCase("sql_cosine_topk", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Tables(s, dir).embeddings.createOrReplaceTempView("sql_emb")
      s.sql("""SELECT e.vec_id, round(graft_cosine(e.embedding, q.qv), 4) AS score
              |FROM sql_emb e, (SELECT embedding AS qv FROM sql_emb WHERE vec_id = 1) q
              |WHERE e.vec_id <> 1
              |ORDER BY score DESC, e.vec_id LIMIT 20""".stripMargin)
    },
    // same math through the SQL registration surface
    Oracle(
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
        |SELECT vec_id,
        |  round(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
        |         * list_sum(list_transform(range(1, 65), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))), 4) AS score
        |FROM embeddings, q WHERE vec_id <> 1
        |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin)),

    // the text tier through pure SQL: registered graft_* functions in a
    // quality-gated projection, verified against the same DuckDB formulas
    QueryCase("sql_text_pipeline", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Tables(s, dir).documents.createOrReplaceTempView("sql_docs")
      s.sql("""SELECT doc_id, graft_token_count(text) AS n_tok,
              |  graft_quality_pm(text) AS q
              |FROM sql_docs WHERE graft_quality_pm(text) >= 300""".stripMargin)
    }, Oracle(
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
        |WHERE q >= 300""".stripMargin)),

    // two-phase salted aggregation — result must equal the plain group-by
    // (the salt only changes task placement, never the answer)
    QueryCase("skew_salted_agg", (s, dir) =>
      graft.operators.Skew.saltedSumCount(
        Tables(s, dir).lineitem
          .withColumn("qty", col("l_quantity").cast("decimal(18,2)")),
        Seq("l_returnflag"), "qty", factor = 8,
        sumName = "sum_qty", countName = "n")
        .withColumn("sum_qty", col("sum_qty").cast("double")),
      Oracle(
        """SELECT l_returnflag,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  count(*) AS n
          |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // salted JOIN end-to-end: the hot-key spreading must be semantically
    // invisible — the oracle is the plain unsalted join + aggregate
    QueryCase("skew_salted_join", (s, dir) => {
      val small = Tables(s, dir).supplier
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.operators.Skew.saltedJoin(
          Tables(s, dir).lineitem.select(
            col("l_suppkey"), col("l_extendedprice").cast("decimal(18,2)").as("price")),
          small, Seq("l_suppkey"), factor = 8)
        .groupBy("s_nationkey")
        .agg(sum(col("price")).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    }, Oracle(
      """SELECT s_nationkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin)),

    // single-pass numeric column profiling (one scan for all stats; exact
    // decimal means so the doubles are engine-stable)
    QueryCase("dq_profile", (s, dir) =>
      graft.operators.Profile.numeric(Tables(s, dir).lineitem,
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      // mirrors Profile.numeric: means accumulate in DECIMAL(28,6) then divide
      // as doubles — bit-stable across engines (same IEEE ops on both sides)
      Oracle(
  {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        cols.map { c =>
          s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
             |  CAST(coalesce(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_null,
             |  CAST(min($c) AS DOUBLE) AS min, CAST(max($c) AS DOUBLE) AS max,
             |  CAST(sum(CAST($c AS DECIMAL(28,6))) AS DOUBLE)
             |    / CAST(nullif(count($c), 0) AS DOUBLE) AS mean
             |FROM lineitem""".stripMargin
        }.mkString("\nUNION ALL\n")
      })))
}
