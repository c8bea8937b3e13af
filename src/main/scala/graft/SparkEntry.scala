package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Pipeline, Tables}
import graft.operators.ColumnOps
import graft.queries._

/** Driver contract (SURVEY.md §7): every registered query path, its check,
  * and the helpers the per-family case lists share.
  *
  * Each query is one [[graft.queries.QueryCase]] in its family's file under
  * `graft/queries/`: the build closure, the DuckDB oracle SQL for the
  * hash-compared correctness gate (or, for a rows-only key, the name of an
  * oracled companion gate) and the optional bench primer sit together.
  * [[queries]], [[oracleSql]], [[rowsOnlyGates]] and [[benchPrimers]] are
  * views derived from that one list, and [[graft.queries.QueryCase.validated]]
  * pins the contract when the list is built: unique names, and every gate
  * names an oracled case. Only the wall-clock snowflake id and the BPE counts
  * (a driver-side iterative merge loop) are rows-only; the LSH and ANN tiers
  * reach exact oracles by modelling the index in SQL.
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
  private[graft] def tmpDir(sfDir: String, name: String): String = {
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
  private[graft] def oracleArtifactDir(name: String): String =
    s"/tmp/graft_q/oracle_artifacts/$name"

  /** Build-once-per-JVM persisted fixtures, one memo keyed by (artifact
    * name, sfDir): the pre-built index or trained model a classify- or
    * score-only query reads. Repeated calls (primer + query, or Verify +
    * smoke specs) pay the build exactly once per scale factor; `build`
    * writes the artifact into the dir it is handed.
    */
  private val artifactMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  private[graft] def cachedArtifact(sfDir: String, name: String)(build: String => Unit): String =
    artifactMemo.computeIfAbsent((name, sfDir), _ => {
      val dir = tmpDir(sfDir, name)
      build(dir)
      dir
    })

  private[graft] def withNanosAsLong(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** µs-BIGINT event time from `ts`, whatever its fixture-era type:
    * nanos BIGINT → `div 1000`; TIMESTAMP / TIMESTAMP_NTZ → `unix_micros`
    * (NTZ is cast through the UTC session, matching DuckDB's naive
    * `epoch_us`). Fails loudly on anything else rather than mis-scaling. */
  private[graft] def tsUsCol(dt: DataType): Column = dt match {
    case LongType                             => expr("ts div 1000")
    case TimestampType | TimestampNTZType     => unix_micros(col("ts").cast("timestamp"))
    case other => throw new IllegalArgumentException(
      s"events.ts has unsupported type $other (expected nanos BIGINT or timestamp)")
  }

  /** TIMESTAMP event time from `ts` for streaming plans, same dispatch. */
  private[graft] def tsTCol(dt: DataType): Column = dt match {
    case LongType                         => timestamp_micros(expr("ts div 1000"))
    case TimestampType | TimestampNTZType => col("ts").cast("timestamp")
    case other => throw new IllegalArgumentException(
      s"events.ts has unsupported type $other (expected nanos BIGINT or timestamp)")
  }

  /** events with `ts_us` (µs-truncated BIGINT event time) prepended. */
  private[graft] def eventsUs(spark: SparkSession, dir: String): DataFrame = {
    withNanosAsLong(spark)
    val ev = Tables(spark, dir).events
    ev.withColumn("ts_us", tsUsCol(ev.schema("ts").dataType))
      .drop("ts")
  }

  /** DuckDB rendering of [[graft.ext.Curation.hashBucket]]: fold the first 4
    * hex chars of md5(key ‖ ':' ‖ salt) to an int via instr on the hex
    * alphabet (16.0**k keeps the math in exact-double range so it matches
    * Spark's conv(..,16,10) bit-for-bit).
    */
  private[graft] def duckBucket(keyExpr: String, buckets: Int, salt: String): String =
    s"""CAST(list_sum(list_transform(range(1, 5),
       |    k -> (instr('0123456789abcdef', substr(md5($keyExpr || ':$salt'), CAST(k AS INT), 1)) - 1)
       |         * (16.0 ** (4 - k)))) AS BIGINT) % $buckets""".stripMargin

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

  /** Every registered case, family by family, validated once. */
  private lazy val cases: Seq[QueryCase] = QueryCase.validated(
    TpchQueries.cases ++ SourceSinkQueries.cases ++ SyncQueries.cases ++
      DedupQueries.cases ++ AnnQueries.cases ++ SearchQueries.cases ++
      TextQueries.cases ++ CurateQueries.cases ++ MediaQueries.cases ++
      StreamQueries.cases)

  /** One entry per implemented operator from SURVEY.md §2 + ext tier. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    cases.map(c => c.name -> c.build).toMap

  /** DuckDB oracle SQL per hash-checked query (same parquet tables, bare
    * table names). Every query missing here is a [[rowsOnlyGates]] key.
    */
  lazy val oracleSql: Map[String, String] =
    cases.collect { case QueryCase(n, _, Oracle(sql), _) => n -> sql }.toMap

  /** Rows-only key -> its oracled companion gate: a hash-verified query
    * exercising the same code path.
    */
  lazy val rowsOnlyGates: Map[String, String] =
    cases.collect { case QueryCase(n, _, Gate(g), _) => n -> g }.toMap

  /** Untimed setup per bench key: Bench runs these BEFORE starting the
    * query's clock, so a key that exists to time the INCREMENTAL cost of an
    * operation (classify against an existing index) isn't billed for the
    * pay-once build its fixture needs. Verify ignores this map.
    */
  lazy val benchPrimers: Map[String, (SparkSession, String) => Unit] =
    cases.collect { case QueryCase(n, _, _, Some(p)) => n -> p }.toMap
}
