package graft

/** Contract checks over the registered query/oracle surface itself. */
class SparkEntrySpec extends SparkSpec {

  test("every rows-only query names an oracled companion gate") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // a key may skip the DuckDB oracle ONLY by registering a companion gate
    // (the ANN recall-gate pattern): the pairing below makes a bare
    // rows-only key a structural impossibility, not a convention
    assert(rowsOnly == SparkEntry.rowsOnlyGates.keySet,
      s"rows-only keys ${rowsOnly -- SparkEntry.rowsOnlyGates.keySet} have no " +
        s"companion gate; stale gates: ${SparkEntry.rowsOnlyGates.keySet -- rowsOnly}")
    SparkEntry.rowsOnlyGates.foreach { case (key, gate) =>
      assert(SparkEntry.queries.contains(gate),
        s"gate '$gate' for rows-only '$key' is not a registered query")
      assert(SparkEntry.oracleSql.contains(gate),
        s"gate '$gate' for rows-only '$key' is itself unoracled — gates must " +
          "be hash-verified")
    }
  }

  test("no orphan oracles (oracle without a registered query)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("registry size is pinned (dropped coverage must fail loudly)") {
    // queries that silently drop out of the registry are lost coverage the
    // driver cannot see; change this count only when adding or removing a
    // query on purpose
    assert(SparkEntry.queries.size == 231,
      s"query registry changed size: ${SparkEntry.queries.size} (expected 231); " +
        "if intentional, update this pin")
  }

  test("the registry rejects a duplicate name and a dangling gate by name") {
    import graft.queries.{Gate, Oracle, QueryCase}
    val build: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.emptyDataFrame
    val ok = QueryCase("a", build, Oracle("SELECT 1"))
    val dup = intercept[IllegalArgumentException](
      QueryCase.validated(Seq(ok, QueryCase("b", build, Gate("a")), ok)))
    assert(dup.getMessage.contains("duplicate query names: a"), dup.getMessage)
    val dangling = intercept[IllegalArgumentException](
      QueryCase.validated(Seq(ok, QueryCase("b", build, Gate("missing")))))
    assert(dangling.getMessage.contains("gate 'missing' for rows-only 'b'"),
      dangling.getMessage)
    val gateOnGate = intercept[IllegalArgumentException](
      QueryCase.validated(Seq(ok, QueryCase("b", build, Gate("a")),
        QueryCase("c", build, Gate("b")))))
    assert(gateOnGate.getMessage.contains("gate 'b' for rows-only 'c'"),
      gateOnGate.getMessage)
    assert(QueryCase.validated(Seq(ok, QueryCase("b", build, Gate("a")))).size == 2)
  }

  test("events.ts type drift: nanos-BIGINT and timestamp[us] fixtures agree") {
    // the fixtures' events.ts has flipped physical type between rounds
    // (TIMESTAMP(NANOS)-as-long vs timestamp[us]); every events query
    // derives ts_us adaptively. Pin both paths to the same answer through
    // a registered query that surfaces ts_us and needs only events.
    import org.apache.spark.sql.functions._
    val tmp = tempDir("graft_tsdrift_")
    val base = spark.range(6).select(
      col("id").as("event_id"),
      // 2 users × 2 event types, distinct µs timestamps
      (col("id") % 2).as("user_id"),
      concat(lit("t"), col("id") % 2).as("event_type"),
      (lit(1700000000000000L) + col("id") * 1000000L).as("us"),
      lit(0.5).as("value"),
      lit("""{"k":1}""").as("props"))
    base.select(col("event_id"), (col("us") * 1000L).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$tmp/nanos/events.parquet")
    base.select(col("event_id"), timestamp_micros(col("us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$tmp/tsus/events.parquet")
    def run(dir: String) =
      SparkEntry.queries("sink_flag_dedup")(spark, dir)
        .select("event_id", "ts_us", "user_id", "event_type")
        .collect().map(_.toSeq).sortBy(_.toString)
    val a = run(s"$tmp/nanos")
    val b = run(s"$tmp/tsus")
    assert(a.nonEmpty && a.sameElements(b),
      s"ts-derivation disagrees across fixture types:\n${a.toSeq}\nvs\n${b.toSeq}")
  }

  test("embeddings type drift: a float64 fixture still drives the ANN tier") {
    // same insurance class as the events.ts dispatch: the vector tier
    // assumes array<float>; Tables.embeddings normalizes a float64
    // regeneration back to float32 instead of every query breaking
    import org.apache.spark.sql.functions._
    val tmp = tempDir("graft_embdrift_")
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .write.parquet(s"$tmp/embeddings.parquet")
    val out = SparkEntry.queries("ann_cosine_topk")(spark, tmp)
    assert(out.count() > 0)
  }

  test("the flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("README quickstart pipeline runs end-to-end on the test corpus") {
    import graft.ext.{Curation, Dedup}
    import graft.functions.{TextFunctions => T}
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("text", T.cleanText(T.redactPii(col("text"))))
      .filter(T.langId(col("text")) === "en" && T.qualityPerMille(col("text")) >= 300)
    val deduped = Dedup.representatives(docs,
      Dedup.connectedComponents(
        Dedup.rescoreJaccard(docs,
          Dedup.minhashCandidatePairs(docs, "doc_id", "text"),
          "doc_id", "text", minJaccard = 0.8)), "doc_id")
    val split = Curation.splitByHash(deduped, "doc_id")
    val n = split.count()
    assert(n > 0 && n <= docs.count())
    assert(split.select("split").distinct().count() <= 3)
  }
}
