package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.Curation
import graft.streaming.Streams
import graft.SparkEntry.{duckBucket, tmpDir, tsTCol, withNanosAsLong}

/** Streaming: file streams over the events table (AvailableNow), the queue
  * source, windows, stream joins and streaming dedup ingest.
  */
object StreamQueries {

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

  /** The events table as a file stream (a directory source filtered to
    * `events.parquet`), read with the batch schema.
    */
  private def eventStream(s: SparkSession, dir: String): DataFrame = {
    withNanosAsLong(s)
    val schema = Tables.source(s, s"$dir/events.parquet").schema
    s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
  }

  /** [[eventStream]] with the event time as TIMESTAMP `ts_t`. */
  private def timedEventStream(s: SparkSession, dir: String): DataFrame = {
    val ev = eventStream(s, dir)
    ev.withColumn("ts_t", tsTCol(ev.schema("ts").dataType))
  }

  /** The ingest cases' duplicated document feed: every text twice under
    * different ids, written to `tmp/in` as 4 files and streamed one file
    * per micro-batch.
    */
  /** The per-scale-factor scratch dir `name`, emptied: an ingest case
    * starts from no corpus and no checkpoint. It is wiped at the start of
    * the call, not the end, because the returned frame reads the corpus
    * lazily.
    */
  private def emptyTmpDir(s: SparkSession, dir: String, name: String): String = {
    val tmp = tmpDir(dir, name)
    val p = new org.apache.hadoop.fs.Path(tmp)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    tmp
  }

  private def duplicatedFeed(s: SparkSession, dir: String, tmp: String): DataFrame = {
    val docs = Tables(s, dir).documents.select("doc_id", "text")
    docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000L))
      .coalesce(4).write.parquet(s"$tmp/in")
    Streams.fileStream(s, s"$tmp/in", docs.schema,
      options = Map("maxFilesPerTrigger" -> "1"))
  }

  def cases: Seq[QueryCase] = Seq(
    // DataSource v2 queue source (the AMQP/NSQ stand-in) driven end-to-end:
    // deterministic messages → micro-batch stream → aggregate
    QueryCase("stream_queue_source", (s, dir) => withShufflePartitions(s, 8) {
      import graft.streaming.MessageQueues
      MessageQueues.clear("verify_q")
      MessageQueues.push("verify_q", "alpha", "beta", "alpha", "gamma", "beta", "alpha")
      val src = s.readStream.format("graft.streaming.QueueSourceProvider")
        .option("queue", "verify_q").load()
      Streams.runToMemoryComplete(s, src.groupBy("body").count().withColumnRenamed("count", "cnt"))
    }, Oracle(
      """SELECT * FROM (VALUES ('alpha', CAST(3 AS BIGINT)),
        |  ('beta', CAST(2 AS BIGINT)), ('gamma', CAST(1 AS BIGINT))) AS t(body, cnt)""".stripMargin)),

    QueryCase("stream_tumbling_counts", (s, dir) => withShufflePartitions(s, 8) {
      val ev = timedEventStream(s, dir)
      val counts = Streams.windowedCounts(ev, "ts_t", "1 hour", None, "1 hour",
        Seq("event_type"))
      Streams.runToMemoryComplete(s, counts, outputMode = "complete")
    }, Oracle(
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart, event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin)),

    QueryCase("stream_sliding_counts", (s, dir) => withShufflePartitions(s, 8) {
      val ev = timedEventStream(s, dir)
      val counts = Streams.windowedCounts(ev, "ts_t", "1 hour", Some("30 minutes"),
        "1 hour", Seq("event_type"))
      Streams.runToMemoryComplete(s, counts, outputMode = "complete")
    },
    // sliding windows: each event belongs to the window starting at its
    // 30-min-truncated time and the one 30 min earlier (duration 1 h)
    Oracle(
      """WITH e AS (SELECT epoch_us(ts) AS tu, event_type FROM events),
        |  w AS (SELECT event_type, ((tu // 1800000000) - k) * 1800000000 AS ws, tu
        |    FROM e, unnest([0, 1]) AS t(k)),
        |  ok AS (SELECT event_type, ws FROM w WHERE tu - ws < 3600000000 AND tu >= ws)
        |SELECT make_timestamp(ws) AS wstart, event_type, count(*) AS cnt
        |FROM ok GROUP BY ws, event_type""".stripMargin)),

    QueryCase("stream_session_counts", (s, dir) => withShufflePartitions(s, 8) {
      val ev = timedEventStream(s, dir)
      val counts = Streams.sessionCounts(ev, "ts_t", "30 minutes", "1 hour",
        Seq("user_id"))
      Streams.runToMemoryComplete(s, counts, outputMode = "complete")
    }, Oracle(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
        |  m AS (SELECT user_id, tu,
        |    CASE WHEN tu - lag(tu) OVER (PARTITION BY user_id ORDER BY tu) >= 1800000000
        |      THEN 1 ELSE 0 END AS brk FROM e),
        |  sess AS (SELECT user_id, tu,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY tu ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT make_timestamp(min(tu)) AS wstart, user_id, count(*) AS cnt
        |FROM sess GROUP BY user_id, sid""".stripMargin)),

    // curation ops are stateless scan-side predicates, so they run
    // unchanged on streams: deterministic split of an event stream,
    // aggregated per split (complete mode) — oracle is the batch equivalent
    QueryCase("stream_split_counts", (s, dir) => withShufflePartitions(s, 8) {
      val ev = eventStream(s, dir)
      val split = Curation.splitByHash(ev, "user_id")
      Streams.runToMemoryComplete(s,
        split.groupBy("split").count().withColumnRenamed("count", "cnt"),
        outputMode = "complete")
    }, Oracle(
      s"""SELECT CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
         |  ELSE 'test' END AS split, count(*) AS cnt
         |FROM (SELECT ${duckBucket("CAST(user_id AS VARCHAR)", 1000, "graft")} AS b
         |  FROM events)
         |GROUP BY 1""".stripMargin)),

    // stream–static join: the streaming side enriches against a static dim
    // (broadcast per micro-batch — no state, no watermark needed)
    QueryCase("stream_static_join", (s, dir) => withShufflePartitions(s, 8) {
      val ev = eventStream(s, dir)
      val cust = Tables(s, dir).customer
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = ev.join(cust, ev("user_id") === cust("c_custkey"))
        .groupBy("c_mktsegment").count().withColumnRenamed("count", "cnt")
      Streams.runToMemoryComplete(s, joined, outputMode = "complete")
    }, Oracle(
      """SELECT c_mktsegment, count(*) AS cnt
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)),

    QueryCase("stream_dedup_keys", (s, dir) => withShufflePartitions(s, 8) {
      val ev = timedEventStream(s, dir)
      val dd = Streams.dedupWithinWatermark(ev, "ts_t", "1 hour",
        Seq("user_id", "event_type"))
      // distinct: state-bounded dedup guarantees no dupes only within the
      // watermark horizon; the batch-equivalence check is over the key set
      Streams.runToMemoryComplete(s, dd, outputMode = "append")
        .select("user_id", "event_type").distinct()
    }, Oracle("SELECT DISTINCT user_id, event_type FROM events")),

    // streaming corpus ingest with exact content dedup: a duplicated
    // document feed (every text arrives twice under different ids, split
    // over multiple micro-batches) must land in the corpus exactly once.
    // The admitted CONTENT set is batch-order-independent, so the oracle
    // compares texts — which id survives a cross-batch duplicate is
    // arrival order, deliberately not asserted (the unit spec pins the
    // in-batch min-id rule)
    QueryCase("stream_ingest_dedup", (s, dir) => withShufflePartitions(s, 8) {
      val tmp = emptyTmpDir(s, dir, "ingest_dedup")
      val q = Streams.ingestDedup(
        duplicatedFeed(s, dir, tmp),
        s"$tmp/corpus", contentCols = Seq("text"), idCol = "doc_id",
        checkpoint = s"$tmp/ckpt")
      q.awaitTermination()
      s.read.parquet(s"$tmp/corpus").select("text")
    },
    // duplicated feed → corpus holds each distinct content exactly once
    Oracle("SELECT DISTINCT text FROM documents")),

    // Bloom-admission streaming ingest: duplicated feed through the
    // map-only bitmap gate — corpus holds each distinct content exactly
    // once (at this fill the FP term is ~1e-17, and deterministically so:
    // probes are md5-derived, so a run either has a collision forever or
    // never — this fixture has none)
    QueryCase("stream_ingest_bloom", (s, dir) => withShufflePartitions(s, 8) {
      val tmp = emptyTmpDir(s, dir, "ingest_bloom")
      val q = Streams.ingestBloomDedup(
        duplicatedFeed(s, dir, tmp),
        s"$tmp/corpus", s"$tmp/bloom", idCol = "doc_id", textCol = "text",
        checkpoint = s"$tmp/ckpt")
      q.awaitTermination()
      s.read.parquet(s"$tmp/corpus").select("text")
    }, Oracle("SELECT DISTINCT text FROM documents")),

    // custom bounded per-key state (flatMapGroupsWithState with event-time
    // timeout): running count/sum per user with idle-key eviction — the
    // 100 TB-safe form for unbounded key domains. The feed arrives in one
    // AvailableNow batch and the idle timeout exceeds its span, so no key
    // evicts mid-run and the emitted totals equal the batch aggregate
    // (eviction across batches is pinned by the StreamsSpec unit). The
    // summed value is integral (event_id % 1000) so the double running_sum
    // is order-independent and hash-exact cross-engine.
    QueryCase("stream_running_totals", (s, dir) => withShufflePartitions(s, 8) {
      val ev = timedEventStream(s, dir)
        .withColumn("ival", (col("event_id") % 1000L).cast("double"))
      val totals = Streams.runningTotalsExpiring(ev, "user_id", "ival",
        "ts_t", watermarkDelay = "1 hour", idleTimeout = "30 days")
      Streams.runToMemoryComplete(s, totals, outputMode = "append")
    },
    // single AvailableNow batch + idle timeout beyond the feed's span → the
    // expiring running totals equal the batch aggregate; the summed value
    // is integral so double accumulation order cannot change the hash
    Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS user_id, count(*) AS running_count,
        |  CAST(sum(event_id % 1000) AS DOUBLE) AS running_sum
        |FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |GROUP BY user_id""".stripMargin)),

    // stream-stream interval join (click → purchase attribution within
    // 30 min): watermark-evicted join state on both sides; inner join in
    // append mode emits each matched pair exactly once
    QueryCase("stream_stream_join", (s, dir) => withShufflePartitions(s, 8) {
      def ev = timedEventStream(s, dir)
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
    },
    // inner interval join: every (click, purchase-within-30min) pair is
    // emitted once regardless of micro-batching, so the batch self-join is
    // an exact oracle
    Oracle(
      """SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND 1800000000""".stripMargin)))
}
