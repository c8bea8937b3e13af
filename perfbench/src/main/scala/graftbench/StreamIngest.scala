package graftbench

import java.nio.charset.StandardCharsets
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Parse
import graft.streaming.{MessageQueues, Streams}

/** `stream_ingest`: seeded JSON events pushed into `MessageQueues`, read by
  * `QueueSourceProvider`, parsed with `Parse.jsonParse` and admitted by
  * `Streams.ingestDedup` into a corpus pre-seeded in set-up. Two measured
  * phases, each on a fresh queue and checkpoint:
  *
  *  - drain: a fixed backlog is fed one chunk per micro-batch as fast as
  *    the query completes them; capacity = rows of batches ≥ 1 ÷ their
  *    summed `triggerExecution`;
  *  - paced: an open loop. One generator thread pushes events on a fixed
  *    schedule at `Rate` per second whether or not the query keeps up, with
  *    a fixed share of exact re-sends; the query runs on a `ProcessingTime`
  *    trigger. Each event's latency is its batch's completion time minus
  *    the event's due time; its batch is found from the progress offsets.
  *
  * The offered rate is fixed, below the drain capacity of the seed code; it
  * is never scaled per commit.
  */
final class StreamIngest extends Workload {
  val PreseedEvents = 50000
  val DrainChunks = 5
  val ChunkEvents = 10000
  val Rate = 1000
  /** Long enough that a batch finishes before the next trigger even on a
    * slow host, so every paced batch carries about one interval of events
    * and per-batch figures do not grow with the host's speed.
    */
  val TriggerMs = 1000L
  val ResendPerMille = 100
  /** Events of the paced query's first batch, run before the open loop
    * starts so the query's bootstrap (checkpoint creation, first planning)
    * is not charged to the measured batches.
    */
  val WarmEvents = 100
  /** Admission cap above any batch, so the source reads the whole offset
    * range Spark plans. The provider reads the option under its lower-case
    * key only (the documented `maxPerBatch` spelling is ignored and leaves
    * the default cap of 1000), and a batch whose range exceeds the cap
    * drops the excess, because the source does not report the cap to Spark.
    */
  val MaxPerBatch = 1000000000L

  private val EventSchema = StructType(Seq(
    StructField("eid", LongType), StructField("user", StringType),
    StructField("kind", StringType), StructField("text", StringType),
    StructField("due_ms", LongType)))
  private val Kinds = Array("view", "click", "cart", "buy", "share")

  private def body(seed: Long, eid: Long, dueMs: Long): String = {
    val r = Gen.rng(seed, 7000000000L + eid)
    val words = (0 until 10).map(_ => Text.word(r)).mkString(" ")
    s"""{"eid":$eid,"user":"u${r.nextInt(20000)}","kind":"${Kinds(r.nextInt(Kinds.length))}",""" +
      s""""text":"$words #$eid","due_ms":$dueMs}"""
  }

  /** Progress events of every query, collected by a StreamingQueryListener. */
  private final class Progress extends StreamingQueryListener {
    val events = ArrayBuffer.empty[StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized(events += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def of(q: StreamingQuery): Seq[StreamingQueryProgress] =
      synchronized(events.filter(_.runId == q.runId).toSeq).sortBy(_.batchId)
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def offset(s: String): Long = if (s == null) 0L else s.trim.toLong

  /** Events a batch carried, from its offset range (`numInputRows` counts
    * every scan of the batch, and `ingestDedup` scans it twice).
    */
  private def events(p: StreamingQueryProgress): Long =
    offset(p.sources.head.endOffset) - offset(p.sources.head.startOffset)

  def run(r: Run): Unit = {
    val spark = r.spark
    val seed = r.seed
    val corpus = r.work.resolve("corpus").toString
    val progress = new Progress
    spark.streams.addListener(progress)
    val tag = s"${r.tracer.runId}"
    val expected = scala.collection.mutable.HashSet.empty[Long]
    val rng = Gen.rng(seed, 8000L)
    var nextEid = 0L

    /** Next event: a fresh one, or (ResendPerMille) an exact re-send of an
      * earlier event (same id and content, its own due time).
      */
    def nextEvent(dueMs: Long): String = {
      val eid =
        if (nextEid > 0 && rng.nextInt(1000) < ResendPerMille) rng.nextLong(nextEid)
        else { expected += nextEid; nextEid += 1; nextEid - 1 }
      body(seed, eid, dueMs)
    }

    def start(queue: String, trigger: Trigger): StreamingQuery = {
      val events = spark.readStream.format("graft.streaming.QueueSourceProvider")
        .option("queue", queue).option("maxperbatch", MaxPerBatch.toString).load()
        .select(Parse.jsonParse(col("body"), EventSchema).as("e")).select("e.*")
      Streams.ingestDedup(events, corpus, Seq("user", "kind", "text"), "eid",
        r.work.resolve(s"ckpt-$queue").toString, trigger)
    }

    // ---- set-up: pre-seed the corpus (also the warm-up)
    val pre = s"pre-$tag"
    MessageQueues.push(pre, (0 until PreseedEvents).map(_ => nextEvent(0L)): _*)
    start(pre, Trigger.AvailableNow()).awaitTermination()
    MessageQueues.clear(pre)
    r.log("corpus pre-seeded")
    r.sampleHeap()
    r.setupDone()

    // ---- drain: fixed backlog, one chunk per micro-batch
    val drain = s"drain-$tag"
    MessageQueues.push(drain, (0 until ChunkEvents).map(_ => nextEvent(0L)): _*)
    val dq = start(drain, Trigger.ProcessingTime(0L))
    dq.processAllAvailable()
    (1 until DrainChunks).foreach { _ =>
      MessageQueues.push(drain, (0 until ChunkEvents).map(_ => nextEvent(0L)): _*)
      dq.processAllAvailable()
    }
    dq.stop()
    r.log("drain done")
    MessageQueues.clear(drain)
    val drainBatches = progress.of(dq).filter(p => events(p) > 0 && p.batchId >= 1)
    r.rowsPerS = Some(drainBatches.map(events).sum /
      (drainBatches.map(dur(_, "triggerExecution")).sum / 1000.0))
    r.sampleHeap()

    // ---- paced: open loop at a fixed offered rate
    val paced = s"paced-$tag"
    val n = Rate * r.opts.seconds
    val due = new Array[Long](n)
    val pushed = new Array[Long](n)
    val bytes = new Array[Long](n)
    val pq = start(paced, Trigger.ProcessingTime(TriggerMs))
    MessageQueues.push(paced, (0 until WarmEvents).map(_ => nextEvent(0L)): _*)
    pq.processAllAvailable()
    val t0 = System.currentTimeMillis() + 200L
    (0 until n).foreach(i => due(i) = t0 + i * 1000L / Rate)
    val gen = new Thread(() => {
      var i = 0
      while (i < n) {
        val now = System.currentTimeMillis()
        val batch = ArrayBuffer.empty[String]
        while (i < n && due(i) <= now) {
          val b = nextEvent(due(i))
          bytes(i) = b.getBytes(StandardCharsets.UTF_8).length
          batch += b
          i += 1
        }
        if (batch.nonEmpty) {
          MessageQueues.push(paced, batch.toSeq: _*)
          val at = System.currentTimeMillis()
          (i - batch.length until i).foreach(j => pushed(j) = at)
        }
        Thread.sleep(2)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val deadline = System.currentTimeMillis() + 60000L
    def consumed: Long = progress.of(pq).lastOption
      .map(p => offset(p.sources.head.endOffset)).getOrElse(0L)
    while (consumed < WarmEvents + n && System.currentTimeMillis() < deadline && pq.isActive)
      Thread.sleep(50)
    pq.stop()
    r.log("paced done")
    MessageQueues.clear(paced)
    r.tracer.probe.settle()

    // latency per event from the batch that carried it (queue offset
    // WarmEvents + i is paced event i)
    val batches = progress.of(pq)
      .filter(p => events(p) > 0 && offset(p.sources.head.startOffset) >= WarmEvents)
    val latency = ArrayBuffer.empty[Double]
    val backlog = ArrayBuffer.empty[(Long, Long)] // (completion ms, events waiting)
    batches.foreach { p =>
      val lo = offset(p.sources.head.startOffset).toInt - WarmEvents
      val hi = offset(p.sources.head.endOffset).toInt - WarmEvents
      val done = Instant.parse(p.timestamp).toEpochMilli + dur(p, "triggerExecution").toLong
      (lo until hi).foreach(i => latency += (done - due(i)).toDouble)
      backlog += ((done, pushed.count(x => x > 0 && x <= done) - hi.toLong))
      val key = s"batch:${pq.id}:${p.batchId}"
      r.rounds += RoundRec(dur(p, "triggerExecution") / 1000.0, events(p),
        (lo until hi).map(bytes(_)).sum, r.tracer.probe.key(key))
      if (r.tracer.traced)
        r.tracer.spans += Span("streaming.batch", done - dur(p, "triggerExecution").toLong,
          done, "", r.tracer.runId, p.batchId.toInt)
    }
    r.latencyMs = Some(latency.toSeq)
    r.layer("streaming.latency_ms_p99") = Util.quantile(latency.toSeq, 0.99)
    r.sampleHeap()

    // every event is admitted exactly once or was a re-send (dup)
    val stored = spark.read.parquet(corpus).select("eid").collect().map(_.getLong(0))
    val seen = scala.collection.mutable.HashMap.empty[Long, Int]
    stored.foreach(e => seen(e) = seen.getOrElse(e, 0) + 1)
    val missing = expected.count(e => !seen.contains(e))
    val doubled = seen.count(_._2 > 1)
    val unknown = seen.keys.count(e => !expected.contains(e))
    val attempted = PreseedEvents.toLong + DrainChunks * ChunkEvents + WarmEvents + n
    val unprocessed = n - latency.length
    r.check(missing + doubled + unknown == 0,
      s"stream_ingest: $missing events missing, $doubled stored twice, $unknown unknown")
    r.check(unprocessed == 0, s"stream_ingest: $unprocessed paced events never processed")
    r.attempted = attempted
    r.failed = math.min(attempted, (missing + doubled + unknown + unprocessed).toLong)

    val lateMs = (0 until n).map(i => (pushed(i) - due(i)).toDouble)
    def med(k: String) = Util.median(batches.map(dur(_, k)))
    r.layer("streaming.batch.trigger_ms") = med("triggerExecution")
    r.layer("streaming.batch.add_batch_ms") = med("addBatch")
    r.layer("streaming.batch.latest_offset_ms") = med("latestOffset")
    r.layer("streaming.batch.query_planning_ms") = med("queryPlanning")
    r.layer("streaming.batch.wal_commit_ms") = med("walCommit")
    r.layer("streaming.batch.commit_offsets_ms") = med("commitOffsets")
    r.layer("streaming.batch.rows") = Util.median(batches.map(events(_).toDouble))
    r.layer("streaming.batch.jobs") = Util.mean(r.rounds.map(_.d.jobs.toDouble).toSeq)
    r.layer("streaming.batch.cpu_s") = Util.mean(r.rounds.map(_.d.cpuNs / 1e9).toSeq)
    r.layer("streaming.batch.shuffle_mb") = Util.mean(r.rounds.map(_.d.shuffleWriteB / 1e6).toSeq)
    r.layer("streaming.backlog.max") = backlog.map(_._2.toDouble).maxOption.getOrElse(0.0)
    val during = backlog.filter(_._1 <= due(n - 1))
    r.layer("streaming.backlog.growth") =
      if (during.length < 2) 0.0
      else (during.last._2 - during.head._2) * 1000.0 / math.max(1L, during.last._1 - during.head._1)
    r.layer("streaming.state.corpus_mb") = Util.dirBytes(r.work.resolve("corpus")) / 1e6
    r.layer("gen.late_ms_p99") = Util.quantile(lateMs, 0.99)
    r.layer("gen.events") = n.toDouble
    spark.streams.removeListener(progress)
  }
}
