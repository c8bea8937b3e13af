package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** EXECUTING contract for the NSQ transport seam ([[NsqSubscriberApi]] /
  * [[NsqIngest]]) against [[InProcessNsqd]] — a wire-semantics fake at the
  * same interface a real nsqd TCP-client adapter implements (binding table
  * in Nsq.scala; the real binding is that one class, nothing here
  * changes). Reference behavior under test: the subscribe loop of
  * `/root/reference/src/Sources/Nsq.php:59-84` (`rdy` flow control,
  * `timeout` re-delivery) and the sink's `publish`/`publishMulti`
  * (`/root/reference/src/Sinks/Nsq.php:60-69`).
  *
  * The wire rules the fake enforces and these tests pin — each one a
  * deliberate contrast with the AMQP contract next door:
  * stable 16-byte ids across re-deliveries (AMQP: new tags); per-message
  * `FIN` with no prefix ack (AMQP: `multiple = true`); ABSOLUTE `RDY`
  * counts decremented per delivery (AMQP: qos prefetch window); server-side
  * timeout requeue with `attempts + 1` where a late `FIN` answers a
  * non-fatal `E_FIN_FAILED` (AMQP: channel teardown on unknown tag).
  */
class NsqIntegrationSpec extends SparkSpec {

  private def freshQueue(tag: String) =
    s"nsq_it_${tag}_${java.util.UUID.randomUUID().toString.take(8)}"

  test("wire rules: RDY is absolute, FIN/REQ/TOUCH answer non-fatal errors for unknown ids") {
    val nsqd = new InProcessNsqd()
    nsqd.publish((1 to 10).map(i => s"m$i"): _*)
    val conn = nsqd.connect()
    // RDY n SETS the count — the later, smaller value wins (not 5 + 2)
    conn.rdy(5); conn.rdy(2)
    val got = conn.poll()
    assert(got.size == 2 && got.forall(_.attempts == 0))
    // the count is spent: another poll without a new RDY delivers nothing
    assert(conn.poll().isEmpty)
    // unknown ids: error frames, not teardown — the connection stays usable
    assert(!conn.fin("00000000deadbeef"))
    assert(!conn.req("00000000deadbeef"))
    assert(!conn.touch("00000000deadbeef"))
    conn.rdy(1)
    assert(conn.poll().size == 1)
    // REQ requeues immediately under the SAME id with attempts + 1
    val victim = got.head
    assert(conn.req(victim.id))
    conn.rdy(10)
    val redelivered = conn.poll().filter(_.id == victim.id)
    assert(redelivered.size == 1 && redelivered.head.attempts == 1)
  }

  test("timeout re-delivery: TOUCH extends the deadline; an expired message requeues with attempts+1, same id") {
    val nsqd = new InProcessNsqd(timeoutTicks = 5L)
    nsqd.publish("slow")
    val conn = nsqd.connect()
    conn.rdy(1)
    val d = conn.poll().head
    // TOUCH at t=4 refreshes the deadline to 4+5: at t=8 still in flight
    nsqd.tick(4)
    assert(conn.touch(d.id))
    nsqd.tick(4)
    assert(nsqd.pendingDepth == 0 && nsqd.inFlightDepth == 1)
    // …but at t=9 the refreshed deadline passes: server-side requeue
    nsqd.tick(1)
    assert(nsqd.pendingDepth == 1 && nsqd.inFlightDepth == 0)
    // the late FIN is the non-fatal E_FIN_FAILED, and the re-delivery
    // keeps the id with attempts bumped
    assert(!conn.fin(d.id))
    conn.rdy(1)
    val again = conn.poll().head
    assert(again.id == d.id && again.attempts == 1 && again.body == "slow")
  }

  test("spool-before-read: destructive consume lands in the replayable spool") {
    val nsqd = new InProcessNsqd()
    val q = freshQueue("replay")
    val ingest = new NsqIngest(nsqd, q, maxInFlight = 100)
    nsqd.publish((1 to 5).map(i => s"body-$i"): _*)
    assert(ingest.pump() == 5L)
    // consumption was destructive at SPOOL time (pending empty, 5 in
    // flight unFIN'd)…
    assert(nsqd.pendingDepth == 0 && nsqd.inFlightDepth == 5)
    // …but Spark's reads hit the spool: planning the SAME range twice
    // returns identical rows — a task retry re-reads, never re-consumes
    val stream = new QueueMicroBatchStream(q, maxPerBatch = 100L)
    assert(stream.latestOffset() == QueueOffset(5L))
    def readAll(): Seq[(Long, String)] =
      stream.planInputPartitions(QueueOffset(0L), QueueOffset(5L)).toSeq
        .flatMap { p =>
          val r = QueueReaderFactory.createReader(p)
          val out = scala.collection.mutable.ArrayBuffer[(Long, String)]()
          while (r.next()) out += ((r.get().getLong(0), r.get().getUTF8String(1).toString))
          out.toSeq
        }
    val first = readAll()
    assert(first == readAll())
    assert(first.map(_._2) == (1 to 5).map(i => s"body-$i"))
  }

  test("FIN-on-commit: commit(end) FINs each spooled id below end, one by one") {
    val nsqd = new InProcessNsqd()
    val q = freshQueue("fin")
    val ingest = new NsqIngest(nsqd, q, maxInFlight = 100)
    nsqd.publish((1 to 5).map(i => s"b$i"): _*)
    ingest.pump()
    assert(nsqd.inFlightDepth == 5)
    // the stream's commit (what Spark calls after the checkpoint write)
    // dispatches to the ingest's hook → five individual FINs
    val stream = new QueueMicroBatchStream(q, maxPerBatch = 100L)
    stream.commit(QueueOffset(5L))
    assert(nsqd.inFlightDepth == 0 && nsqd.pendingDepth == 0)
    // a reconnect after the commit re-delivers NOTHING (all FIN'd) and
    // replay admits zero new rows (idempotent restart)
    ingest.recover()
    assert(ingest.pump() == 5L)
    assert(nsqd.pendingDepth == 0 && nsqd.inFlightDepth == 0)
  }

  test("RDY admission window: uncommitted spool depth bounds the ready count (100/100/50)") {
    val nsqd = new InProcessNsqd()
    val q = freshQueue("rdy")
    val ingest = new NsqIngest(nsqd, q, maxInFlight = 100)
    nsqd.publish((1 to 250).map(i => s"m$i"): _*)
    // batch 1: the server never pushes past the RDY the pump granted
    assert(ingest.pump() == 100L)
    assert(nsqd.inFlightDepth == 100 && nsqd.pendingDepth == 150)
    // pumping again without a commit re-sends RDY 0 — admits nothing
    assert(ingest.pump() == 100L)
    // commit frees the window: batches drain 100/100/50
    ingest.commitUpTo(100L)
    assert(ingest.pump() == 200L)
    ingest.commitUpTo(200L)
    assert(ingest.pump() == 250L)
    ingest.commitUpTo(250L)
    assert(nsqd.inFlightDepth == 0 && nsqd.pendingDepth == 0)
  }

  test("timeout after commit: the lost FIN is re-sent at re-delivery, no spool growth") {
    val nsqd = new InProcessNsqd(timeoutTicks = 3L)
    val q = freshQueue("latefin")
    val ingest = new NsqIngest(nsqd, q, maxInFlight = 10)
    nsqd.publish("x", "y")
    ingest.pump()
    // both time out server-side BEFORE the commit: requeued, attempts+1
    nsqd.tick(3)
    assert(nsqd.pendingDepth == 2 && nsqd.inFlightDepth == 0)
    // commit's FINs answer E_FIN_FAILED (nothing in flight) — non-fatal,
    // the offset still commits; this is the at-least-once window
    ingest.commitUpTo(2L)
    // the pump closes it: re-deliveries arrive under their committed
    // indices → FIN'd immediately, never spooled twice
    assert(ingest.pump() == 2L)
    assert(nsqd.pendingDepth == 0 && nsqd.inFlightDepth == 0)
    assert(MessageQueues.slice(q, 0L, 2L).map(_._2) == Seq("x", "y"))
  }

  test("connection recovery: re-deliveries keep their ids and dedup into the same spool slots") {
    val nsqd = new InProcessNsqd()
    val q = freshQueue("recover")
    val ingest = new NsqIngest(nsqd, q, maxInFlight = 100)
    nsqd.publish("x", "y", "z")
    ingest.pump()
    val spooled = MessageQueues.slice(q, 0L, 3L)
    // connection drops before any commit: all three requeue, attempts+1
    ingest.recover()
    assert(nsqd.pendingDepth == 3)
    // re-deliveries carry the SAME ids (NSQ contrast with AMQP's fresh
    // tags): already-tracked, already-spooled — no growth, no re-keying
    assert(ingest.pump() == 3L)
    assert(MessageQueues.slice(q, 0L, 3L) == spooled)
    // and the id-keyed commit works unchanged on the new connection
    ingest.commitUpTo(3L)
    assert(nsqd.inFlightDepth == 0 && nsqd.pendingDepth == 0)
  }

  test("sink seam: per-partition MPUB batches deliver every row; the source round-trips them") {
    import spark.implicits._
    val bname = s"nsqpub-${java.util.UUID.randomUUID()}"
    val nsqd = InProcessNsqd.named(bname)
    val q = freshQueue("sinkpub")
    // 8 partitions → 8 publisher connections, rows batched into MPUB
    // frames of 16; the factory captures only the NAME (closures
    // serialize even in local mode)
    val df = (1 to 100).map(i => s"row-$i").toDF("body").repartition(8)
    graft.sources.Sinks.nsqPublish(df, "body", mpubBatch = 16)(
      () => InProcessNsqd.named(bname).publisher())
    assert(nsqd.pendingDepth == 100)
    // round-trip: what the sink published, the source's spool serves back
    val ingest = new NsqIngest(nsqd, q, maxInFlight = 1000)
    assert(ingest.pump() == 100L)
    assert(MessageQueues.slice(q, 0L, 100L).map(_._2).toSet ==
      (1 to 100).map(i => s"row-$i").toSet)
    ingest.commitUpTo(100L)
    assert(nsqd.inFlightDepth == 0 && nsqd.pendingDepth == 0)
  }

  test("end-to-end: Spark micro-batch commit drives the per-message FINs") {
    val nsqd = new InProcessNsqd()
    val q = freshQueue("e2e")
    val ingest = new NsqIngest(nsqd, q, maxInFlight = 1000)
    nsqd.publish((1 to 40).map(i => s"payload-$i"): _*)
    ingest.pump()
    val ckpt = tempDir("graft_nsq_e2e_")
    def runOnce(name: String): Unit = {
      val out = spark.readStream.format("graft.streaming.QueueSourceProvider")
        .option("queue", q).option("maxPerBatch", "1000").load()
        .groupBy().agg(count(lit(1)).as("n"))
      val query = out.writeStream.outputMode("complete").format("memory")
        .queryName(name).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    runOnce(s"${q}_run1")
    assert(spark.table(s"${q}_run1").head().getLong(0) == 40L)
    // Spark delivers MicroBatchStream.commit(N) while CONSTRUCTING batch
    // N+1, so the newest batch's FINs ride the next batch that has data —
    // until then those messages are the at-least-once window the spool's
    // stable-id dedup absorbs
    assert(nsqd.pendingDepth == 0 && nsqd.inFlightDepth == 40)
    nsqd.publish((41 to 50).map(i => s"payload-$i"): _*)
    ingest.pump()
    runOnce(s"${q}_run2")
    assert(spark.table(s"${q}_run2").head().getLong(0) == 50L)
    // batch 1's construction delivered batch 0's commit → the first 40
    // FIN'd through the Spark path; only the newest batch stays pending
    assert(nsqd.inFlightDepth == 10 && nsqd.pendingDepth == 0)
    assert(MessageQueues.size(q) == 50L)
  }
}
