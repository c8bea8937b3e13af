package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** EXECUTING contract for the AMQP transport seam ([[AmqpChannelApi]] /
  * [[AmqpIngest]]) against [[InProcessAmqpBroker]] — a wire-semantics fake
  * at the same interface a real `com.rabbitmq.client.Channel` adapter
  * implements (see the binding table in Amqp.scala; the real binding is
  * that one class, nothing here changes). Reference behavior under test:
  * the blocking manual-ack consume loop of
  * `/root/reference/src/Sources/Amqp.php:89-103`.
  *
  * The four wire rules the fake enforces and these tests pin:
  * 1-based per-channel monotone delivery tags; destructive consume
  * bounded by the `qos` prefetch window; `ack(tag, multiple = true)`
  * acks the tag-prefix; channel failure re-delivers unacked messages
  * under NEW tags with `redelivered = true`.
  */
class AmqpIntegrationSpec extends SparkSpec {

  private def freshQueue(tag: String) =
    s"amqp_it_${tag}_${java.util.UUID.randomUUID().toString.take(8)}"

  test("delivery-tag → offset: spooled deliveries are replayable until commit") {
    val broker = new InProcessAmqpBroker
    val q = freshQueue("replay")
    val ingest = new AmqpIngest(broker, q, prefetch = 100)
    broker.publish((1 to 5).map(i => s"body-$i"): _*)
    assert(ingest.pump() == 5L)
    // consumption was destructive at SPOOL time (broker ready queue empty,
    // 5 in flight unacked)…
    assert(broker.readyDepth == 0 && broker.unackedDepth == 5)
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

  test("ack-on-commit: commit(end) acks tags ≤ end; nothing re-delivers after") {
    val broker = new InProcessAmqpBroker
    val q = freshQueue("ack")
    val ingest = new AmqpIngest(broker, q, prefetch = 100)
    broker.publish((1 to 5).map(i => s"b$i"): _*)
    ingest.pump()
    // before commit: everything in flight, nothing acked
    assert(broker.unackedDepth == 5)
    // the stream's commit (what Spark calls after the checkpoint write)
    // dispatches to the ingest's hook → basic.ack(tagOf(5), multiple=true)
    val stream = new QueueMicroBatchStream(q, maxPerBatch = 100L)
    stream.commit(QueueOffset(5L))
    assert(broker.unackedDepth == 0 && broker.readyDepth == 0)
    // a reconnect after the commit re-delivers NOTHING below the committed
    // offset, and replay admits zero new rows (idempotent restart)
    ingest.recover()
    assert(ingest.pump() == 5L)
    assert(broker.readyDepth == 0 && broker.unackedDepth == 0)
  }

  test("prefetch window: maxPerBatch admission maps to basic.qos (100/100/50)") {
    val broker = new InProcessAmqpBroker
    val q = freshQueue("qos")
    val ingest = new AmqpIngest(broker, q, prefetch = 100)
    broker.publish((1 to 250).map(i => s"m$i"): _*)
    // batch 1: the broker never holds more than the prefetch window unacked
    assert(ingest.pump() == 100L)
    assert(broker.unackedDepth == 100 && broker.readyDepth == 150)
    // pumping again without an ack admits nothing — the window is full
    assert(ingest.pump() == 100L)
    // commit frees the window: batches drain 100/100/50
    ingest.commitUpTo(100L)
    assert(ingest.pump() == 200L)
    ingest.commitUpTo(200L)
    assert(ingest.pump() == 250L)
    ingest.commitUpTo(250L)
    assert(broker.unackedDepth == 0 && broker.readyDepth == 0)
  }

  test("channel recovery: re-deliveries carry new tags and dedup into the same spool slots") {
    val broker = new InProcessAmqpBroker
    val q = freshQueue("redeliver")
    val ingest = new AmqpIngest(broker, q, prefetch = 100)
    broker.publish("x", "y", "z")
    ingest.pump()
    val spooled = MessageQueues.slice(q, 0L, 3L)
    // connection drops before any commit: the broker re-queues all three
    ingest.recover()
    assert(broker.readyDepth == 3)
    // re-deliveries (new channel, new tags, redelivered=true) dedup by
    // message id: spool indices and bodies are unchanged, no growth
    assert(ingest.pump() == 3L)
    assert(MessageQueues.slice(q, 0L, 3L) == spooled)
    // and the refreshed tags are the ones the commit acks — acking the
    // dead channel's tags would be a wire error the fake rejects
    ingest.commitUpTo(3L)
    assert(broker.unackedDepth == 0 && broker.readyDepth == 0)
  }

  test("sink seam: per-partition publishers deliver every row; the source round-trips them") {
    import spark.implicits._
    val bname = s"sinkpub-${java.util.UUID.randomUUID()}"
    val broker = InProcessAmqpBroker.named(bname)
    val q = freshQueue("sinkpub")
    // 8 partitions → 8 independent publisher channels, the reference's
    // one-producer-per-worker shape; the factory captures only the NAME
    // (closures serialize even in local mode)
    val df = (1 to 100).map(i => s"row-$i").toDF("body").repartition(8)
    graft.sources.Sinks.amqpPublish(df, "body")(
      () => InProcessAmqpBroker.named(bname).publisher())
    assert(broker.readyDepth == 100)
    // round-trip: what the sink published, the source's spool serves back
    val ingest = new AmqpIngest(broker, q, prefetch = 1000)
    assert(ingest.pump() == 100L)
    assert(MessageQueues.slice(q, 0L, 100L).map(_._2).toSet ==
      (1 to 100).map(i => s"row-$i").toSet)
    ingest.commitUpTo(100L)
    assert(broker.unackedDepth == 0 && broker.readyDepth == 0)
  }

  test("end-to-end: Spark micro-batch commit drives the broker ack") {
    val broker = new InProcessAmqpBroker
    val q = freshQueue("e2e")
    val ingest = new AmqpIngest(broker, q, prefetch = 1000)
    broker.publish((1 to 40).map(i => s"payload-$i"): _*)
    ingest.pump()
    val ckpt = tempDir("graft_amqp_e2e_")
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
    // N+1 (cleanUpLastExecutedMicroBatch), so the most recent batch's ack
    // rides the next batch that has data — until then those messages are
    // exactly the at-least-once window the spool's id-dedup absorbs
    assert(broker.readyDepth == 0 && broker.unackedDepth == 40)
    broker.publish((41 to 50).map(i => s"payload-$i"): _*)
    ingest.pump()
    runOnce(s"${q}_run2")
    assert(spark.table(s"${q}_run2").head().getLong(0) == 50L)
    // batch 1's construction delivered batch 0's commit → the first 40
    // acked through the Spark path; only the newest batch stays pending
    assert(broker.unackedDepth == 10 && broker.readyDepth == 0)
    assert(MessageQueues.size(q) == 50L)
  }
}
