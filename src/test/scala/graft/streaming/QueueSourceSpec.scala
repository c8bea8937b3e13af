package graft.streaming

import graft.SparkSpec

class QueueSourceSpec extends SparkSpec {
  import spark.implicits._

  test("queue source delivers pushed messages through a micro-batch stream") {
    MessageQueues.clear("qa")
    MessageQueues.push("qa", "m1", "m2", "m3")
    val df = spark.readStream.format("graft.streaming.QueueSourceProvider")
      .option("queue", "qa").load()
    val got = Streams.runToMemoryComplete(spark, df, outputMode = "append")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, "m1"), (1L, "m2"), (2L, "m3")))
  }

  /** Drains `queue` with an `AvailableNow` trigger, `cap` passed under the
    * option key `capKey`; returns the offsets of each micro-batch.
    */
  private def drainBatches(queue: String, capKey: String, cap: Int): Seq[Seq[Long]] = {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = spark.readStream.format("graft.streaming.QueueSourceProvider")
      .option("queue", queue).option(capKey, cap.toString).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.add(b.select("offset").as[Long].collect().toSeq); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    batches.asScala.toSeq.filter(_.nonEmpty)
  }

  test("maxPerBatch caps batch admission (rdy window) but still drains fully") {
    // both spellings: options are case-insensitive
    Seq("maxPerBatch", "maxperbatch").foreach { key =>
      val queue = s"qb_$key"
      MessageQueues.clear(queue)
      MessageQueues.push(queue, (0 until 25).map(i => s"m$i"): _*)
      val batches = drainBatches(queue, key, cap = 7)
      assert(batches.forall(_.size <= 7), s"$key: batch over the cap: $batches")
      assert(batches.flatten.sorted == (0L until 25L),
        s"$key: messages lost or duplicated: $batches")
    }
  }

  test("restart from checkpoint resumes at the committed offset — no reprocessing") {
    import java.nio.file.Files
    val ckpt = tempDir("graft_q_ckpt_")
    val out = tempDir("graft_q_out_")
    MessageQueues.clear("qr")
    MessageQueues.push("qr", "m1", "m2")

    def runOnce(): Unit = {
      val df = spark.readStream.format("graft.streaming.QueueSourceProvider")
        .option("queue", "qr").load()
      val q = df.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 2)

    MessageQueues.push("qr", "m3")
    runOnce()   // same checkpoint: must deliver ONLY the new message
    val all = spark.read.parquet(out).as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(all == Seq((0L, "m1"), (1L, "m2"), (2L, "m3")),
      s"offset replay duplicated or dropped rows: $all")
  }

  test("a large admitted batch range-splits into multiple input partitions") {
    val stream = new QueueMicroBatchStream("qsplit", maxPerBatch = 100,
      targetPerPartition = 3)
    val parts = stream.planInputPartitions(QueueOffset(0), QueueOffset(10))
    assert(parts.length == 4)
    val ranges = parts.map(_.asInstanceOf[QueueInputPartition])
      .map(p => (p.from, p.until)).toSeq
    assert(ranges == Seq((0L, 3L), (3L, 6L), (6L, 9L), (9L, 10L)))
  }

  test("queue source composes with downstream streaming transforms") {
    MessageQueues.clear("qc")
    MessageQueues.push("qc", "a", "b", "a")
    val df = spark.readStream.format("graft.streaming.QueueSourceProvider")
      .option("queue", "qc").load()
    val agg = df.groupBy("body").count()
    val got = Streams.runToMemoryComplete(spark, agg)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 2L, "b" -> 1L))
  }
}
