package graft.streaming

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Message-queue streaming source — the DataSource v2 `MicroBatchStream`
  * stand-in for the reference's push consumers `Sources\Amqp`
  * (`/root/reference/src/Sources/Amqp.php:89-103`: blocking consume loop,
  * one message per DAG walk) and `Sources\Nsq` (`Nsq.php:59-84`: subscribe
  * with an `rdy` in-flight window).
  *
  * The broker here is an in-JVM [[MessageQueues]] registry (this image has
  * no AMQP/NSQ client jars and no network); a real AMQP implementation
  * replaces ONLY [[MessageQueues]] — the offset bookkeeping, admission
  * control (`maxPerBatch` ≈ their `rdy`), partition planning, and row
  * decoding stay as-is. Spark-native gains over the reference: replayable
  * offsets + checkpointing give exactly-once into idempotent sinks, where
  * the reference has at-most-once per message and Redis locks.
  *
  * Usage:
  * {{{
  *   MessageQueues.push("q1", "payload")
  *   spark.readStream.format("graft.streaming.QueueSourceProvider")
  *     .option("queue", "q1").option("maxPerBatch", "100").load()
  * }}}
  */
object MessageQueues {
  private val queues = new ConcurrentHashMap[String, ArrayBuffer[(Long, String)]]()

  private def buf(name: String): ArrayBuffer[(Long, String)] =
    queues.computeIfAbsent(name, _ => ArrayBuffer.empty)

  def push(name: String, bodies: String*): Unit = {
    val b = buf(name)
    b.synchronized {
      bodies.foreach(body => b += ((b.length.toLong, body)))
    }
  }

  def size(name: String): Long = { val b = buf(name); b.synchronized(b.length.toLong) }

  def slice(name: String, from: Long, until: Long): Seq[(Long, String)] = {
    val b = buf(name); b.synchronized(b.slice(from.toInt, until.toInt).toSeq)
  }

  def clear(name: String): Unit = { val b = buf(name); b.synchronized(b.clear()) }

  /** Per-queue commit hook: [[QueueMicroBatchStream.commit]] fires it with
    * the committed end offset AFTER Spark has durably checkpointed the
    * batch — the hook is where a broker-backed feeder acks (see
    * [[AmqpIngest]], which registers itself here so `basic.ack` happens at
    * exactly the ack-on-commit point of the AMQP contract). No hook (the
    * plain in-JVM queue) = commit stays a no-op.
    */
  private val commitHooks = new ConcurrentHashMap[String, Long => Unit]()
  def onCommitHook(name: String, hook: Long => Unit): Unit = {
    commitHooks.put(name, hook); ()
  }
  private[streaming] def fireCommit(name: String, end: Long): Unit =
    Option(commitHooks.get(name)).foreach(_(end))
}

case class QueueOffset(value: Long) extends Offset {
  override def json(): String = value.toString
}

class QueueSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    QueueSourceProvider.schema

  // options are case-insensitive, like every built-in source's:
  // `maxPerBatch` and `maxperbatch` name the same cap
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new QueueTable(options.getOrDefault("queue", "default"),
      options.getOrDefault("maxPerBatch", "1000").toLong,
      options.getOrDefault("targetPerPartition", "1000").toLong)
  }
}

object QueueSourceProvider {
  val schema: StructType = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("body", StringType, nullable = true)))
}

final class QueueTable(queue: String, maxPerBatch: Long,
                       targetPerPartition: Long = 1000L) extends Table with SupportsRead {
  override def name(): String = s"graft-queue:$queue"
  override def schema(): StructType = QueueSourceProvider.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = QueueSourceProvider.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new QueueMicroBatchStream(queue, maxPerBatch, targetPerPartition)
      }
    }
}

/** Offset-tracked micro-batch view of one queue. `maxPerBatch` caps batch
  * admission like the reference's NSQ `rdy` window (`Nsq.php:75-77`): it
  * is the default [[ReadLimit]], so Spark itself plans each batch's end
  * offset at most `maxPerBatch` past its start, and `AvailableNow` drains
  * the backlog present at start in capped batches.
  * `targetPerPartition` range-splits an admitted batch so a large backlog
  * drains across tasks instead of serializing through one reader.
  */
final class QueueMicroBatchStream(queue: String, maxPerBatch: Long,
                                  targetPerPartition: Long = 1000L)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  // AvailableNow's fixed end: the queue depth when the trigger was prepared
  @volatile private var availableNowEnd: Option[Long] = None

  override def initialOffset(): Offset = QueueOffset(0L)

  /** The queue's current end, ignoring the cap. */
  override def latestOffset(): Offset = QueueOffset(MessageQueues.size(queue))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPerBatch)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = Option(start).fold(0L)(_.asInstanceOf[QueueOffset].value)
    val end = availableNowEnd.getOrElse(MessageQueues.size(queue))
    val capped = limit match {
      case m: ReadMaxRows => math.min(end, lo + m.maxRows)
      case _ => end
    }
    QueueOffset(math.max(lo, capped))
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(MessageQueues.size(queue))

  override def deserializeOffset(json: String): Offset = QueueOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[QueueOffset].value
    val hi = end.asInstanceOf[QueueOffset].value
    if (hi <= lo) Array.empty
    else {
      val per = math.max(targetPerPartition, 1L)
      (lo until hi by per)
        .map(p => QueueInputPartition(queue, p, math.min(p + per, hi)): InputPartition)
        .toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = QueueReaderFactory

  // Spark calls commit(end) after the batch offset is durably in the
  // checkpoint log — the one safe point for a destructive-consume broker
  // ack (ack earlier loses messages on driver failure; never, re-delivers
  // forever). The hook dispatches to whatever feeds this spool.
  override def commit(end: Offset): Unit =
    MessageQueues.fireCommit(queue, end.asInstanceOf[QueueOffset].value)
  override def stop(): Unit = ()
}

case class QueueInputPartition(queue: String, from: Long, until: Long) extends InputPartition

object QueueReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[QueueInputPartition]
    val rows = MessageQueues.slice(p.queue, p.from, p.until).iterator
    new PartitionReader[InternalRow] {
      private var current: (Long, String) = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow =
        InternalRow(current._1, UTF8String.fromString(current._2))
      override def close(): Unit = ()
    }
  }
}
