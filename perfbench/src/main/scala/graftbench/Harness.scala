package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --out <dir>`. Every option is required except `--out`.
  */
final case class Opts(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, out: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"options come in pairs: ${args.mkString(" ")}")
    val m = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"not an option: $k"); k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Opts(need("workload"), need("seed").toLong, seconds, trace == "1",
      m.getOrElse("out", ".bench_out"))
  }
}

/** Fixed load shape: one JVM, `local[N]` with N = min(4, cpus), and a fixed
  * shuffle partition count, so a run on a larger host measures the same
  * plan shapes. Every scratch path (Spark local dir, warehouse, temp files)
  * lives under the run's work dir.
  */
object Session {
  val ShufflePartitions = 4
  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def create(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("ckpt-default").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(work.resolve("rdd-ckpt").toString)
    spark
  }
}

/** Per-key task counters. Written only by the listener-bus thread; read
  * under the owning [[Probe]]'s lock.
  */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var outputB = 0L
  /** (launch, finish) wall-clock millis of every finished task (per key). */
  val intervals = ArrayBuffer.empty[(Long, Long)]

  def snapshot: Counters = {
    val c = new Counters
    c.jobs = jobs; c.tasks = tasks; c.cpuNs = cpuNs; c.runMs = runMs
    c.shuffleWriteB = shuffleWriteB; c.spillB = spillB; c.outputB = outputB
    c
  }

  def minus(o: Counters): Counters = {
    val c = new Counters
    c.jobs = jobs - o.jobs; c.tasks = tasks - o.tasks; c.cpuNs = cpuNs - o.cpuNs
    c.runMs = runMs - o.runMs; c.shuffleWriteB = shuffleWriteB - o.shuffleWriteB
    c.spillB = spillB - o.spillB; c.outputB = outputB - o.outputB
    c
  }
}

/** Job record kept for the span file: `callSite` is detail only, never a
  * metric name (its line numbers drift with every edit of the program).
  */
final case class JobRec(jobId: Int, key: String, callSite: String, submitMs: Long)

/** The one `SparkListener`: keys jobs, task CPU and run time, shuffle
  * write, spill, output bytes and task intervals by the section local
  * property the benchmark sets around each call (or, for streaming
  * micro-batches, by query id and batch id, which Spark sets itself).
  */
final class Probe extends SparkListener {
  val total = new Counters
  private val byKey = scala.collection.mutable.HashMap.empty[String, Counters]
  private val stageKey = scala.collection.mutable.HashMap.empty[Int, String]
  val jobs = ArrayBuffer.empty[JobRec]
  private var started = 0L
  private var ended = 0L
  private var events = 0L

  private def keyOf(p: java.util.Properties): String =
    if (p == null) ""
    else Option(p.getProperty(Tracer.SectionKey)).getOrElse {
      val b = p.getProperty("streaming.sql.batchId")
      if (b == null) "" else s"batch:${p.getProperty("sql.streaming.queryId")}:$b"
    }

  private def counters(k: String): Counters = byKey.getOrElseUpdate(k, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1; started += 1
    val k = keyOf(e.properties)
    e.stageIds.foreach(stageKey(_) = k)
    total.jobs += 1
    counters(k).jobs += 1
    val site = Option(e.properties).map(_.getProperty("callSite.short")).orNull
    jobs += JobRec(e.jobId, k, site, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1; ended += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    val k = stageKey.getOrElse(e.stageId, "")
    val keyed = counters(k)
    Seq(total, keyed).foreach { c =>
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.diskBytesSpilled
        c.outputB += m.outputMetrics.bytesWritten
      }
    }
    if (e.taskInfo != null) keyed.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  /** Forget per-key counters (set-up and warm-up work), keep the totals. */
  def resetKeys(): Unit = synchronized(byKey.clear())

  def key(k: String): Counters = synchronized(counters(k).snapshot)
  def intervalsOf(k: String): Seq[(Long, Long)] = synchronized(counters(k).intervals.toSeq)
  def totals: Counters = synchronized(total.snapshot)
  def allJobs: Seq[JobRec] = synchronized(jobs.toSeq)

  /** Listener events arrive asynchronously: poll until every started job
    * has ended and no event arrived for two consecutive polls (bounded).
    * Called only outside timed regions.
    */
  def settle(): Unit = {
    var stable = 0
    var last = synchronized(events)
    var tries = 0
    while (stable < 2 && tries < 400) {
      Thread.sleep(25)
      val (ev, done) = synchronized((events, started == ended))
      if (ev == last && done) stable += 1 else stable = 0
      last = ev
      tries += 1
    }
  }
}

/** A span: one timed call. `parent` names the enclosing span ("" for a
  * top-level one); `run` identifies the process run.
  */
final case class Span(name: String, startMs: Long, endMs: Long, parent: String,
                      run: String, round: Int)

/** Outside-in tracer. With tracing off it only counts per-round totals
  * (the end-to-end metrics need jobs, CPU and shuffle per round). With
  * tracing on it also tags every job a section runs with the section name
  * (local property + job description), keeps spans in memory, and
  * materializes lazy results at section boundaries so each section is
  * charged for its own work.
  */
final class Tracer(val spark: SparkSession, val traced: Boolean, val runId: String) {
  val probe = new Probe
  spark.sparkContext.addSparkListener(probe)
  val spans = ArrayBuffer.empty[Span]
  private val pinned = ArrayBuffer.empty[DataFrame]
  private var round = -1
  private var roundName = ""

  def now: Long = System.currentTimeMillis()

  /** Enclosing span for one timed round (recorded in both modes). */
  def roundSpan[T](name: String, r: Int)(body: => T): T = {
    round = r; roundName = name
    val s = now
    try body finally {
      spans += Span(name, s, now, "", runId, r)
      roundName = ""
    }
  }

  /** One call into a public graft function. */
  def section[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.SectionKey, name)
      sc.setJobDescription(name)
      val s = now
      try body finally {
        spans += Span(name, s, now, roundName, runId, round)
        sc.setLocalProperty(Tracer.SectionKey, null)
        sc.setJobDescription(null)
      }
    }

  /** Traced runs materialize a lazy section result at its boundary (a
    * persisted noop write, so the consumer reads it instead of recomputing
    * it); untraced runs leave the plan lazy.
    */
  def boundary(df: DataFrame): DataFrame =
    if (!traced) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.write.mode("overwrite").format("noop").save()
      pinned += p
      p
    }

  def release(): Unit = {
    pinned.foreach(_.unpersist(blocking = true))
    pinned.clear()
  }

  def sectionSpans(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

object Tracer {
  val SectionKey = "graft.bench.section"
}

/** Small numeric and JSON helpers. */
object Util {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Total covered length of a set of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def dataFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && n.endsWith(".parquet")
      }.toLong
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Heap in use right after a forced collection, in MB. Blocks of
    * checkpoints that became unreachable are freed by Spark's context
    * cleaner only after a collection notices them, so collect, give the
    * cleaner a moment, and collect again.
    */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def load(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }

  def path(s: String): Path = Paths.get(s).toAbsolutePath.normalize
}
