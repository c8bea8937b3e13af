package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed round (or micro-batch): wall time, input records and bytes it
  * delivered, and the task totals the listener charged to it.
  */
final case class RoundRec(wallS: Double, records: Long, inputB: Long, d: Counters)

/** State of one benchmark process: the session, tracer, rounds measured,
  * correctness checks, and the values a workload reports itself.
  */
final class Run(val opts: Opts, val spark: SparkSession, val tracer: Tracer,
                val work: Path) {
  val rounds = ArrayBuffer.empty[RoundRec]
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  var heapPeakMb = 0.0
  var setupS = 0.0
  /** Workload-specific end-to-end values (stream capacity and latency). */
  var rowsPerS: Option[Double] = None
  var latencyMs: Option[Seq[Double]] = None
  /** Workload-specific per-layer values (counts, ratios, stream stats). */
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var timedStart = 0L

  def seed: Long = opts.seed

  /** Progress note on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.currentTimeMillis() -
    ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s: $msg")

  /** Record a correctness check of one operation's output. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) failures += what
    ok
  }

  /** Count one operation: failed when any of its checks failed or it threw. */
  def operation(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def sampleHeap(): Unit = heapPeakMb = math.max(heapPeakMb, Util.heapAfterGcMb())

  /** Set-up ends here: from JVM start to the first timed round. */
  def setupDone(): Unit = {
    tracer.probe.settle()
    tracer.probe.resetKeys()
    tracer.spans.clear()
    setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    timedStart = System.nanoTime()
  }

  def measuredS: Double = (System.nanoTime() - timedStart) / 1e9

  /** One closed-loop round: inputs are present before the clock starts and
    * the round ends when its output is committed. Listener counters are
    * settled outside the clock. Returns whether the body completed.
    */
  def timedRound(name: String, r: Int, records: Long, inputB: Long)(body: => Unit): Boolean = {
    tracer.probe.settle()
    val before = tracer.probe.totals
    val t0 = System.nanoTime()
    val ok =
      try { tracer.roundSpan(name, r)(body); true }
      catch { case e: Throwable =>
        failures += s"$name round $r threw: $e"
        e.printStackTrace()
        false
      }
    val wall = (System.nanoTime() - t0) / 1e9
    tracer.probe.settle()
    tracer.release()
    rounds += RoundRec(wall, records, inputB, tracer.probe.totals.minus(before))
    ok
  }
}

trait Workload {
  /** Set up, call [[Run.setupDone]], then measure for `opts.seconds`. */
  def run(r: Run): Unit

  /** Sections and self-reported values this workload adds to the
    * benchmark's per-layer list (only workloads outside `BENCHMARK.json`
    * add any).
    */
  def extraSections: Seq[String] = Nil
  def extraValues: Seq[(String, String)] = Nil
}

/** The benchmark's metric names. `BENCHMARK.json` lists exactly these. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "round_s_p50" -> "s", "rows_per_s" -> "rows/s",
    "latency_ms_p50" -> "ms",
    "jobs_per_round" -> "count", "cpu_s_per_round" -> "s",
    "shuffle_mb_per_round" -> "MB", "write_amp" -> "ratio",
    "heap_peak_mb" -> "MB")

  /** Every section is one call into a public graft function. */
  val Sections: Seq[String] = Seq(
    "sources.read_delta", "operators.reshape", "operators.sync_merge",
    "sources.jdbc_upsert", "functions.clean_filter", "ext.dedup.near_dedup",
    "ext.curation.split_write")

  val SectionStats: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "jobs" -> "count", "cpu_s" -> "s", "task_s" -> "s",
    "idle_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB")

  /** Values a workload reports itself; 0 on workloads that do not run it. */
  val Extra: Seq[(String, String)] = Seq(
    "core.plan.wall_s" -> "s",
    "operators.sync_merge.partitions_touched" -> "count",
    "ext.dedup.near_dedup.kept_ratio" -> "ratio",
    "streaming.latency_ms_p99" -> "ms",
    "streaming.batch.trigger_ms" -> "ms",
    "streaming.batch.add_batch_ms" -> "ms",
    "streaming.batch.latest_offset_ms" -> "ms",
    "streaming.batch.query_planning_ms" -> "ms",
    "streaming.batch.wal_commit_ms" -> "ms",
    "streaming.batch.commit_offsets_ms" -> "ms",
    "streaming.batch.rows" -> "rows",
    "streaming.batch.jobs" -> "count",
    "streaming.batch.cpu_s" -> "s",
    "streaming.batch.shuffle_mb" -> "MB",
    "streaming.backlog.max" -> "events",
    "streaming.backlog.growth" -> "events/s",
    "streaming.state.corpus_mb" -> "MB",
    "gen.late_ms_p99" -> "ms",
    "gen.events" -> "events",
    "bench.round.wall_s" -> "s",
    "bench.round.self_s" -> "s")

  def sectionMetrics(sections: Seq[String]): Seq[(String, String)] =
    sections.flatMap(s => SectionStats.map { case (st, u) => s"$s.$st" -> u })

  /** The per-layer list of `BENCHMARK.json`. */
  val PerLayer: Seq[(String, String)] = sectionMetrics(Sections) ++ Extra

  /** Record-weighted quantile: each round's wall time counts once per
    * record it delivered (a record's latency is its round's wall time).
    */
  def weightedQuantile(vw: Seq[(Double, Long)], q: Double): Double = {
    val s = vw.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum
    val target = q * total
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= target }.map(_._1).getOrElse(s.last._1)
  }

  def endToEnd(r: Run): Seq[(String, Double, String)] = {
    require(r.rounds.nonEmpty, "no round was measured")
    val rs = r.rounds.toSeq
    val walls = rs.map(_.wallS)
    val latencyP50 = r.latencyMs.map(Util.median)
      .getOrElse(weightedQuantile(rs.map(x => (x.wallS * 1000, x.records)), 0.5))
    val values = Map(
      "setup_s" -> r.setupS,
      "round_s_p50" -> Util.median(walls),
      "rows_per_s" -> r.rowsPerS.getOrElse(rs.map(_.records).sum / walls.sum),
      "latency_ms_p50" -> latencyP50,
      "jobs_per_round" -> Util.mean(rs.map(_.d.jobs.toDouble)),
      "cpu_s_per_round" -> Util.mean(rs.map(_.d.cpuNs / 1e9)),
      "shuffle_mb_per_round" -> Util.mean(rs.map(_.d.shuffleWriteB / 1e6)),
      "write_amp" -> rs.map(_.d.outputB).sum.toDouble / math.max(1L, rs.map(_.inputB).sum),
      "heap_peak_mb" -> r.heapPeakMb)
    EndToEnd.map { case (n, u) => (n, values(n), u) }
  }

  def perLayer(r: Run, w: Workload): Seq[(String, Double, String)] = {
    val p = r.tracer.probe
    val vals = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    (Sections ++ w.extraSections).foreach { s =>
      val spans = r.tracer.sectionSpans(s)
      val n = spans.length.toDouble
      val c = p.key(s)
      val iv = p.intervalsOf(s)
      val wall = spans.map(x => (x.endMs - x.startMs) / 1000.0).sum
      val busy = spans.map(x => Util.covered(iv, x.startMs, x.endMs) / 1000.0).sum
      def per(v: Double) = if (n == 0) 0.0 else v / n
      vals(s"$s.wall_s") = per(wall)
      vals(s"$s.jobs") = per(c.jobs.toDouble)
      vals(s"$s.cpu_s") = per(c.cpuNs / 1e9)
      vals(s"$s.task_s") = per(c.runMs / 1000.0)
      vals(s"$s.idle_s") = per(wall - busy)
      vals(s"$s.shuffle_mb") = per(c.shuffleWriteB / 1e6)
      vals(s"$s.spill_mb") = per(c.spillB / 1e6)
    }
    val roundSpans = r.tracer.spans.filter(_.parent == "").toSeq
    val self = roundSpans.map { rs =>
      val kids = r.tracer.spans.filter(k => k.parent == rs.name && k.round == rs.round)
        .map(k => (k.startMs, k.endMs)).toSeq
      (rs.endMs - rs.startMs - Util.covered(kids, rs.startMs, rs.endMs)) / 1000.0
    }
    r.layer("bench.round.wall_s") = Util.mean(roundSpans.map(x => (x.endMs - x.startMs) / 1000.0))
    r.layer("bench.round.self_s") = Util.mean(self)
    (PerLayer ++ sectionMetrics(w.extraSections) ++ w.extraValues).map { case (n, u) =>
      (n, vals.getOrElse(n, r.layer.getOrElse(n, 0.0)), u)
    }
  }
}

object Main {
  private val Workloads: Map[String, () => Workload] = Map(
    "etl_sync" -> (() => new EtlSync),
    "corpus_dedup" -> (() => new CorpusDedup),
    "index_append" -> (() => new IndexAppend),
    "stream_ingest" -> (() => new StreamIngest))

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val make = Workloads.getOrElse(opts.workload, throw new IllegalArgumentException(
      s"unknown workload ${opts.workload}; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val out = Util.path(opts.out)
    val runId = s"${opts.workload}-s${opts.seed}-t${if (opts.trace) 1 else 0}-" +
      s"${System.currentTimeMillis()}"
    val work = out.resolve("work").resolve(runId)
    Files.createDirectories(work)
    val load0 = Util.load()
    val spark = Session.create(work)
    val ok =
      try {
        val run = new Run(opts, spark, new Tracer(spark, opts.trace, runId), work)
        run.log("session ready")
        val w = make()
        w.run(run)
        report(run, w, out, runId, load0)
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        false
      } finally {
        spark.stop()
        Util.deleteTree(work)
      }
    if (!ok) sys.exit(1)
  }

  private def report(run: Run, w: Workload, out: Path, runId: String, load0: Double): Unit = {
    val opts = run.opts
    val metrics = if (opts.trace) Metrics.perLayer(run, w) else Metrics.endToEnd(run)
    val correct = run.failed == 0 && run.failures.isEmpty
    val env = Seq(
      "cpus" -> Runtime.getRuntime.availableProcessors.toString,
      "cores" -> Session.cores.toString,
      "shuffle_partitions" -> Session.ShufflePartitions.toString,
      "load_start" -> Util.num(load0),
      "load_end" -> Util.num(Util.load()),
      "jvm" -> Util.str(System.getProperty("java.version")),
      "spark" -> Util.str(run.spark.version),
      "seed" -> opts.seed.toString,
      "seconds" -> opts.seconds.toString)
      .map { case (k, v) => s"${Util.str(k)}:$v" }.mkString("{", ",", "}")
    val mJson = metrics.map { case (n, v, u) =>
      s"${Util.str(n)}:{${Util.str("value")}:${Util.num(v)},${Util.str("unit")}:${Util.str(u)}}"
    }.mkString("{", ",", "}")
    val result = s"""{"correct":$correct,"attempted":${run.attempted},""" +
      s""""failed":${run.failed},"metrics":$mJson}"""
    val rounds = run.rounds.map { x =>
      s"""{"wall_s":${Util.num(x.wallS)},"records":${x.records},"input_bytes":${x.inputB},""" +
        s""""jobs":${x.d.jobs},"cpu_s":${Util.num(x.d.cpuNs / 1e9)},""" +
        s""""shuffle_mb":${Util.num(x.d.shuffleWriteB / 1e6)},""" +
        s""""output_mb":${Util.num(x.d.outputB / 1e6)}}"""
    }.mkString("[", ",", "]")
    val failures = run.failures.map(Util.str).mkString("[", ",", "]")
    val record = s"""{"run":${Util.str(runId)},"workload":${Util.str(opts.workload)},""" +
      s""""trace":${if (opts.trace) 1 else 0},"env":$env,"rounds":$rounds,""" +
      s""""failures":$failures,"result":$result}"""
    Util.write(out.resolve("records").resolve(s"$runId.json"), record)
    if (opts.trace) writeSpans(run, out.resolve("spans").resolve(s"$runId.json"))
    run.failures.foreach(f => println(s"[perfbench] check failed: $f"))
    println(s"[perfbench] env $env")
    println(f"[perfbench] failed_ratio ${run.failed.toDouble / math.max(1L, run.attempted)}%.6f fraction" +
      s" (${run.failed}/${run.attempted} operations)")
    metrics.foreach { case (n, v, u) => println(s"[perfbench] $n ${Util.num(v)} $u") }
    println(result)
  }

  /** Spans and job call sites, written once at exit. */
  private def writeSpans(run: Run, p: Path): Unit = {
    val t = run.tracer
    val spans = t.spans.map { s =>
      val kids = t.spans.filter(k => k.parent == s.name && k.round == s.round && s.parent == "")
        .map(k => (k.startMs, k.endMs)).toSeq
      val self = s.endMs - s.startMs - Util.covered(kids, s.startMs, s.endMs)
      s"""{"name":${Util.str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""self_ms":$self,"parent":${Util.str(s.parent)},"round":${s.round},""" +
        s""""run":${Util.str(s.run)}}"""
    }.mkString("[\n", ",\n", "\n]")
    val jobs = t.probe.allJobs.map { j =>
      s"""{"job":${j.jobId},"key":${Util.str(j.key)},"submit_ms":${j.submitMs},""" +
        s""""call_site":${Util.str(Option(j.callSite).getOrElse(""))}}"""
    }.mkString("[\n", ",\n", "\n]")
    Util.write(p, s"""{"run":${Util.str(t.runId)},"spans":$spans,"jobs":$jobs}""")
  }
}
