package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-round benchmark main: runs every registered query on
  * SPARK_GRAFT_SF_DIR, then one sustained streaming-throughput pass, and
  * prints ONE COMPACT machine-parseable JSON line as the very last output.
  *
  * Output contract (learned from six rounds of `"parsed": null`): the
  * harness records only the TAIL of the run output (~2000 chars), so a
  * single line carrying all ~120 per-query timings (~3.8 KB) can never be
  * parsed — its head falls off the capture window. So:
  *  - the FULL per-query map + env fingerprint goes to `bench_full.json`
  *    in the working directory (committed with the round);
  *  - stdout gets one final line ≤ ~1.2 KB: headline totals, an env
  *    fingerprint (cpus/load/jvm — so host drift between rounds is visible
  *    IN the artifact, not reconstructed after the fact), the streaming
  *    rows/sec, and the slowest queries only, with `queries_file` pointing
  *    at the full map. Nothing else is printed after it.
  * `tools/bench_replay.sh` benches two commits back-to-back under identical
  * host conditions for any regression call this artifact can't settle.
  *
  * Materialization: results are written to the `noop` sink — every row is
  * fully computed and serialized by the executors but discarded, so
  * expression-heavy projections are really timed (a bare `.count()` lets
  * Catalyst prune unused projections and times a near-no-op).
  *
  * Noise control (r13 postmortem — two ~5-9x one-run outliers with no code
  * cause ate a third of the 2x gate): queries whose first run exceeds
  * SPARK_GRAFT_BENCH_RERUN_S (default 3.0 s) run a second time and score
  * their MIN; both raw timings land in `queries_rerun`. Per-query GC-pause
  * millis (`queries_gc_ms`) and start-of-query load (`queries_load`) ride
  * in the artifact so a reader attributes any remaining drift without a
  * replay.
  */
object Bench {

  import Verify.jsonStr

  /** One timed run of a query: wall seconds (-1 = failed), shuffle-write
    * MB, 1-min load at its start, GC millis, and the Spark jobs and
    * task-seconds it scheduled (-1 when it failed).
    */
  private final case class Run(sec: Double, shuffleMb: Double, load: Double,
                               gcMs: Long, jobs: Long, taskSec: Double)

  private def r3(v: Double): String = if (v < 0) "-1" else f"$v%.3f"

  /** One streaming run: rows/sec of the STEADY-STATE batches only. The
    * clock is Spark's own per-batch `triggerExecution` duration from the
    * query's progress events, summed over batches ≥ 1 — batch 0 carries the
    * one-time bootstrap (source listing, checkpoint creation, state-store
    * setup) and is excluded, so the figure measures streaming read →
    * window agg → noop sink, not setup. Returns (steadySec, steadyRows).
    */
  private def streamOnce(spark: SparkSession, inDir: String, ckptDir: String,
                         schema: org.apache.spark.sql.types.StructType): (Double, Long) = {
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4").parquet(inDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("key"))
      .agg(count(lit(1)).as("cnt"))
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", ckptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val progs = q.recentProgress.filter(_.numInputRows > 0)
    val steady = progs.filter(_.batchId > 0)
    // a single-batch run has no steady state — fall back to batch 0 rather
    // than divide by zero (never hits at the default 16-file/4-per-trigger
    // layout, which yields 4 data batches)
    val use = if (steady.nonEmpty) steady else progs
    val sec = use.map(_.durationMs.get("triggerExecution").toDouble).sum / 1000.0
    val nRows = use.map(_.numInputRows).sum
    (sec, nRows)
  }

  /** Streaming-throughput results: `runs` are the per-run steady-state
    * rows/sec of the three measured runs (warm-up excluded); `rps` is the
    * best of them, `spread` = max/min so in-round instability is visible in
    * the artifact itself.
    */
  private final case class StreamResult(sec: Double, rps: Double,
                                        runs: Seq[Double], spread: Double,
                                        measuredRows: Long)

  /** Sustained streaming throughput: a fixed row budget through a
    * watermarked tumbling-window aggregation, split over several
    * micro-batches so per-batch fixed overhead amortizes (the registered
    * `stream_*` queries at sf0.1 are nearly ALL fixed overhead — this is
    * the number that moves when state handling or shuffle in the streaming
    * tier regresses). Protocol (BASELINE.md §streaming): input parquet is
    * generated before any clock starts; ONE warm-up run is discarded (JIT +
    * noop-sink codegen); THREE measured runs each use a fresh checkpoint;
    * per-run rows/sec counts steady-state batches only ([[streamOnce]]);
    * best-of-3 is the headline and the artifact carries all three runs +
    * their max/min spread. Replay with `tools/bench_replay.sh --stream`.
    */
  private def streamThroughput(spark: SparkSession, rows: Long): StreamResult = {
    val tmp = Files.createTempDirectory("graft_stream_bench_").toString
    spark.range(rows).select(
        col("id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 1000L).as("ts"),
        (col("id") % 1000L).as("key"))
      .repartition(16).write.parquet(s"$tmp/in")
    val schema = spark.read.parquet(s"$tmp/in").schema
    // shuffle partitions sized to STATE volume, not cores — each stateful
    // operator materializes one state store per partition, and at 32 the
    // store setup/maintenance noise dominates (and destabilizes) the
    // measurement; same lesson as the registered stream_* queries
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      streamOnce(spark, s"$tmp/in", s"$tmp/ckpt_warmup", schema)
      val runs = (1 to 3).map { i =>
        System.gc()
        streamOnce(spark, s"$tmp/in", s"$tmp/ckpt_run$i", schema)
      }
      val rpss = runs.map { case (sec, n) => n / sec }
      val bestIdx = rpss.indexOf(rpss.max)
      StreamResult(runs(bestIdx)._1, rpss.max, rpss, rpss.max / rpss.min,
        runs(bestIdx)._2)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.defaultCpus
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    val spark = LocalSession(cpus)
    // per-query Spark counters, read as deltas around each timed query:
    //  - shuffle WRITE bytes (SCALING.md's scaling-curve column) — what
    //    would cross the network on a real cluster, the budget that
    //    matters at 100 TB;
    //  - jobs started and task-seconds — a query whose wall clock is job
    //    count × scheduler overhead needs fewer actions, one dominated by
    //    task time needs cheaper per-task work.
    // Listener events are delivered async, so each snapshot polls until
    // the counters stop moving (bounded); the wait happens OUTSIDE the
    // timing window.
    val shuffleBytes = new AtomicLong(0)
    val jobs = new AtomicLong(0)
    val taskMs = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
        ()
      }
    })
    def settledCounters(): (Long, Long, Long) = {
      def now = (shuffleBytes.get, jobs.get, taskMs.get)
      var prev = now
      var tries = 0
      while (tries < 20) {
        Thread.sleep(25)
        val cur = now
        if (cur == prev) return cur
        prev = cur; tries += 1
      }
      prev
    }
    // JIT/codegen warmup so the first timed query doesn't absorb session
    // startup (a scan + a tiny shuffle + a write through the noop sink)
    spark.read.parquet(s"$sfDir/nation.parquet").groupBy("n_regionkey").count()
      .write.mode("overwrite").format("noop").save()
    // SPARK_GRAFT_BENCH_FILTER=dedup_,ann_ runs only matching prefixes —
    // the fast iteration loop while tuning one tier (full run = no filter)
    val prefixes = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      prefixes.isEmpty || prefixes.exists(n.startsWith)
    }
    // per-query 1-min load sample (r12 advice: the canonical run was taken
    // at load 7.2 and read 10% slow vs a quiet host — a single global load
    // can't show WHICH queries ate the drift; this pins noise to queries)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    // per-query JVM GC time (sum over all collectors): the other noise
    // channel next to load — a query whose wall time is mostly GC pause is
    // host/heap drift, not a plan regression (r13 postmortem: two ~5-9x
    // one-run outliers ate a third of the 2x gate with no code cause)
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    def runOne(name: String, fn: (SparkSession, String) => DataFrame): Run = {
      // pay accumulated GC debt outside the next query's timing window —
      // without this one random query per run absorbs a multi-second pause
      System.gc()
      // untimed fixture priming (e.g. the pre-built index a classify-only
      // key measures against): a primer failure surfaces through the timed
      // query itself failing, so it is logged but not fatal here
      SparkEntry.benchPrimers.get(name).foreach { p =>
        try p(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name primer failed: ${e.getMessage}")
        }
      }
      val (sh0, jobs0, taskMs0) = settledCounters()
      val loadAtStart = osBean.getSystemLoadAverage
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val okQ =
        try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      val sec = if (okQ) (System.nanoTime() - t0) / 1e9 else -1.0
      val gcMs = gcMillis() - gc0
      if (!okQ) Run(sec, -1.0, loadAtStart, gcMs, -1L, -1.0)
      else {
        val (sh1, jobs1, taskMs1) = settledCounters()
        Run(sec, (sh1 - sh0) / 1e6, loadAtStart, gcMs, jobs1 - jobs0,
          (taskMs1 - taskMs0) / 1e3)
      }
    }
    // load-gate (r14 replay lesson: a sustained-load driver session
    // inflated the near-dedup family ~2-3x and defeated min-of-2 — both
    // runs inflate together). A run that STARTS hot can't produce a
    // canonical artifact; record the fact in the artifact itself instead
    // of requiring a next-round replay to notice.
    val loadStart = math.max(0.0, osBean.getSystemLoadAverage)
    val canonicalLoadCeiling =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_CEILING", "3.0").toDouble
    val canonical = loadStart < canonicalLoadCeiling
    if (!canonical)
      System.err.println(f"[bench] load $loadStart%.2f >= ceiling " +
        f"$canonicalLoadCeiling%.1f at start — artifact marked non-canonical")
    val firstPass = selected.map { case (name, fn) => (name, fn, runOne(name, fn)) }
    // best-of-2 on the tail (r13 advice #1): any query whose first run
    // clears RERUN_THRESHOLD seconds is timed once more and scored as the
    // MIN of the two runs — a one-off multi-second stall (GC storm, page
    // cache eviction, heartbeat hiccup) cannot poison the official gate
    // reading, while a real regression reproduces in both runs. Bounded
    // cost: only the handful of >threshold queries pay a second run.
    val rerunThreshold = sys.env.getOrElse("SPARK_GRAFT_BENCH_RERUN_S", "3.0").toDouble
    val resultsFull = firstPass.map { case (name, fn, run1) =>
      if (run1.sec >= rerunThreshold) {
        val run2 = runOne(name, fn)
        val scored = if (run2.sec >= 0 && run2.sec < run1.sec) run2 else run1
        (name, scored, Some((run1.sec, run2.sec)))
      } else (name, run1, None)
    }
    val results = resultsFull.map { case (n, run, _) => (n, run.sec) }
    val ok = results.collect { case (_, v) if v >= 0 => v }
    val nFailed = results.count(_._2 < 0)
    val total = ok.sum
    val mean = total / math.max(ok.size, 1)

    System.gc()
    val streamRows = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "2000000").toLong
    val sr =
      try streamThroughput(spark, streamRows)
      catch { case e: Throwable =>
        System.err.println(s"[bench] stream throughput failed: ${e.getMessage}")
        StreamResult(-1.0, -1.0, Nil, -1.0, -1L)
      }

    // env fingerprint: lets the next round's reader separate host drift
    // from plan regression without replaying (r5→r6 lesson: a ~1.4× slower
    // host read as a 42% code regression until a manual replay cleared it)
    // `cpus` is the HOST's processor count; `cpus_conf` is the CONFIGURED
    // core count actually driving local[N] and shuffle.partitions — the
    // scaling harness benches at 8 vs 32 cores and needs the artifact to
    // prove $SPARK_GRAFT_CPUS took effect (r19's suspect_cpus_ignored:
    // both artifacts claimed the host's 32 and the check false-positived)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val env = s"""{"cpus":${Runtime.getRuntime.availableProcessors},""" +
      s""""cpus_conf":$cpus,""" +
      s""""shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},""" +
      s""""load":${f"${os.getSystemLoadAverage}%.2f"},""" +
      s""""jvm":${jsonStr(System.getProperty("java.version"))},""" +
      s""""spark":${jsonStr(spark.version)}}"""
    // `rows` is the generated input; `measured_rows`/`sec` cover only the
    // steady-state batches the best run was scored on (protocol above)
    val runsJson = sr.runs.map(r => if (r < 0) "-1" else f"$r%.0f")
      .mkString("[", ",", "]")
    val stream = s"""{"rows":$streamRows,"sec":${r3(sr.sec)},""" +
      s""""rows_per_sec":${if (sr.rps < 0) "-1" else f"${sr.rps}%.0f"},""" +
      s""""measured_rows":${sr.measuredRows},"runs":$runsJson,""" +
      s""""spread":${r3(sr.spread)}}"""

    def perQuery(v: Run => String): String =
      resultsFull.map { case (k, run, _) => jsonStr(k) + ":" + v(run) }
        .mkString("{", ",", "}")
    val fullQs = perQuery(run => r3(run.sec))
    val fullSh = perQuery(run => r3(run.shuffleMb))
    // load at each query's start + the run-wide max: a reader comparing
    // rounds can drop (or deflate) exactly the queries that ran hot
    val fullLoad = perQuery(run => r3(run.load))
    // GC millis spent inside each query's timing window (scored run)
    val fullGc = perQuery(_.gcMs.toString)
    // Spark jobs started and task-seconds spent by the scored run
    val fullJobs = perQuery(_.jobs.toString)
    val fullTaskSec = perQuery(run => r3(run.taskSec))
    // both raw timings for every re-run tail query: [first, second] — the
    // scored figure is their min, and the spread IS the noise evidence
    val fullReruns = resultsFull.collect { case (k, _, Some((a, b))) =>
      jsonStr(k) + s":[${r3(a)},${r3(b)}]"
    }.mkString("{", ",", "}")
    val loadMax = resultsFull.map(_._2.load).foldLeft(0.0)(math.max)
    // n_queries = ATTEMPTED (stable denominator across artifacts even when
    // failures differ — round-10 lesson); n_ok/n_failed break it down.
    // mean_per_query stays mean over the ok set (a -1 would poison it).
    // schema=2 marks the attempted-count semantics: artifacts without the
    // field predate the change and their n_queries means ok-count.
    val full = s"""{"metric":"total","value":${r3(total)},"unit":"sec","schema":2,""" +
      s""""sf":${jsonStr(sfDir)},"n_queries":${results.size},"n_ok":${ok.size},"n_failed":$nFailed,""" +
      s""""mean_per_query":${r3(mean)},"load_max":${r3(loadMax)},""" +
      s""""load_start":${r3(loadStart)},"canonical":$canonical,""" +
      s""""env":$env,"stream":$stream,""" +
      s""""queries":$fullQs,"queries_shuffle_mb":$fullSh,""" +
      s""""queries_load":$fullLoad,"queries_gc_ms":$fullGc,""" +
      s""""rerun_threshold_s":${r3(rerunThreshold)},"queries_rerun":$fullReruns,""" +
      s""""queries_jobs":$fullJobs,"queries_task_sec":$fullTaskSec}"""
    Files.write(Paths.get(outFile), full.getBytes("UTF-8"))

    // the slowest queries are the only per-query data that fits the tail
    // window; everything is in `queries_file`
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(12)
      .map { case (k, v) => jsonStr(k) + ":" + r3(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","schema":2,""" +
      s""""sf":${jsonStr(sfDir)},"n_queries":${results.size},"n_ok":${ok.size},"n_failed":$nFailed,""" +
      s""""mean_per_query":${r3(mean)},"load_max":${r3(loadMax)},""" +
      s""""load_start":${r3(loadStart)},"canonical":$canonical,""" +
      s""""env":$env,"stream":$stream,""" +
      s""""queries":$slowest,"queries_truncated":true,""" +
      s""""queries_file":${jsonStr(outFile)}}""")
    spark.stop()
  }
}
