package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Measurement main for optimization work, on a [[LocalSession]]:
  *
  *  - `trace <sfDir> [query]` — per-JOB trace of one registered query (job
  *    id, start → end seconds, call site), so a job-count-bound query's
  *    jobs can be attributed to the operator sections that schedule them.
  *    Default query: `dedup_near_classify`.
  *  - `plan <sfDir> [query…]` — formatted plans for the queries whose
  *    100 TB behavior depends on pushdown/broadcast/shuffle shape.
  *  - `scale <probe> <args…>` — one scaling probe from
  *    [[ScaleProbes.table]]: untimed setup, then timed sections
  *    materialized through [[noop]], one result line per measurement.
  *
  * Per-query job counts and task-seconds next to wall time come from
  * `SPARK_GRAFT_BENCH_FILTER=<query> Bench` (`queries_jobs` and
  * `queries_task_sec` in its `bench_full.json`).
  *
  * Usage: runMain graft.Measure trace|plan|scale …
  */
object Measure {

  /** Wall seconds of `body`, and its result. */
  def time[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Wall seconds to compute every row and column of `df` into the `noop`
    * sink, and its row count, observed in the same pass. A bare `.count()`
    * lets Catalyst prune unused projections and times a near-no-op. `df`
    * is built inside the clock, so eager work its construction does (index
    * reads, driver-side broadcasts) is timed too.
    */
  def noop(df: => DataFrame): (Double, Long) = {
    val rows = Observation()
    val (sec, _) = time {
      df.observe(rows, count(lit(1)).as("n"))
        .write.mode("overwrite").format("noop").save()
    }
    (sec, rows.get("n").asInstanceOf[Long])
  }

  private val planDefaults = Seq("q1_agg", "sync_anti_insert", "sync_watermark",
    "dedup_exact", "ann_cosine_topk", "xf_project_include")

  def main(args: Array[String]): Unit = args.toList match {
    case "trace" :: sfDir :: rest if rest.size <= 1 =>
      withSession(trace(_, sfDir, rest.headOption.getOrElse("dedup_near_classify")))
    case "plan" :: sfDir :: rest =>
      withSession { spark =>
        (if (rest.nonEmpty) rest else planDefaults).foreach { n =>
          println(s"\n===== $n =====")
          SparkEntry.queries(n)(spark, sfDir).explain("formatted")
        }
      }
    case "scale" :: name :: rest if ScaleProbes.table.get(name).exists(_.accepts(rest)) =>
      withSession(ScaleProbes.table(name).run(_, rest))
    case _ =>
      System.err.println(
        "usage: Measure trace <sfDir> [query]\n" +
          "       Measure plan <sfDir> [query...]\n" +
          ScaleProbes.table.map { case (n, p) => s"       Measure scale $n ${p.args}" }
            .mkString("\n"))
      sys.exit(2)
  }

  private def withSession(body: SparkSession => Unit): Unit = {
    val spark = LocalSession()
    try body(spark) finally spark.stop()
  }

  private def trace(spark: SparkSession, sfDir: String, name: String): Unit = {
    val starts = new ConcurrentHashMap[Int, (String, Long)]()
    val lines = new ConcurrentLinkedQueue[String]()
    val epoch = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = j.stageInfos.lastOption.map(_.name.take(90)).getOrElse("?")
        starts.put(j.jobId, (site, j.time)); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val (site, t0) = starts.getOrDefault(e.jobId, ("?", e.time))
        val rel0 = (t0 - epoch.get) / 1000.0
        val rel1 = (e.time - epoch.get) / 1000.0
        lines.add(f"job ${e.jobId}%4d  [$rel0%7.3f -> $rel1%7.3f]  $site")
        ()
      }
    })
    // same warmup as Bench, then the query's untimed primer
    spark.read.parquet(s"$sfDir/nation.parquet").groupBy("n_regionkey").count()
      .write.mode("overwrite").format("noop").save()
    SparkEntry.benchPrimers.get(name).foreach(p => p(spark, sfDir))
    Thread.sleep(500) // let the listener drain the warmup's events
    lines.clear()
    epoch.set(System.currentTimeMillis())
    val (sec, _) = time {
      SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
    }
    Thread.sleep(500)
    println(s"== $name: ${lines.size} jobs, $sec s")
    lines.forEach(l => println(l))
  }
}

/** One scaling probe. `args` names its positional arguments (`<x>`
  * required, `[x]` optional); `run` does the probe's untimed setup, times
  * its sections through [[Measure.noop]] (or [[Measure.time]] for writes
  * and driver-side work), and prints one result line per measurement.
  */
final case class Probe(args: String, run: (SparkSession, Seq[String]) => Unit) {
  private val words = args.split(" ").toSeq
  private val required = words.count(_.startsWith("<"))
  def accepts(given: Seq[String]): Boolean =
    given.size >= required && given.size <= required + words.count(_.startsWith("["))
}
