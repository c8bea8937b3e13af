package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

import graft.SparkSpec

/** The per-batch contract of every persisted-index ingest that quarantines
  * or appends through a commit marker: a bootstrap batch, an admitting
  * batch and a pure replay each run at most a pinned number of Spark jobs;
  * a replay appends no corpus file; and once `_meta` is gone while the data
  * stays (a crash inside the commit window), the next batch fails with
  * `IllegalStateException` and leaves the corpus file count unchanged.
  */
class IngestContractSpec extends SparkSpec {
  import spark.implicits._

  /** A started ingest and its four batches: bootstrap, admitting, replay,
    * and the batch sent after the stamp is removed.
    */
  private case class Run(q: StreamingQuery, batches: Seq[() => Unit])

  /** One ingest: where its corpus files and its stamped index live (both
    * relative to the case dir), the job bound of its first three batches,
    * and how to start it.
    */
  private case class IngestCase(name: String, corpus: String, index: String,
                                maxJobs: Seq[Int], start: String => Run)

  // each generator makes all of a case's payloads in one job, in order
  private def gen(g: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                  rows: Seq[(Long, Long, Int)]): IndexedSeq[Array[Byte]] =
    g(rows.toDF("id", "k", "p")).orderBy("id").select("content")
      .as[Array[Byte]].collect().toIndexedSeq
  private def pngs(kp: (Long, Int)*) = gen(graft.ext.Media.genPatternPngs(
    _, "id", "k", "p", 9, 8), kp.zipWithIndex.map { case ((k, p), i) => (i.toLong, k, p) })
  private def wavs(kp: (Long, Int)*) = gen(df => graft.ext.Media.genToneWavs(
      df.withColumn("nw", org.apache.spark.sql.functions.lit(65)), "id", "k", "p", "nw"),
    kp.zipWithIndex.map { case ((k, p), i) => (i.toLong, k, p) })
  private def avis(kn: (Long, Int)*) = gen(graft.ext.Media.genPatternAvis(
    _, "id", "k", "p", 9, 8), kn.zipWithIndex.map { case ((k, n), i) => (i.toLong, k, n) })
  private def warcs(kn: (Long, Int)*) = gen(df => graft.sources.Warc.genWarcs(
      df.withColumn("gz", org.apache.spark.sql.functions.lit(true)), "id", "p", "gz"),
    kn.map { case (k, n) => (k, k, n) })
  private def pdfs(kn: (Long, Int)*) = gen(df => graft.ext.Pdf.genPdfs(
      df.withColumn("flate", org.apache.spark.sql.functions.lit(true)), "id", "p", "flate"),
    kn.map { case (k, n) => (k, k, n) })
  private val junk = "not a payload".getBytes

  /** The five quarantining ingests share one stream shape: (id, content)
    * payloads in, corpus + `idx` + quarantine out.
    */
  private def payloadRun(dir: String, payloads: => IndexedSeq[Array[Byte]],
                         batches: IndexedSeq[Array[Byte]] => Seq[Seq[(Long, Array[Byte])]])(
      ingest: (org.apache.spark.sql.DataFrame, String, String, String, String) => StreamingQuery): Run = {
    implicit val sqlCtx = spark.sqlContext
    val sends = batches(payloads)
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = ingest(mem.toDF().toDF("pid", "content"), s"$dir/corpus",
      s"$dir/idx", s"$dir/quarantine", s"$dir/ckpt")
    Run(q, sends.map(b => () => { mem.addData(b: _*); () }))
  }

  private def vec(x: Double, y: Double, z: Double) = Seq(x.toFloat, y.toFloat, z.toFloat)

  // job bounds (bootstrap, admitting, replay): the most jobs each batch ran
  // over 5 runs with no other load and 5 beside three busy-loop processes
  // before the nine stamped ingests shared one step, less the emptiness,
  // count and re-pin jobs that step removed in every one of 10 such runs.
  // The semantic and near bounds are lower again by the jobs the dedup
  // tier's counted cluster pin removed (its emptiness tests, and the
  // semantic bootstrap's row count) in every one of 10 such runs.
  // The audio batches vary by one or two jobs (adaptive execution may
  // submit a join's shuffle stages before it turns the join into a
  // broadcast, depending on which stage finishes first), so their bounds
  // stay the parent's.
  private val cases = Seq(
    IngestCase("ingestImageDedup", "corpus", "idx", Seq(10, 14, 12), dir =>
      payloadRun(dir, pngs((5, 0), (5, 1), (40, 0), (90, 0), (120, 0)), p => Seq(
        Seq((1L, p(0)), (2L, p(1)), (3L, p(2)), (4L, junk)),
        Seq((5L, p(1)), (6L, p(3))),
        Seq((7L, p(2)), (8L, p(3))),
        Seq((9L, p(4)))))(
        (df, c, i, qu, ck) => Streams.ingestImageDedup(df, c, i, qu, "pid",
          "content", ck, trigger = Trigger.ProcessingTime(0)))),
    IngestCase("ingestAudioDedup", "corpus", "idx", Seq(13, 18, 15), dir =>
      payloadRun(dir, wavs((5, 0), (5, 1), (7, 0), (7, 1), (0, 0), (3, 0)), p => Seq(
        Seq((1L, p(0)), (2L, p(1)), (3L, p(2)), (4L, junk)),
        Seq((5L, p(3)), (6L, p(4))),
        Seq((7L, p(4))),
        Seq((8L, p(5)))))(
        (df, c, i, qu, ck) => Streams.ingestAudioDedup(df, c, i, qu, "pid",
          "content", ck, trigger = Trigger.ProcessingTime(0)))),
    IngestCase("ingestVideoDedup", "corpus", "idx", Seq(35, 58, 42), dir =>
      payloadRun(dir, avis((5, 3), (40, 3), (5, 2), (90, 3), (120, 3)), p => Seq(
        Seq((1L, p(0)), (2L, p(0)), (3L, p(1)), (4L, junk)),
        Seq((5L, p(2)), (6L, p(3))),
        Seq((7L, p(1))),
        Seq((8L, p(4)))))(
        (df, c, i, qu, ck) => Streams.ingestVideoDedup(df, c, i, qu, "pid",
          "content", ck, trigger = Trigger.ProcessingTime(0)))),
    IngestCase("ingestWarc", "corpus", "idx", Seq(7, 10, 8), dir =>
      payloadRun(dir, warcs((1, 2), (3, 3), (5, 1)), p => Seq(
        Seq((1L, p(0)), (99L, junk)),
        Seq((2L, p(0)), (3L, p(1))),
        Seq((4L, p(1))),
        Seq((5L, p(2)))))(
        (df, c, i, qu, ck) => Streams.ingestWarc(df, c, i, qu, "pid",
          "content", ck, trigger = Trigger.ProcessingTime(0)))),
    IngestCase("ingestPdf", "corpus", "idx", Seq(7, 10, 8), dir =>
      payloadRun(dir, pdfs((1, 2), (3, 3), (5, 1)), p => Seq(
        Seq((1L, p(0)), (99L, junk)),
        Seq((2L, p(0)), (3L, p(1))),
        Seq((4L, p(1))),
        Seq((5L, p(2)))))(
        (df, c, i, qu, ck) => Streams.ingestPdf(df, c, i, qu, "pid",
          "content", ck, trigger = Trigger.ProcessingTime(0)))),
    IngestCase("ingestVectors", "corpus", "idx", Seq(19, 7, 5), { dir =>
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = Streams.ingestVectors(mem.toDF().toDF("vec_id", "embedding"),
        s"$dir/corpus", s"$dir/idx", idCol = "vec_id", vecCol = "embedding",
        checkpoint = s"$dir/ckpt", nLists = 2,
        trigger = Trigger.ProcessingTime(0))
      Run(q, Seq(
        Seq((1L, vec(10, 0, 0)), (2L, vec(0, 10, 0)), (3L, vec(10, 0.4, 0))),
        Seq((1L, vec(9, 1, 1)), (4L, vec(0, 9.5, 0.2))),
        Seq((4L, vec(0, 9.5, 0.2)), (2L, vec(0, 10, 0))),
        Seq((5L, vec(5, 5, 0)))).map(b => () => { mem.addData(b: _*); () }))
    }),
    IngestCase("ingestSemanticDedup", "corpus", "idx", Seq(11, 21, 15), { dir =>
      implicit val sqlCtx = spark.sqlContext
      def v(x: Float, y: Float, z: Float) = Seq(x, y, z, 0f)
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = Streams.ingestSemanticDedup(mem.toDF().toDF("vec_id", "embedding"),
        s"$dir/corpus", s"$dir/idx", idCol = "vec_id", vecCol = "embedding",
        checkpoint = s"$dir/ckpt", k = 2, dim = 4, threshold = 0.999,
        trigger = Trigger.ProcessingTime(0))
      Run(q, Seq(
        Seq((1L, v(1, 0, 0)), (2L, v(1, 0, 0)), (3L, v(0, 1, 0))),
        Seq((4L, v(0, 1, 0)), (5L, v(0, 0, 1))),
        Seq((6L, v(1, 0, 0)), (7L, v(0, 0, 1))),
        Seq((8L, v(1, 1, 0)))).map(b => () => { mem.addData(b: _*); () }))
    }),
    IngestCase("ingestNearDedup", "corpus", "idx", Seq(20, 44, 41), { dir =>
      implicit val sqlCtx = spark.sqlContext
      val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val mem = MemoryStream[(Long, String)]
      val q = Streams.ingestNearDedup(mem.toDF().toDF("doc_id", "text"),
        s"$dir/corpus", s"$dir/idx", idCol = "doc_id", textCol = "text",
        checkpoint = s"$dir/ckpt", minJaccard = 0.5,
        trigger = Trigger.ProcessingTime(0))
      Run(q, Seq(
        Seq((1L, a), (2L, a + " lambda"), (3L, "one two three four five six seven eight")),
        Seq((4L, a + " mu"), (5L, "qq1 qq2 qq3 qq4 qq5 qq6")),
        Seq((6L, a), (7L, "qq1 qq2 qq3 qq4 qq5 qq6")),
        Seq((8L, "fresh words for the last batch"))).map(b => () => { mem.addData(b: _*); () }))
    }),
    IngestCase("ingestBloomDedup", "corpus", "bloom", Seq(5, 8, 5), { dir =>
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val q = Streams.ingestBloomDedup(mem.toDF().toDF("doc_id", "text"),
        s"$dir/corpus", s"$dir/bloom", idCol = "doc_id", textCol = "text",
        checkpoint = s"$dir/ckpt", k = 5, mBits = 1L << 16,
        trigger = Trigger.ProcessingTime(0))
      Run(q, Seq(
        Seq((1L, "alpha doc"), (2L, "beta doc"), (3L, "alpha doc")),
        Seq((4L, "beta doc"), (5L, "gamma doc")),
        Seq((6L, "alpha doc"), (7L, "gamma doc")),
        Seq((8L, "delta doc"))).map(b => () => { mem.addData(b: _*); () }))
    }),
    IngestCase("ingestSearchDocs", "idx/docs", "idx", Seq(7, 10, 5), { dir =>
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val q = Streams.ingestSearchDocs(mem.toDF().toDF("doc_id", "text"),
        s"$dir/idx", idCol = "doc_id", textCol = "text",
        checkpoint = s"$dir/ckpt", nBuckets = 4,
        trigger = Trigger.ProcessingTime(0))
      Run(q, Seq(
        Seq((1L, "spark hash join"), (2L, "vector search index")),
        Seq((1L, "changed text ignored"), (3L, "hash join order")),
        Seq((3L, "hash join order")),
        Seq((4L, "fresh words here"))).map(b => () => { mem.addData(b: _*); () }))
    }))

  private def parquetFiles(path: String): Int =
    Option(new java.io.File(path).list()).fold(0)(_.count(_.endsWith(".parquet")))

  private def causes(t: Throwable): Seq[Throwable] =
    Option(t).toSeq.flatMap(x => x +: causes(x.getCause))

  cases.foreach { c =>
    test(s"${c.name}: bootstrap, admit and replay stay within their job counts; a torn stamp fails loudly") {
      val dir = tempDir(s"graft_contract_${c.name}_")
      val run = c.start(dir)
      val qid = run.q.id.toString
      // job id → (micro-batch id, the job's last stage: its name and the
      // operator scopes of its RDDs), for this query's jobs only. Every
      // stage of a micro-batch is named after the query's `start` call
      // site, so the scopes are what tell its jobs apart
      val jobs = new ConcurrentHashMap[Int, (Long, String)]()
      val ended = ConcurrentHashMap.newKeySet[Int]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null &&
              e.properties.getProperty("sql.streaming.queryId") == qid)
            Option(e.properties.getProperty("streaming.sql.batchId"))
              .foreach(b => jobs.put(e.jobId, (b.toLong,
                e.stageInfos.maxByOption(_.stageId).fold("?") { st =>
                  s"${st.name}, ${st.numTasks} tasks: " +
                    st.rddInfos.flatMap(_.scope.map(_.name)).distinct.mkString(" < ")
                })))
        override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
      }
      spark.sparkContext.addSparkListener(listener)
      val corpus = s"$dir/${c.corpus}"
      try {
        val filesAfter = run.batches.take(3).map { send =>
          send(); run.q.processAllAvailable(); parquetFiles(corpus)
        }
        val deadline = System.currentTimeMillis() + 10000
        while (!ended.containsAll(jobs.keySet()) &&
            System.currentTimeMillis() < deadline) Thread.sleep(25)
        Thread.sleep(200)
        def named(b: Long) = jobs.asScala.toSeq.sortBy(_._1).collect {
          case (id, (`b`, name)) => s"$id: $name" }
        val perBatch = (0L to 2L).map(named(_).size)
        info(s"jobs per batch: $perBatch")
        perBatch.zip(c.maxJobs).zipWithIndex.foreach { case ((n, max), b) =>
          assert(n >= 1 && n <= max, s"${c.name} batch $b ran $n jobs (bound $max): " +
            s"$perBatch; its jobs:\n${named(b.toLong).mkString("\n")}")
        }
        val files = filesAfter(2)
        assert(files > 0 && files == filesAfter(1), s"corpus files per batch: $filesAfter")
        // a crash inside the commit window: the data stays, the stamp is gone
        graft.ext.IndexFormat.invalidate(spark, s"$dir/${c.index}")
        run.batches(3)()
        val e = intercept[StreamingQueryException](run.q.processAllAvailable())
        assert(causes(e).exists(_.isInstanceOf[IllegalStateException]),
          causes(e).map(x => s"${x.getClass.getName}: ${x.getMessage}").mkString("\n"))
        assert(parquetFiles(corpus) == files)
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        run.q.stop()
      }
    }
  }
}
