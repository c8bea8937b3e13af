import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._

/** Names the Spark jobs of one etl_sync-shaped merge (Config.runAll with a
  * latestVersion transform and an upsertParquet sink): 500k-row target over
  * 120 day partitions, 20k-row delta (60% updates, 30% inserts, 10%
  * re-sends; recent days favoured, P ∝ 0.75^age), local[4], 4 shuffle
  * partitions. Each job is printed with its last stage's call site and the
  * operator scopes of its stages.
  *
  * Run against a compiled checkout:
  *   GRAFT_CLASSES=<checkout>/target/scala-2.13/classes sbt -batch run
  * from a directory holding this file under src/main/scala and the
  * build.sbt beside it.
  */
object JobNames {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession(cpus = 4)
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("jobnames_").toString
    val target = s"$work/target"; val staging = s"$work/staging"
    val days = 120
    spark.range(500000L).select(col("id").as("order_id"), (col("id") * 7 % 1000).as("amount_cents"),
        lit(0L).as("version"), (col("id") % days).cast("int").as("day"))
      .repartition(col("day")).write.partitionBy("day").parquet(target)
    val rng = new scala.util.Random(1)
    def recentDay(): Int = { var d = 0; while (d < days - 1 && rng.nextDouble() < 0.75) d += 1; days - 1 - d }
    val yaml =
      s"""tasks:
         |  - name: orders_merge
         |    source: {type: parquet, path: "$staging"}
         |    transforms:
         |      - {op: latestVersion, pk: [order_id], version: [version]}
         |    sink: {type: upsertParquet, path: "$target", keys: [order_id], partitionCol: day}
         |""".stripMargin
    var next = 500000L
    val seen = new ConcurrentLinkedQueue[(Int, String, Int)]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val last = e.stageInfos.maxBy(_.stageId)
        val ops = e.stageInfos.sortBy(_.stageId).flatMap(_.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)))
          .distinct.filterNot(n => n.startsWith("WholeStageCodegen") || n.startsWith("mapPartitions"))
        seen.add((e.jobId, s"${last.name} [${ops.mkString(", ")}]", e.stageInfos.size))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    (2 to 5).foreach { v =>
      val rows = (0 until 20000).map { i =>
        val d = recentDay()
        if (i % 10 < 6) (d + days * rng.nextInt(500000 / days).toLong, 1L, v.toLong, d)
        else if (i % 10 < 9) { next += 1; (next, 2L, v.toLong, d) }
        else (d + days * rng.nextInt(500000 / days).toLong, 3L, v.toLong, d)
      }
      rows.toDF("order_id", "amount_cents", "version", "day").write.mode("overwrite").parquet(staging)
      val touched = rows.map(_._4).distinct.size
      Thread.sleep(500); seen.clear()
      graft.core.Config.runAll(spark, yaml)
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.asScala.forall(j => ended.contains(j._1)) && System.currentTimeMillis() < deadline) Thread.sleep(25)
      Thread.sleep(300)
      val jobs = seen.asScala.toSeq.sortBy(_._1)
      println(s"round $v: $touched day dirs touched, ${jobs.size} jobs")
      jobs.foreach { case (id, name, stages) => println(s"  job $id: $name ($stages stage${if (stages > 1) "s" else ""})") }
    }
    println(s"target rows: ${spark.read.parquet(target).count()}")
    spark.stop()
  }
}
