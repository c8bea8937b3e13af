package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft entry point starts Spark in-process: `local[N]`
  * with N shuffle partitions, a UTC session, no UI, and WARN logging.
  *
  * `spark.sql.legacy.parquet.nanosAsLong` is always on: older fixtures
  * store `events.ts` as TIMESTAMP(NANOS), which Spark's reader rejects
  * otherwise; queries adapt to the column type that actually arrives (see
  * `SparkEntry.tsUsCol`), and the setting is harmless for µs files.
  */
object LocalSession {

  /** Cores for `local[N]` and the shuffle partition count:
    * `SPARK_GRAFT_CPUS`, default 4.
    */
  lazy val defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
