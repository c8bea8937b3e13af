package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

/** File ingestion — the reference's `Sources\FindFiles` (emit one message
  * per file under a dir filtered by extension allow-list,
  * `/root/reference/src/Sources/FindFiles.php:53-74`) collapses to Spark's
  * native glob reads: one *DataFrame* covers the whole file set, split into
  * partitions by Spark (`maxPartitionBytes`), so "one coroutine per file"
  * becomes "many tasks per file set" for free. For continuous arrival the
  * same path works as a `FileStreamSource` (see graft.streaming.Streams).
  */
object FileSource {

  /** Recursive scan of `dir` for files with the given extensions. */
  def scanDir(spark: SparkSession, dir: String, format: String,
              extensions: Seq[String], schema: Option[StructType] = None,
              options: Map[String, String] = Map.empty): DataFrame = {
    val reader0 = spark.read.format(format)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", extensions match {
        case Seq(one) => s"*.$one"
        case many     => many.mkString("*.{", ",", "}")
      })
      .options(options)
    val reader = schema.fold(reader0)(reader0.schema)
    reader.load(dir)
  }

  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .csv(path)

  def json(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  def parquet(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  /** The Spark schema of one parquet file, read from its footer on the
    * driver: the row schema Spark stored in the footer's key-value
    * metadata, else the file's parquet schema converted as Spark would.
    * Spark's own inference reads one footer too, but in a job of its own.
    */
  def parquetSchema(file: FileStatus, conf: Configuration): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val meta = try reader.getFileMetaData finally reader.close()
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(SQLConf.get).convert(meta.getSchema))
  }

  /** XML file scan (`Transforms\XmlParser` file mode,
    * `/root/reference/src/Transforms/XmlParser.php:31-36`): Spark 4
    * built-in xml datasource, one row per `rowTag` element.
    */
  def xml(spark: SparkSession, path: String, rowTag: String = "row",
          schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("rowTag", rowTag).format("xml")
    schema.fold(r)(r.schema).load(path)
  }
}
