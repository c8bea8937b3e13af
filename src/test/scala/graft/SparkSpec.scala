package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the suite
  * fast; tests only create tiny in-memory frames).
  */
object TestSpark {
  lazy val spark: SparkSession = LocalSession(cpus = 2)
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  private val tempDirs = mutable.Buffer.empty[Path]

  /** A fresh temp dir named `prefix…`, deleted with its contents when the
    * suite ends — after every test's own cleanup (a streaming test's
    * `finally q.stop()`) has run.
    */
  def tempDir(prefix: String): String = tempDirs.synchronized {
    val dir = Files.createTempDirectory(prefix)
    tempDirs += dir
    dir.toString
  }

  override def afterAll(): Unit =
    try tempDirs.foreach { dir =>
      if (Files.exists(dir)) {
        val paths = Files.walk(dir)
        try paths.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally paths.close()
      }
    } finally super.afterAll()
}
