package graft.functions

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec

/** The declarative compositions the native shingle kernels replaced. They
  * are the executable specification the kernels are checked against; no
  * query path calls them.
  */
object ShingleOracle {

  /** MinHash over a string-shingle column, `fallback` hashed when the
    * shingle array is empty (the former `Dedup.minhashFromShingles`).
    */
  def minhashFromShingles(shingles: Column, fallback: Column, numHashes: Int): Column =
    ExprOps.let(shingles) { sh =>
      transform(sequence(lit(0), lit(numHashes - 1)), h =>
        coalesce(array_min(transform(sh, s => xxhash64(s, h))), xxhash64(fallback, h)))
    }

  /** The former `Dedup.minhashSignature`. */
  def minhashSignature(text: Column, n: Int, k: Int): Column =
    minhashFromShingles(TextFunctions.wordShingles(text, n), text, k)

  /** The former `TextFunctions.wordShingleHashes`. */
  def wordShingleHashes(text: Column, n: Int): Column =
    ExprOps.let(transform(TextFunctions.tokens(text), w => xxhash64(w))) { h =>
      when(size(h) < n, array().cast("array<bigint>"))
        .otherwise(transform(
          sequence(lit(1), size(h) - (n - 1)),
          i => xxhash64((0 until n).map(j => element_at(h, i + lit(j))): _*)))
    }
}

class ShingleKernelSpec extends SparkSpec {

  private val Ns = Seq(1, 2, 3, 5)
  private val Ks = Seq(1, 4, 16)

  private val Words = Seq("a", "bb", "the", "fox", "x1", "ab,c", "é", "naïve",
    "中文", "日本語テキスト", "😀", "Ünïcödé")
  private val Spaces = Seq(" ", "  ", "   ", "\t", "\n", "\u000B", "\f", "\r",
    " \t ", "\r\n", "\t\t")

  private val edgeCases: Seq[String] = Seq(null, "", " ", "    ", "\t", "\n\r",
    "\u000B\f", " \t ", "a", "a b", "a  b", "a b c d", "\ta b c", "a b c\n",
    "\r\na b c d e f\f", "  a b c d e f  ", " \u000Ba b c ", "中文 😀 é",
    "a\tb\nc\u000Bd\fe\rf", "the the the the the the")

  /** Seeded random texts: word/whitespace sequences with optional leading
    * and trailing whitespace, drawn from a small vocabulary so repeated
    * shingles occur.
    */
  private def randomTexts(seed: Long, count: Int): Seq[String] = {
    val r = new Random(seed)
    def ws = Spaces(r.nextInt(Spaces.size))
    Seq.fill(count) {
      val sb = new StringBuilder
      if (r.nextInt(3) == 0) sb ++= ws
      val words = r.nextInt(12)
      (0 until words).foreach { i =>
        if (i > 0) sb ++= (if (r.nextInt(4) == 0) ws else " ")
        sb ++= Words(r.nextInt(Words.size))
      }
      if (r.nextInt(3) == 0) sb ++= ws
      sb.toString
    }
  }

  private def frame(texts: Seq[String]): DataFrame = {
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    // the repartition keeps the optimizer from folding the projection into
    // the local relation, so the kernels run in the physical plan
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema).repartition(2)
  }

  /** Every kernel column, keyed by a label shared with [[oracleColumns]]. */
  private def nativeColumns(text: Column): Seq[(String, Column)] =
    (for (n <- Ns; k <- Ks) yield
      s"minhash n=$n k=$k" -> graft.ext.Dedup.minhashSignature(text, n, k)) ++
      Ns.flatMap(n => Seq(
        s"hashes n=$n" -> TextFunctions.wordShingleHashes(text, n),
        s"distinct n=$n" -> array_distinct(TextFunctions.wordShingleHashes(text, n))))

  private def oracleColumns(text: Column): Seq[(String, Column)] =
    (for (n <- Ns; k <- Ks) yield
      s"minhash n=$n k=$k" -> ShingleOracle.minhashSignature(text, n, k)) ++
      Ns.flatMap(n => Seq(
        s"hashes n=$n" -> ShingleOracle.wordShingleHashes(text, n),
        s"distinct n=$n" -> array_distinct(ShingleOracle.wordShingleHashes(text, n))))

  private def evaluate(df: DataFrame, cols: Seq[(String, Column)]): Map[Long, Row] =
    df.select(col("id") +: cols.map { case (l, c) => c.as(l) }: _*)
      .collect().map(r => r.getLong(0) -> r).toMap

  private def assertEquivalent(texts: Seq[String]): Unit = {
    val df = frame(texts)
    val labels = nativeColumns(col("text")).map(_._1)
    // separate projections: the oracle is CodegenFallback and would pull a
    // shared projection out of whole-stage codegen
    val native = evaluate(df, nativeColumns(col("text")))
    val oracle = evaluate(df, oracleColumns(col("text")))
    assert(native.size == texts.size && oracle.size == texts.size)
    for ((id, o) <- oracle; (label, i) <- labels.zipWithIndex) {
      val got = Option(native(id).getSeq[Long](i + 1))
      val want = Option(o.getSeq[Long](i + 1))
      assert(got == want,
        s"$label differs on ${Option(texts(id.toInt)).map(_.map(c =>
          if (c < ' ') f"\\u${c.toInt}%04x" else c.toString).mkString)}")
    }
  }

  private def inMode(codegen: Boolean)(body: => Unit): Unit = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    if (!codegen) {
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
    }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for ((mode, codegen) <- Seq("codegen" -> true, "interpreted" -> false)) {
    test(s"kernels equal the declarative compositions on edge cases ($mode)") {
      inMode(codegen)(assertEquivalent(edgeCases))
    }

    test(s"kernels equal the declarative compositions on seeded random texts ($mode)") {
      inMode(codegen)(Seq(7L, 8L).foreach(seed => assertEquivalent(randomTexts(seed, 200))))
    }
  }
}
