package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup}
import graft.functions.TextFunctions

/** Document kinds of a seeded corpus plan. */
object DocKind {
  val Single = 0
  val LowQuality = 1
  val CleanCopy = 2 // same words, different markup noise
  val NearCopy = 3  // same words plus one appended word
}

/** A seeded corpus plan: per slot its kind, the slot whose text it copies
  * (itself for originals) and its document id. Texts are pure functions of
  * (seed, slot), so executors can render them in parallel while the driver
  * derives the expected answer from the plan alone.
  */
final case class CorpusPlan(seed: Long, kind: Array[Int], base: Array[Int], id: Array[Long]) {
  def size: Int = kind.length

  /** Ids the near-dup pass must keep: quality-passing singletons plus the
    * smallest id of every planted cluster.
    */
  def expectedKept: Set[Long] = {
    val clusterMin = scala.collection.mutable.HashMap.empty[Int, Long]
    kind.indices.foreach { i =>
      if (kind(i) != DocKind.LowQuality) {
        val b = base(i)
        clusterMin(b) = math.min(clusterMin.getOrElse(b, Long.MaxValue), id(i))
      }
    }
    clusterMin.values.toSet
  }

  def passing: Int = kind.count(_ != DocKind.LowQuality)
}

object CorpusPlan {
  /** `n` slots: 5% low quality, the rest originals of which 12% seed a
    * cluster of 1-3 copies (half clean copies, half near copies). Ids are a
    * seeded permutation of `idBase + [0, n)`.
    */
  def make(seed: Long, stream: Long, n: Int, idBase: Long): CorpusPlan = {
    val r = Gen.rng(seed, stream)
    val kind = new Array[Int](n)
    val base = new Array[Int](n)
    var i = 0
    while (i < n) {
      if (r.nextInt(100) < 5) { kind(i) = DocKind.LowQuality; base(i) = i; i += 1 }
      else {
        kind(i) = DocKind.Single; base(i) = i
        val b = i
        i += 1
        if (r.nextInt(100) < 12) {
          var c = 1 + r.nextInt(3)
          while (c > 0 && i < n) {
            kind(i) = if (r.nextBoolean()) DocKind.CleanCopy else DocKind.NearCopy
            base(i) = b; i += 1; c -= 1
          }
        }
      }
    }
    val perm = Array.tabulate(n)(identity)
    var j = n - 1
    while (j > 0) { val k = r.nextInt(j + 1); val t = perm(j); perm(j) = perm(k); perm(k) = t; j -= 1 }
    CorpusPlan(seed, kind, base, perm.map(p => idBase + p))
  }

  /** The cleaned words of original slot `b` under text stream `stream`. */
  def cleanText(seed: Long, stream: Long, b: Int): String = {
    val r = Gen.rng(seed, stream * 10000000L + b)
    Text.doc(r, Text.docLength(r))
  }

  /** Raw (noisy) text of slot `i`. */
  def render(p: CorpusPlan, stream: Long, i: Int): String = {
    val r = Gen.rng(p.seed, stream * 10000000L + 5000000L + i)
    p.kind(i) match {
      case DocKind.LowQuality => Text.noisy(r, Text.lowQuality(r))
      case DocKind.Single | DocKind.CleanCopy => Text.noisy(r, cleanText(p.seed, stream, p.base(i)))
      case _ => Text.noisy(r, Text.nearCopy(r, cleanText(p.seed, stream, p.base(i))))
    }
  }
}

/** Shared first stage of both curation workloads. */
object CleanFilter {
  val MinQuality = 500

  def apply(raw: DataFrame): DataFrame =
    raw.withColumn("text", TextFunctions.cleanText(col("text")))
      .filter(TextFunctions.qualityPerMille(col("text")) >= MinQuality)
}

/** `corpus_dedup`: a one-shot curation pass over a seeded corpus with
  * planted near-duplicate clusters: clean + quality filter, near-dup
  * (shingle → signature → band join → rescore → components →
  * representatives), hash split, parquet write. Each round is the full
  * pass over the same input; the kept-doc set is checked every round.
  */
final class CorpusDedup extends Workload {
  val Docs = 3000

  private def writeCorpus(r: Run, plan: CorpusPlan, stream: Long, dir: String): Unit = {
    val spark = r.spark
    import spark.implicits._
    val bp = spark.sparkContext.broadcast(plan)
    spark.range(plan.size).as[Long].repartition(Session.ShufflePartitions)
      .map(i => (bp.value.id(i.toInt), CorpusPlan.render(bp.value, stream, i.toInt)))
      .toDF("id", "text").write.parquet(dir)
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val t = r.tracer
    val out = r.work.resolve("curated").toString

    var keptCount = 0L

    def pass(in: String): Unit = {
      val cleaned = t.section("functions.clean_filter") {
        t.boundary(CleanFilter(spark.read.parquet(in)))
      }
      val kept = t.section("ext.dedup.near_dedup") {
        t.boundary(Dedup.nearDedup(cleaned, "id", "text"))
      }
      t.section("ext.curation.split_write") {
        Curation.splitByHash(kept, "id").write.mode("overwrite")
          .partitionBy("split").parquet(out)
      }
    }

    def verify(plan: CorpusPlan, what: String): Boolean = {
      val got = spark.read.parquet(out).select("id", "split").collect()
      val ids = got.map(_.getLong(0))
      val want = plan.expectedKept
      keptCount = ids.length
      val okIds = r.check(ids.length == want.size && ids.toSet == want,
        s"$what: kept ${ids.length} docs (${ids.toSet.diff(want).size} unexpected, " +
          s"${want.diff(ids.toSet).size} missing), expected ${want.size}")
      val okSplit = r.check(got.forall(g => Set("train", "val", "test")(g.getString(1))),
        s"$what: a kept doc has no split")
      okIds && okSplit
    }

    // warm-up on a tenth-size corpus, part of set-up
    val warm = CorpusPlan.make(r.seed, 11L, Docs / 10, 0L)
    val warmIn = r.work.resolve("in-warm").toString
    writeCorpus(r, warm, 11L, warmIn)
    r.log("warm-up corpus written")
    pass(warmIn)
    r.log("warm-up pass done")
    t.release()
    r.operation(verify(warm, "corpus_dedup warm-up"))

    val plan = CorpusPlan.make(r.seed, 12L, Docs, 0L)
    val in = r.work.resolve("in").toString
    writeCorpus(r, plan, 12L, in)
    r.log("corpus written")
    val inBytes = Util.dirBytes(r.work.resolve("in"))
    r.sampleHeap()
    r.setupDone()

    var round = 0
    while (r.measuredS < r.opts.seconds || r.rounds.length < 3) {
      val ok = r.timedRound("corpus_dedup.round", round, plan.size.toLong, inBytes)(pass(in))
      r.operation(ok && verify(plan, s"corpus_dedup round $round"))
      r.sampleHeap()
      round += 1
      if (!ok) return
    }
    r.layer("ext.dedup.near_dedup.kept_ratio") = keptCount.toDouble / plan.passing
  }
}
