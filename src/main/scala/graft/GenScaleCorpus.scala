package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Generates an N× scaled copy of a testdata dir's `documents` /
  * `embeddings` tables (plus `nation`, which [[Bench]]'s warmup reads) —
  * the input for the SCALING.md scaling-curve runs.
  *
  * Replica construction preserves the SOURCE corpus's duplicate structure
  * instead of multiplying it: every token of text replica r > 0 gets an
  * `·rN` suffix, so replicas share no shingles and near-dup pair counts
  * grow linearly with the multiplier. A naive union of identical copies
  * would put every document in a mult-deep duplicate cluster and the pair
  * space would grow quadratically — a different (and unfair) experiment
  * from "the same workload at N× the rows".
  *
  * Embedding replicas get a per-replica deterministic SIGN DIAGONAL
  * (dimension i of replica r is flipped iff xxhash64(i, r) is odd) — an
  * orthogonal transform, so cosines WITHIN a replica are exactly the
  * source corpus's (near-dup structure preserved bit-for-bit), while the
  * cosine BETWEEN vectors of different replicas is that of two vectors
  * under independent random sign patterns: it concentrates around 0 with
  * spread ~1/sqrt(dim) (≈0.125 at dim 64; even a 5-sigma excursion stays
  * below 0.7) — far under any near-dup threshold, so cross-replica pairs
  * contribute nothing and embedding pair counts also grow linearly. The
  * previous scale-and-shift perturbation did NOT have this property:
  * uniform scaling is cosine-invariant and a small additive shift moves
  * the angle by milliradians, leaving replicas at cosine ≈0.9996 of the
  * source — a quadratic cross-replica pair space in disguise.
  *
  * Id layout: replica ids step by the smallest multiple of 1000 above the
  * source's real max id (measured, not assumed), and the run fails fast if
  * the top replica id would reach the +1000000 planted-copy id space the
  * registered queries use. At sf0.1 (max doc_id 4999) the step is 5000,
  * so multipliers up to 100× fit.
  *
  * Usage: runMain graft.GenScaleCorpus <srcSfDir> <outDir> <multiplier>
  */
object GenScaleCorpus {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, multS) = args
    val mult = multS.toInt
    require(mult >= 1, "multiplier must be >= 1")
    val spark = LocalSession()

    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    // measure the REAL id space — an assumed bound that the source corpus
    // exceeds would make replicas silently collide into duplicate ids and
    // corrupt every downstream scaling measurement
    def maxId(df: org.apache.spark.sql.DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head.getLong(0)
    val maxSrcId = math.max(maxId(docs, "doc_id"), maxId(emb, "vec_id"))
    val step = (maxSrcId / 1000 + 1) * 1000
    require((mult - 1) * step + maxSrcId < 1000000L,
      s"mult=$mult with step=$step (maxSrcId=$maxSrcId) would reach the " +
        "registered queries' +1000000 planted-copy id space")

    (0 until mult).map { r =>
      docs.select(
        (col("doc_id") + lit(r * step)).as("doc_id"),
        (if (r == 0) col("text")
         else regexp_replace(col("text"), "(\\S+)", "$1" + s"·r$r"))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")

    (0 until mult).map { r =>
      emb.select(
        (col("vec_id") + lit(r * step)).as("vec_id"),
        (if (r == 0) col("embedding")
         else transform(col("embedding"), (x, i) =>
           when(pmod(xxhash64(i, lit(r)), lit(2)) === 0, x).otherwise(-x)
             .cast("float")))
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")

    spark.read.parquet(s"$srcDir/nation.parquet")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/nation.parquet")
    println(s"wrote ${mult}x corpus to $outDir (step=$step, maxSrcId=$maxSrcId)")
    spark.stop()
  }
}
