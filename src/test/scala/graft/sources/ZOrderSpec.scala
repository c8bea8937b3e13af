package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zvalue interleaves bucket bits (known 2-bit grid)") {
    // x,y ∈ {0..3} with bounds (0,3), bits=2 → rank == value; morton(x,y)
    // with x at even positions: z = interleave bits
    val df = (for { x <- 0 to 3; y <- 0 to 3 } yield (x, y)).toDF("x", "y")
    val z = df.withColumn("z",
        ZOrder.zvalueWith(Seq("x", "y"), Seq((0.0, 3.0), (0.0, 3.0)), bits = 2))
      .select("x", "y", "z").as[(Int, Int, Long)].collect()
      .map { case (x, y, v) => (x, y) -> v }.toMap
    def morton(x: Int, y: Int): Long =
      (0 until 2).map(b => (((x >> b) & 1) << (2 * b)) | (((y >> b) & 1) << (2 * b + 1)))
        .foldLeft(0L)(_ | _)
    for (x <- 0 to 3; y <- 0 to 3) assert(z((x, y)) == morton(x, y), s"($x,$y)")
    // locality sanity: origin is 0, far corner is max
    assert(z((0, 0)) == 0L && z((3, 3)) == 15L)
  }

  test("constant columns and out-of-range degenerate cases are safe") {
    val df = Seq((1.0, 5.0), (2.0, 5.0)).toDF("a", "b")
    val z = df.select(ZOrder.zvalueWith(Seq("a", "b"),
      Seq((1.0, 2.0), (5.0, 5.0)), bits = 4).as("z")).as[Long].collect()
    assert(z.length == 2)   // lo==hi column contributes rank 0, no crash
  }

  test("an all-NULL column degrades to a constant dimension, no crash") {
    val df = Seq((1.0, None: Option[Double]), (2.0, None))
      .toDF("a", "b")
    val out = ZOrder.cluster(df, Seq("a", "b"), numPartitions = 2)
    assert(out.count() == 2)
  }

  test("clustering narrows per-file ranges on BOTH dimensions") {
    val n = 64
    val df = (for { x <- 0 until n; y <- 0 until n } yield (x, y))
      .toDF("x", "y").repartition(13)          // scrambled input layout
    val dir = tempDir("graft_z_")
    ZOrder.writeClustered(df, s"$dir/z", Seq("x", "y"), numPartitions = 16, bits = 6)
    val spreads = spark.read.parquet(s"$dir/z")
      .groupBy(input_file_name().as("f"))
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"),
        count(lit(1)).as("cnt"))
      .as[(String, Int, Int, Long)].collect()
    assert(spreads.map(_._4).sum == n.toLong * n)
    // a z-ordered 16-way split of a 64×64 grid puts each file in a compact
    // box; a single-column sort would give one dim spread ~0 and the other
    // ~63. Require BOTH dims clearly narrowed vs the full range.
    val avgSx = spreads.map(_._2).sum.toDouble / spreads.length
    val avgSy = spreads.map(_._3).sum.toDouble / spreads.length
    assert(avgSx < 32, s"avg x-spread $avgSx")
    assert(avgSy < 32, s"avg y-spread $avgSy")
  }
}
