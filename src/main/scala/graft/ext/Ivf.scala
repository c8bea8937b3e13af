package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => V}

/** IVF (inverted-file) approximate nearest neighbor — the scale path beyond
  * sign-LSH bucketing: a k-means coarse quantizer assigns every vector to
  * one of `nLists` cells; a query scans only the `nProbe` nearest cells.
  *
  * 100 TB shape: [[build]] is one MLlib k-means fit (sampled, distributed)
  * plus one projection; persisting the assignment `partitionBy("list_id")`
  * makes [[search]] a partition-pruned scan of nProbe/nLists of the corpus
  * — the pruning happens at the parquet-directory level, before any IO.
  * Centroids are tiny (nLists × dim doubles) and live on the driver, so
  * probe selection is free.
  */
object Ivf {

  /** Layout stamp (see [[IndexFormat]]): `assigned/` stores RAW vectors
    * cell-partitioned next to tiny driver-side centroids. Stamped since the
    * append path landed — an append torn between the assignment write and
    * the stamp must read as invalid, same discipline as PQ/IVF-PQ/near-LSH.
    */
  val FormatId = "ivf-raw-v1"

  final case class Index(assigned: DataFrame, centroids: Array[Array[Double]])

  /** Cap the k-means fit input at `cap` rows (uniform sample, deterministic
    * seed). A coarse quantizer placed from ~10k points per cell is
    * indistinguishable from one fitted on the full corpus — and without the
    * cap each k-means iteration is a full pass over 100 TB.
    */
  private[ext] def fitSample(feats: DataFrame, cap: Long, seed: Long): DataFrame = {
    val total = feats.count()
    if (total <= cap) feats
    else feats.sample(withReplacement = false, cap.toDouble / total, seed)
  }

  /** Bernoulli sampling makes the cap an expectation, not a hard limit; a
    * user-supplied cap below k could hand KMeans fewer points than clusters.
    * Clamp to 20×nLists so the sample always dominates k (the over-sampling
    * also absorbs the variance of the fraction-based sample).
    */
  private[ext] def effectiveCap(fitSampleRows: Long, nLists: Int): Long = {
    val want = if (fitSampleRows > 0) fitSampleRows else nLists.toLong * 10000L
    math.max(want, nLists.toLong * 20L)
  }

  /** Fit the coarse quantizer and tag every row with its cell id. A coarse
    * quantizer doesn't need convergence — a few iterations place centroids
    * well enough for cell assignment (recall comes from nProbe, not
    * centroid polish). The fit runs on a `fitSampleRows`-capped uniform
    * sample (default nLists × 10k — one counting pass + one sampled fit
    * instead of `maxIter` full-corpus passes); the cell *assignment*
    * projection still covers every row.
    */
  def build(df: DataFrame, idCol: String, vecCol: String,
            nLists: Int, seed: Long = 42L, maxIter: Int = 5,
            fitSampleRows: Long = 0L): Index = {
    val feats = df.select(col(idCol), col(vecCol),
      array_to_vector(col(vecCol)).as("__features"))
    val cap = effectiveCap(fitSampleRows, nLists)
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__features").setPredictionCol("list_id")
      .fit(fitSample(feats, cap, seed))
    val assigned = model.transform(feats).drop("__features")
    Index(assigned, model.clusterCenters.map(_.toArray))
  }

  /** Persist the FULL index: the assignment partitioned by cell (the layout
    * that turns probe selection into parquet partition pruning) plus the
    * centroid table (nLists tiny rows), so a search job can [[readIndex]]
    * without refitting k-means. Layout: `path/assigned/list_id=*`,
    * `path/centroids`.
    */
  def writeIndex(index: Index, path: String): Unit = {
    val spark = index.assigned.sparkSession
    IndexFormat.commit(spark, path, FormatId) {
      index.assigned.write.mode(SaveMode.Overwrite)
        .partitionBy("list_id").parquet(s"$path/assigned")
      writeCentroidTable(spark, path, index.centroids)
    }
  }

  /** Write `path/centroids` (list_id, centroid) plus its FS-direct
    * [[TinyTable]] mirror of the same array: readers skip the 2-job
    * parquet read; the parquet stays canonical for the oracle. Shared
    * with [[IvfPq.writeIndex]].
    */
  private[ext] def writeCentroidTable(spark: SparkSession, path: String,
                                      centroids: Array[Array[Double]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list_id", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    TinyTable.writeCentroids(spark, s"$path/centroids", centroids)
  }

  /** Centroid table of a persisted index: the [[TinyTable]] sidecar when
    * present (zero Spark jobs), else the canonical parquet (2 jobs —
    * pre-sidecar indexes). Both orderings sort by list_id, so the array is
    * identical either way.
    */
  private[ext] def readCentroidTable(spark: SparkSession,
                                     path: String): Array[Array[Double]] =
    TinyTable.readCentroids(spark, s"$path/centroids").getOrElse {
      spark.read.parquet(s"$path/centroids")
        .select("list_id", "centroid").collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .sortBy(_._1).map(_._2)
    }

  /** Reload a [[writeIndex]]-persisted index. The assignment stays a lazy
    * partition-pruned scan; only the centroids (nLists × dim doubles)
    * collect to the driver, same as after [[build]].
    */
  def readIndex(spark: SparkSession, path: String): Index = {
    IndexFormat.check(spark, path, FormatId)
    val assigned = spark.read.parquet(s"$path/assigned")
    Index(assigned, readCentroidTable(spark, path))
  }

  /** Tag every row of `df` with the id of its nearest centroid (squared-L2,
    * the k-means metric) — the assignment half of [[build]] against FIXED
    * centroids. One broadcast of the nLists-row centroid table + a
    * batch-side `min_by` aggregation; the corpus is never touched. Ties
    * break to the lowest cell id, so assignment is deterministic and
    * matches [[searchMany]]'s probe ranking `(distance, list_id)`.
    */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[Array[Double]]): DataFrame = {
    // Per-row fold over a LITERAL centroid array (r20, guide §2.4 — remove
    // shuffles outright): the old shape crossJoined a broadcast centroid
    // table and re-aggregated by id, which re-SHUFFLED the whole corpus
    // (vectors included) just to pick each row's min cell. The argmin is a
    // pure per-row function of (vector, fixed centroids) — no exchange is
    // fundamentally required, so none is paid. Same math, same tie-break:
    // the fold takes a strictly smaller distance only, so on equal d the
    // LOWEST cell id (visited first) wins — exactly the old
    // min_by(__list, struct(__d, __list)) contract the DuckDB oracle
    // re-derives. A null/short vector yields null distances for every cell
    // (centroid literals are never null), so the `d.isNotNull` guard leaves
    // the accumulator at its null seed and list_id comes back null, like
    // min_by over all-null orderings. One row out per row in (the old
    // groupBy collapsed duplicate ids; every caller feeds unique ids — the
    // persisted-index ingest contract).
    val cents = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("l"), array(c.map(lit): _*).as("c"))
    }: _*)
    df.select(col(idCol), col(vecCol),
      aggregate(cents,
        struct(lit(null).cast("double").as("d"), lit(null).cast("int").as("l")),
        (acc, x) => {
          val d = aggregate(zip_with(col(vecCol), x.getField("c"),
            (v, c) => (v.cast("double") - c) * (v.cast("double") - c)),
            lit(0.0d), (s, v) => s + v)
          when(d.isNotNull && (acc.getField("d").isNull || d < acc.getField("d")),
            struct(d.as("d"), x.getField("l").as("l"))).otherwise(acc)
        },
        acc => acc.getField("l")).as("list_id"))
  }

  /** Append new vectors to a [[writeIndex]]-persisted index WITHOUT
    * refitting the quantizer: each vector is assigned to its nearest
    * EXISTING centroid and appended to that cell's partition — the daily
    * ANN-ingest mirror of [[Dedup.appendNearIndex]]. Centroids move only
    * when the data distribution does, which is a rebuild decision, not an
    * append one (same trade as FAISS's add-after-train).
    *
    * The assignment append sits in one [[IndexFormat.commit]], so a torn
    * append leaves an unstamped index every reader rejects, never a
    * silently partial cell.
    */
  def appendIndex(spark: SparkSession, path: String, newVecs: DataFrame,
                  idCol: String, vecCol: String): Unit =
    appendAssigned(spark, path, newVecs, None, idCol, vecCol)

  /** Append admitted vectors to BOTH a corpus parquet and the persisted
    * index under ONE commit marker — the same marker-covers-both shape as
    * [[Dedup.appendCorpusAndNearIndex]], and for the same reason: if the
    * corpus append landed while the index was still stamped, a crash
    * before the index append would leave a valid-looking index missing
    * the batch, and an id-anti-join ingest loop would re-admit nothing
    * (ids are in the corpus) while searches silently miss the batch
    * forever. With both inside the window, any crash in it fails every
    * reader loudly until repaired.
    */
  def appendCorpusAndIndex(docs: DataFrame, corpusPath: String,
                           idCol: String, vecCol: String,
                           dir: String): Unit =
    appendAssigned(docs.sparkSession, dir, docs, Some(corpusPath), idCol, vecCol)

  /** The one append body: check and assign against the stored centroids
    * before the window, then append `docs` to `corpus` (when given) and
    * the assignment to its cells inside one [[IndexFormat.commit]].
    */
  private def appendAssigned(spark: SparkSession, dir: String, docs: DataFrame,
                             corpus: Option[String], idCol: String,
                             vecCol: String): Unit = {
    IndexFormat.check(spark, dir, FormatId)
    val assigned = assignCells(docs, idCol, vecCol, readCentroidTable(spark, dir))
    IndexFormat.commit(spark, dir, FormatId) {
      corpus.foreach(docs.write.mode(SaveMode.Append).parquet(_))
      assigned.write.mode(SaveMode.Append)
        .partitionBy("list_id").parquet(s"$dir/assigned")
    }
  }

  /** Rewrite the appended `assigned/` layout into one evenly-rolled file
    * set per cell ([[IndexMaintenance.compactStamped]] — partition pruning
    * preserved, search results unchanged, swap inside the commit marker).
    * Run it when daily [[appendIndex]] batches have accreted enough small
    * files that cell scans go listing-bound.
    */
  def compactIndex(spark: SparkSession, path: String,
                   targetRowsPerFile: Long = 4000000L): Unit =
    IndexMaintenance.compactStamped(spark, path, FormatId,
      Seq("assigned" -> Seq("list_id")), targetRowsPerFile)

  /** Erase vectors from a persisted index by id
    * ([[IndexMaintenance.deleteStamped]] — filtered compaction, partition
    * pruning preserved, centroids untouched: they are k-means cell centers,
    * not stored documents). `idCol` names the id column the index was built
    * with.
    */
  def deleteFromIndex(spark: SparkSession, path: String, idCol: String,
                      ids: DataFrame, targetRowsPerFile: Long = 4000000L): Unit =
    IndexMaintenance.deleteStamped(spark, path, FormatId,
      Seq(("assigned", Seq("list_id"), idCol)), ids, targetRowsPerFile)

  /** The `nProbe` cell ids nearest to the query (driver-side math over the
    * tiny centroid table).
    */
  def probeCells(index: Index, queryVec: Seq[Double], nProbe: Int): Seq[Int] =
    probeCells(index.centroids, queryVec, nProbe)

  /** Same, from a bare centroid table (shared with [[IvfPq]]). */
  def probeCells(centroids: Array[Array[Double]], queryVec: Seq[Double],
                 nProbe: Int): Seq[Int] = {
    def dist(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { val d = c(i) - queryVec(i); s += d * d; i += 1 }
      s
    }
    centroids.zipWithIndex.sortBy { case (c, _) => dist(c) }
      .take(nProbe).map(_._2).toSeq
  }

  /** Top-k by cosine among the probed cells only. With a
    * [[writeIndex]]-persisted index, the `isin` filter prunes partitions so
    * only nProbe/nLists of the corpus is read.
    */
  def search(assigned: DataFrame, index: Index, idCol: String, vecCol: String,
             queryVec: Seq[Double], k: Int, nProbe: Int): DataFrame = {
    val cells = probeCells(index, queryVec, nProbe)
    val qv = array(queryVec.map(lit): _*)
    assigned.filter(col("list_id").isin(cells: _*))
      .withColumn("score", round(V.cosine(col(vecCol), qv), 4))
      .select(col(idCol), col("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Batch IVF search: for every row of `queries`, its top-k neighbors by
    * cosine among that query's `nProbe` nearest cells — corpus-vs-corpus
    * retrieval without one driver round-trip per query.
    *
    * Plan shape, sized for many queries over a 100 TB corpus:
    *  1. probe selection — queries × the broadcast nLists-row centroid
    *    table, ranked per query: Q·nLists tiny rows, never the corpus;
    *  2. candidate join on `list_id` — with a [[writeIndex]]-persisted
    *    assignment this stays aligned with the storage partitioning (and a
    *    small probe side broadcasts under AQE);
    *  3. two-stage top-k — rank within (query, cell) first, so no task ever
    *    holds more than one CELL's candidates for one query (~N/nLists
    *    rows); the final per-query rank then sees only nProbe·k survivors.
    *    A single per-query window would funnel all nProbe cells' candidates
    *    for a query into one task — the same hot-key funnel shape the df-cap
    *    rework removed from the dedup tier.
    *
    * Query rows whose id appears in the corpus never match themselves
    * (`corpus_id =!= query_id`, same convention as
    * [[Similarity.bucketJoinKnn]]).
    *
    * `assigned` is passed separately from `index` (same contract as
    * [[search]]) so the scan side can be the [[writeIndex]]-persisted,
    * partition-pruned re-read of `index.assigned` — it must be that same
    * assignment (or its re-read); centroids from a different fit would
    * probe the wrong cells.
    */
  def searchMany(assigned: DataFrame, index: Index, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    require(k > 0 && nProbe > 0)
    val spark = assigned.sparkSession
    import spark.implicits._
    val cents = index.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("__list", "__cent")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    // squared-L2 to each centroid (the k-means metric), nProbe best per query
    val dists = q.crossJoin(broadcast(cents))
      .withColumn("__d", aggregate(zip_with(col("__qv"), col("__cent"),
        (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
        lit(0.0d), (acc, v) => acc + v))
    val wProbe = Window.partitionBy("query_id").orderBy(col("__d"), col("__list"))
    val probes = dists.withColumn("__rk", row_number().over(wProbe))
      .filter(col("__rk") <= nProbe)
      .select(col("query_id"), col("__qv"), col("__list").as("list_id"))
    val scored = assigned.join(probes, Seq("list_id"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col("list_id"), col(idCol).as("corpus_id"),
        round(V.cosine(col(vecCol), col("__qv")), 4).as("score"))
    val wCell = Window.partitionBy("query_id", "list_id")
      .orderBy(desc("score"), col("corpus_id"))
    val wQuery = Window.partitionBy("query_id")
      .orderBy(desc("score"), col("corpus_id"))
    scored.withColumn("__rc", row_number().over(wCell)).filter(col("__rc") <= k)
      .withColumn("__rk", row_number().over(wQuery)).filter(col("__rk") <= k)
      .select("query_id", "corpus_id", "score")
  }
}
