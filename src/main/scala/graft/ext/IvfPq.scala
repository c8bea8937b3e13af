package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF-PQ — the composed FAISS index architecture (Jégou et al., TPAMI
  * 2011 §IV: "IVFADC"), first-class instead of hand-assembled from [[Ivf]]
  * and [[Pq]]: the coarse quantizer decides WHICH cells a query scans
  * (parquet partition pruning on the persisted layout), product
  * quantization decides how CHEAP scanning each survivor is (m one-byte
  * codes, ADC table lookups, no float math per row).
  *
  * RESIDUAL ENCODING (the "ADC" in IVFADC): codes quantize the residual
  * `y − centroid(cell)`, not the raw vector — residuals concentrate near
  * the origin with far less variance than the raw distribution, which is
  * what makes m one-byte codes accurate at large nLists (Jégou §IV.A;
  * FAISS `IndexIVFPQ` does the same). Search mirrors it: the per-subspace
  * ADC table for a query is built from `query − centroid(cell)` PER PROBED
  * CELL, so `d(q,y) ≈ Σ_j table_cell(j, code_j)`.
  *
  * The 100 TB economics multiply: nProbe/nLists of the corpus is read at
  * all, and what is read costs m bytes per vector instead of 4·dim — at
  * dim=64, m=8, nLists=1024, nProbe=8 a query touches 1/128 of the corpus
  * at 1/32 of its bytes ≈ 4000× less IO than a brute-force float scan.
  *
  * Spark shape:
  *  - [[build]] fits BOTH quantizers on capped samples (one distributed
  *    k-means for the cells, m driver-local Lloyd's fits for the RESIDUAL
  *    codebooks). Residuals are a broadcast join against the tiny
  *    nLists-row centroid table + one `zip_with` — no shuffle — and the
  *    corpus is encoded ONCE, carrying `list_id` through the encode so no
  *    corpus-wide join-back is needed;
  *  - [[writeIndex]] persists codes `partitionBy("list_id")` + the two
  *    tiny driver tables (centroids, codebooks);
  *  - [[search]]/[[searchMany]] read only probed cells. `searchMany`
  *    scores each code row against ONLY the queries that probed its cell
  *    (driver-built cell→queries map, k-capped heap per query — the same
  *    never-materialize-Q×N kernel as [[Pq.adcTopKMany]]).
  */
object IvfPq {

  /** `codes` carries (id, list_id, code) where code encodes the residual
    * against cell `list_id`; centroids/codebooks are the two driver-held
    * tiny tables (nLists×dim and m×codes×subDim doubles).
    */
  final case class Index(codes: DataFrame, centroids: Array[Array[Double]],
                         cb: Pq.Codebooks)

  /** `vec − centroid`, the IVFADC residual. */
  private def residual(v: Array[Double], c: Array[Double]): Array[Double] = {
    val r = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { r(i) = v(i) - c(i); i += 1 }
    r
  }

  /** Per-subspace squared-distance table of a (residual) query to every
    * codeword — the m×codes ADC lookup table.
    */
  private def adcTable(cb: Pq.Codebooks, rq: Array[Double]): Array[Array[Double]] =
    cb.books.zipWithIndex.map { case (book, j) =>
      book.map(c => Pq.squaredDist(rq, j * cb.subDim, c))
    }

  /** Attach `__residual = vecCol − centroid(list_id)` to an assigned frame:
    * broadcast join on the nLists-row centroid table + element-wise
    * `zip_with` — shuffle-free, codegen'd.
    */
  private def withResidual(assigned: DataFrame, vecCol: String,
                           centroids: Array[Array[Double]]): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val centDf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list_id", "__cent")
    assigned.join(broadcast(centDf), "list_id")
      .withColumn("__residual",
        zip_with(col(vecCol).cast(ArrayType(DoubleType)), col("__cent"),
          (x, c) => x - c))
  }

  /** Fit coarse quantizer + residual codebooks, encode every row once.
    * Both fits run on capped samples (see [[Ivf.build]] / [[Pq.train]] for
    * why a quantizer needs placement, not convergence).
    */
  def build(df: DataFrame, idCol: String, vecCol: String, dim: Int, m: Int,
            nLists: Int, codes: Int = 256, seed: Long = 42L,
            maxIter: Int = 5): Index = {
    val ivf = Ivf.build(df, idCol, vecCol, nLists, seed, maxIter)
    // Materialize the assigned+residual frame ONCE (r20, guide §1.2 —
    // don't compute things twice): it feeds THREE downstream actions
    // (Pq.train's sample count + sample collect, then the caller's codes
    // write), and each lazy reference re-ran the k-means transform and the
    // centroid join over the whole corpus — 3 full passes for 1 pass of
    // information. The eager localCheckpoint trades executor storage for
    // those recomputes (spills to disk past memory), the same trade the
    // dedup tier's shingle checkpoint made in r19; projected down to the
    // three columns the downstream stages read, so vectors aren't stored
    // twice. Checkpointing preserves partitioning and per-partition row
    // order, so Pq.train's seeded Bernoulli sample draws the identical
    // rows it drew off the lazy plan.
    val withRes = withResidual(ivf.assigned, vecCol, ivf.centroids)
      .select(col(idCol), col("list_id"), col("__residual"))
      .localCheckpoint(true)
    val cb = Pq.train(withRes, "__residual", dim, m, codes, seed, maxIter)
    val encoded = Pq.encode(withRes, idCol, "__residual", cb,
      keep = Seq("list_id"))
    Index(encoded, ivf.centroids, cb)
  }

  /** On-disk format id: codes are RESIDUAL-encoded (`y − centroid(cell)`).
    * Bump when the persisted meaning of `code` changes again.
    */
  val FormatId = "ivfpq-residual-v1"

  /** Layout: `path/codes/list_id=*` (the partition-pruned scan target),
    * `path/centroids`, `path/codebooks`, `path/_meta` (format stamp —
    * see [[IndexFormat]]: a raw-code index read as residual silently
    * mis-ranks, so the stamp is load-bearing, not bookkeeping).
    */
  def writeIndex(index: Index, path: String): Unit = {
    val spark = index.codes.sparkSession
    IndexFormat.commit(spark, path, FormatId) {
      index.codes.write.mode(SaveMode.Overwrite)
        .partitionBy("list_id").parquet(s"$path/codes")
      Ivf.writeCentroidTable(spark, path, index.centroids)
      Pq.writeCodebookTable(spark, path, index.cb.books)
    }
  }

  /** Reload: codes stay a lazy partition-pruned scan; only the two tiny
    * tables collect to the driver. Fails fast unless `path/_meta` carries
    * [[FormatId]] — an unstamped (pre-versioning) or [[Pq]]-format
    * directory would otherwise score raw codes against residual ADC
    * tables and return wrong rankings with no error.
    */
  def readIndex(spark: SparkSession, path: String): Index = {
    IndexFormat.check(spark, path, FormatId)
    val codes = spark.read.parquet(s"$path/codes")
    // sidecar fast paths (TinyTable — zero Spark jobs), parquet fallback
    // for pre-sidecar indexes; both sort identically
    Index(codes, Ivf.readCentroidTable(spark, path),
      Pq.Codebooks(Pq.readCodebookTable(spark, path)))
  }

  /** Append new vectors to a [[writeIndex]]-persisted index without
    * refitting EITHER quantizer: each vector is assigned to its nearest
    * existing centroid ([[Ivf.assignCells]]), residual-encoded with the
    * existing codebooks, and appended to that cell's codes partition — the
    * daily-ingest shape for the composed index, mirroring
    * [[Ivf.appendIndex]] and [[Dedup.appendNearIndex]]. A verbatim copy of
    * an indexed vector lands in the same cell with the identical code, so
    * append-then-search ranks it exactly like its original (the
    * `ann_ivfpq_append_recall` gate). Quantizer drift under a shifting
    * data distribution is a REBUILD decision (same trade as FAISS
    * add-after-train), not an append one.
    *
    * The codes append sits in one [[IndexFormat.commit]]; a torn append
    * leaves an unstamped index every reader rejects. Assignment + encode
    * are planned (and eagerly analyzed) BEFORE the window, so a malformed
    * batch fails with the index still stamped and readable.
    */
  /** Rewrite the appended `codes/` layout into one evenly-rolled file set
    * per cell (partition pruning preserved, search results unchanged; see
    * [[IndexMaintenance.compactStamped]]).
    */
  def compactIndex(spark: SparkSession, path: String,
                   targetRowsPerFile: Long = 4000000L): Unit =
    IndexMaintenance.compactStamped(spark, path, FormatId,
      Seq("codes" -> Seq("list_id")), targetRowsPerFile)

  /** Erase vectors from the residual-code table by id
    * ([[IndexMaintenance.deleteStamped]] — filtered compaction, cell
    * partitioning preserved; centroids and codebooks untouched).
    */
  def deleteFromIndex(spark: SparkSession, path: String, idCol: String,
                      ids: DataFrame, targetRowsPerFile: Long = 4000000L): Unit =
    IndexMaintenance.deleteStamped(spark, path, FormatId,
      Seq(("codes", Seq("list_id"), idCol)), ids, targetRowsPerFile)

  def appendIndex(spark: SparkSession, path: String, newVecs: DataFrame,
                  idCol: String, vecCol: String): Unit = {
    val idx = readIndex(spark, path)
    val assigned = Ivf.assignCells(newVecs, idCol, vecCol, idx.centroids)
    val withRes = withResidual(assigned, vecCol, idx.centroids)
    val encoded = Pq.encode(withRes, idCol, "__residual", idx.cb,
      keep = Seq("list_id"))
    IndexFormat.commit(spark, path, FormatId) {
      encoded.write.mode(SaveMode.Append)
        .partitionBy("list_id").parquet(s"$path/codes")
    }
  }

  /** Single-query IVF-PQ: probe the `nProbe` nearest cells (driver math
    * over the centroid table → `isin` filter → partition pruning on a
    * persisted index) and ADC-scan only those codes. The ADC table is
    * built per probed cell from the RESIDUAL query `q − centroid(cell)`
    * (nProbe tiny m×codes tables, driver-computed and broadcast), matching
    * the residual the codes encode. Returns (idCol, adist) ascending, ties
    * on id — deterministic.
    */
  def search(index: Index, idCol: String, queryVec: Seq[Double], k: Int,
             nProbe: Int): DataFrame = {
    require(k > 0 && nProbe > 0)
    require(queryVec.length == index.cb.dim,
      s"query dim ${queryVec.length} != codebook dim ${index.cb.dim}")
    val cells = Ivf.probeCells(index.centroids, queryVec, nProbe)
    val q = queryVec.toArray
    val tables: Map[Int, Array[Array[Double]]] = cells.map { cell =>
      cell -> adcTable(index.cb, residual(q, index.centroids(cell)))
    }.toMap
    val spark = index.codes.sparkSession
    val bcastT = spark.sparkContext.broadcast(tables)
    val in = index.codes.filter(col("list_id").isin(cells: _*))
      .select(col(idCol), col("list_id").cast("int"), col("code"))
    val outSchema = StructType(Seq(
      in.schema.head.copy(name = idCol), StructField("adist", DoubleType)))
    val scored = spark.createDataFrame(
      in.rdd.mapPartitions { rows =>
        val ts = bcastT.value
        rows.map { r =>
          val t = ts(r.getInt(1)); val code = r.getSeq[Byte](2)
          var s = 0.0; var j = 0
          while (j < t.length) { s += t(j)(code(j) & 0xff); j += 1 }
          Row(r.get(0), s)
        }
      }, outSchema)
    scored.orderBy(col("adist"), col(idCol)).limit(k)
  }

  /** Batch IVF-PQ: top-k for EVERY query row in one pass over the probed
    * cells' codes. Queries collect + broadcast (same bounded-batch
    * contract as [[Pq.adcTopKMany]]); the scan filter is the UNION of all
    * probe cells (partition pruning still applies), and each code row is
    * scored against only the queries that probed ITS cell via a
    * driver-built cell→queries map — per-row cost is m lookups ×
    * (queries probing that cell) ≈ m·Q·nProbe/nLists, never m·Q. ADC
    * tables are residual-correct: one m×codes table per (query, probed
    * cell) pair, expanded once per executor (Q·nProbe·m·codes doubles —
    * size the query batch so that fits; at m=8, codes=256, nProbe=8 a
    * 1k-query batch is ~128 MB). A k-capped heap per query per partition
    * emits ≤ Q·k candidate rows, then one per-query rank over Q·k·P
    * survivors. Deterministic: ties break on (adist, id), equal to
    * per-query [[search]].
    */
  def searchMany(index: Index, queries: DataFrame, queryIdCol: String,
                 queryVecCol: String, k: Int, nProbe: Int): DataFrame = {
    require(k > 0 && nProbe > 0)
    val qs = queries.select(col(queryIdCol).cast("long"),
        col(queryVecCol).cast(ArrayType(DoubleType))).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(qs.map(_._1).distinct.length == qs.length,
      "duplicate query ids — per-query top-k would merge their candidates")
    qs.foreach { case (qid, q) => require(q.length == index.cb.dim,
      s"query $qid dim ${q.length} != codebook dim ${index.cb.dim}") }
    val probes: Array[Seq[Int]] =
      qs.map { case (_, q) => Ivf.probeCells(index.centroids, q, nProbe) }
    val cellToQ: Map[Int, Array[Int]] = probes.zipWithIndex
      .flatMap { case (cells, qi) => cells.map(_ -> qi) }
      .groupBy(_._1).map { case (cell, xs) => cell -> xs.map(_._2) }
    val allCells = cellToQ.keys.toSeq

    val spark = index.codes.sparkSession
    val bcastQ = spark.sparkContext.broadcast(qs)
    val bcastCb = spark.sparkContext.broadcast(index.cb)
    val bcastCellQ = spark.sparkContext.broadcast(cellToQ)
    val bcastCents = spark.sparkContext.broadcast(index.centroids)
    val cacheKey = java.util.UUID.randomUUID().toString
    // the corpus id column is whatever the codes schema carries besides
    // (list_id, code) — build/readIndex preserve it by name
    val idCol = index.codes.columns
      .find(c => c != "list_id" && c != "code")
      .getOrElse(throw new IllegalArgumentException(
        s"cannot find id column in codes schema ${index.codes.columns.mkString(",")}"))
    val scanned = index.codes.filter(col("list_id").isin(allCells: _*))
      .select(col(idCol).cast("long"), col("list_id").cast("int"), col("code"))
    val outSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("corpus_id", LongType, nullable = false),
      StructField("adist", DoubleType, nullable = false)))
    val byWorst = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    val nQ = qs.length
    val candidates = spark.createDataFrame(
      scanned.rdd.mapPartitions { rows =>
        if (!rows.hasNext) Iterator.empty
        else {
          // per (probed cell, query) residual ADC tables, memoized per
          // executor JVM (see TableCache): cell -> [(qi, m×codes table)]
          val ts = Pq.TableCache.get(cacheKey, {
            val book = bcastCb.value
            val cents = bcastCents.value
            val qarr = bcastQ.value
            bcastCellQ.value.map { case (cell, qis) =>
              cell -> qis.map { qi =>
                qi -> adcTable(book, residual(qarr(qi)._2, cents(cell)))
              }
            }
          })
          val qids = bcastQ.value
          val heaps = Array.fill(nQ)(
            scala.collection.mutable.PriorityQueue.empty[(Double, Long)](byWorst))
          rows.foreach { r =>
            val id = r.getLong(0); val cell = r.getInt(1)
            val code = r.getSeq[Byte](2)
            val entries = ts.getOrElse(cell, Array.empty[(Int, Array[Array[Double]])])
            var x = 0
            while (x < entries.length) {
              val (qi, t) = entries(x)
              var s = 0.0; var j = 0
              while (j < t.length) { s += t(j)(code(j) & 0xff); j += 1 }
              val h = heaps(qi)
              if (h.size < k) h.enqueue((s, id))
              else if (byWorst.lt((s, id), h.head)) { h.dequeue(); h.enqueue((s, id)) }
              x += 1
            }
          }
          heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
            h.iterator.map { case (s, id) => Row(qids(qi)._1, id, s) }
          }
        }
      }, outSchema)
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("corpus_id"))
    candidates.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k)
      .drop("__rk")
  }
}
