package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011 — the FAISS-style ANN memory path): split a
  * `dim`-float vector into `m` subvectors, learn a 256-centroid k-means
  * codebook per subspace, and store each vector as `m` one-byte codes.
  *
  * The 100 TB economics: a 64-float embedding is 256 bytes; its PQ code at
  * m=8 is 8 bytes — a 32× scan-byte cut, far past int8's 4×. Search uses
  * asymmetric distance computation (ADC): the query stays full-precision,
  * per-subspace distances to all 256 centroids are precomputed ONCE into an
  * m×256 table (driver-side, tiny), and scoring a corpus vector is m table
  * lookups — no float math per row at all.
  *
  * Spark shape:
  *  - [[train]] is `m` sampled k-means fits (the same capped-sample rule as
  *    [[Ivf.build]] — a codebook needs placement, not convergence);
  *  - [[encode]] / [[adcTopK]] run per-partition over primitive arrays
  *    (broadcast codebooks; an argmin over 256 centroids per subspace is a
  *    genuinely imperative kernel — a declarative 256-way `aggregate` would
  *    run interpreted via CodegenFallback, orders slower);
  *  - codes persist via [[writeCodes]] like the int8 table
  *    ([[Similarity.writeCodes]]): written once, scanned by every query.
  *
  * PQ is oracled end to end: `ann_pq` persists its codebooks, and the
  * DuckDB oracle `read_parquet()`s them to re-derive the encoding and the
  * ADC search in SQL. The planted-duplicate gates (`ann_pq_recall`,
  * `ann_pq_persisted_recall`) and unit specs come on top.
  */
object Pq {

  /** On-disk format id: codes quantize the RAW vector (no residual).
    * Distinct from [[IvfPq.FormatId]] so the two index layouts — otherwise
    * byte-compatible — can never be cross-loaded.
    */
  val FormatId = "pq-raw-v1"

  /** Executor-side memo for [[adcTopKMany]]'s expanded distance tables,
    * keyed by a per-call NONCE minted on the driver — not the broadcast id:
    * broadcast ids restart from 0 per SparkContext, so a JVM that hosts a
    * second context (local-mode restart, long-lived test JVM) could take a
    * stale hit on a bare id and score against a previous call's tables.
    * A corpus of many small partitions still expands the tables once per
    * JVM, not per partition. Values are SoftReferences so the GC can
    * reclaim an idle call's Q×m×codes doubles under pressure; the size cap
    * bounds the map itself.
    */
  private[ext] object TableCache {
    private final case class Entry(seq: Long,
                                   ref: java.lang.ref.SoftReference[AnyRef])
    private val tick = new java.util.concurrent.atomic.AtomicLong()
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, Entry]()
    private val MaxEntries = 8
    /** Atomic get-or-compute: `computeIfAbsent` guarantees concurrent tasks
      * asking for the same key materialize the tables ONCE (no transient
      * Q×m×codes duplicates); a GC-cleared SoftReference is replaced via
      * `remove(key, ref)` + retry so only the cleared entry churns.
      * Eviction over the cap drops GC-cleared entries first, then LRU —
      * `seq` is refreshed on every hit, so a long-running scan's key stays
      * recent for as long as its partitions keep reading it (insertion-order
      * FIFO would make exactly that in-flight key the "oldest" victim once
      * concurrent searchMany calls exceed the cap — a milder recompute
      * storm). The requested key is additionally never the victim. Memory
      * pressure beyond the cap is the SoftReferences' job.
      */
    def get[T <: AnyRef](key: String, compute: => T): T = {
      if (cache.size > MaxEntries) {
        val it = cache.entrySet.iterator
        while (it.hasNext) if (it.next().getValue.ref.get() == null) it.remove()
        var evicting = cache.size > MaxEntries
        while (evicting) {
          var victim: String = null
          var victimSeq = Long.MaxValue
          val scan = cache.entrySet.iterator
          while (scan.hasNext) {
            val e = scan.next()
            if (e.getKey != key && e.getValue.seq < victimSeq) {
              victimSeq = e.getValue.seq; victim = e.getKey
            }
          }
          if (victim == null) evicting = false
          else { cache.remove(victim); evicting = cache.size > MaxEntries }
        }
      }
      var out: AnyRef = null
      while (out == null) {
        val e = cache.computeIfAbsent(key, _ =>
          Entry(tick.incrementAndGet(),
            new java.lang.ref.SoftReference[AnyRef](compute)))
        out = e.ref.get()
        if (out == null) cache.remove(key, e)
        // LRU touch (best-effort: a lost race means another task just
        // refreshed the same key, which serves the same purpose)
        else cache.replace(key, e, e.copy(seq = tick.incrementAndGet()))
      }
      out.asInstanceOf[T]
    }
  }

  /** Per-subspace codebooks: `books(j)(c)` is centroid `c` (0..255) of
    * subspace `j`, each of length dim/m. Driver-held and broadcast — at
    * m=8, dim=64 this is 8×256×8 doubles ≈ 128 KiB.
    */
  final case class Codebooks(books: Array[Array[Array[Double]]]) {
    def m: Int = books.length
    def subDim: Int = books(0)(0).length
    def dim: Int = m * subDim
  }

  /** Learn the codebooks on a capped uniform sample: one distributed
    * counting/sampling pass, then `m` LOCAL Lloyd's fits over the collected
    * sample. Codebook training is a driver-scale problem by construction —
    * the fit input is capped (100k rows × dim doubles ≈ 50 MB at dim=64)
    * because a codebook needs placement, not convergence, so `m`
    * distributed k-means fits would pay m× scheduler overhead to move no
    * data. (FAISS trains PQ codebooks in-memory for the same reason.)
    * Deterministic: seeded sample, seeded init, tie-free argmin.
    */
  def train(df: DataFrame, vecCol: String, dim: Int, m: Int,
            codes: Int = 256, seed: Long = 42L, maxIter: Int = 5,
            fitSampleRows: Long = 100000L): Codebooks = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    require(codes >= 2 && codes <= 256, "codes must fit one byte (2..256)")
    val subDim = dim / m
    val sample: Array[Array[Double]] = Ivf.fitSample(
      df.select(col(vecCol).cast(ArrayType(DoubleType)).as("__v")),
      math.max(fitSampleRows, codes * 20L), seed)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "cannot train PQ codebooks on an empty input")
    val books = Array.tabulate(m) { j =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      lloyd(pts, codes, maxIter, new scala.util.Random(seed + j))
    }
    Codebooks(books)
  }

  /** Plain Lloyd's iterations with seeded distinct-point init; empty
    * clusters keep their previous centroid (harmless — an unused codeword).
    */
  private def lloyd(pts: Array[Array[Double]], k: Int, maxIter: Int,
                    rnd: scala.util.Random): Array[Array[Double]] = {
    val kk = math.min(k, pts.length)
    val init = rnd.shuffle(pts.indices.toVector).take(kk)
    var centroids = Array.tabulate(k)(c => pts(init(c % kk)).clone())
    var iter = 0
    while (iter < maxIter) {
      val sums = Array.fill(k)(new Array[Double](pts(0).length))
      val counts = new Array[Long](k)
      var i = 0
      while (i < pts.length) {
        val p = pts(i); var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          val d = squaredDist(p, 0, centroids(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best); var x = 0
        while (x < p.length) { s(x) += p(x); x += 1 }
        counts(best) += 1
        i += 1
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
      iter += 1
    }
    centroids
  }

  private[ext] def squaredDist(v: Array[Double], off: Int, c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { val d = v(off + i) - c(i); s += d * d; i += 1 }
    s
  }

  /** Encode every vector to its `m` nearest-centroid byte codes. Output:
    * (idCol as-is, `keep` columns as-is, `code` array<tinyint> of length
    * m). Deterministic: ties take the smallest centroid index. `keep`
    * carries metadata columns (e.g. an IVF `list_id`) through the encode
    * without a corpus-wide join-back afterwards.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             cb: Codebooks, keep: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val bcast = spark.sparkContext.broadcast(cb)
    val in = df.select(col(idCol) +: keep.map(col) :+
      col(vecCol).cast(ArrayType(DoubleType)): _*)
    val vecIdx = 1 + keep.size
    val outSchema = StructType(
      in.schema.head.copy(name = idCol) +: keep.map(in.schema(_)) :+
        StructField("code", ArrayType(ByteType, containsNull = false)))
    val rdd = in.rdd.mapPartitions { rows =>
      val books = bcast.value.books
      val subDim = bcast.value.subDim
      rows.map { r =>
        val v = r.getSeq[Double](vecIdx).toArray
        val code = new Array[Byte](books.length)
        var j = 0
        while (j < books.length) {
          val book = books(j); var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < book.length) {
            val d = squaredDist(v, j * subDim, book(c))
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          code(j) = best.toByte
          j += 1
        }
        Row((0 until vecIdx).map(r.get) :+ code.toSeq: _*)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Persist the code table — m bytes per vector, the table every query
    * scans (write once; the float corpus is only read again to rescore).
    */
  def writeCodes(codes: DataFrame, path: String): Unit =
    codes.write.mode(SaveMode.Overwrite).parquet(path)

  /** Persist the FULL index — code table + codebooks — so a 100 TB corpus
    * is encoded exactly once and every search job starts from the m-byte
    * scan ([[readIndex]]); without the codebooks on disk, each job would
    * retrain k-means and re-encode the corpus. Layout: `path/codes`,
    * `path/codebooks` (m×codes tiny rows of (subspace, code, centroid) —
    * same shape as [[Ivf.writeIndex]]'s centroid table), `path/_meta`
    * (format stamp — keeps a raw-code [[Pq]] index and a residual-code
    * [[IvfPq]] index from ever being cross-loaded; see [[IndexFormat]]).
    */
  def writeIndex(codes: DataFrame, cb: Codebooks, path: String): Unit = {
    val spark = codes.sparkSession
    IndexFormat.commit(spark, path, FormatId) {
      writeCodes(codes, s"$path/codes")
      writeCodebookTable(spark, path, cb.books)
    }
  }

  /** Write `path/codebooks` (subspace, code, centroid) plus its FS-direct
    * [[TinyTable]] mirror: [[readCodebookTable]] skips the 2-job parquet
    * read; the parquet stays canonical for the DuckDB oracle. Shared with
    * [[IvfPq.writeIndex]].
    */
  private[ext] def writeCodebookTable(spark: org.apache.spark.sql.SparkSession,
                                      path: String,
                                      books: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (c, ci) => (j, ci, c.toSeq) }
    }.toSeq.toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/codebooks")
    TinyTable.writeCodebooks(spark, s"$path/codebooks", books)
  }

  /** The codebooks under `path`: the [[TinyTable]] sidecar (zero Spark
    * jobs), else the canonical parquet for pre-sidecar indexes.
    */
  private[ext] def readCodebookTable(spark: org.apache.spark.sql.SparkSession,
                                     path: String): Array[Array[Array[Double]]] =
    TinyTable.readCodebooks(spark, s"$path/codebooks").getOrElse {
      val rows = spark.read.parquet(s"$path/codebooks")
        .select("subspace", "code", "centroid").collect()
      require(rows.nonEmpty, s"no codebooks at $path/codebooks")
      val m = rows.map(_.getInt(0)).max + 1
      val nCodes = rows.map(_.getInt(1)).max + 1
      val bs = Array.ofDim[Array[Double]](m, nCodes)
      rows.foreach { r =>
        bs(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
      }
      require(bs.forall(_.forall(_ != null)),
        s"codebooks at $path are not a dense $m x $nCodes table")
      bs
    }

  /** Append new vectors to a [[writeIndex]]-persisted index: encode with
    * the EXISTING codebooks (no retrain — the trade every add-after-train
    * index makes; re-fit is a rebuild decision) and append to the code
    * table under one [[IndexFormat.commit]]. Encoding is planned
    * (eagerly analyzed) before the window, so a malformed batch
    * fails with the index still readable; a torn append leaves it
    * unstamped and rejected by every reader. A verbatim copy of an
    * indexed vector encodes to the identical code, so append-then-search
    * ranks it exactly like its original.
    */
  def appendIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  newVecs: DataFrame, idCol: String, vecCol: String): Unit = {
    val (_, cb) = readIndex(spark, path)
    val encoded = encode(newVecs, idCol, vecCol, cb)
    IndexFormat.commit(spark, path, FormatId) {
      encoded.write.mode(SaveMode.Append).parquet(s"$path/codes")
    }
  }

  /** Rewrite the appended code table into evenly-rolled files (search
    * results unchanged; see [[IndexMaintenance.compactStamped]]).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                   targetRowsPerFile: Long = 4000000L): Unit =
    IndexMaintenance.compactStamped(spark, path, FormatId,
      Seq("codes" -> Nil), targetRowsPerFile)

  /** Erase vectors from the code table by id ([[IndexMaintenance.deleteStamped]]
    * — filtered compaction; codebooks untouched, they are trained
    * sub-quantizer centers, not stored vectors). `idCol` names the id
    * column the index was built with.
    */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      idCol: String, ids: DataFrame,
                      targetRowsPerFile: Long = 4000000L): Unit =
    IndexMaintenance.deleteStamped(spark, path, FormatId,
      Seq(("codes", Nil, idCol)), ids, targetRowsPerFile)

  /** Reload a [[writeIndex]]-persisted index: the code table stays a lazy
    * scan; only the codebooks (m × codes × subDim doubles, ~128 KiB at the
    * defaults) collect to the driver, same as after [[train]].
    */
  def readIndex(spark: org.apache.spark.sql.SparkSession,
                path: String): (DataFrame, Codebooks) = {
    IndexFormat.check(spark, path, FormatId)
    (spark.read.parquet(s"$path/codes"), Codebooks(readCodebookTable(spark, path)))
  }

  /** ADC top-k: nearest `k` corpus codes to the FULL-PRECISION `queryVec`
    * by approximate squared L2. The per-subspace distance table (m×256
    * doubles) is computed once on the driver and broadcast; each corpus row
    * costs m array lookups. Returns (idCol, `adist` double) ascending —
    * smaller is nearer. Ties break on id, so the ranking is deterministic
    * and a planted exact duplicate (whose code equals the query's own code)
    * is guaranteed in the top ranks.
    */
  def adcTopK(codes: DataFrame, cb: Codebooks, idCol: String,
              queryVec: Seq[Double], k: Int): DataFrame = {
    require(queryVec.length == cb.dim,
      s"query dim ${queryVec.length} != codebook dim ${cb.dim}")
    val q = queryVec.toArray
    val table: Array[Array[Double]] = cb.books.zipWithIndex.map { case (book, j) =>
      book.map(c => squaredDist(q, j * cb.subDim, c))
    }
    val spark = codes.sparkSession
    val bcast = spark.sparkContext.broadcast(table)
    val in = codes.select(col(idCol), col("code"))
    val outSchema = StructType(Seq(
      in.schema.head.copy(name = idCol), StructField("adist", DoubleType)))
    val scored = spark.createDataFrame(
      in.rdd.mapPartitions { rows =>
        val t = bcast.value
        rows.map { r =>
          val code = r.getSeq[Byte](1)
          var s = 0.0; var j = 0
          while (j < t.length) { s += t(j)(code(j) & 0xff); j += 1 }
          Row(r.get(0), s)
        }
      }, outSchema)
    scored.orderBy(col("adist"), col(idCol)).limit(k)
  }

  /** Batch ADC: top-k nearest corpus codes for EVERY query row, in one
    * pass over the code table. Query VECTORS collect to the driver and
    * broadcast (Q × dim doubles — a 10k-query batch at dim 64 is ~5 MB;
    * broadcasting the precomputed distance tables instead would ship
    * codes/dim ≈ 32× that); each partition expands them into its own
    * m×codes tables once — a Q·m·codes·subDim = Q·codes·dim flop setup,
    * dwarfed by the Q·N·m lookup scan it serves — then keeps a k-capped
    * heap per query and emits at most Q·k candidate rows, so the Q×N score
    * space is never materialized and the only shuffle ranks the ≤ Q·k·P
    * survivors per query. Ids must be integral (cast to long): ties on
    * distance break on id, making the result deterministic and equal to
    * per-query [[adcTopK]]. Returns (query_id, corpus_id, adist).
    */
  def adcTopKMany(codes: DataFrame, cb: Codebooks, idCol: String,
                  queries: DataFrame, queryIdCol: String, queryVecCol: String,
                  k: Int): DataFrame = {
    require(k > 0)
    val qs = queries.select(col(queryIdCol).cast("long"),
        col(queryVecCol).cast(ArrayType(DoubleType))).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    qs.foreach { case (qid, q) => require(q.length == cb.dim,
      s"query $qid dim ${q.length} != codebook dim ${cb.dim}") }
    require(qs.map(_._1).distinct.length == qs.length,
      "duplicate query ids — per-query top-k would merge their candidates")
    val spark = codes.sparkSession
    val bcastQ = spark.sparkContext.broadcast(qs)
    val bcastCb = spark.sparkContext.broadcast(cb)
    val in = codes.select(col(idCol).cast("long"), col("code"))
    val outSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("corpus_id", LongType, nullable = false),
      StructField("adist", DoubleType, nullable = false)))
    // heap keeps the k SMALLEST (adist, id); head = current worst
    val byWorst = Ordering.Tuple2(
      Ordering.Double.TotalOrdering, Ordering.Long)
    // globally-unique cache key for this call (see TableCache scaladoc)
    val cacheKey = java.util.UUID.randomUUID().toString
    val candidates = spark.createDataFrame(
      in.rdd.mapPartitions { rows =>
        if (!rows.hasNext) Iterator.empty
        else {
        // tables memoized per executor JVM: a corpus of many small
        // partitions must not pay the Q·codes·dim expansion per partition
        val ts = TableCache.get(cacheKey, {
          val book = bcastCb.value
          bcastQ.value.map { case (qid, q) =>
            qid -> book.books.zipWithIndex.map { case (b, j) =>
              b.map(c => squaredDist(q, j * book.subDim, c))
            }
          }
        })
        val heaps = Array.fill(ts.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](byWorst))
        rows.foreach { r =>
          val id = r.getLong(0); val code = r.getSeq[Byte](1)
          var qi = 0
          while (qi < ts.length) {
            val t = ts(qi)._2
            var s = 0.0; var j = 0
            while (j < t.length) { s += t(j)(code(j) & 0xff); j += 1 }
            val h = heaps(qi)
            if (h.size < k) h.enqueue((s, id))
            else if (byWorst.lt((s, id), h.head)) { h.dequeue(); h.enqueue((s, id)) }
            qi += 1
          }
        }
        heaps.iterator.zip(ts.iterator).flatMap { case (h, (qid, _)) =>
          h.iterator.map { case (s, id) => Row(qid, id, s) }
        }
        }
      }, outSchema)
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("corpus_id"))
    candidates.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** ADC candidates + exact-cosine rescore of the top `rescoreFactor × k`
    * against the float corpus — the same pattern as
    * [[Similarity.int8TopKRescored]]: the 100 TB read is the m-byte code
    * scan; the float table is probed only for rescoreFactor·k ids.
    */
  def adcTopKRescored(codes: DataFrame, corpus: DataFrame, cb: Codebooks,
                      idCol: String, vecCol: String, queryVec: Seq[Double],
                      k: Int, rescoreFactor: Int = 4): DataFrame = {
    import graft.functions.{VectorFunctions => V}
    val cand = adcTopK(codes, cb, idCol, queryVec, k * rescoreFactor).select(col(idCol))
    val qv = array(queryVec.map(lit): _*)
    corpus.join(broadcast(cand), Seq(idCol))
      .withColumn("score", round(V.cosine(col(vecCol), qv), 4))
      .select(col(idCol), col("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }
}
