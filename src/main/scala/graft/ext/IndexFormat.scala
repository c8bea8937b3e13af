package graft.ext

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession

/** Format stamps for persisted ANN indexes.
  *
  * Why this exists: the meaning of a persisted `code` column is invisible in
  * the bytes. [[IvfPq]] codes quantize the residual `y − centroid(cell)`
  * while [[Pq]] codes quantize the raw vector — the two directory layouts
  * are otherwise byte-compatible, so a raw-code index scored against
  * residual ADC tables (or vice versa) returns systematically wrong
  * rankings with no error. Every `writeIndex` therefore stamps a one-row
  * `_meta` parquet naming its encoding, and every `readIndex` fails fast on
  * a missing or mismatched stamp instead of silently mis-ranking.
  *
  * `_meta` is a sibling of the data dirs (`codes/`, `centroids/`, …);
  * the leading underscore keeps it out of any recursive data listing, and
  * going through the Hadoop FileSystem API (not java.nio) keeps the stamp
  * filesystem-agnostic — the same index layout works on HDFS/S3 on a real
  * cluster.
  *
  * I/O shape (r19 optimization): the stamp is `_meta/format.txt`, a plain
  * UTF-8 file written and read with direct FileSystem calls — ZERO Spark
  * jobs. The original one-row-parquet stamp scheduled a full Spark job per
  * stamp/check, and every index lifecycle op (build/append/classify/
  * compact) pays 1-3 of them: pure scheduler overhead at any scale, a
  * driver↔cluster round trip per call on a real deployment (guide §5: the
  * driver should do metadata work directly, not via jobs). The commit-
  * marker semantics are unchanged — stamp LAST, delete FIRST ([[commit]]);
  * a torn stamp reads as missing or as a mismatched string, both loud
  * failures.
  */
object IndexFormat {

  private def metaFile(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_meta/format.txt")

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write an index's data under the commit marker: [[invalidate]] →
    * `write` → [[stamp]]. Every persisted-index writer goes through this
    * one window; none orders the two calls itself.
    *
    * The contract:
    *  - Delete first. An in-place (re)write that dies anywhere in `write`
    *    leaves an UNSTAMPED index that [[check]] rejects, never a
    *    validly-stamped mix of old and new generations.
    *  - Stamp last. A stamp written before the data would validate a
    *    partially (re)written index: a failure after it leaves a
    *    current-format `_meta` over stale or mixed-generation data, and
    *    [[check]] would wave through the exact mis-ranking it exists to
    *    stop.
    *  - Only the writes go inside. [[check]], reads of stored anchors,
    *    centroids or codebooks, the planning of assignments and encodes,
    *    and argument `require`s run BEFORE the call, so a malformed batch
    *    fails with the index still stamped and readable. Everything that
    *    must land together (a corpus append and its index append) goes in
    *    one `write`.
    */
  def commit(spark: SparkSession, path: String, format: String)(write: => Unit): Unit = {
    invalidate(spark, path)
    write
    stamp(spark, path, format)
  }

  /** Whether `path` holds ANY index state: data dirs, a stamp, or leftover
    * maintenance temp dirs. Ingest dispatch keys off this, never the
    * stamp: the stamp is legitimately absent inside a [[commit]] window,
    * and reading that state as "no index" would route a replay into the
    * bootstrap branch, which OVERWRITES the index with one batch. The
    * probe is any-content, not data-dir-specific, because a crash inside
    * a compaction swap ([[IndexMaintenance]]) can leave a moment with no
    * data dir but renamed remnants, and that state too must reach
    * [[check]]'s loud failure, never a fresh bootstrap.
    */
  def dataExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, p)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** Stamp `path/_meta` with this index's format id (overwrite-safe) —
    * the last step of [[commit]].
    */
  def stamp(spark: SparkSession, path: String, format: String): Unit = {
    val p = metaFile(path)
    val fs = fsOf(spark, p)
    // clear any stale stamp generation (including pre-r19 parquet stamps)
    fs.delete(p.getParent, true)
    val out = fs.create(p, true)
    try out.write(format.getBytes(UTF_8)) finally out.close()
  }

  /** Remove `path/_meta` (no-op if absent) — the first step of [[commit]]. */
  def invalidate(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_meta")
    fsOf(spark, p).delete(p, true)
    ()
  }

  /** The stamped format id, if any — for maintenance passes that accept a
    * format FAMILY (a stamp prefix, e.g. any `imagededup:v1:` parameterization)
    * and must restamp the exact original id after the rewrite.
    */
  def readFormat(spark: SparkSession, path: String): Option[String] = {
    val p = metaFile(path)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(new String(bytes.toByteArray, UTF_8))
      } finally in.close()
    }
  }

  /** Require `path/_meta` to carry exactly `expected`; a missing stamp is
    * treated as an incompatible (pre-versioning) index, not a pass — that
    * is the case the stamp exists to catch.
    */
  def check(spark: SparkSession, path: String, expected: String): Unit = {
    readFormat(spark, path) match {
      case Some(f) if f == expected => ()
      case Some(f) => throw new IllegalStateException(
        s"index at $path has format '$f' but this reader expects " +
          s"'$expected' — the encodings are incompatible (raw-vector vs " +
          "residual codes score differently); rebuild the index with the " +
          "matching writer")
      case None => throw new IllegalStateException(
        s"index at $path has no _meta format stamp — it predates index " +
          s"versioning and its code encoding cannot be trusted to be " +
          s"'$expected'; rebuild it with the current writer")
    }
  }
}
