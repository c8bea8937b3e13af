package graft.ext

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Compaction for stamped index layouts under daily appends.
  *
  * Every append-capable index here ([[Dedup.appendNearIndex]],
  * [[Ivf.appendIndex]], [[Pq.appendIndex]], [[IvfPq.appendIndex]]) adds a
  * few parquet files per batch; after a year of ingest a scan is
  * listing/footer-bound before it is data-bound (measured for the
  * near-dedup index in SCALING.md r12 — ~2 files/day, ~730/yr per dir).
  * This is the one maintenance pass they all share: rewrite each data
  * subdir into few, evenly-sized files — partition-preserving where the
  * layout is partitioned, so `list_id=*` pruning keeps working — with the
  * expensive rewrite OUTSIDE the commit-marker window and only the rename
  * swap inside it.
  *
  * Crash safety contract (same as [[Dedup.compactNearIndex]], which
  * delegates here): rewrites land in hidden `.compact_*` siblings while
  * the index stays stamped and readable; then the swap runs inside one
  * [[IndexFormat.commit]].
  * A crash mid-swap leaves an unstamped root with remnants that
  * data-presence dispatch still reports as an index, so ingest fails
  * loudly instead of bootstrapping over it; readers reject via
  * [[IndexFormat.check]] until repaired.
  */
object IndexMaintenance {

  /** Rewrite the `subs` data dirs of the stamped index at `root`.
    * Each entry is (subdir, partitionCols): partitioned dirs are
    * re-partitioned on their partition columns (one task — and so one
    * file — per partition value, rolled by `targetRowsPerFile`);
    * unpartitioned dirs shrink to ceil(rows/targetRowsPerFile) files.
    */
  def compactStamped(spark: SparkSession, root: String, formatId: String,
                     subs: Seq[(String, Seq[String])],
                     targetRowsPerFile: Long = 4000000L): Unit = {
    require(targetRowsPerFile > 0)
    IndexFormat.check(spark, root, formatId)
    rewriteAndSwap(spark, root, formatId, subs, targetRowsPerFile, unchanged)
  }

  /** Delete every row whose id is in `ids` from the `subs` data dirs of the
    * stamped index at `root` — the erasure ("right to be forgotten")
    * maintenance pass. Each entry is (subdir, partitionCols, idColName);
    * the rewrite is a filtered compaction: every subdir is re-read,
    * broadcast-anti-joined against the id set (the delete list is the
    * small side by nature — it broadcasts, the index streams), and
    * rewritten into evenly-sized files with the expensive rewrite OUTSIDE
    * the commit-marker window, exactly like [[compactStamped]] (same
    * `.compact_*` staging, same swap inside the commit, same crash
    * behavior). Partitioned layouts keep their partitioning, so IVF probe
    * pruning survives a delete.
    *
    * `ids` must be a single-column frame; its values are compared against
    * each subdir's id column with a cast to that column's type, so a
    * bigint delete list matches an int-keyed subdir.
    */
  def deleteStamped(spark: SparkSession, root: String, formatId: String,
                    subs: Seq[(String, Seq[String], String)],
                    ids: org.apache.spark.sql.DataFrame,
                    targetRowsPerFile: Long = 4000000L): Unit = {
    require(targetRowsPerFile > 0)
    require(ids.columns.length == 1,
      s"ids must be a single-column frame, got ${ids.columns.toSeq}")
    IndexFormat.check(spark, root, formatId)
    val byName = subs.map { case (sub, _, idCol) => sub -> idCol }.toMap
    rewriteAndSwap(spark, root, formatId,
      subs.map { case (sub, parts, _) => (sub, parts) }, targetRowsPerFile,
      (sub, df) => {
        val idCol = byName(sub)
        val key = ids.select(col(ids.columns.head)
          .cast(df.schema(idCol).dataType).as("__del"))
        df.join(org.apache.spark.sql.functions.broadcast(key),
          df(idCol) === key("__del"), "left_anti")
      })
  }

  /** The generalized stamped rewrite both passes above share: stage each
    * subdir's transformed frame in a hidden `.compact_*` sibling while the
    * index stays stamped and readable, then swap inside one
    * [[IndexFormat.commit]].
    * `xform(sub, df)` maps a subdir's current content to its replacement —
    * callers with cross-subdir derived state (e.g. [[SearchIndex.delete]]
    * recomputing corpus stats from the filtered doc ledger) build their
    * replacement from other dirs' PRE-swap content, which this pass never
    * mutates until every rewrite has landed.
    */
  def rewriteStamped(spark: SparkSession, root: String, formatId: String,
                     subs: Seq[(String, Seq[String])],
                     targetRowsPerFile: Long,
                     xform: (String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame): Unit = {
    IndexFormat.check(spark, root, formatId)
    rewriteAndSwap(spark, root, formatId, subs, targetRowsPerFile, xform)
  }

  private def rewriteAndSwap(spark: SparkSession, root: String,
                             formatId: String, subs: Seq[(String, Seq[String])],
                             targetRowsPerFile: Long,
                             xform: (String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame): Unit = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$root/$s")
    subs.foreach { case (sub, parts) =>
      fs.delete(p(s".compact_$sub"), true)
      val df = xform(sub, spark.read.parquet(s"$root/$sub"))
      if (parts.isEmpty)
        graft.sources.FileSink.compactFrame(df, s"$root/.compact_$sub",
          targetRowsPerFile)
      else
        df.repartition(parts.map(col): _*)
          .write.mode(SaveMode.Overwrite)
          .option("maxRecordsPerFile", targetRowsPerFile)
          .partitionBy(parts: _*)
          .parquet(s"$root/.compact_$sub")
    }
    IndexFormat.commit(spark, root, formatId) {
      subs.foreach { case (sub, _) =>
        fs.delete(p(s".old_$sub"), true)
        require(fs.rename(p(sub), p(s".old_$sub")), s"rename $sub -> .old_$sub failed")
        require(fs.rename(p(s".compact_$sub"), p(sub)), s"rename .compact_$sub -> $sub failed")
        fs.delete(p(s".old_$sub"), true)
      }
    }
  }

  private def unchanged(sub: String, df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = df
}
