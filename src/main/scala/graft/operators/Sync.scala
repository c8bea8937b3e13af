package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path, PathFilter}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.core.Pipeline

/** The reference's DB-to-DB sync jobs re-expressed as native relational
  * operators. In the reference these are generated SQL strings executed by
  * MySQL/ClickHouse (`/root/reference/src/Common/SynToMysql.php:30-64`,
  * `SynToClickhouse.php:38-122`, `SyncOtherMysql.php:48-89`,
  * `DelMysql.php:34-39`); here they are DataFrame combinators so Catalyst
  * plans them (broadcast vs shuffle anti-join, AQE skew handling) instead of
  * an external server.
  *
  * Scale notes (100 TB): every op below but [[upsertPartitioned]] is a
  * single shuffle-or-broadcast join or window — no driver-side collection.
  * Anti-joins on a small target broadcast automatically (AQE); large-large
  * anti-joins shuffle on the key, which is the optimal distributed plan
  * for set difference. [[upsertPartitioned]] is a driver-coordinated
  * merge: it pins its update batch and brings the batch's distinct
  * partition values to the driver, so the partitions it reads and
  * rewrites are known before the table is touched.
  */
object Sync {

  /** Rows of `source` whose keys are absent from `target` — the NOT-EXISTS
    * insert set of `SynToMysql.php:47-55` (`INSERT INTO to SELECT … WHERE
    * NOT EXISTS …`). Returns the would-be-inserted rows; callers append them
    * to the target sink. `where` maps the reference's `filterWhere` (:53-55)
    * and `limit` its `LIMIT batch` (:58-60).
    */
  def antiInsert(source: DataFrame, target: DataFrame, keys: Seq[String],
                 where: Option[Column] = None, limit: Option[Int] = None): DataFrame = {
    val filtered = where.fold(source)(source.filter)
    // prune target to the key columns before the anti-join: less shuffle IO,
    // and a narrow build side broadcasts at sizes the full row set would not
    val anti = filtered.join(target.select(keys.map(col): _*).distinct(), keys, "left_anti")
    limit.fold(anti)(anti.limit)
  }

  /** Anti-join on arbitrary expression keys — the ClickHouse `ANTI LEFT JOIN`
    * with function-rewritten join conditions (`SynToClickhouse.php:56-70,
    * 82-90`, e.g. `f(x,c) = f(t.x,c)`).
    */
  def antiInsertExpr(source: DataFrame, target: DataFrame, cond: Column): DataFrame =
    source.join(target, cond, "left_anti")

  /** Incremental watermark sync: source rows strictly newer than the
    * target's max watermark column. Strict `>` reproduces the reference
    * boundary exactly (ties on the max timestamp are dropped —
    * `SyncOtherMysql.php:57`, `SynToClickhouse.php:77-80`; known
    * reference bug-shape, see SURVEY.md §7.4).
    *
    * The max is a one-row aggregate broadcast-crossed into the filter — no
    * `collect()`, the whole thing stays one lazy plan and the predicate is
    * evaluated post-scan (at 100 TB, pair with partitioning on the watermark
    * column so partition pruning skips old data).
    */
  def watermarkIncr(source: DataFrame, target: DataFrame, wmCol: String): DataFrame = {
    val wm = target.agg(max(col(wmCol)).as("__wm"))
    // NULL watermark (empty target) means "sync everything": the reference's
    // filterWhere drops the predicate when the scalar is null
    // (`SyncOtherMysql.php:57`), so bootstrap is a full load, not zero rows.
    source.join(broadcast(wm), col(wmCol) > col("__wm") || col("__wm").isNull, "inner")
      .drop("__wm")
  }

  /** Paged incremental sync collapsed to its semantics: watermark filter +
    * deterministic order + limit (`SyncOtherMysql.php:53-60` `ORDER BY max
    * ASC LIMIT size*parallel OFFSET …`). The OFFSET pagination loop
    * disappears — Spark reads the whole increment as partitioned work.
    */
  def incrPage(source: DataFrame, target: DataFrame, wmCol: String,
               tieBreak: Seq[Column], pageSize: Int): DataFrame =
    watermarkIncr(source, target, wmCol)
      .orderBy(col(wmCol) +: tieBreak: _*)
      .limit(pageSize)

  /** Upsert = full-outer merge: for key matches the source row wins, except
    * `exclude`d columns which keep the target value (the reference's `ON
    * DUPLICATE KEY UPDATE` set excludes `primary` + `exField`,
    * `SynToMysql.php:62-64`); source-only rows insert, target-only rows stay.
    * Presence is detected on (non-null) key columns, so a NULL in a source
    * value column correctly overwrites.
    */
  def upsert(source: DataFrame, target: DataFrame, keys: Seq[String],
             exclude: Set[String] = Set.empty): DataFrame = {
    require(target.columns.toSet == source.columns.toSet,
      "upsert requires identical source/target schemas")
    val s = source.select(source.columns.map(c => col(c).as(s"__s_$c")): _*)
    val joinCond = keys.map(k => col(s"__s_$k") === target(k)).reduce(_ && _)
    val sPresent = col(s"__s_${keys.head}").isNotNull
    val tPresent = target(keys.head).isNotNull
    val out = target.columns.map { c =>
      if (keys.contains(c)) coalesce(target(c), col(s"__s_$c")).as(c)
      else if (exclude(c)) when(tPresent, target(c)).otherwise(col(s"__s_$c")).as(c)
      else when(sPresent, col(s"__s_$c")).otherwise(target(c)).as(c)
    }
    target.join(s, joinCond, "full_outer").select(out: _*)
  }

  /** Latest-version-per-key dedup — replaces the reference's ClickHouse flag
    * lifecycle (insert flag=0, bump readable rows, flags 0..3 =
    * new/readable/old/deleted; `/root/reference/src/Sinks/Clickhouse.php:
    * 173-195`, doc/Clickhouse.md:49). That state machine is a concurrency
    * workaround for a non-transactional store; deterministic window-rank
    * dedup gives the same observable result (only the newest version is
    * readable) in one shuffle.
    */
  def latestVersion(df: DataFrame, pk: Seq[String], version: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*).orderBy(version.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Retention purge (`DelMysql.php:34-39` `DELETE FROM t WHERE cond`) as an
    * anti-filter rewrite: the surviving rows. On a MERGE-capable store this
    * would be a real DELETE; on immutable parquet it is a rewrite.
    */
  def delWhere(df: DataFrame, cond: Column): DataFrame = df.filter(!coalesce(cond, lit(false)))

  /** Gap-based batch sessionization: within each entity, a new session
    * starts when the time since the previous event is ≥ `gap` (same units
    * as `tsCol`). Adds `session_id` (0-based per-entity ordinal). The batch
    * twin of `Streams.sessionCounts` — one window per entity, shuffle on
    * the entity key only.
    */
  def sessionize(df: DataFrame, entityCols: Seq[String], tsCol: String,
                 gap: Long, orderTieCols: Seq[String] = Nil): DataFrame = {
    val order = (col(tsCol) +: orderTieCols.map(col)).map(_.asc)
    val w = Window.partitionBy(entityCols.map(col): _*).orderBy(order: _*)
    val brk = when(
      col(tsCol) - lag(col(tsCol), 1).over(w) >= gap, 1L).otherwise(0L)
    df.withColumn("session_id",
      sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Build a type-2 slowly-changing-dimension history from an event log:
    * keep only rows where any tracked attribute differs from the entity's
    * previous row (ordered by `tsCol`, ties by `orderTieCols`), stamp
    * `valid_from` = that row's ts and `valid_to` = the next version's ts
    * (null = current). Two windows over the same (entity, order) — one
    * shuffle total; at 100 TB this is the standard "snapshot log →
    * versioned dimension" pass.
    */
  def scd2FromHistory(df: DataFrame, keys: Seq[String], attrs: Seq[String],
                      tsCol: String, orderTieCols: Seq[String] = Nil): DataFrame = {
    val order = (col(tsCol) +: orderTieCols.map(col)).map(_.asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val changed = attrs.map(a =>
        // null-safe inequality: a NULL→value or value→NULL flip is a change
        !(col(a) <=> lag(col(a), 1).over(w)))
      .reduce(_ || _) || lag(col(tsCol), 1).over(w).isNull
    val versions = df.withColumn("__chg", changed).filter(col("__chg")).drop("__chg")
    val wv = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    versions
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(wv))
  }

  /** Keyed MERGE into a day/attribute-partitioned parquet table that
    * rewrites ONLY the partitions the updates touch — the merge-at-scale
    * path for plain parquet (what a table format's MERGE does, minus the
    * log): at 100 TB a daily update batch touches a handful of recent
    * partitions, so the read AND the rewrite are bounded by the batch, not
    * the table.
    *
    * Mechanics: the updates are pinned once ([[graft.core.Pipeline.pin]]),
    * and the pin's own job also yields the batch's
    * distinct partition values and whether any is NULL — so the driver
    * receives every distinct partition value of the batch, not only the
    * first `maxPartitions + 1` (bounded by construction — that is this
    * operator's contract; it throws above `maxPartitions` before the
    * table is read or written, rather than silently planning a
    * full-table rewrite). Each value is named as the
    * writer names its directory (Spark's partition-path escaping, NULL
    * and "" under `__HIVE_DEFAULT_PARTITION__`), and only the touched
    * directories that exist are read, through the `basePath` option with
    * a known schema: the data columns come from one parquet footer read
    * on the driver, so no listing of the table and no footer job is
    * needed (only a batch whose touched directories hold no file yet
    * lists the table's root, to find that footer elsewhere; Spark itself
    * lists the touched directories in a job above 32 of them). Base rows
    * whose key has no update are kept (anti-join against the pinned keys
    * — updates win wholesale), the pinned updates are unioned in, and the
    * result is written back with dynamic partition overwrite so untouched
    * partitions' files are never opened, read, or replaced.
    *
    * Pinning is also what makes the merge safe: the partitions read and
    * the rows written come from ONE evaluation of `updates`. Evaluated
    * twice, a source that changes between reads (a `jdbc` table, a
    * nondeterministic expression) could name a partition the read never
    * saw, and the overwrite would replace it with the update rows alone.
    *
    * An update row whose `partitionCol` differs from its key's current
    * partition lands in the NEW partition while the anti-join removes the
    * old row only if the old partition is also touched by this batch —
    * callers moving rows across partitions must include both partitions'
    * updates in one batch (documented contract, checked nowhere: the
    * operator cannot see an untouched partition by design).
    *
    * A NULL `partitionCol` in the updates is handled explicitly: the null
    * partition lives under `__HIVE_DEFAULT_PARTITION__`, which is read
    * and its non-updated rows kept like any other touched partition —
    * otherwise dynamic overwrite would rewrite that partition with only
    * the update rows, silently deleting every non-updated row in it (r12
    * advice).
    *
    * A `basePath` that does not exist fails with Spark's `PATH_NOT_FOUND`
    * before any job; one that holds no data file fails with
    * `UNABLE_TO_INFER_SCHEMA`, as reading it would.
    *
    * NOT ATOMIC vs readers/failure: this is a read-then-dynamic-overwrite
    * of the SAME path in one job. That self-overwrite is safe against
    * consuming its own output because the committer stages every task's
    * files under `_temporary/` and only swaps partition directories at
    * job-commit, AFTER all read-and-write tasks finished — but the
    * per-partition swap itself has no transaction log: a failure DURING
    * commit can leave some touched partitions replaced and others old,
    * unrecoverable except by re-running the same batch (which is the
    * supported recovery — the merge is idempotent, updates win
    * wholesale). Use a table format with a real log when readers must
    * never observe the torn state (r12 advice: documented hazard).
    */
  def upsertPartitioned(spark: SparkSession,
                        basePath: String, updates: DataFrame,
                        keys: Seq[String], partitionCol: String,
                        maxPartitions: Int = 1000): Unit = {
    require(keys.nonEmpty && !keys.contains(partitionCol),
      "need row keys distinct from the partition column")
    val root = new Path(basePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root))
      throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> fs.makeQualified(root).toString))
    val Pipeline.Pinned(pinned, _, parts) = Pipeline.pin(updates,
      collect_set(col(partitionCol).cast("string")), max(col(partitionCol).isNull))
    val hasNull = !parts.isNullAt(1) && parts.getBoolean(1)
    // the writer's own naming: cast to string, escape, NULL and "" → default
    val dirs = (parts.getSeq[String](0) ++ (if (hasNull) Seq(null) else Nil))
      .map(ExternalCatalogUtils.getPartitionPathString(partitionCol, _)).distinct
    require(dirs.length <= maxPartitions,
      s"updates touch more than $maxPartitions partitions — this operator " +
        "is for bounded-partition merges; rewrite the table instead")
    if (dirs.isEmpty) return
    val touched = dirs.map(new Path(root, _)).filter(fs.exists)
    val schema = StructType(partitionDataColumns(fs, root, touched, partitionCol) :+
      StructField(partitionCol, pinned.schema(partitionCol).dataType))
    val fresh = pinned.select(schema.fieldNames.toSeq.map(col): _*)
    val merged = if (touched.isEmpty) fresh else {
      val base = spark.read.schema(schema).option("basePath", basePath)
        .parquet(touched.map(_.toString): _*)
      // no distinct: duplicate keys on the build side cannot change a left-anti result
      fresh.unionByName(base.join(pinned.select(keys.map(col): _*), keys, "left_anti"))
    }
    graft.sources.FileSink.overwritePartitions(merged, basePath, Seq(partitionCol))
  }

  /** The data columns of a table partitioned by `partitionCol`, from the
    * footer of one of its data files, read on the driver: preferably one
    * under `touched`, else under any partition directory of `root`. A
    * partitioned table never mixes schemas by this operator's writes, so
    * any file speaks for all; Spark's own inference would read one footer
    * too, in a job of its own.
    */
  private def partitionDataColumns(fs: FileSystem, root: Path, touched: Seq[Path],
                                   partitionCol: String): Seq[StructField] = {
    val visible = new PathFilter {
      def accept(p: Path): Boolean = !p.getName.startsWith("_") && !p.getName.startsWith(".")
    }
    val prefix = ExternalCatalogUtils.escapePathName(partitionCol) + "="
    def others = fs.listStatus(root).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix)).map(_.getPath)
    val file = (touched.iterator ++ others)
      .flatMap(d => fs.listStatus(d, visible).iterator.filter(_.isFile)).nextOption()
      .getOrElse(throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
    graft.sources.FileSource.parquetSchema(file, fs.getConf)
      .fields.toSeq.filterNot(_.name == partitionCol)
  }
}
