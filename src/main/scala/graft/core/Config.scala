package graft.core

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ColumnOps, Sync}
import graft.sources.FileSink

/** Pipeline-as-config — the reference's YAML task layer
  * (`/root/reference/src/YamlParser.php:24-57` parse,
  * `Scheduler.php:154-188` DAG walk). A task is `source → transforms* →
  * sink`, with the reference's plugin vocabulary (`include`, `exclude`,
  * `map`, `addField`, `idKey`, …).
  *
  * Deliberate narrowing (SURVEY.md §7.4): where the reference `eval`s
  * arbitrary PHP per column (`Transforms/LineParser.php:267`), values here
  * are Spark SQL `expr()` strings — declarative, Catalyst-checked,
  * codegen'd, and safe. The whole chain builds ONE lazy plan; nothing is
  * interpreted per record.
  *
  * YAML parsing uses jackson-dataformat-yaml, which ships with Spark.
  */
object Config {

  private val mapper = new ObjectMapper(new YAMLFactory())

  final case class Task(name: String, source: JsonNode,
                        transforms: Seq[JsonNode], sinks: Seq[JsonNode],
                        cron: Option[Int] = None,
                        checkpoint: Option[String] = None) {
    def sink: Option[JsonNode] = sinks.headOption
  }

  def parse(yaml: String): Task = {
    val root = mapper.readTree(yaml)
    require(root.hasNonNull("source"), "task config needs a 'source'")
    // `sink:` (one) or `sinks:` (fan-out — the reference's multi-target
    // `output` maps, Scheduler.php DAG edges); one plan, delivered N times
    val sinks = Option(root.get("sinks"))
      .map(_.elements().asScala.toSeq)
      .orElse(Option(root.get("sink")).map(Seq(_)))
      .getOrElse(Nil)
    Task(
      name = Option(root.get("name")).map(_.asText).getOrElse("task"),
      source = root.get("source"),
      transforms = Option(root.get("transforms"))
        .map(_.elements().asScala.toSeq).getOrElse(Nil),
      sinks = sinks,
      cron = Option(root.get("cron")).map(_.asInt),
      checkpoint = strOpt(root, "checkpoint"))
  }

  /** Build the lazy DataFrame for a task (source + transforms, no sink).
    * graft's SQL functions are registered first (idempotent), so config
    * expressions can call `graft_quality_pm(text)`, `graft_clean_text(...)`
    * etc. inside `filter`/`addField`.
    */
  def build(spark: SparkSession, task: Task): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    task.transforms.foldLeft(source(spark, task.source))(applyTransform)
  }

  /** Build and deliver: returns the written/result DataFrame.
    *
    * STREAMING tasks (a `queue`/`readStream` source) deliver through
    * `foreachBatch` with a checkpoint — the reference's Scheduler loop
    * (`Scheduler.php:79-96`) as config: `cron: -1` (default) drains
    * currently-available input and returns (AvailableNow, run-once —
    * the reference's one-shot mode); `cron: N` starts a continuous
    * ProcessingTime(N s) query and returns immediately with the query
    * running (manage it via `spark.streams`). Each micro-batch is
    * delivered to every declared sink; `checkpoint:` pins the offset log
    * (defaults to a temp dir = this run only: a run-once task deletes it
    * when the run ends, a continuous task leaves it to its running query).
    */
  def run(spark: SparkSession, yaml: String): DataFrame = {
    val task = parse(yaml)
    val df = build(spark, task)
    deliver(task, df)
    df
  }

  private def deliver(task: Task, df: DataFrame): Unit =
    if (df.isStreaming) {
      require(task.sinks.nonEmpty, "a streaming task needs a sink")
      val ckpt = task.checkpoint.getOrElse(
        java.nio.file.Files.createTempDirectory("graft_cfg_ckpt_").toString)
      val runOnce = task.cron.getOrElse(-1) == -1
      val trigger = graft.streaming.Streams.triggerOf(task.cron.getOrElse(-1))
      val q = graft.streaming.Streams.foreachBatchSink(df, ckpt, trigger) {
        (batch, batchId) =>
          // same compute-once fan-out guarantee as the batch branch below:
          // without the persist each extra sink re-executes the batch plan
          // (and can observe recomputation of non-replayable sources)
          val b = if (task.sinks.length > 1) batch.persist() else batch
          try task.sinks.foreach(sink(b, _, streaming = true, batchId))
          finally if (task.sinks.length > 1) b.unpersist()
      }
      if (runOnce)
        try q.awaitTermination()
        finally if (task.checkpoint.isEmpty) {
          val p = new org.apache.hadoop.fs.Path(ckpt)
          p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
        }
    } else {
      // fan-out: persist once when delivering to several sinks so the
      // transform chain computes once, not once per target
      val delivered = if (task.sinks.length > 1) df.persist() else df
      task.sinks.foreach(sink(delivered, _))
      if (task.sinks.length > 1) delivered.unpersist()
    }

  /** Multi-task DAG config — the reference Scheduler's task graph
    * (`Scheduler.php:154-188` walks plugin `output` edges): a `tasks:` list
    * where later tasks read earlier ones via `source: {type: task, name:}`.
    * Tasks must be listed in dependency order (the reference's configs are
    * written the same way). Each task is delivered as soon as it is built,
    * and a consumer's source is the producer's lazy plan, registered by
    * name: Catalyst sees through the whole graph for pushdown, but every
    * sink is its own action, so each consumer RE-EXECUTES its upstream
    * tasks from their sources. A producer whose output is not a pure
    * function of a stable input (`idKey` ids, `httpEnrich`, `queue`/`http`/
    * `jdbc` sources that change between reads) can therefore hand its
    * consumers rows that differ from what its own sink wrote.
    * Returns the result of every task by name.
    */
  def runAll(spark: SparkSession, yaml: String): Map[String, DataFrame] = {
    val root = mapper.readTree(yaml)
    require(root.hasNonNull("tasks"), "multi-task config needs 'tasks'")
    val built = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    root.get("tasks").elements().asScala.foreach { tn =>
      val task = Task(
        name = Option(tn.get("name")).map(_.asText)
          .getOrElse(s"task${built.size}"),
        source = tn.get("source"),
        transforms = Option(tn.get("transforms"))
          .map(_.elements().asScala.toSeq).getOrElse(Nil),
        sinks = Option(tn.get("sinks")).map(_.elements().asScala.toSeq)
          .orElse(Option(tn.get("sink")).map(Seq(_))).getOrElse(Nil),
        cron = Option(tn.get("cron")).map(_.asInt),
        checkpoint = strOpt(tn, "checkpoint"))
      val src = if (task.source.get("type").asText == "task") {
        val ref = str(task.source, "name")
        built.getOrElse(ref, throw new IllegalArgumentException(
          s"task '${task.name}' references undefined task '$ref' " +
            "(tasks must be listed in dependency order)"))
      } else source(spark, task.source)
      graft.functions.GraftFunctions.register(spark)
      val df = task.transforms.foldLeft(src)(applyTransform)
      deliver(task, df)
      built += task.name -> df
    }
    built.toMap
  }

  private def str(n: JsonNode, field: String): String = {
    require(n.hasNonNull(field), s"config needs '$field' in: $n")
    n.get(field).asText
  }

  private def strOpt(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).map(_.asText)

  private def strSeq(n: JsonNode, field: String): Seq[String] =
    Option(n.get(field)).map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)

  private def strPairs(n: JsonNode, field: String): Seq[(String, String)] =
    Option(n.get(field)).map(o =>
      o.properties().asScala.map(e => e.getKey -> e.getValue.asText).toSeq).getOrElse(Nil)

  private def intSeq(n: JsonNode, field: String): Seq[Int] =
    Option(n.get(field)).map(_.elements().asScala.map(_.asInt).toSeq).getOrElse(Nil)

  private def source(spark: SparkSession, n: JsonNode): DataFrame =
    str(n, "type") match {
      case "parquet" => spark.read.parquet(str(n, "path"))
      case "orc"     => spark.read.orc(str(n, "path"))
      case "csv" =>
        spark.read
          .option("header", strOpt(n, "header").getOrElse("true"))
          .option("delimiter", strOpt(n, "delimiter").getOrElse(","))
          .option("inferSchema", strOpt(n, "inferSchema").getOrElse("false"))
          .csv(str(n, "path"))
      case "json" => spark.read.json(str(n, "path"))
      // opaque media files: (path, modificationTime, length, content) —
      // the production entry point for the ext/Media codec tier
      case "binaryFile" =>
        val r = spark.read.format("binaryFile")
        strOpt(n, "pathGlobFilter").fold(r)(g => r.option("pathGlobFilter", g))
          .load(str(n, "path"))
      case "queue" =>
        spark.readStream.format("graft.streaming.QueueSourceProvider")
          .option("queue", str(n, "name")).load()
      // arrival-driven file stream (Streams.fileStream): new files under
      // `path` become new micro-batches — the daily-drop crawl shape the
      // ingest sinks below pair with. The schema comes from the files
      // already present (streaming reads need one up front), so the dir
      // must hold at least one file when the task starts.
      case "fileStream" =>
        val path = str(n, "path")
        val fmt = strOpt(n, "format").getOrElse("parquet")
        // explicit contract check: the eager schema-inference read below
        // dies with an opaque AnalysisException on an empty/missing dir
        val seed =
          try spark.read.format(fmt).load(path).schema
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalArgumentException(
                s"fileStream source: '$path' must exist and hold at least " +
                  s"one .$fmt file when the task starts (the stream's " +
                  s"schema is inferred from it): ${e.getMessage}")
          }
        graft.streaming.Streams.fileStream(spark, path, seed, fmt)
      // Kafka consumer (jar-guarded: fails fast naming the connector jar
      // when spark-sql-kafka isn't on the classpath — see Sinks.kafkaSource)
      case "kafka" =>
        graft.sources.Sinks.kafkaSource(spark, str(n, "servers"),
          str(n, "topic"),
          strOpt(n, "startingOffsets").getOrElse("earliest"))
      // Sources\Pdo: table or raw-SQL scan, optionally range-partitioned
      case "jdbc" =>
        val part = Option(n.get("partitionColumn")).map(c =>
          graft.sources.JdbcSource.Partitioning(c.asText,
            n.get("lowerBound").asLong, n.get("upperBound").asLong,
            Option(n.get("numPartitions")).map(_.asInt).getOrElse(4)))
        graft.sources.JdbcSource.read(spark, str(n, "url"), str(n, "table"),
          partitioning = part)
      // Transforms\LineParser: line-addressed text (headLine/dataLine/…)
      case "lineparser" =>
        graft.sources.LineParser.parse(spark, str(n, "path"),
          graft.sources.LineParserConfig(
            delimiter = strOpt(n, "delimiter").getOrElse(","),
            headLine = Option(n.get("headLine")).map(_.asInt).getOrElse(1),
            dataStart = Option(n.get("dataStart")).map(_.asInt).getOrElse(2),
            dataLines = intSeq(n, "dataLines"),
            endLine = Option(n.get("endLine")).map(_.asInt),
            fieldLine = Option(n.get("fieldLine")).map(_.asInt),
            fieldNames = strSeq(n, "fieldNames"),
            columns = strSeq(n, "columns")))
      case other => throw new IllegalArgumentException(s"unknown source type: $other")
    }

  private def applyTransform(df: DataFrame, n: JsonNode): DataFrame =
    str(n, "op") match {
      case "filter"  => df.filter(expr(str(n, "expr")))
      case "include" => ColumnOps.include(strPairs(n, "columns"): _*)(df)
      case "exclude" => ColumnOps.exclude(strSeq(n, "columns"): _*)(df)
      case "map"     => ColumnOps.rename(strPairs(n, "columns"): _*)(df)
      case "addField" =>
        ColumnOps.addFields(strPairs(n, "fields")
          .map { case (k, v) => k -> expr(v) }: _*)(df)
      // idKey kinds: explicit `order` → dense deterministic ids (small
      // relations ONLY — partition-less window); `kind: snowflake` →
      // time-sortable unique ids (the reference's idGen, the scale path);
      // default → monotonically-increasing unique ids
      case "idKey" =>
        (strSeq(n, "order"), strOpt(n, "kind")) match {
          case (Nil, Some("snowflake")) =>
            // workerBits: widen past the classic 10-bit split for jobs
            // wider than 1024 partitions (see SnowflakeId scaladoc)
            val wb = Option(n.get("workerBits")).map(_.asInt).getOrElse(10)
            ColumnOps.idKeySnowflake(str(n, "name"), wb)(df)
          case (Nil, _) => ColumnOps.idKeyUnique(str(n, "name"))(df)
          case (order, _) =>
            ColumnOps.idKeyOrdered(str(n, "name"), order.map(col): _*)(df)
        }
      case "latestVersion" =>
        Sync.latestVersion(df, strSeq(n, "pk"), strSeq(n, "version").map(col))
      case "delWhere" => Sync.delWhere(df, expr(str(n, "where")))
      case "antiInsert" =>
        val target = df.sparkSession.read.parquet(str(n, "target"))
        Sync.antiInsert(df, target, strSeq(n, "keys"))
      case "watermarkIncr" =>
        val target = df.sparkSession.read.parquet(str(n, "target"))
        Sync.watermarkIncr(df, target, str(n, "column"))
      // declarative query block (Sources\Pdo query-array mode)
      case "query" =>
        graft.operators.QuerySpec(
          select = strPairs(n, "select"),
          where = strOpt(n, "where"),
          groupBy = strSeq(n, "groupBy"),
          agg = strPairs(n, "agg"),
          having = strOpt(n, "having"),
          orderBy = strSeq(n, "orderBy"),
          limit = Option(n.get("limit")).map(_.asInt))(df)
      // Common\HttpRequest: url template with {} placeholder, pooled client,
      // retry + per-partition throttle (minIntervalMs = the reference's
      // throttleTime; aggregate rate = partitions × 1000/minIntervalMs)
      case "httpEnrich" =>
        val template = str(n, "url")
        graft.operators.Enrich.httpTransport(df, str(n, "in"), str(n, "out"),
          urlFor = v => template.replace("{}", v),
          timeoutMs = Option(n.get("timeoutMs")).map(_.asLong).getOrElse(5000L),
          retries = Option(n.get("retries")).map(_.asInt).getOrElse(2),
          minIntervalMs = Option(n.get("minIntervalMs")).map(_.asLong).getOrElse(0L))
      // batched model inference: scores `input` with a registered model
      // (Inference.registerModel) and joins the score back on `id`.
      // batchSize is the model-call unit; numPartitions decouples inference
      // parallelism from the scan layout (0 = keep upstream partitioning)
      case "infer" =>
        val idCol = str(n, "id")
        val out = strOpt(n, "out").getOrElse("score")
        // case-insensitive, matching Spark's default column resolution
        require(!df.columns.exists(_.equalsIgnoreCase(out)),
          s"infer output column '$out' already exists — set 'out' to a fresh name")
        val scores = graft.ext.Inference.scoreBatched(df.sparkSession, df,
          idCol, str(n, "input"),
          batchSize = Option(n.get("batchSize")).map(_.asInt).getOrElse(64),
          outCol = out,
          numPartitions = Option(n.get("numPartitions")).map(_.asInt).getOrElse(0))(
          graft.ext.Inference.model(str(n, "model")))
        // one score row per id before the join-back: ids are expected unique
        // (document keys). Duplicated ids collapse to their MIN score
        // (deterministic — dropDuplicates picked an arbitrary one) and a
        // LEFT join + raise_error turns a missing score row (null id, or a
        // scorer that dropped a row) into a loud failure at execution time
        // instead of silently dropping the pipeline row. raise_error lives
        // inside the output column, so Catalyst can't prune the check away.
        val dedupScores = scores.groupBy(idCol).agg(min(col(out)).as(out))
        df.join(dedupScores, Seq(idCol), "left")
          .withColumn(out, when(col(out).isNull,
            raise_error(concat(lit(s"infer: no score for $idCol="),
              coalesce(col(idCol).cast("string"), lit("NULL"))))
              .cast("double"))
            .otherwise(col(out)))
      // curation tier (ext/Curation): deterministic hash-keyed ops
      case "sample" =>
        graft.ext.Curation.sampleByHash(df, str(n, "key"),
          n.get("perMille").asInt, strOpt(n, "salt").getOrElse("graft"))
      case "split" =>
        graft.ext.Curation.splitByHash(df, str(n, "key"),
          Option(n.get("trainPerMille")).map(_.asInt).getOrElse(800),
          Option(n.get("valPerMille")).map(_.asInt).getOrElse(100),
          strOpt(n, "salt").getOrElse("graft"))
      case "mixture" =>
        graft.ext.Curation.mixtureByHash(df, str(n, "key"), str(n, "strata"),
          strPairs(n, "rates").map { case (k, v) => k -> v.toInt }.toMap,
          n.get("defaultPerMille").asInt, strOpt(n, "salt").getOrElse("graft"))
      case "dedupExact" =>
        graft.ext.Dedup.exact(df, strSeq(n, "columns"), str(n, "key"))
      // the full near-dup pipeline (MinHash candidates → exact-Jaccard
      // rescore → connected components → one representative per cluster)
      case "dedupNear" =>
        graft.ext.Dedup.nearDedup(df, str(n, "key"), str(n, "column"),
          minJaccard = Option(n.get("minJaccard")).map(_.asDouble).getOrElse(0.8),
          shingleN = Option(n.get("shingleN")).map(_.asInt).getOrElse(3),
          // reliable component checkpoints for cluster runs (see
          // Dedup.connectedComponents fault-tolerance note)
          checkpointDir = strOpt(n, "checkpointDir"))
      // its embedding-modality twin (sign-LSH cosine pairs → components)
      case "dedupNearEmbeddings" =>
        graft.ext.Dedup.nearDedupEmbeddings(df, str(n, "key"), str(n, "vec"),
          dim = n.get("dim").asInt,
          threshold = Option(n.get("threshold")).map(_.asDouble).getOrElse(0.99),
          bitsPerTable = Option(n.get("bitsPerTable")).map(_.asInt).getOrElse(16),
          tables = Option(n.get("tables")).map(_.asInt).getOrElse(4),
          checkpointDir = strOpt(n, "checkpointDir"))
      case "clean" =>
        df.withColumn(str(n, "column"),
          graft.functions.TextFunctions.cleanText(col(str(n, "column"))))
      case "redact" =>
        df.withColumn(str(n, "column"),
          graft.functions.TextFunctions.redactPii(col(str(n, "column"))))
      // HTML → visible text (script/style/comment drop, tag strip, entity
      // decode) — the crawl-extraction first pass
      case "htmlExtract" =>
        df.withColumn(strOpt(n, "as").getOrElse(str(n, "column")),
          graft.functions.TextFunctions.htmlToText(col(str(n, "column"))))
      // the composite Gopher quality rule as a row filter
      case "gopherFilter" =>
        df.filter(graft.functions.TextFunctions.gopherKeep(col(str(n, "column")),
          minWords = Option(n.get("minWords")).map(_.asLong).getOrElse(50L),
          maxWords = Option(n.get("maxWords")).map(_.asLong).getOrElse(100000L),
          minStopHits = Option(n.get("minStopHits")).map(_.asInt).getOrElse(2)))
      // URL canonicalization / URL-level dedup / domain blocklist
      case "urlNormalize" =>
        df.withColumn(strOpt(n, "as").getOrElse("url_norm"),
          graft.ext.Urls.normalizeUrl(col(str(n, "column"))))
      case "urlDedup" =>
        graft.ext.Urls.dedupByUrl(df, str(n, "key"), str(n, "column"))
      case "domainFilter" =>
        graft.ext.Urls.filterBlockedDomains(df, str(n, "column"),
          strSeq(n, "blocked"))
      case "stratifiedN" =>
        graft.ext.Curation.stratifiedFixedN(df, str(n, "key"), str(n, "strata"),
          n.get("n").asInt, strOpt(n, "salt").getOrElse("graft"))
      // per-stratum token-budget fill (mixes are specified in tokens)
      case "tokenBudget" =>
        graft.ext.Curation.sampleToTokenBudget(df, str(n, "key"),
          str(n, "strata"), str(n, "tokens"),
          budgets = strPairs(n, "budgets")
            .map { case (k, v) => k -> v.toLong }.toMap,
          defaultBudget = Option(n.get("default")).map(_.asLong).getOrElse(0L),
          salt = strOpt(n, "salt").getOrElse("graft"),
          checkUniqueKeys = Option(n.get("checkUniqueKeys"))
            .exists(_.asBoolean))
      // per-stratum token statistics (the mixture-planning report)
      case "tokenStats" =>
        graft.ext.Curation.tokenStats(df, str(n, "strata"), str(n, "tokens"))
      // corpus-relative rare-token quality signal
      case "rareTokens" =>
        graft.ext.Search.rareTokenStats(df, str(n, "key"), str(n, "column"),
          Option(n.get("maxCount")).map(_.asLong).getOrElse(2L))
      case "qualityTopQuantile" =>
        graft.ext.Curation.topQuantileByGroup(df, str(n, "strata"),
          str(n, "score"), str(n, "tie"), n.get("keepFraction").asDouble)
      // sentence-aware chunking (never splits a sentence)
      case "chunkSentences" =>
        graft.ext.Curation.chunkBySentences(df, str(n, "key"), str(n, "column"),
          n.get("maxTokens").asInt)
      // first-fit-decreasing whole-document packing (no straddling)
      case "packFfd" =>
        graft.ext.Curation.packSequencesFirstFitDec(df, str(n, "key"),
          str(n, "tokens"), n.get("maxTokensPerBin").asInt,
          n.get("shards").asInt, strOpt(n, "salt").getOrElse("graft"))
      case "chunk" =>
        graft.ext.Curation.chunkByTokens(df, str(n, "key"), str(n, "column"),
          n.get("chunkTokens").asInt,
          Option(n.get("overlapTokens")).map(_.asInt).getOrElse(0))
      case "pack" =>
        graft.ext.Curation.packSequences(df, str(n, "key"), str(n, "tokens"),
          n.get("maxTokensPerBin").asInt, n.get("shards").asInt,
          strOpt(n, "salt").getOrElse("graft"))
      // packed-example materialization: (shard, bin, n_docs, n_tokens, text)
      case "packExamples" =>
        graft.ext.Curation.packExamples(df, str(n, "key"), str(n, "column"),
          str(n, "tokens"), n.get("maxTokensPerBin").asInt,
          n.get("shards").asInt, strOpt(n, "salt").getOrElse("graft"),
          strOpt(n, "sep").getOrElse(" "))
      case "shuffle" =>
        graft.ext.Curation.shuffleByHash(df, str(n, "key"),
          strOpt(n, "salt").getOrElse("graft"),
          Option(n.get("partitions")).map(_.asInt).getOrElse(0))
      case "sourceCap" =>
        graft.ext.Curation.capPerStratum(df, str(n, "strata"),
          str(n, "score"), str(n, "tie"), n.get("cap").asInt)
      // per-row weighted keep: `weight` is any SQL expression in [0,1000]
      case "weightedSample" =>
        graft.ext.Curation.sampleByWeight(df, str(n, "key"),
          expr(str(n, "weight")), strOpt(n, "salt").getOrElse("graft"))
      case "spanStats" =>
        graft.ext.Dedup.spanStats(df, str(n, "key"), str(n, "column"),
          Option(n.get("shingleN")).map(_.asInt).getOrElse(3),
          Option(n.get("minDf")).map(_.asInt).getOrElse(2))
      // incremental ingest dedup against a stored corpus (parquet path).
      // Unlike the streaming ingests (micro-batches, bounded by
      // construction), a batch task's increment is an arbitrary input, so
      // the broadcast admission is guarded: past `broadcastKeyLimit`
      // distinct content hashes (default 50M ≈ 800 MB of md5s, well under
      // Spark's 8 GB broadcast hard limit) it falls back to the shuffled
      // anti-join — slower, but a huge daily increment completes instead
      // of failing the broadcast
      case "dedupIncremental" =>
        val corpus = df.sparkSession.read.parquet(str(n, "target"))
        graft.ext.Dedup.incrementalExact(df, corpus,
          strSeq(n, "columns"), str(n, "key"),
          maxBroadcastKeys = Option(n.get("broadcastKeyLimit"))
            .map(_.asLong).getOrElse(50000000L))
      // near-dup twin of dedupIncremental: build the corpus signature
      // index once (pass-through like ivfBuild, so a sink can follow),
      // then classify each day's batch against it by index alone
      case "dedupNearIndexBuild" =>
        graft.ext.Dedup.buildNearIndex(df, str(n, "key"), str(n, "column"),
          str(n, "path"),
          shingleN = Option(n.get("shingleN")).map(_.asInt).getOrElse(3),
          bands = Option(n.get("bands")).map(_.asInt).getOrElse(4),
          rowsPerBand = Option(n.get("rowsPerBand")).map(_.asInt).getOrElse(4))
        df
      case "dedupNearIncremental" =>
        graft.ext.Dedup.nearDedupIncremental(df, str(n, "key"), str(n, "column"),
          str(n, "path"),
          minJaccard = Option(n.get("minJaccard")).map(_.asDouble).getOrElse(0.8),
          shingleN = Option(n.get("shingleN")).map(_.asInt).getOrElse(3),
          bands = Option(n.get("bands")).map(_.asInt).getOrElse(4),
          rowsPerBand = Option(n.get("rowsPerBand")).map(_.asInt).getOrElse(4),
          checkpointDir = strOpt(n, "checkpointDir"))
      // unigram LM lifecycle (ext/Lm): train+persist is a pass-through
      // like dedupNearIndexBuild so a sink can follow; scoring reads the
      // stamped model (train on one task's relation, score on another's)
      case "lmTrain" =>
        graft.ext.Lm.writeModel(df.sparkSession,
          graft.ext.Lm.unigramModel(df, str(n, "column"),
            Option(n.get("maxVocab")).map(_.asInt).getOrElse(65536)),
          str(n, "path"))
        df
      case "lmScore" =>
        graft.ext.Lm.scoreUnigram(df, str(n, "key"), str(n, "column"),
          graft.ext.Lm.readModel(df.sparkSession, str(n, "path")),
          extraCols = strSeq(n, "carry"))
      case "pplBuckets" =>
        graft.ext.Lm.pplBuckets(df, str(n, "key"), str(n, "column"),
          str(n, "strata"),
          graft.ext.Lm.readModel(df.sparkSession, str(n, "path")),
          lo = Option(n.get("lo")).map(_.asDouble).getOrElse(0.25),
          hi = Option(n.get("hi")).map(_.asDouble).getOrElse(0.75))
      // DSIR selection: `target` is any boolean SQL expression over the
      // row (e.g. "source = 'wiki'")
      case "dsirSelect" =>
        graft.ext.Lm.dsirTopK(df, str(n, "key"), str(n, "column"),
          expr(str(n, "target")), k = n.get("k").asInt,
          buckets = Option(n.get("buckets")).map(_.asInt).getOrElse(256),
          salt = strOpt(n, "salt").getOrElse("graft"))
      // NB quality classifier: `label` is a boolean SQL expression
      case "nbQuality" =>
        graft.ext.Lm.nbTrainScore(df, str(n, "key"), str(n, "column"),
          expr(str(n, "label")),
          trainPerMille = Option(n.get("trainPerMille")).map(_.asInt).getOrElse(600),
          maxVocab = Option(n.get("maxVocab")).map(_.asInt).getOrElse(65536),
          salt = strOpt(n, "salt").getOrElse("graft"))
      // BPE tokenizer lifecycle (ext/Bpe): train+persist the merge table
      // (pass-through), then count in real subword units downstream
      case "bpeTrain" =>
        graft.ext.Bpe.writeMerges(df.sparkSession,
          graft.ext.Bpe.trainMerges(df, str(n, "column"),
            maxMerges = n.get("maxMerges").asInt,
            maxTrainWords = Option(n.get("maxTrainWords")).map(_.asInt)
              .getOrElse(65536)),
          str(n, "path"))
        df
      case "bpeCounts" =>
        graft.ext.Bpe.tokenCounts(df, str(n, "key"), str(n, "column"),
          graft.ext.Bpe.readMerges(df.sparkSession, str(n, "path")))
      // external-tokenizer interop: load a published merges.txt (ranked
      // merge pairs, the public GPT-2 BPE format) and persist it as the
      // stamped artifact bpeCounts reads — token budgets can then be
      // specified in the REAL tokenizer's units
      case "bpeLoad" =>
        graft.ext.Bpe.writeMerges(df.sparkSession,
          graft.ext.Bpe.loadMergesText(df.sparkSession, str(n, "file")),
          str(n, "path"))
        df
      // ingest-time layout ops (sources/Layout): pass-through writers so
      // the task can keep transforming/sinking the same relation
      case "writePartitioned" =>
        graft.sources.Layout.writePartitioned(df, str(n, "path"),
          strSeq(n, "columns"): _*)
        df
      case "writeBucketed" =>
        graft.sources.Layout.writeBucketed(df, str(n, "table"), str(n, "path"),
          n.get("buckets").asInt, str(n, "bucketCol"))
        df
      // ---- retrieval tier (ext/Ivf, ext/Pq, ext/Similarity): declare
      // index-build and batch-search steps in a task file, so the
      // encode-once/search-many deployment shape is config, not code.
      // Build ops persist the index at `path` and pass the corpus-side
      // relation through (assignment/codes), so a sink after them
      // materializes the index-aligned table; search ops treat the task's
      // input as the QUERY relation and read the persisted index.
      case "ivfBuild" =>
        val idx = graft.ext.Ivf.build(df, str(n, "id"), str(n, "vec"),
          nLists = n.get("nLists").asInt,
          maxIter = Option(n.get("maxIter")).map(_.asInt).getOrElse(5),
          fitSampleRows = Option(n.get("fitSampleRows")).map(_.asLong).getOrElse(0L))
        graft.ext.Ivf.writeIndex(idx, str(n, "path"))
        idx.assigned
      case "ivfSearchMany" =>
        val idx = graft.ext.Ivf.readIndex(df.sparkSession, str(n, "path"))
        graft.ext.Ivf.searchMany(idx.assigned, idx, df,
          str(n, "id"), str(n, "vec"),
          k = n.get("k").asInt,
          nProbe = Option(n.get("nProbe")).map(_.asInt).getOrElse(1))
      // daily ingest into a persisted IVF index: assign upstream rows to
      // their nearest existing centroid and append (no refit)
      case "ivfAppend" =>
        graft.ext.Ivf.appendIndex(df.sparkSession, str(n, "path"), df,
          str(n, "id"), str(n, "vec"))
        df
      // maintenance: roll up append-accreted small files (results
      // unchanged; partition pruning preserved on cell-partitioned layouts)
      case "ivfCompact" =>
        graft.ext.Ivf.compactIndex(df.sparkSession, str(n, "path")); df
      case "pqCompact" =>
        graft.ext.Pq.compactIndex(df.sparkSession, str(n, "path")); df
      case "ivfpqCompact" =>
        graft.ext.IvfPq.compactIndex(df.sparkSession, str(n, "path")); df
      case "dedupNearCompact" =>
        graft.ext.Dedup.compactNearIndex(df.sparkSession, str(n, "path"),
          shingleN = Option(n.get("shingleN")).map(_.asInt).getOrElse(3),
          bands = Option(n.get("bands")).map(_.asInt).getOrElse(4),
          rowsPerBand = Option(n.get("rowsPerBand")).map(_.asInt).getOrElse(4))
        df
      // ---- maintenance: ERASURE from persisted indexes. The task's input
      // relation IS the id list (retention sweeps / right-to-be-forgotten
      // batches arrive as a relation like any other); every op is a
      // filtered compaction under the index's commit marker and passes the
      // ids through so a sink can journal what was erased.
      case "ivfErase" =>
        graft.ext.Ivf.deleteFromIndex(df.sparkSession, str(n, "path"),
          str(n, "id"), df.select(str(n, "id")))
        df
      case "pqErase" =>
        graft.ext.Pq.deleteFromIndex(df.sparkSession, str(n, "path"),
          str(n, "id"), df.select(str(n, "id")))
        df
      case "ivfpqErase" =>
        graft.ext.IvfPq.deleteFromIndex(df.sparkSession, str(n, "path"),
          str(n, "id"), df.select(str(n, "id")))
        df
      case "dedupNearErase" =>
        graft.ext.Dedup.deleteFromNearIndex(df.sparkSession, str(n, "path"),
          df.select(str(n, "id")),
          shingleN = Option(n.get("shingleN")).map(_.asInt).getOrElse(3),
          bands = Option(n.get("bands")).map(_.asInt).getOrElse(4),
          rowsPerBand = Option(n.get("rowsPerBand")).map(_.asInt).getOrElse(4))
        df
      case "semanticErase" =>
        graft.ext.Dedup.deleteFromSemanticIndex(df.sparkSession, str(n, "path"),
          df.select(str(n, "id")),
          k = Option(n.get("k")).map(_.asInt).getOrElse(64),
          dim = Option(n.get("dim")).map(_.asInt).getOrElse(64))
        df
      case "searchIndexErase" =>
        graft.ext.SearchIndex.delete(df.sparkSession, str(n, "path"),
          df.select(str(n, "id")))
        df
      // ---- decontamination index lifecycle (ext/Curation): build/append
      // are pass-throughs over the EVAL relation (mirror of
      // dedupNearIndexBuild); classify treats the task's input as the
      // training batch; compact/erase are maintenance like the ANN tiers
      case "decontamIndexBuild" =>
        graft.ext.Curation.buildDecontamIndex(df, str(n, "id"),
          str(n, "column"), str(n, "path"),
          shingleN = Option(n.get("shingleN")).map(_.asInt).getOrElse(3))
        df
      case "decontamIndexAppend" =>
        graft.ext.Curation.appendDecontamIndex(df, str(n, "id"),
          str(n, "column"), str(n, "path"),
          shingleN = Option(n.get("shingleN")).map(_.asInt).getOrElse(3))
        df
      case "decontamIncremental" =>
        graft.ext.Curation.decontaminateIncremental(df, str(n, "id"),
          str(n, "column"), str(n, "path"),
          shingleN = Option(n.get("shingleN")).map(_.asInt).getOrElse(3))
      case "decontamCompact" =>
        graft.ext.Curation.compactDecontamIndex(df.sparkSession, str(n, "path"),
          shingleN = Option(n.get("shingleN")).map(_.asInt).getOrElse(3))
        df
      case "decontamErase" =>
        graft.ext.Curation.deleteFromDecontamIndex(df.sparkSession,
          str(n, "path"), df.select(str(n, "id")),
          shingleN = Option(n.get("shingleN")).map(_.asInt).getOrElse(3))
        df
      // full-text relevance: scan form over the upstream frame
      case "bm25" =>
        graft.ext.Search.bm25TopK(df, str(n, "id"), str(n, "column"),
          strSeq(n, "terms"), k = n.get("k").asInt)
      // persisted BM25 inverted index: tokenize once, query from postings
      case "searchIndexBuild" =>
        graft.ext.SearchIndex.build(df, str(n, "id"), str(n, "column"),
          str(n, "path"),
          nBuckets = Option(n.get("nBuckets")).map(_.asInt).getOrElse(64))
        df
      case "searchIndexAppend" =>
        graft.ext.SearchIndex.append(df, str(n, "id"), str(n, "column"),
          str(n, "path"))
        df
      case "bm25Indexed" =>
        graft.ext.SearchIndex.bm25TopKIndexed(df.sparkSession, str(n, "path"),
          strSeq(n, "terms"), k = n.get("k").asInt,
          idColName = strOpt(n, "id").getOrElse("id"))
      case "searchIndexCompact" =>
        graft.ext.SearchIndex.compact(df.sparkSession, str(n, "path")); df
      case "pqBuild" =>
        val cb = graft.ext.Pq.train(df, str(n, "vec"),
          dim = n.get("dim").asInt, m = n.get("m").asInt,
          codes = Option(n.get("codes")).map(_.asInt).getOrElse(256))
        val codes = graft.ext.Pq.encode(df, str(n, "id"), str(n, "vec"), cb)
        graft.ext.Pq.writeIndex(codes, cb, str(n, "path"))
        codes
      case "pqSearchMany" =>
        val (codes, cb) = graft.ext.Pq.readIndex(df.sparkSession, str(n, "path"))
        graft.ext.Pq.adcTopKMany(codes, cb, str(n, "id"),
          df, str(n, "queryId"), str(n, "vec"), k = n.get("k").asInt)
      // daily ingest into a persisted PQ index (encode with existing
      // codebooks, no retrain)
      case "pqAppend" =>
        graft.ext.Pq.appendIndex(df.sparkSession, str(n, "path"), df,
          str(n, "id"), str(n, "vec"))
        df
      case "ivfpqBuild" =>
        val idx = graft.ext.IvfPq.build(df, str(n, "id"), str(n, "vec"),
          dim = n.get("dim").asInt, m = n.get("m").asInt,
          nLists = n.get("nLists").asInt,
          codes = Option(n.get("codes")).map(_.asInt).getOrElse(256),
          maxIter = Option(n.get("maxIter")).map(_.asInt).getOrElse(5))
        graft.ext.IvfPq.writeIndex(idx, str(n, "path"))
        idx.codes
      case "ivfpqSearchMany" =>
        val idx = graft.ext.IvfPq.readIndex(df.sparkSession, str(n, "path"))
        graft.ext.IvfPq.searchMany(idx, df, str(n, "queryId"), str(n, "vec"),
          k = n.get("k").asInt,
          nProbe = Option(n.get("nProbe")).map(_.asInt).getOrElse(1))
      // daily ingest into a persisted IVF-PQ index (no quantizer refit)
      case "ivfpqAppend" =>
        graft.ext.IvfPq.appendIndex(df.sparkSession, str(n, "path"), df,
          str(n, "id"), str(n, "vec"))
        df
      // ---- real-codec media tier (ext/Media): decode is a per-row codec
      // call with no shuffle, so these compose anywhere in a task chain;
      // production sources pair them with `spark.read.format("binaryFile")`
      case "imageDecode" =>
        graft.ext.Media.decodeImageMeta(df, str(n, "id"), str(n, "column"))
      case "imageDecodeLenient" =>
        graft.ext.Media.decodeImageMetaLenient(df, str(n, "id"), str(n, "column"))
      case "imageResize" =>
        graft.ext.Media.resizeImage(df, str(n, "id"), str(n, "column"),
          tw = n.get("width").asInt, th = n.get("height").asInt)
      case "imageDedupPairs" =>
        graft.ext.Media.dhashNearPairs(df, str(n, "id"), str(n, "hash"),
          maxDist = Option(n.get("maxDist")).map(_.asInt).getOrElse(3),
          bandBits = Option(n.get("bandBits")).map(_.asInt).getOrElse(16))
      case "audioMeta" =>
        graft.ext.Media.decodeAudioMeta(df, str(n, "id"), str(n, "column"))
      case "audioWindows" =>
        graft.ext.Media.audioWindows(df, str(n, "id"), str(n, "column"),
          windowMs = n.get("windowMs").asInt)
      case "videoMeta" =>
        graft.ext.Media.decodeVideoMeta(df, str(n, "id"), str(n, "column"))
      // ISO-BMFF metadata (ftyp/mvhd/tkhd/stts/stsz box walk); MP4 files
      // also flow through videoMetaLenient/videoFrames via the sniff
      case "mp4Meta" =>
        graft.ext.Media.decodeMp4Meta(df, str(n, "id"), str(n, "column"))
      // metadata PII scrub for any supported container (PNG/JPEG/WAV/AVI/
      // MP4). The strict forms THROW on malformed payloads — use the
      // *Lenient twins upstream of ingest sinks (dirty crawls are exactly
      // what their quarantine exists for): source → mediaScrubLenient →
      // ingest strips EXIF GPS before payloads persist, and a corrupt
      // payload flows on unmodified with scrub_ok=false for the ingest's
      // own lenient decode to quarantine WITH content
      case "mediaScrub" =>
        graft.ext.Media.stripMediaMetadata(df, str(n, "id"), str(n, "column"))
      case "imageScrub" =>
        graft.ext.Media.stripImageMetadata(df, str(n, "id"), str(n, "column"))
      case "mediaScrubLenient" =>
        graft.ext.Media.stripMediaMetadataLenient(df, str(n, "id"),
          str(n, "column"))
      case "imageScrubLenient" =>
        graft.ext.Media.stripImageMetadataLenient(df, str(n, "id"),
          str(n, "column"))
      // dirty-crawl twins: malformed payloads quarantine in place
      // (decode_ok/decode_err) instead of failing the task
      case "audioMetaLenient" =>
        graft.ext.Media.decodeAudioMetaLenient(df, str(n, "id"), str(n, "column"))
      case "videoMetaLenient" =>
        graft.ext.Media.decodeVideoMetaLenient(df, str(n, "id"), str(n, "column"))
      // per-frame video decode: LIST(movi)/sample-table walk -> codec
      // decode -> dHash. maxFrames is the hour-long-outlier guard rail:
      // a video over the cap FAILS here (strict) or quarantines in the
      // lenient twin — never silently emits a truncated frame prefix
      case "videoFrames" =>
        graft.ext.Media.videoFrames(df, str(n, "id"), str(n, "column"),
          maxFrames = Option(n.get("maxFrames")).map(_.asInt)
            .getOrElse(Int.MaxValue))
      case "videoFramesLenient" =>
        graft.ext.Media.videoFramesLenient(df, str(n, "id"), str(n, "column"),
          maxFrames = Option(n.get("maxFrames")).map(_.asInt)
            .getOrElse(Int.MaxValue))
      // stss sync-sample (keyframe) decode: scene representatives WITHOUT
      // decoding every frame — the MP4-side sampling economy. maxFrames
      // caps the KEYFRAME count: without it the no-stss / all-intra-stss
      // degenerate shapes silently become a full unbounded decode
      case "mp4Keyframes" =>
        graft.ext.Media.mp4Keyframes(df, str(n, "id"), str(n, "column"),
          maxFrames = Option(n.get("maxFrames")).map(_.asInt)
            .getOrElse(Int.MaxValue))
      case "mp4KeyframesLenient" =>
        graft.ext.Media.mp4KeyframesLenient(df, str(n, "id"), str(n, "column"),
          maxFrames = Option(n.get("maxFrames")).map(_.asInt)
            .getOrElse(Int.MaxValue))
      // the videoScenes slot for MP4 corpora: scene table straight off
      // the sync-sample walk, at keyframe-decode cost
      case "mp4Scenes" =>
        graft.ext.Media.mp4Scenes(df, str(n, "id"), str(n, "column"),
          maxFrames = Option(n.get("maxFrames")).map(_.asInt)
            .getOrElse(Int.MaxValue))
      case "mp4ScenesLenient" =>
        graft.ext.Media.mp4ScenesLenient(df, str(n, "id"), str(n, "column"),
          maxFrames = Option(n.get("maxFrames")).map(_.asInt)
            .getOrElse(Int.MaxValue))
      // media-dedup signature-index lifecycle (the streaming ingest
      // families): compaction under daily appends; erasure by id
      case "mediaSigCompact" =>
        graft.ext.Media.compactSigIndex(df.sparkSession, str(n, "path"))
        df
      case "mediaSigErase" =>
        graft.ext.Media.eraseSigIndex(df.sparkSession, str(n, "path"),
          str(n, "id"), df.select(str(n, "id")))
        df
      // WARC/PDF ingest identity-index lifecycle: compaction under daily
      // appends; erasure by content hash (the task's input relation IS the
      // __h list, like every other erase op here)
      case "hashIndexCompact" =>
        graft.streaming.Streams.compactHashIndex(df.sparkSession, str(n, "path"))
        df
      case "hashIndexErase" =>
        graft.streaming.Streams.eraseHashIndex(df.sparkSession, str(n, "path"),
          df.select(str(n, "hash")))
        df
      // scene-cut detection + scene index over a videoFrames table
      case "videoScenes" =>
        graft.ext.Media.videoScenes(df, str(n, "id"), str(n, "frameIdx"),
          str(n, "hash"),
          cutDist = Option(n.get("cutDist")).map(_.asInt).getOrElse(16))
      // frame-hash video dedup over a videoFrames table: exact shared
      // frames (trims/re-containered copies) or Hamming-clustered
      // representatives (re-encoded copies, clustered=true)
      case "videoDedupPairs" =>
        val id = str(n, "id"); val hash = str(n, "hash")
        val minShared = Option(n.get("minShared")).map(_.asInt).getOrElse(2)
        val maxHashFreq = Option(n.get("maxHashFreq")).map(_.asInt).getOrElse(1000)
        if (Option(n.get("clustered")).exists(_.asBoolean))
          graft.ext.Media.videoNearPairsClustered(df, id, hash,
            maxDist = Option(n.get("maxDist")).map(_.asInt).getOrElse(3),
            minShared = minShared, maxHashFreq = maxHashFreq)
        else graft.ext.Media.videoNearPairs(df, id, hash,
          minShared = minShared, maxHashFreq = maxHashFreq)
      case "imageStats" =>
        graft.ext.Media.imageStats(df, str(n, "id"), str(n, "column"))
      case "imageAHash" =>
        graft.ext.Media.imageAHash(df, str(n, "id"), str(n, "column"))
      case "audioEnergy" =>
        graft.ext.Media.audioEnergy(df, str(n, "id"), str(n, "column"),
          windowMs = n.get("windowMs").asInt)
      // gain-invariant acoustic fingerprint: the 64-bit `afp` column pairs
      // with `imageDedupPairs` (hash: afp) — the Hamming tier is
      // modality-agnostic
      case "audioFingerprint" =>
        graft.ext.Media.audioFingerprint(df, str(n, "id"), str(n, "column"),
          windowMs = Option(n.get("windowMs")).map(_.asInt).getOrElse(20))
      // WARC crawl ingestion (sources/Warc): explode archive files (from a
      // binaryFile source) into records / HTTP page responses — one row
      // per record, gzip members inflated in place, no shuffle
      case "warcRecords" =>
        graft.sources.Warc.warcRecords(df, str(n, "id"), str(n, "column"))
      case "warcRecordsLenient" =>
        graft.sources.Warc.warcRecordsLenient(df, str(n, "id"), str(n, "column"))
      case "warcResponses" =>
        graft.sources.Warc.warcResponses(df, str(n, "id"), str(n, "column"))
      // PDF text extraction (ext/Pdf): one row per content stream; pairs
      // with a binaryFile source the same way the media/WARC ops do
      case "pdfText" =>
        graft.ext.Pdf.pdfText(df, str(n, "id"), str(n, "column"))
      case "pdfTextLenient" =>
        graft.ext.Pdf.pdfTextLenient(df, str(n, "id"), str(n, "column"))
      // C4 crawl cleaning (Raffel et al. 2020 §2.2): line rule rewrites the
      // text column in place; the page gate filters on the cleaned text
      case "c4Clean" =>
        val c = str(n, "column")
        df.withColumn(c, graft.functions.TextFunctions.c4CleanLines(col(c)))
      // Bloom membership dedup: build persists the corpus bitmap (df
      // passes through unchanged); flag/filter classify against it
      // map-only; append ORs a batch's bits into the stored bitmap
      case "bloomBuild" =>
        graft.ext.Bloom.writeBits(df.sparkSession, str(n, "path"),
          graft.ext.Bloom.build(df, str(n, "column"),
            k = n.get("k").asInt, mBits = n.get("mBits").asLong))
        df
      case "bloomFlag" =>
        graft.ext.Bloom.flagDuplicates(df, str(n, "column"),
          graft.ext.Bloom.readBits(df.sparkSession, str(n, "path")),
          k = n.get("k").asInt, mBits = n.get("mBits").asLong)
      case "bloomFilter" =>
        graft.ext.Bloom.filterNovel(df, str(n, "column"),
          graft.ext.Bloom.readBits(df.sparkSession, str(n, "path")),
          k = n.get("k").asInt, mBits = n.get("mBits").asLong)
      case "bloomAppend" =>
        val sp = df.sparkSession; val p = str(n, "path")
        graft.ext.Bloom.writeBits(sp, p, graft.ext.Bloom.orInto(
          graft.ext.Bloom.readBits(sp, p),
          graft.ext.Bloom.build(df, str(n, "column"),
            k = n.get("k").asInt, mBits = n.get("mBits").asLong)))
        df
      // the documented Bloom erasure path, now YAML-declarable: a plain
      // bitmap cannot forget single documents (bits are shared), so erase =
      // rebuild the bitmap from the SURVIVING corpus flowing in as df.
      // Refuses to "rebuild" a bitmap that never existed — a path typo must
      // fail loudly, not silently fork a second index
      case "bloomRebuild" =>
        val sp = df.sparkSession; val p = str(n, "path")
        require(graft.ext.IndexFormat.dataExists(sp, p),
          s"bloomRebuild: no existing bitmap at $p (use bloomBuild to create one)")
        graft.ext.Bloom.writeBits(sp, p,
          graft.ext.Bloom.build(df, str(n, "column"),
            k = n.get("k").asInt, mBits = n.get("mBits").asLong))
        df
      case "c4Filter" =>
        val words = Option(n.get("badWords"))
          .map(_ => strSeq(n, "badWords"))
          .getOrElse(graft.functions.TextFunctions.DefaultBadWords)
        df.filter(graft.functions.TextFunctions.c4Keep(col(str(n, "column")), words))
      // data-quality gate: fail the task if any rule has violations
      // (minRows guards empty upstreams that row-level rules cannot see)
      case "expect" =>
        graft.operators.Expectations.enforce(df,
          strPairs(n, "rules").map { case (name, e) => name -> expr(e) },
          Option(n.get("minRows")).map(_.asLong).getOrElse(0L))
      case other => throw new IllegalArgumentException(s"unknown transform op: $other")
    }

  private def sink(df: DataFrame, n: JsonNode, streaming: Boolean = false,
                   batchId: Long = 0L): Unit = {
    // micro-batches APPEND by default (overwrite would keep only the last
    // batch); batch tasks default to overwrite, the reference's semantics
    val mode = strOpt(n, "mode").map(SaveMode.valueOf)
      .getOrElse(if (streaming) SaveMode.Append else SaveMode.Overwrite)
    // Ingest-sink quarantine partition id. A streaming replay must rewrite
    // the SAME partition (the checkpointed micro-batch id — that is what
    // makes replays idempotent instead of double-appending), but a
    // one-shot batch task has no checkpoint: at a fixed batchId=0 every
    // rerun would Overwrite quarantine/batch_id=0 and destroy the prior
    // run's quarantined payloads — the exact triage data the
    // payload-carrying quarantine exists to keep. Batch tasks therefore
    // get a per-run id: YAML `batchId` when pinned (reproducible reruns
    // that SHOULD replace their own quarantine), else the run's wall-clock
    // millis. Admission stays idempotent either way — replayed content
    // re-classifies as a dup regardless of the quarantine partition name.
    lazy val ingestBatchId =
      if (streaming) batchId
      else Option(n.get("batchId")).map(_.asLong)
        .getOrElse(System.currentTimeMillis())
    str(n, "type") match {
      case "parquet" => FileSink.parquet(df, str(n, "path"), mode)
      // partition-pruned keyed MERGE into a partitioned parquet table
      // (rewrites only the partitions this batch touches)
      case "upsertParquet" =>
        graft.operators.Sync.upsertPartitioned(df.sparkSession, str(n, "path"),
          df, strSeq(n, "keys"), str(n, "partitionCol"),
          Option(n.get("maxPartitions")).map(_.asInt).getOrElse(1000))
      case "orc"     => FileSink.orc(df, str(n, "path"), mode)
      case "csv"     => FileSink.csv(df, str(n, "path"), header = true, mode)
      case "json"    => FileSink.json(df, str(n, "path"), mode)
      case "jsonl"   => FileSink.jsonlSized(df, str(n, "path"),
        Option(n.get("maxRecordsPerFile")).map(_.asLong).getOrElse(1000000L),
        strOpt(n, "compression"), mode)
      case "xml"     => FileSink.xml(df, str(n, "path"),
        rowTag = strOpt(n, "rowTag").getOrElse("row"), mode = mode)
      case "console" => graft.sources.Sinks.console(df, 20,
        strOpt(n, "encoding").getOrElse("text"))
      // Sinks\Pdo batch insert (append/overwrite per `mode`)
      case "jdbc" =>
        graft.sources.JdbcSink.append(df, str(n, "url"), str(n, "table"),
          mode = if (mode == SaveMode.Overwrite && !streaming) SaveMode.Overwrite
                 else SaveMode.Append)
      // ---- exactly-once ingest sinks (streaming/Streams *Batch bodies):
      // the reference's whole identity is pipeline-as-config
      // (`src/Scheduler.php:27-30`), so the best tier of the engine — the
      // persisted-identity crawl ingests — must be declarable, not
      // API-only. Each sink delivers THIS micro-batch through the
      // idempotent batch function; the surrounding foreachBatch +
      // checkpoint (deliver() above) supplies the replay loop, and
      // replayed batches admit nothing by construction. In a batch task
      // the same sink is a one-shot ingest at batch_id=0.
      case "ingestWarc" =>
        graft.streaming.Streams.ingestWarcBatch(df, ingestBatchId,
          str(n, "corpus"), str(n, "index"), str(n, "quarantine"),
          str(n, "id"), str(n, "column"))
      case "ingestPdf" =>
        graft.streaming.Streams.ingestPdfBatch(df, ingestBatchId,
          str(n, "corpus"), str(n, "index"), str(n, "quarantine"),
          str(n, "id"), str(n, "column"))
      case "ingestImageDedup" =>
        graft.streaming.Streams.ingestImageDedupBatch(df, ingestBatchId,
          str(n, "corpus"), str(n, "index"), str(n, "quarantine"),
          str(n, "id"), str(n, "column"),
          maxDist = Option(n.get("maxDist")).map(_.asInt).getOrElse(3),
          bandBits = Option(n.get("bandBits")).map(_.asInt).getOrElse(16))
      case "ingestAudioDedup" =>
        graft.streaming.Streams.ingestAudioDedupBatch(df, ingestBatchId,
          str(n, "corpus"), str(n, "index"), str(n, "quarantine"),
          str(n, "id"), str(n, "column"),
          windowMs = Option(n.get("windowMs")).map(_.asInt).getOrElse(20),
          maxDist = Option(n.get("maxDist")).map(_.asInt).getOrElse(3),
          bandBits = Option(n.get("bandBits")).map(_.asInt).getOrElse(16))
      case "ingestVideoDedup" =>
        graft.streaming.Streams.ingestVideoDedupBatch(df, ingestBatchId,
          str(n, "corpus"), str(n, "index"), str(n, "quarantine"),
          str(n, "id"), str(n, "column"),
          minShared = Option(n.get("minShared")).map(_.asInt).getOrElse(2),
          maxHashFreq = Option(n.get("maxHashFreq")).map(_.asInt).getOrElse(1000),
          // hour-long-outlier guard: finite by default (over-cap videos
          // quarantine with payload); raise per-pipeline when a corpus
          // legitimately carries longer files
          maxFrames = Option(n.get("maxFrames")).map(_.asInt)
            .getOrElse(graft.streaming.Streams.DefaultMaxFramesPerVideo),
          // admit: fullFrame (default, max recall) | keyframe (MP4s
          // classify on stss sync-sample signatures — hour-long files
          // admit on a few hundred decodes instead of quarantining at
          // the cap; subset signatures, see ingestVideoDedup's mode note)
          admit = Option(n.get("admit")).map(_.asText)
            .getOrElse("fullFrame"))
      // Sinks\RdKafka producer (jar-guarded both ways; streaming tasks get
      // the checkpointed writeStream form)
      case "kafka" =>
        if (streaming) {
          graft.sources.Sinks.kafkaStream(df, str(n, "servers"),
            str(n, "topic"), str(n, "checkpoint"))
          ()
        } else graft.sources.Sinks.kafka(df, str(n, "servers"), str(n, "topic"))
      case other => throw new IllegalArgumentException(s"unknown sink type: $other")
    }
  }
}
