package graft.core

import java.nio.file.Files

import graft.SparkSpec

class ConfigSpec extends SparkSpec {
  import spark.implicits._

  test("yaml task builds a source → transforms → sink pipeline") {
    val dir = tempDir("graft_cfg_")
    Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)).toDF("id", "name", "amount")
      .write.parquet(s"$dir/in")
    val yaml =
      s"""name: demo
         |source:
         |  type: parquet
         |  path: $dir/in
         |transforms:
         |  - op: filter
         |    expr: "amount > 10"
         |  - op: include
         |    columns:
         |      id: id
         |      doubled: "amount * 2"
         |  - op: addField
         |    fields:
         |      src: "'yaml'"
         |  - op: map
         |    columns:
         |      doubled: amt2
         |sink:
         |  type: parquet
         |  path: $dir/out
         |""".stripMargin
    Config.run(spark, yaml)
    val out = spark.read.parquet(s"$dir/out")
    assert(out.columns.toSeq == Seq("id", "amt2", "src"))
    assert(out.orderBy("id").as[(Int, Double, String)].collect().toSeq ==
      Seq((2, 40.0, "yaml"), (3, 60.0, "yaml")))
  }

  test("latestVersion and delWhere ops compose from config") {
    val dir = tempDir("graft_cfg_")
    Seq((1, "k1", 1), (2, "k1", 2), (3, "k2", 1)).toDF("id", "key", "ver")
      .write.parquet(s"$dir/in")
    val yaml =
      s"""source: {type: parquet, path: $dir/in}
         |transforms:
         |  - op: latestVersion
         |    pk: [key]
         |    version: [ver]
         |  - op: delWhere
         |    where: "key = 'k2'"
         |""".stripMargin
    val out = Config.run(spark, yaml)
    assert(out.as[(Int, String, Int)].collect().toSeq == Seq((2, "k1", 2)))
  }

  test("jdbc source + query transform + jdbc sink round-trip through Derby") {
    System.setProperty("derby.stream.error.file", "/tmp/graft_test_derby.log")
    val dir = tempDir("graft_cfg_jdbc_")
    val url = s"jdbc:derby:$dir/db;create=true"
    graft.sources.JdbcSink.append(
      Seq((1, "a", 5.0), (2, "a", 15.0), (3, "b", 30.0)).toDF("id", "k", "x"),
      url, "src_t", mode = org.apache.spark.sql.SaveMode.Overwrite)
    val yaml =
      s"""source: {type: jdbc, url: "$url", table: src_t}
         |transforms:
         |  - op: query
         |    where: "x > 5"
         |    groupBy: [k]
         |    agg:
         |      total: "sum(x)"
         |    orderBy: [k]
         |sink: {type: jdbc, url: "$url", table: out_t, mode: Overwrite}
         |""".stripMargin
    Config.run(spark, yaml)
    val back = graft.sources.JdbcSource.read(spark, url, "out_t")
    assert(back.orderBy("k").as[(String, Double)].collect().toSeq ==
      Seq(("a", 15.0), ("b", 30.0)))
  }

  test("lineparser source with dataLines parses from config") {
    val dir = tempDir("graft_cfg_lp_")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/f.csv"),
      "a,b\nskip,skip\n1,2\n3,4\n".getBytes("UTF-8"))
    val yaml =
      s"""source:
         |  type: lineparser
         |  path: $dir/f.csv
         |  headLine: 1
         |  dataLines: [3]
         |""".stripMargin
    val out = Config.run(spark, yaml)
    assert(out.orderBy("a").as[(String, String)].collect().toSeq ==
      Seq(("1", "2"), ("3", "4")))
  }

  test("curation ops run from config: split + mixture + clean + dedup") {
    val dir = tempDir("graft_cfg_cur_")
    (1L to 200L).map(i => (i, s"src${i % 2}", s"<b>text</b>  body $i"))
      .toDF("id", "source", "text").write.parquet(s"$dir/docs")
    val yaml =
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - op: clean
         |    column: text
         |  - op: dedupExact
         |    columns: [text]
         |    key: id
         |  - op: mixture
         |    key: id
         |    strata: source
         |    rates:
         |      src0: 1000
         |    defaultPerMille: 0
         |  - op: split
         |    key: id
         |""".stripMargin
    val out = Config.run(spark, yaml)
    val rows = out.select("id", "source", "text", "split")
      .as[(Long, String, String, String)].collect()
    assert(rows.nonEmpty && rows.forall(_._2 == "src0"))      // mixture kept src0 only
    assert(rows.forall(r => r._3 == s"text body ${r._1}"))    // tags stripped, ws collapsed
    assert(rows.map(_._4).toSet.subsetOf(Set("train", "val", "test")))
    // deterministic: same yaml → same ids
    val again = Config.run(spark, yaml).select("id").as[Long].collect().toSet
    assert(again == rows.map(_._1).toSet)
  }

  test("web-crawl ops from config: htmlExtract + gopherFilter + urlDedup + domainFilter") {
    val dir = tempDir("graft_cfg_web_")
    val body = (Seq.fill(20)("the quick brown fox jumps with zeal") :+ "of it").mkString(" ")
    Seq(
      (1L, "https://a.com/p?b=2&a=1", s"<html><body><p>$body</p></body></html>"),
      // same page, decorated URL — urlDedup must drop it
      (2L, "HTTPS://A.com:443/p/?a=1&utm_source=s&b=2#f", s"<p>$body other</p>"),
      // blocklisted domain
      (3L, "https://x.spam.net/z", s"<p>$body</p>"),
      // fails the Gopher word-count floor after extraction
      (4L, "https://a.com/short", "<p>the tiny of doc</p>"))
      .toDF("id", "url", "html").write.parquet(s"$dir/docs")
    val yaml =
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - op: htmlExtract
         |    column: html
         |    as: text
         |  - op: domainFilter
         |    column: url
         |    blocked: [spam.net]
         |  - op: urlDedup
         |    key: id
         |    column: url
         |  - op: gopherFilter
         |    column: text
         |    minWords: 50
         |    minStopHits: 2
         |""".stripMargin
    val rows = Config.run(spark, yaml).select("id").as[Long].collect().toSeq
    assert(rows == Seq(1L))
  }

  test("chunkSentences + packFfd ops and the upsertParquet sink from config") {
    val dir = tempDir("graft_cfg_pack_")
    Seq((1L, "d1", "one two three. four five six! seven eight nine?"),
        (2L, "d1", "a b. c d."),
        (3L, "d2", "x y z."))
      .toDF("id", "day", "text").write.parquet(s"$dir/docs")
    // sentence chunking from YAML
    val chunks = Config.run(spark,
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - {op: chunkSentences, key: id, column: text, maxTokens: 6}
         |""".stripMargin)
    assert(chunks.columns.toSeq == Seq("id", "chunk_idx", "chunk"))
    assert(chunks.count() > 3)  // at least one doc split into several chunks
    // FFD packing from YAML (token counts via addField expression first)
    val packed = Config.run(spark,
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - op: addField
         |    fields:
         |      toks: "size(split(text, ' '))"
         |  - {op: packFfd, key: id, tokens: toks, maxTokensPerBin: 12, shards: 1}
         |""".stripMargin)
    assert(packed.columns.contains("bin") && packed.count() == 3)
    // upsertParquet sink: seed a partitioned table, merge an update batch
    Seq((1L, "d1", "SEED"), (9L, "d3", "other"))
      .toDF("id", "day", "text").write.partitionBy("day").parquet(s"$dir/table")
    Config.run(spark,
      s"""source: {type: parquet, path: $dir/docs}
         |transforms: [{op: filter, expr: "day = 'd1'"}]
         |sink: {type: upsertParquet, path: $dir/table, keys: [id], partitionCol: day}
         |""".stripMargin)
    val after = spark.read.parquet(s"$dir/table")
      .select("id", "text").as[(Long, String)].collect().toMap
    assert(after(1L) != "SEED" && after.contains(2L) && after(9L) == "other")
  }

  test("sample op from config is a pure filter of the source") {
    val dir = tempDir("graft_cfg_smp_")
    (1L to 500L).toDF("id").write.parquet(s"$dir/in")
    val out = Config.run(spark,
      s"source: {type: parquet, path: $dir/in}\ntransforms: [{op: sample, key: id, perMille: 100}]")
    val n = out.count()
    assert(n > 20 && n < 100)
  }

  test("config expressions can call graft SQL functions (quality gate from YAML)") {
    val dir = tempDir("graft_cfg_fn_")
    Seq((1L, ("word " * 150).trim), (2L, "!!! ... !!!"))
      .toDF("id", "text").write.parquet(s"$dir/docs")
    val yaml =
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - op: addField
         |    fields:
         |      quality_pm: "graft_quality_pm(text)"
         |      n_tok: "graft_token_count(text)"
         |  - op: filter
         |    expr: "quality_pm >= 500"
         |""".stripMargin
    val out = Config.run(spark, yaml)
    assert(out.select("id").as[Long].collect().toSeq == Seq(1L))
    assert(out.select("n_tok").as[Long].head() == 150L)
  }

  test("pure-JSON task configs parse (reference JsonParser parity)") {
    // the reference ships YamlParser + JsonParser; YAML 1.2 is a JSON
    // superset, so one parser covers both — pin that with a real JSON doc
    val dir = tempDir("graft_cfg_json_")
    Seq((1, "a"), (2, "b")).toDF("id", "v").write.parquet(s"$dir/in")
    val json =
      s"""{"name": "t1",
         | "source": {"type": "parquet", "path": "$dir/in"},
         | "transforms": [{"op": "filter", "expr": "id > 1"}]}""".stripMargin
    val out = Config.run(spark, json)
    assert(out.select("v").as[String].collect().toSeq == Seq("b"))
  }

  test("the same task as YAML and as JSON builds the identical plan and result") {
    val dir = tempDir("graft_cfg_parity_")
    Seq((1, 10.0, "x"), (2, 20.0, "y"), (3, 30.0, "z")).toDF("id", "v", "s")
      .write.parquet(s"$dir/in")
    val yaml =
      s"""name: parity
         |source: {type: parquet, path: $dir/in}
         |transforms:
         |  - op: filter
         |    expr: id >= 2
         |  - op: addField
         |    fields: {dbl: "v * 2"}
         |  - op: map
         |    columns: {s: tag}
         |""".stripMargin
    val json =
      s"""{"name": "parity",
         | "source": {"type": "parquet", "path": "$dir/in"},
         | "transforms": [
         |   {"op": "filter", "expr": "id >= 2"},
         |   {"op": "addField", "fields": {"dbl": "v * 2"}},
         |   {"op": "map", "columns": {"s": "tag"}}]}""".stripMargin
    val fromYaml = Config.run(spark, yaml)
    val fromJson = Config.run(spark, json)
    // identical OPTIMIZED plan (canonicalized normalizes expr ids), not
    // just identical rows — the two texts must be one task, not two
    // tasks that happen to agree on this input
    assert(fromYaml.queryExecution.optimizedPlan.canonicalized ==
      fromJson.queryExecution.optimizedPlan.canonicalized)
    val rows = fromYaml.orderBy("id").collect().toSeq
    assert(rows == fromJson.orderBy("id").collect().toSeq)
    assert(fromYaml.columns.toSeq == Seq("id", "v", "tag", "dbl"))
  }

  test("sinks: fan-out delivers the same result to every target") {
    val dir = tempDir("graft_cfg_fan_")
    Seq((1, "a"), (2, "b")).toDF("id", "v").write.parquet(s"$dir/in")
    val yaml =
      s"""source: {type: parquet, path: $dir/in}
         |sinks:
         |  - {type: parquet, path: $dir/out_pq}
         |  - {type: csv, path: $dir/out_csv}
         |""".stripMargin
    Config.run(spark, yaml)
    assert(spark.read.parquet(s"$dir/out_pq").count() == 2)
    assert(spark.read.option("header", "true").csv(s"$dir/out_csv").count() == 2)
  }

  test("chunk + pack ops compose from config (context-window prep)") {
    val dir = tempDir("graft_cfg_chunk_")
    (1L to 20L).map(i => (i, ("tok " * 100).trim)).toDF("doc_id", "text")
      .write.parquet(s"$dir/docs")
    val yaml =
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - op: chunk
         |    key: doc_id
         |    column: text
         |    chunkTokens: 64
         |    overlapTokens: 16
         |  - op: addField
         |    fields: {n_tok: "graft_token_count(chunk)"}
         |  - op: pack
         |    key: chunk_idx
         |    tokens: n_tok
         |    maxTokensPerBin: 256
         |    shards: 2
         |""".stripMargin
    val out = Config.run(spark, yaml)
    assert(out.count() == 20 * 3)   // 100 tokens, step 48 → 3 chunks each
    assert(out.columns.toSet.contains("bin"))
  }

  test("multi-task DAG: tasks feed tasks, each task can sink independently") {
    val dir = tempDir("graft_cfg_dag_")
    (1L to 100L).map(i => (i, i % 10)).toDF("id", "grp")
      .write.parquet(s"$dir/in")
    val yaml =
      s"""tasks:
         |  - name: base
         |    source: {type: parquet, path: $dir/in}
         |    transforms: [{op: filter, expr: "id > 50"}]
         |  - name: agg
         |    source: {type: task, name: base}
         |    transforms:
         |      - op: query
         |        groupBy: [grp]
         |        agg: {n: "count(*)"}
         |    sink: {type: parquet, path: $dir/agg_out}
         |  - name: sample
         |    source: {type: task, name: base}
         |    transforms: [{op: sample, key: id, perMille: 500}]
         |    sink: {type: parquet, path: $dir/sample_out}
         |""".stripMargin
    val out = Config.runAll(spark, yaml)
    assert(out.keySet == Set("base", "agg", "sample"))
    assert(spark.read.parquet(s"$dir/agg_out").as[(Long, Long)]
      .collect().map(_._2).sum == 50L)
    assert(spark.read.parquet(s"$dir/sample_out").count() > 0)
    val e = intercept[IllegalArgumentException] {
      Config.runAll(spark,
        "tasks: [{name: x, source: {type: task, name: missing}}]")
    }
    assert(e.getMessage.contains("undefined task"))
  }

  test("expect op gates delivery on data-quality rules") {
    val dir = tempDir("graft_cfg_dq_")
    Seq((1, 5), (2, -3)).toDF("id", "n").write.parquet(s"$dir/in")
    val ok = Config.run(spark,
      s"""source: {type: parquet, path: $dir/in}
         |transforms: [{op: expect, rules: {id_pos: "id > 0"}}]
         |""".stripMargin)
    assert(ok.count() == 2)
    val e = intercept[IllegalStateException] {
      Config.run(spark,
        s"""source: {type: parquet, path: $dir/in}
           |transforms: [{op: expect, rules: {n_pos: "n > 0"}}]
           |""".stripMargin)
    }
    assert(e.getMessage.contains("n_pos=1"))
    // minRows catches an empty upstream that row rules sail past
    val e2 = intercept[IllegalStateException] {
      Config.run(spark,
        s"""source: {type: parquet, path: $dir/in}
           |transforms:
           |  - {op: filter, expr: "id > 99"}
           |  - {op: expect, rules: {id_pos: "id > 0"}, minRows: 1}
           |""".stripMargin)
    }
    assert(e2.getMessage.contains("minRows"))
  }

  test("shuffle op from config orders by the epoch permutation key") {
    val dir = tempDir("graft_cfg_shuf_")
    (1L to 200L).toDF("id").write.parquet(s"$dir/in")
    val out = Config.run(spark,
      s"""source: {type: parquet, path: $dir/in}
         |transforms: [{op: shuffle, key: id, salt: ep1, partitions: 3}]
         |""".stripMargin)
    val keys = out.select("shuffle_key").collect().map(_.getString(0)).toSeq
    assert(keys == keys.sorted && keys.size == 200)
  }

  test("sourceCap + weightedSample + spanStats + dedupIncremental from config") {
    val dir = tempDir("graft_cfg_cap_")
    (1L to 100L).map(i => (i, s"src${i % 2}", s"alpha beta gamma word$i tail$i"))
      .toDF("id", "source", "text").write.parquet(s"$dir/docs")
    // corpus for the incremental dedup: holds the text of ids 1..10
    (1L to 10L).map(i => (i + 500, s"alpha beta gamma word$i tail$i"))
      .toDF("id", "text").write.parquet(s"$dir/corpus")

    val capped = Config.run(spark,
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - {op: sourceCap, strata: source, score: id, tie: id, cap: 5}
         |""".stripMargin)
    assert(capped.count() == 10)
    assert(capped.groupBy("source").count().as[(String, Long)]
      .collect().forall(_._2 == 5))

    val weighted = Config.run(spark,
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - {op: weightedSample, key: id, weight: "CASE WHEN id <= 50 THEN 1000 ELSE 0 END"}
         |""".stripMargin)
    assert(weighted.select("id").as[Long].collect().toSet == (1L to 50L).toSet)

    val stats = Config.run(spark,
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - {op: spanStats, key: id, column: text}
         |""".stripMargin)
    // "alpha beta gamma" appears in every doc → every doc has ≥1 dup shingle
    assert(stats.filter($"dup_shingles" >= 1).count() == 100)

    val fresh = Config.run(spark,
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - {op: dedupIncremental, key: id, columns: [text], target: $dir/corpus}
         |""".stripMargin)
    assert(fresh.select("id").as[Long].collect().toSet == (11L to 100L).toSet)
  }

  test("tokenBudget and rareTokens ops run from config") {
    val dir = tempDir("graft_cfg_tb_")
    (1L to 40L).map(i => (i, if (i <= 30) "en" else "code",
      s"common words here plus unique$i", 10L))
      .toDF("id", "lang", "text", "toks").write.parquet(s"$dir/docs")

    val budgeted = Config.run(spark,
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - {op: tokenBudget, key: id, strata: lang, tokens: toks,
         |     budgets: {en: 100}, default: 50}
         |""".stripMargin)
    val byLang = budgeted.groupBy("lang")
      .agg(org.apache.spark.sql.functions.sum("toks").as("t"))
      .as[(String, Long)].collect().toMap
    assert(byLang("en") <= 100L && byLang("code") <= 50L)

    val rare = Config.run(spark,
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - {op: rareTokens, key: id, column: text, maxCount: 1}
         |""".stripMargin)
    // every doc: 4 shared tokens + 1 corpus-unique token → 200 per mille
    assert(rare.count() == 40)
    assert(rare.filter($"rare_pm" =!= 200L).count() == 0)
  }

  test("infer op scores through a registered model with batch/partition knobs") {
    val dir = tempDir("graft_cfg_infer_")
    (1L to 20L).map(i => (i, "x" * i.toInt)).toDF("id", "text")
      .write.parquet(s"$dir/docs")
    graft.ext.Inference.registerModel("len-model", _.map(_.length.toDouble))
    val scored = Config.run(spark,
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - {op: infer, id: id, input: text, model: len-model,
         |     batchSize: 4, numPartitions: 3, out: n_chars}
         |""".stripMargin)
    // score joins back onto the full row; every id keeps ITS OWN score
    // regardless of batch boundaries and the repartition to 3
    assert(scored.columns.toSeq == Seq("id", "text", "n_chars"))
    assert(scored.as[(Long, String, Double)].collect()
      .forall { case (id, _, s) => s == id.toDouble })
    // an unregistered model name fails fast, naming the seam
    val e = intercept[IllegalArgumentException] {
      Config.run(spark,
        s"""source: {type: parquet, path: $dir/docs}
           |transforms: [{op: infer, id: id, input: text, model: ghost}]
           |""".stripMargin)
    }
    assert(e.getMessage.contains("registerModel"))
  }

  test("idKey kinds from config: ordered (dense), default (unique), snowflake") {
    val dir = tempDir("graft_cfg_idkey_")
    (1 to 50).map(i => (i, s"r$i")).toDF("n", "payload").write.parquet(s"$dir/in")
    def run(op: String) = Config.run(spark,
      s"""source: {type: parquet, path: $dir/in}
         |transforms: [$op]
         |""".stripMargin)
    val ordered = run("{op: idKey, name: rid, order: [n]}")
      .select("n", "rid").as[(Int, Long)].collect().sortBy(_._1)
    assert(ordered.map(_._2).toSeq == (1L to 50L))
    val unique = run("{op: idKey, name: rid}").select("rid").as[Long].collect()
    assert(unique.distinct.length == 50)
    val snow = run("{op: idKey, name: rid, kind: snowflake}")
      .select("rid").as[Long].collect()
    assert(snow.distinct.length == 50 && snow.forall(_ > 0L))
  }

  test("streaming task from config: queue source drains to a parquet sink (cron -1)") {
    val dir = tempDir("graft_cfg_stream_")
    graft.streaming.MessageQueues.clear("cfg_q")
    graft.streaming.MessageQueues.push("cfg_q", "alpha", "beta", "alpha")
    val df = Config.run(spark,
      s"""name: drain
         |cron: -1
         |checkpoint: $dir/ckpt
         |source: {type: queue, name: cfg_q}
         |transforms:
         |  - {op: addField, fields: {src: "'mq'"}}
         |sink: {type: parquet, path: $dir/out}
         |""".stripMargin)
    assert(df.isStreaming)
    val out = spark.read.parquet(s"$dir/out")
    assert(out.columns.toSeq == Seq("offset", "body", "src"))
    assert(out.select("body").as[String].collect().sorted.toSeq ==
      Seq("alpha", "alpha", "beta"))
    // run-once again with the SAME checkpoint: offsets are committed, so a
    // re-run admits nothing new (exactly-once into the idempotent sink)
    Config.run(spark,
      s"""name: drain
         |cron: -1
         |checkpoint: $dir/ckpt
         |source: {type: queue, name: cfg_q}
         |sink: {type: parquet, path: $dir/out2}
         |""".stripMargin)
    // out2 dir may hold no files at all (zero batches) — read via out's schema
    val out2 = scala.util.Try(spark.read.parquet(s"$dir/out2").count()).getOrElse(0L)
    assert(out2 == 0L, s"checkpointed re-run re-admitted $out2 rows")
  }

  test("a run-once streaming task deletes its default checkpoint dir; a continuous one keeps it") {
    val dir = tempDir("graft_cfg_oneshot_")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def ckpts = tmp.listFiles().map(_.getName).filter(_.startsWith("graft_cfg_ckpt_")).toSet
    graft.streaming.MessageQueues.clear("cfg_ckpt_q")
    graft.streaming.MessageQueues.push("cfg_ckpt_q", "alpha", "beta")
    val before = ckpts
    Config.run(spark,
      s"""name: once
         |cron: -1
         |source: {type: queue, name: cfg_ckpt_q}
         |sink: {type: parquet, path: $dir/once}
         |""".stripMargin)
    assert(spark.read.parquet(s"$dir/once").count() == 2L)
    assert(ckpts -- before == Set.empty[String])
    // a continuous task returns with its query running on that dir
    val running = spark.streams.active.map(_.id).toSet
    Config.run(spark,
      s"""name: continuous
         |cron: 1
         |source: {type: queue, name: cfg_ckpt_q}
         |sink: {type: parquet, path: $dir/continuous}
         |""".stripMargin)
    val q = spark.streams.active.filterNot(q => running(q.id)).head
    val kept = ckpts -- before
    try {
      q.processAllAvailable()
      assert(kept.size == 1 && new java.io.File(tmp, kept.head).isDirectory, kept)
    } finally {
      q.stop()
      kept.foreach { name =>
        val paths = Files.walk(new java.io.File(tmp, name).toPath)
        try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally paths.close()
      }
    }
  }

  test("dedupNear op collapses a near-duplicate cluster to one representative") {
    val dir = tempDir("graft_cfg_near_")
    val text = "the quick brown fox jumps over the lazy dog again and again"
    Seq(
      (1L, text), (2L, text),                       // exact dupes of each other
      (3L, text + " extra"),                         // near-dup of 1/2
      (4L, "completely different content here that shares nothing at all"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    val out = Config.run(spark,
      s"""source: {type: parquet, path: $dir/in}
         |transforms:
         |  - {op: dedupNear, key: doc_id, column: text, minJaccard: 0.5}
         |""".stripMargin)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 4L))
  }

  test("dedupNearIndexBuild + dedupNearIncremental classify a batch from config") {
    val dir = tempDir("graft_cfg_nearinc_")
    val text = "the quick brown fox jumps over the lazy dog again and again"
    Seq((1L, text), (2L, "entirely different corpus content with no overlap at all"))
      .toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    Seq((10L, text), (20L, "zz1 zz2 zz3 zz4 zz5 novel"))
      .toDF("doc_id", "text").write.parquet(s"$dir/batch")
    Config.run(spark,
      s"""source: {type: parquet, path: $dir/corpus}
         |transforms:
         |  - {op: dedupNearIndexBuild, key: doc_id, column: text, path: $dir/idx}
         |""".stripMargin).count()
    val out = Config.run(spark,
      s"""source: {type: parquet, path: $dir/batch}
         |transforms:
         |  - {op: dedupNearIncremental, key: doc_id, column: text, path: $dir/idx, minJaccard: 0.5}
         |""".stripMargin)
      .as[(Long, String)].collect().toMap
    assert(out == Map(10L -> "dup_corpus", 20L -> "admitted"))
  }

  test("LM lifecycle from config: train on one task, score/gate/select on another") {
    val dir = tempDir("graft_cfg_lm_")
    Seq((1L, "good clean text", "en"), (2L, "good clean prose", "en"),
      (3L, "zq xv qq", "xx"), (4L, "good text here", "en"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$dir/docs")
    // task 1: train + persist (pass-through)
    Config.run(spark,
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - {op: query, sql: "SELECT * FROM __t WHERE lang = 'en'"}
         |  - {op: lmTrain, column: text, path: $dir/model, maxVocab: 100}
         |""".stripMargin).count()
    // task 2: score everything against the stored model, carrying lang
    val scored = Config.run(spark,
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - {op: lmScore, key: doc_id, column: text, path: $dir/model, carry: [lang]}
         |""".stripMargin)
    val byId = scored.select("doc_id", "avg_lp_milli")
      .as[(Long, Long)].collect().toMap
    assert(byId.size == 4)
    // gibberish (pure OOV) scores strictly below the in-vocabulary docs
    assert(byId(3L) < byId(1L) && byId(3L) < byId(2L) && byId(3L) < byId(4L))
    // dsirSelect: expression-driven target slice, deterministic top-k
    val picked = Config.run(spark,
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - {op: dsirSelect, key: doc_id, column: text, target: "lang = 'en'", k: 2}
         |""".stripMargin).select("doc_id").as[Long].collect().toSet
    assert(picked.size == 2 && !picked.contains(3L))
    // nbQuality: expression-driven labels, held-out scoring runs
    val nb = Config.run(spark,
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - {op: nbQuality, key: doc_id, column: text, label: "lang = 'en'"}
         |""".stripMargin)
    assert(nb.columns.toSeq ==
      Seq("doc_id", "label", "n_tokens", "score_milli", "predicted"))
  }

  test("BPE lifecycle from config: train the merge table, count subword tokens") {
    val dir = tempDir("graft_cfg_bpe_")
    Seq((1L, "aa aa ab"), (2L, "aaab xyz"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Config.run(spark,
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - {op: bpeTrain, column: text, path: $dir/bpe, maxMerges: 10}
         |""".stripMargin).count()
    val out = Config.run(spark,
      s"""source: {type: parquet, path: $dir/docs}
         |transforms:
         |  - {op: bpeCounts, key: doc_id, column: text, path: $dir/bpe}
         |""".stripMargin)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // 10 merges fuse this tiny corpus completely: every word → 1 token
    assert(out == Seq((1L, 3L, 3L), (2L, 2L, 2L)))
  }

  test("search index lifecycle from config: build, append, query, compact") {
    val dir = tempDir("graft_cfg_sidx_")
    Seq((1L, "spark hash join beats sort merge"),
        (2L, "vector similarity search index"))
      .toDF("doc_id", "text").write.parquet(s"$dir/day1")
    Seq((3L, "hash join order at scale"))
      .toDF("doc_id", "text").write.parquet(s"$dir/day2")
    Config.run(spark,
      s"""source: {type: parquet, path: $dir/day1}
         |transforms:
         |  - {op: searchIndexBuild, id: doc_id, column: text, path: $dir/idx, nBuckets: 4}
         |""".stripMargin).count()
    val hits = Config.run(spark,
      s"""source: {type: parquet, path: $dir/day2}
         |transforms:
         |  - {op: searchIndexAppend, id: doc_id, column: text, path: $dir/idx}
         |  - {op: searchIndexCompact, path: $dir/idx}
         |  - {op: bm25Indexed, path: $dir/idx, terms: [hash, join], k: 5, id: doc_id}
         |""".stripMargin)
      .select("doc_id").as[Long].collect().toSet
    assert(hits == Set(1L, 3L))
    // scan form agrees on the union corpus
    val scan = Config.run(spark,
      s"""source: {type: parquet, path: $dir/day1}
         |transforms:
         |  - {op: bm25, id: doc_id, column: text, terms: [hash, join], k: 5}
         |""".stripMargin)
    assert(scan.select("doc_id").as[Long].collect().toSet == Set(1L))
  }

  test("layout ops from config: writePartitioned prunes, writeBucketed joins shuffle-free") {
    val dir = tempDir("graft_cfg_layout_")
    (0L until 40L).map(i => (i, i % 4, s"v$i")).toDF("id", "day", "v")
      .write.parquet(s"$dir/in")
    Config.run(spark,
      s"""source: {type: parquet, path: $dir/in}
         |transforms:
         |  - {op: writePartitioned, path: $dir/by_day, columns: [day]}
         |""".stripMargin).count()
    val pruned = spark.read.parquet(s"$dir/by_day").filter($"day" === 1)
    assert(pruned.count() == 10)
    assert(pruned.queryExecution.executedPlan.collectLeaves().head.toString
      .contains("PartitionFilters"))
    Config.run(spark,
      s"""source: {type: parquet, path: $dir/in}
         |transforms:
         |  - {op: writeBucketed, table: g_cfg_bkt, path: $dir/bkt, buckets: 4, bucketCol: id}
         |""".stripMargin).count()
    assert(spark.table("g_cfg_bkt").count() == 40)
  }

  test("retrieval tier from config: IVF build task + batch-search task find the planted copy") {
    val dir = tempDir("graft_cfg_ivf_")
    // 60 well-separated 8-dim vectors + an exact copy of each (+1000 ids)
    val rnd = new scala.util.Random(7)
    val base = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => if (d == (i % 4).toInt * 2) 10.0f else rnd.nextFloat() * 0.3f).toSeq)
    }
    (base ++ base.map { case (i, v) => (i + 1000L, v) })
      .toDF("vec_id", "vec").write.parquet(s"$dir/corpus")
    base.take(10).toDF("vec_id", "vec").write.parquet(s"$dir/queries")
    val out = Config.runAll(spark,
      s"""tasks:
         |  - name: build
         |    source: {type: parquet, path: $dir/corpus}
         |    transforms:
         |      - {op: ivfBuild, id: vec_id, vec: vec, nLists: 4, maxIter: 2,
         |         path: $dir/ivf}
         |  - name: search
         |    source: {type: parquet, path: $dir/queries}
         |    transforms:
         |      - {op: ivfSearchMany, path: $dir/ivf, id: vec_id, vec: vec,
         |         k: 3, nProbe: 1}
         |    sink: {type: parquet, path: $dir/hits}
         |""".stripMargin)
    assert(out("build").columns.contains("list_id"))
    val hits = spark.read.parquet(s"$dir/hits")
    // every query's exact copy shares its cell → retrieved at cosine 1.0
    val planted = hits.filter($"corpus_id" === $"query_id" + 1000L)
    assert(planted.count() == 10)
    assert(planted.filter($"score" < 1.0).count() == 0)
  }

  test("daily-append task extends a persisted IVF index from config") {
    val dir = tempDir("graft_cfg_ivfapp_")
    val rnd = new scala.util.Random(7)
    val base = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => if (d == (i % 4).toInt * 2) 10.0f else rnd.nextFloat() * 0.3f).toSeq)
    }
    // the copies are NOT in the built corpus — they arrive as a daily batch
    base.toDF("vec_id", "vec").write.parquet(s"$dir/corpus")
    base.take(10).map { case (i, v) => (i + 1000L, v) }
      .toDF("vec_id", "vec").write.parquet(s"$dir/batch")
    base.take(10).toDF("vec_id", "vec").write.parquet(s"$dir/queries")
    Config.runAll(spark,
      s"""tasks:
         |  - name: build
         |    source: {type: parquet, path: $dir/corpus}
         |    transforms:
         |      - {op: ivfBuild, id: vec_id, vec: vec, nLists: 4, maxIter: 2,
         |         path: $dir/ivf}
         |  - name: ingest
         |    source: {type: parquet, path: $dir/batch}
         |    transforms:
         |      - {op: ivfAppend, id: vec_id, vec: vec, path: $dir/ivf}
         |      - {op: ivfCompact, path: $dir/ivf}
         |  - name: search
         |    source: {type: parquet, path: $dir/queries}
         |    transforms:
         |      - {op: ivfSearchMany, path: $dir/ivf, id: vec_id, vec: vec,
         |         k: 3, nProbe: 1}
         |    sink: {type: parquet, path: $dir/hits}
         |""".stripMargin)
    val planted = spark.read.parquet(s"$dir/hits")
      .filter($"corpus_id" === $"query_id" + 1000L)
    assert(planted.count() == 10)
    assert(planted.filter($"score" < 1.0).count() == 0)
  }

  test("retrieval tier from config: IVF-PQ build + probe-pruned batch ADC search") {
    val dir = tempDir("graft_cfg_ivfpq_")
    val rnd = new scala.util.Random(13)
    val base = (0L until 90L).map { i =>
      (i, Array.tabulate(16)(d => if (d / 4 == (i % 3).toInt) 9.0f + rnd.nextFloat() else rnd.nextFloat() * 0.2f).toSeq)
    }
    (base ++ base.map { case (i, v) => (i + 1000L, v) })
      .toDF("vec_id", "vec").write.parquet(s"$dir/corpus")
    base.take(6).toDF("vec_id", "vec").write.parquet(s"$dir/queries")
    Config.runAll(spark,
      s"""tasks:
         |  - name: build
         |    source: {type: parquet, path: $dir/corpus}
         |    transforms:
         |      - {op: ivfpqBuild, id: vec_id, vec: vec, dim: 16, m: 4,
         |         codes: 16, nLists: 3, path: $dir/ivfpq}
         |  - name: search
         |    source: {type: parquet, path: $dir/queries}
         |    transforms:
         |      - {op: ivfpqSearchMany, path: $dir/ivfpq, queryId: vec_id,
         |         vec: vec, k: 3, nProbe: 1}
         |    sink: {type: parquet, path: $dir/hits}
         |""".stripMargin)
    val hits = spark.read.parquet(s"$dir/hits")
    assert(hits.filter($"corpus_id" === $"query_id" + 1000L).count() == 6)
  }

  test("retrieval tier from config: PQ build + batch ADC search from the persisted index") {
    val dir = tempDir("graft_cfg_pq_")
    val rnd = new scala.util.Random(9)
    val base = (0L until 80L).map { i =>
      (i, Array.tabulate(16)(d => if (d / 4 == (i % 4).toInt) 8.0f + rnd.nextFloat() else rnd.nextFloat() * 0.2f).toSeq)
    }
    (base ++ base.map { case (i, v) => (i + 1000L, v) })
      .toDF("vec_id", "vec").write.parquet(s"$dir/corpus")
    base.take(8).toDF("vec_id", "vec").write.parquet(s"$dir/queries")
    Config.runAll(spark,
      s"""tasks:
         |  - name: build
         |    source: {type: parquet, path: $dir/corpus}
         |    transforms:
         |      - {op: pqBuild, id: vec_id, vec: vec, dim: 16, m: 4, codes: 16,
         |         path: $dir/pq}
         |  - name: search
         |    source: {type: parquet, path: $dir/queries}
         |    transforms:
         |      - {op: pqSearchMany, path: $dir/pq, id: vec_id, queryId: vec_id,
         |         vec: vec, k: 4}
         |    sink: {type: parquet, path: $dir/hits}
         |""".stripMargin)
    val hits = spark.read.parquet(s"$dir/hits")
    // the copy encodes to the query's own code → globally minimal ADC
    // distance → must be in every query's top-k
    assert(hits.filter($"corpus_id" === $"query_id" + 1000L).count() == 8)
  }

  test("infer op fails loud on a missing score and collapses duplicate ids deterministically") {
    val dir = tempDir("graft_cfg_infer2_")
    graft.ext.Inference.registerModel("len-model2", _.map(_.length.toDouble))
    // a NULL id can never join its score back — the old inner join silently
    // dropped the row; now the output column itself raises
    Seq((Some(1L), "abc"), (None, "orphan")).toDF("id", "text")
      .write.parquet(s"$dir/null_id")
    val e = intercept[Exception] {
      Config.run(spark,
        s"""source: {type: parquet, path: $dir/null_id}
           |transforms: [{op: infer, id: id, input: text, model: len-model2}]
           |sink: {type: parquet, path: $dir/out1}
           |""".stripMargin)
    }
    assert(e.getMessage.contains("infer: no score") ||
      Option(e.getCause).exists(_.getMessage.contains("infer: no score")))
    // duplicated ids collapse to their MIN score (deterministic), not an
    // arbitrary dropDuplicates survivor
    Seq((5L, "abc"), (5L, "abcdefg"), (6L, "zz")).toDF("id", "text")
      .write.parquet(s"$dir/dup_id")
    val scored = Config.run(spark,
      s"""source: {type: parquet, path: $dir/dup_id}
         |transforms: [{op: infer, id: id, input: text, model: len-model2}]
         |""".stripMargin)
    val byId = scored.as[(Long, String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(byId(5L) == Set(3.0) && byId(6L) == Set(2.0))
  }

  test("httpEnrich wires timeoutMs and the minIntervalMs throttle from config") {
    val dir = tempDir("graft_cfg_http_")
    Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")).toDF("id", "payload")
      .coalesce(1).write.parquet(s"$dir/in")
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/echo", { exchange =>
      val q = exchange.getRequestURI.getQuery
      val body = s"got:${q.stripPrefix("v=")}".getBytes("UTF-8")
      exchange.sendResponseHeaders(200, body.length)
      exchange.getResponseBody.write(body)
      exchange.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val t0 = System.nanoTime()
      val out = Config.run(spark,
        s"""source: {type: parquet, path: $dir/in}
           |transforms:
           |  - {op: httpEnrich, in: payload, out: resp,
           |     url: "http://127.0.0.1:$port/echo?v={}",
           |     timeoutMs: 2000, minIntervalMs: 40}
           |""".stripMargin)
      val resp = out.orderBy("id").select("resp").as[String].collect().toSeq
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(resp == Seq("got:a", "got:b", "got:c", "got:d", "got:e"))
      // 5 calls in one partition at ≥40ms spacing: 4 gaps ≥ 160ms total
      assert(elapsedMs >= 160L, s"elapsed ${elapsedMs}ms — throttle not wired")
    } finally server.stop(0)
  }

  test("erasure from config: ivfErase retires ids from the persisted index") {
    val dir = tempDir("graft_cfg_erase_")
    val rnd = new scala.util.Random(7)
    val base = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => if (d == (i % 4).toInt * 2) 10.0f else rnd.nextFloat() * 0.3f).toSeq)
    }
    (base ++ base.map { case (i, v) => (i + 1000L, v) })
      .toDF("vec_id", "vec").write.parquet(s"$dir/corpus")
    // erase the planted copies of queries 0..4; search for all 10
    (1000L until 1005L).map(Tuple1(_)).toDF("vec_id").write.parquet(s"$dir/erase")
    base.take(10).toDF("vec_id", "vec").write.parquet(s"$dir/queries")
    Config.runAll(spark,
      s"""tasks:
         |  - name: build
         |    source: {type: parquet, path: $dir/corpus}
         |    transforms:
         |      - {op: ivfBuild, id: vec_id, vec: vec, nLists: 4, maxIter: 2,
         |         path: $dir/ivf}
         |  - name: retire
         |    source: {type: parquet, path: $dir/erase}
         |    transforms:
         |      - {op: ivfErase, id: vec_id, path: $dir/ivf}
         |  - name: search
         |    source: {type: parquet, path: $dir/queries}
         |    transforms:
         |      - {op: ivfSearchMany, path: $dir/ivf, id: vec_id, vec: vec,
         |         k: 3, nProbe: 1}
         |    sink: {type: parquet, path: $dir/hits}
         |""".stripMargin)
    val planted = spark.read.parquet(s"$dir/hits")
      .filter($"corpus_id" === $"query_id" + 1000L)
      .select("corpus_id").as[Long].collect().toSet
    // erased copies are gone from results; the other 5 still retrieved
    assert(planted == (1005L until 1010L).toSet)
  }

  test("decontam lifecycle from config: build, classify, append, compact, erase") {
    val dir = tempDir("graft_cfg_dc_")
    // two eval docs; training batch shares text with eval 1 only
    Seq((1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "one two three four five six"))
      .toDF("eval_id", "text").write.parquet(s"$dir/eval")
    Seq((10L, "alpha beta gamma delta epsilon zeta eta"),   // hits eval 1
        (11L, "totally unrelated training text here okay"))
      .toDF("doc_id", "text").write.parquet(s"$dir/batch")
    Seq(Tuple1(1L)).toDF("eval_id").write.parquet(s"$dir/retire")
    val out1 = Config.runAll(spark,
      s"""tasks:
         |  - name: build
         |    source: {type: parquet, path: $dir/eval}
         |    transforms:
         |      - {op: decontamIndexBuild, id: eval_id, column: text, path: $dir/dc}
         |  - name: classify
         |    source: {type: parquet, path: $dir/batch}
         |    transforms:
         |      - {op: decontamIncremental, id: doc_id, column: text, path: $dir/dc}
         |""".stripMargin)
    assert(out1("classify").select("doc_id").as[Long].collect().toSeq == Seq(11L))
    // append a third eval set, compact, then retire eval 1: doc 10 now clean
    Seq((3L, "seven eight nine ten eleven twelve"))
      .toDF("eval_id", "text").write.parquet(s"$dir/eval2")
    val out2 = Config.runAll(spark,
      s"""tasks:
         |  - name: extend
         |    source: {type: parquet, path: $dir/eval2}
         |    transforms:
         |      - {op: decontamIndexAppend, id: eval_id, column: text, path: $dir/dc}
         |      - {op: decontamCompact, path: $dir/dc}
         |  - name: retire
         |    source: {type: parquet, path: $dir/retire}
         |    transforms:
         |      - {op: decontamErase, id: eval_id, path: $dir/dc}
         |  - name: reclassify
         |    source: {type: parquet, path: $dir/batch}
         |    transforms:
         |      - {op: decontamIncremental, id: doc_id, column: text, path: $dir/dc}
         |""".stripMargin)
    assert(out2("reclassify").select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(10L, 11L))
  }

  test("media pipeline from config: binaryFile source, real decode, pair dedup") {
    val dir = tempDir("graft_cfg_media_")
    // write REAL PNG files to disk (two near-dup pairs + decoys), then
    // drive the whole tier from YAML: binaryFile → decode → band-join
    new java.io.File(s"$dir/imgs").mkdirs()
    val ids = (0L until 8L).map(i => (i, i / 2, (i % 2).toInt)).toDF("id", "k", "p")
    graft.ext.Media.genPatternPngs(ids, "id", "k", "p", 9, 8)
      .collect().foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/imgs/img_${r.getLong(0)}.png"),
          r.getAs[Array[Byte]](1))
      }
    val out = Config.runAll(spark,
      s"""tasks:
         |  - name: decode
         |    source: {type: binaryFile, path: $dir/imgs, pathGlobFilter: "*.png"}
         |    transforms:
         |      - op: include
         |        columns:
         |          id: "CAST(regexp_extract(path, 'img_([0-9]+)', 1) AS BIGINT)"
         |          content: content
         |      - {op: imageDecode, id: id, column: content}
         |  - name: pairs
         |    source: {type: task, name: decode}
         |    transforms:
         |      - {op: imageDedupPairs, id: id, hash: dhash, maxDist: 3}
         |""".stripMargin)
    val dec = out("decode")
    assert(dec.columns.contains("dhash") && dec.count() == 8)
    assert(dec.filter($"mime" === "image/png" && $"width" === 9).count() == 8)
    // planted (even, odd) near-dup pairs all surface
    val pairs = out("pairs").select("left_id", "right_id")
      .as[(Long, Long)].collect().toSet
    for (k <- 0L until 4L)
      assert(pairs.contains((2 * k, 2 * k + 1)), s"missing planted pair $k")
  }

  test("mp4Meta op: ISO-BMFF box walk declares in YAML") {
    val dir = tempDir("graft_cfg_mp4_")
    graft.ext.Media.genMp4s(
      Seq((1L, 12800L, 512L, 25, 480, 360, false))
        .toDF("id", "ts", "dl", "n", "w", "h", "audio"),
      "id", "ts", "dl", "n", "w", "h", "audio")
      .write.parquet(s"$dir/in")
    val out = Config.run(spark,
      s"""source: {type: parquet, path: $dir/in}
         |transforms:
         |  - {op: mp4Meta, id: id, column: content}
         |""".stripMargin)
    val got = out.select("major_brand", "duration_ms", "n_frames", "fps_x1000")
      .as[(String, Long, Int, Long)].head()
    assert(got == (("isom", 1000L, 25, 25000L)))
  }

  test("mediaScrub op strips metadata upstream of a sink") {
    val dir = tempDir("graft_cfg_scrub_")
    val wav = graft.ext.Media.encodeWav(8000, 1,
      Array.tabulate[Short](160)(_.toShort))
    graft.ext.Media.genInfoTagged(
      Seq((1L, wav)).toDF("id", "content")
        .withColumn("a", org.apache.spark.sql.functions.lit("GRAFT-PII X")),
      "id", "content", "a")
      .write.parquet(s"$dir/in")
    Config.run(spark,
      s"""source: {type: parquet, path: $dir/in}
         |transforms:
         |  - {op: mediaScrub, id: id, column: content}
         |sink: {type: parquet, path: $dir/out}
         |""".stripMargin)
    val got = spark.read.parquet(s"$dir/out")
      .select("content", "bytes_removed")
      .as[(Array[Byte], Int)].head()
    assert(got._2 > 0)
    assert(!new String(got._1, "ISO-8859-1").contains("GRAFT-PII"))
    // the scrubbed payload still decodes with its samples intact
    assert(graft.ext.Media.decodeAudioMeta(
      spark.read.parquet(s"$dir/out"), "id", "content")
      .select("n_frames").as[Long].head() == 160L)
  }

  test("mediaScrubLenient op survives dirty payloads upstream of a sink") {
    val dir = tempDir("graft_cfg_scrubl_")
    val wav = graft.ext.Media.encodeWav(8000, 1,
      Array.tabulate[Short](160)(_.toShort))
    graft.ext.Media.genInfoTagged(
      Seq((1L, wav)).toDF("id", "content")
        .withColumn("a", org.apache.spark.sql.functions.lit("GRAFT-PII X")),
      "id", "content", "a")
      .unionByName(Seq((2L, "rotten".getBytes)).toDF("id", "content"))
      .write.parquet(s"$dir/in")
    // the STRICT op would fail this task on row 2; the lenient twin flows
    Config.run(spark,
      s"""source: {type: parquet, path: $dir/in}
         |transforms:
         |  - {op: mediaScrubLenient, id: id, column: content}
         |sink: {type: parquet, path: $dir/out}
         |""".stripMargin)
    val got = spark.read.parquet(s"$dir/out")
      .select("id", "scrub_ok", "scrub_err", "content")
      .as[(Long, Boolean, Option[String], Array[Byte])]
      .collect().sortBy(_._1).toSeq
    assert(got(0)._2 &&
      !new String(got(0)._4, "ISO-8859-1").contains("GRAFT-PII"))
    assert(!got(1)._2 && got(1)._3.contains("IllegalArgumentException") &&
      got(1)._4.sameElements("rotten".getBytes))
  }

  test("WARC crawl pipeline from config: binaryFile → responses → page text") {
    val dir = tempDir("graft_cfg_warc_")
    new java.io.File(s"$dir/warcs").mkdirs()
    // two real .warc.gz segment files (per-record gzip members) + one
    // rotten file the lenient path must quarantine instead of failing on
    val ids = Seq((1L, 3, true), (2L, 2, true)).toDF("id", "n", "gz")
    graft.sources.Warc.genWarcs(ids, "id", "n", "gz").collect().foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/warcs/seg_${r.getLong(0)}.warc.gz"),
        r.getAs[Array[Byte]](1))
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/warcs/seg_9.warc.gz"),
      "rotten segment".getBytes)
    val out = Config.runAll(spark,
      s"""tasks:
         |  - name: pages
         |    source: {type: binaryFile, path: $dir/warcs, pathGlobFilter: "seg_[12]*"}
         |    transforms:
         |      - op: include
         |        columns:
         |          id: "CAST(regexp_extract(path, 'seg_([0-9]+)', 1) AS BIGINT)"
         |          content: content
         |      - {op: warcResponses, id: id, column: content}
         |      - {op: htmlExtract, column: http_body, as: page_text}
         |      - {op: filter, expr: "http_status = 200"}
         |  - name: ledger
         |    source: {type: binaryFile, path: $dir/warcs, pathGlobFilter: "*.warc.gz"}
         |    transforms:
         |      - op: include
         |        columns:
         |          id: "CAST(regexp_extract(path, 'seg_([0-9]+)', 1) AS BIGINT)"
         |          content: content
         |      - {op: warcRecordsLenient, id: id, column: content}
         |""".stripMargin)
    val pages = out("pages")
    // k=1: statuses for i=0,1,2 → (3+i)%7==0 never; k=2: (6+i)%7==0 at i=1
    assert(pages.count() == 4)
    assert(pages.filter($"page_text" === "T1-0 alpha1 beta0 gamma7").count() == 1)
    val ledger = out("ledger")
    assert(ledger.filter(!$"decode_ok").select("id")
      .as[Long].collect().toSeq == Seq(9L))
    assert(ledger.filter($"decode_ok").count() == 12) // (1+2·3) + (1+2·2)
  }

  test("PDF extraction composes from config into the text tier") {
    val dir = tempDir("graft_cfg_pdf_")
    val ids = Seq((1L, 2, true), (2L, 1, false)).toDF("id", "n", "flate")
    graft.ext.Pdf.genPdfs(ids, "id", "n", "flate").write.parquet(s"$dir/pdfs")
    val out = Config.runAll(spark,
      s"""tasks:
         |  - name: pages
         |    source: {type: parquet, path: $dir/pdfs}
         |    transforms:
         |      - {op: pdfText, id: id, column: content}
         |      - {op: filter, expr: "text LIKE 'Doc %'"}
         |""".stripMargin)
    val pages = out("pages")
    assert(pages.count() == 3)
    assert(pages.filter($"text" === "Doc 2 page 0\nalpha(26) beta").count() == 1)
  }

  test("image/audio quality and C4 ops compose from config") {
    val dir = tempDir("graft_cfg_quality_")
    val ids = (0L until 6L).map(i => (i, i, 0)).toDF("id", "k", "p")
    graft.ext.Media.genPatternPngs(ids, "id", "k", "p", 9, 8)
      .write.parquet(s"$dir/imgs")
    val clips = Seq((1L, 8000, 1, 400)).toDF("id", "rate", "ch", "frames")
    graft.ext.Media.genWavs(clips, "id", "rate", "ch", "frames")
      .write.parquet(s"$dir/wavs")
    Seq(
      (1L, "First line has five words.\nshort one\nSecond good line is here.\nThird closing line ends here."),
      (2L, "Only one good sentence here.\nAll else { junk"),
      (3L, "Buy cheap viagra pills online now.\nSecond real line sits here.\nThird real line sits here.\nFourth real line sits here."))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    val out = Config.runAll(spark,
      s"""tasks:
         |  - name: stats
         |    source: {type: parquet, path: $dir/imgs}
         |    transforms:
         |      - {op: imageStats, id: id, column: content}
         |      - {op: filter, expr: "luma_min < luma_max AND width >= 8"}
         |  - name: hashes
         |    source: {type: parquet, path: $dir/imgs}
         |    transforms:
         |      - {op: imageAHash, id: id, column: content}
         |  - name: energy
         |    source: {type: parquet, path: $dir/wavs}
         |    transforms:
         |      - {op: audioEnergy, id: id, column: content, windowMs: 25}
         |  - name: c4
         |    source: {type: parquet, path: $dir/docs}
         |    transforms:
         |      - {op: c4Clean, column: text}
         |      - {op: c4Filter, column: text}
         |""".stripMargin)
    assert(out("stats").count() == 6) // pattern images: never solid, 9x8
    assert(out("hashes").select("ahash").distinct().count() > 1)
    // 400 frames at 8000 Hz mono = 800 bytes; 25 ms windows = 400 bytes
    assert(out("energy").count() == 2)
    assert(out("energy").filter($"sum_sq" <= 0).count() == 0)
    // doc 1 survives (3 good lines ≥ 3 sentences); doc 2 loses its brace
    // line to the clean pass but has only 1 sentence left; doc 3 carries
    // a bad word through cleaning
    assert(out("c4").select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("bloom membership dedup lifecycle from config: build, flag, append") {
    val dir = tempDir("graft_cfg_bloom_")
    (0L until 50L).map(i => (i, s"corpus doc $i")).toDF("doc_id", "text")
      .write.parquet(s"$dir/corpus")
    // batch: 5 resubmitted corpus docs under new ids + 5 novel
    ((0L until 5L).map(i => (100 + i, s"corpus doc $i")) ++
      (0L until 5L).map(i => (200 + i, s"novel doc $i")))
      .toDF("doc_id", "text").write.parquet(s"$dir/batch")
    val out = Config.runAll(spark,
      s"""tasks:
         |  - name: build
         |    source: {type: parquet, path: $dir/corpus}
         |    transforms:
         |      - {op: bloomBuild, column: text, k: 5, mBits: 65536, path: $dir/bloom}
         |  - name: classify
         |    source: {type: parquet, path: $dir/batch}
         |    transforms:
         |      - {op: bloomFlag, column: text, k: 5, mBits: 65536, path: $dir/bloom}
         |  - name: ingest
         |    source: {type: parquet, path: $dir/batch}
         |    transforms:
         |      - {op: bloomFilter, column: text, k: 5, mBits: 65536, path: $dir/bloom}
         |      - {op: bloomAppend, column: text, k: 5, mBits: 65536, path: $dir/bloom}
         |""".stripMargin)
    val flagged = out("classify").filter($"maybe_dup")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(flagged == (100L until 105L))
    assert(out("ingest").select("doc_id").as[Long].collect().sorted.toSeq ==
      (200L until 205L))
    // after append, re-classifying the ingested novel docs flags them all
    val bits = graft.ext.Bloom.readBits(spark, s"$dir/bloom")
    val re = graft.ext.Bloom.flagDuplicates(
      spark.read.parquet(s"$dir/batch"), "text", bits, 5, 65536L)
    assert(re.filter(!$"maybe_dup").count() == 0)
  }

  test("bloomRebuild from config replaces the bitmap with the survivors'") {
    val dir = tempDir("graft_cfg_bloomrb_")
    (0L until 40L).map(i => (i, s"stored doc $i")).toDF("doc_id", "text")
      .write.parquet(s"$dir/corpus")
    // survivors after an erasure request: docs 0..19 only
    (0L until 20L).map(i => (i, s"stored doc $i")).toDF("doc_id", "text")
      .write.parquet(s"$dir/survivors")
    graft.ext.Bloom.writeBits(spark, s"$dir/bloom",
      graft.ext.Bloom.build(spark.read.parquet(s"$dir/corpus"), "text", 5, 65536L))
    Config.runAll(spark,
      s"""tasks:
         |  - name: rebuild
         |    source: {type: parquet, path: $dir/survivors}
         |    transforms:
         |      - {op: bloomRebuild, column: text, k: 5, mBits: 65536, path: $dir/bloom}
         |""".stripMargin)
    val bits = graft.ext.Bloom.readBits(spark, s"$dir/bloom")
    val re = graft.ext.Bloom.flagDuplicates(
      spark.read.parquet(s"$dir/corpus"), "text", bits, 5, 65536L)
    // erased docs (20..39) now classify novel; survivors still flag
    assert(re.filter($"maybe_dup").select("doc_id").as[Long]
      .collect().sorted.toSeq == (0L until 20L))
    // a path typo must fail loudly, not fork a fresh index
    val e = intercept[Exception] {
      Config.run(spark,
        s"""source: {type: parquet, path: $dir/survivors}
           |transforms:
           |  - {op: bloomRebuild, column: text, k: 5, mBits: 65536, path: $dir/nope}
           |""".stripMargin)
    }
    assert(e.getMessage.contains("no existing bitmap"))
  }

  test("bpeLoad wires an external merges.txt into the bpeCounts path") {
    val dir = tempDir("graft_cfg_bpeload_")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/merges.txt"),
      "#version: 0.2\nt h\nth e\ni n\nin g\n".getBytes("UTF-8"))
    Seq((1L, "the thing"), (2L, "nothing here")).toDF("doc_id", "text")
      .write.parquet(s"$dir/docs")
    val out = Config.runAll(spark,
      s"""tasks:
         |  - name: load
         |    source: {type: parquet, path: $dir/docs}
         |    transforms:
         |      - {op: bpeLoad, file: $dir/merges.txt, path: $dir/bpe}
         |  - name: counts
         |    source: {type: task, name: load}
         |    transforms:
         |      - {op: bpeCounts, key: doc_id, column: text, path: $dir/bpe}
         |""".stripMargin)
    // 'the'->1, 'thing'->th+ing=2; 'nothing'->n,o,th,ing=4, 'here'->h,e,r,e=4
    val got = out("counts").select("doc_id", "n_bpe_tokens")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 3L), (2L, 8L)))
  }

  test("lenient media decode and videoFrames compose from config") {
    val dir = tempDir("graft_cfg_media2_")
    val wavs = graft.ext.Media.genWavs(
      Seq((0L, 8000, 1, 100)).toDF("id", "rate", "ch", "frames"),
      "id", "rate", "ch", "frames")
    wavs.unionByName(Seq((1L, "junk".getBytes)).toDF("id", "content"))
      .write.parquet(s"$dir/wavs")
    graft.ext.Media.genPatternAvis(
      Seq((0L, 4L, 2)).toDF("id", "k", "n"), "id", "k", "n", 9, 8)
      .write.parquet(s"$dir/avis")
    val out = Config.runAll(spark,
      s"""tasks:
         |  - name: audio
         |    source: {type: parquet, path: $dir/wavs}
         |    transforms:
         |      - {op: audioMetaLenient, id: id, column: content}
         |  - name: frames
         |    source: {type: parquet, path: $dir/avis}
         |    transforms:
         |      - {op: videoFrames, id: id, column: content}
         |""".stripMargin)
    assert(out("audio").filter($"decode_ok").count() == 1)
    assert(out("audio").filter(!$"decode_ok" && $"decode_err".isNotNull).count() == 1)
    assert(out("frames").select("frame_idx").as[Int].collect().sorted.toSeq ==
      Seq(0, 1))
  }

  test("videoFrames maxFrames guard plumbs through the config ops") {
    val dir = tempDir("graft_cfg_vcap_")
    // 2-frame and 4-frame videos; cap = 3 → strict op fails the task,
    // lenient op quarantines the long video in place
    graft.ext.Media.genPatternAvis(
      Seq((0L, 4L, 2), (1L, 9L, 4)).toDF("id", "k", "n"),
      "id", "k", "n", 9, 8)
      .write.parquet(s"$dir/avis")
    val lenient = Config.runAll(spark,
      s"""tasks:
         |  - name: frames
         |    source: {type: parquet, path: $dir/avis}
         |    transforms:
         |      - {op: videoFramesLenient, id: id, column: content, maxFrames: 3}
         |""".stripMargin)("frames")
    assert(lenient.filter($"frame_ok" && $"id" === 0L).count() == 2)
    val bad = lenient.filter(!$"frame_ok")
      .select("id", "frame_err").as[(Long, String)].collect().toSeq
    assert(bad.map(_._1) == Seq(1L) && bad.head._2 == "IllegalArgumentException")
    val ex = intercept[org.apache.spark.SparkException] {
      Config.runAll(spark,
        s"""tasks:
           |  - name: frames
           |    source: {type: parquet, path: $dir/avis}
           |    transforms:
           |      - {op: videoFrames, id: id, column: content, maxFrames: 3}
           |""".stripMargin)("frames").count()
    }
    assert(ex.getMessage.contains("maxFrames") ||
      String.valueOf(ex.getCause).contains("maxFrames"))
    // no cap key → unbounded (the library default), both videos decode
    val all = Config.runAll(spark,
      s"""tasks:
         |  - name: frames
         |    source: {type: parquet, path: $dir/avis}
         |    transforms:
         |      - {op: videoFrames, id: id, column: content}
         |""".stripMargin)("frames")
    assert(all.count() == 6)
  }

  test("mp4Keyframes/mp4Scenes maxFrames guard plumbs through the config ops") {
    val dir = tempDir("graft_cfg_kfcap_")
    // one sparse-stss MP4 (3 keyframes) + one NO-stss MP4 (6 frames, the
    // degenerate every-sample-sync shape); cap = 4 -> strict op fails the
    // task, lenient ops quarantine the degenerate video in place
    graft.ext.Media.genPatternMp4sKeyframed(
      Seq((0L, 2L, 8, 3)).toDF("id", "k", "n", "step"),
      "id", "k", "n", "step", 9, 8)
      .unionByName(graft.ext.Media.genPatternMp4s(
        Seq((1L, 9L, 6)).toDF("id", "k", "n"), "id", "k", "n", 9, 8))
      .write.parquet(s"$dir/mp4s")
    val lenient = Config.runAll(spark,
      s"""tasks:
         |  - name: kf
         |    source: {type: parquet, path: $dir/mp4s}
         |    transforms:
         |      - {op: mp4KeyframesLenient, id: id, column: content, maxFrames: 4}
         |  - name: scenes
         |    source: {type: parquet, path: $dir/mp4s}
         |    transforms:
         |      - {op: mp4ScenesLenient, id: id, column: content, maxFrames: 4}
         |""".stripMargin)
    assert(lenient("kf").filter($"frame_ok" && $"id" === 0L).count() == 3)
    assert(lenient("kf").filter(!$"frame_ok").select("id", "frame_err")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "IllegalArgumentException")))
    assert(lenient("scenes").filter($"frame_ok").count() == 3)
    assert(lenient("scenes").filter(!$"frame_ok").count() == 1)
    val ex = intercept[org.apache.spark.SparkException] {
      Config.runAll(spark,
        s"""tasks:
           |  - name: kf
           |    source: {type: parquet, path: $dir/mp4s}
           |    transforms:
           |      - {op: mp4Keyframes, id: id, column: content, maxFrames: 4}
           |""".stripMargin)("kf").count()
    }
    assert(ex.getMessage.contains("maxFrames") ||
      String.valueOf(ex.getCause).contains("maxFrames"))
    // no cap key -> unbounded (the library default): all 9 rows decode
    val all = Config.runAll(spark,
      s"""tasks:
         |  - name: kf
         |    source: {type: parquet, path: $dir/mp4s}
         |    transforms:
         |      - {op: mp4Keyframes, id: id, column: content}
         |""".stripMargin)("kf")
    assert(all.count() == 9)
  }

  test("mp4Keyframes op: stss sync-sample decode declares in YAML") {
    val dir = tempDir("graft_cfg_kf_")
    graft.ext.Media.genPatternMp4sKeyframed(
      Seq((0L, 4L, 6, 2)).toDF("id", "k", "n", "step"),
      "id", "k", "n", "step", 9, 8)
      .write.parquet(s"$dir/mp4s")
    val out = Config.runAll(spark,
      s"""tasks:
         |  - name: keyframes
         |    source: {type: parquet, path: $dir/mp4s}
         |    transforms:
         |      - {op: mp4Keyframes, id: id, column: content}
         |""".stripMargin)("keyframes")
    assert(out.select("frame_idx").as[Int].collect().sorted.toSeq ==
      Seq(0, 2, 4))
  }

  test("videoDedupPairs composes from config, exact and clustered") {
    val dir = tempDir("graft_cfg_vdedup_")
    // ids 0,1 = same pattern (1 re-encoded), 2 = unrelated pattern
    graft.ext.Media.genPatternAvisPerturbed(
      Seq((0L, 0L, 0, 3), (1L, 0L, 1, 3), (2L, 7L, 0, 3)).toDF("id", "k", "p", "n"),
      "id", "k", "p", "n", 9, 8)
      .write.parquet(s"$dir/avis")
    val out = Config.runAll(spark,
      s"""tasks:
         |  - name: frames
         |    source: {type: parquet, path: $dir/avis}
         |    transforms:
         |      - {op: videoFrames, id: id, column: content}
         |  - name: exact
         |    source: {type: task, name: frames}
         |    transforms:
         |      - {op: videoDedupPairs, id: id, hash: dhash, minShared: 2}
         |  - name: reenc
         |    source: {type: task, name: frames}
         |    transforms:
         |      - {op: videoDedupPairs, id: id, hash: dhash, minShared: 2,
         |         clustered: true, maxDist: 3}
         |  - name: scenes
         |    source: {type: task, name: frames}
         |    transforms:
         |      - {op: videoScenes, id: id, frameIdx: frame_idx, hash: dhash,
         |         cutDist: 8}
         |""".stripMargin)
    // perturbed frames are never bit-identical: exact pairing finds nothing
    assert(out("exact").count() == 0)
    val got = out("reenc").select("left_id", "right_id", "n_shared")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 1L, 3L)))
    // every genPatternAvis frame is a fresh pattern → each non-first
    // frame of each video is its own scene cut at this threshold
    assert(out("scenes").columns.contains("scene_idx"))
    assert(out("scenes").filter($"prev_dist".isNull).count() == 3)
  }

  test("media sig maintenance from config: mediaSigCompact + mediaSigErase") {
    val dir = tempDir("graft_cfg_sigm_")
    // hand-build a stamped audio-sig index (the streaming ingest's layout)
    Seq((1L, 11L), (2L, 22L), (3L, 33L)).toDF("aid", "afp")
      .repartition(3).write.parquet(s"$dir/idx/sigs")
    graft.ext.IndexFormat.stamp(spark, s"$dir/idx",
      "audiodedup:v1:windowMs=20:maxDist=3:bandBits=16")
    Seq(2L).toDF("aid").write.parquet(s"$dir/del")
    Config.runAll(spark,
      s"""tasks:
         |  - name: maintain
         |    source: {type: parquet, path: $dir/del}
         |    transforms:
         |      - {op: mediaSigErase, path: $dir/idx, id: aid}
         |      - {op: mediaSigCompact, path: $dir/idx}
         |""".stripMargin)
    assert(spark.read.parquet(s"$dir/idx/sigs")
      .select("aid").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(new java.io.File(s"$dir/idx/sigs")
      .listFiles().count(_.getName.endsWith(".parquet")) == 1)
  }

  test("the full video pipeline declares in YAML: frames → scenes → keyframes → pairs") {
    val dir = tempDir("graft_cfg_vpipe_")
    // videos 0,1 share pattern 4 (scene-identical), 2 is unrelated
    graft.ext.Media.genSceneAvis(
      Seq((0L, 4L, 6, 2), (1L, 4L, 6, 2), (2L, 9L, 6, 2)).toDF("id", "k", "n", "len"),
      "id", "k", "n", "len", 9, 8)
      .write.parquet(s"$dir/avis")
    val out = Config.runAll(spark,
      s"""tasks:
         |  - name: frames
         |    source: {type: parquet, path: $dir/avis}
         |    transforms:
         |      - {op: videoFrames, id: id, column: content}
         |  - name: keyframes
         |    source: {type: task, name: frames}
         |    transforms:
         |      - {op: videoScenes, id: id, frameIdx: frame_idx, hash: dhash,
         |         cutDist: 8}
         |      - {op: filter, expr: "prev_dist IS NULL OR is_cut"}
         |      - {op: include, columns: {id: id, dhash: dhash}}
         |  - name: pairs
         |    source: {type: task, name: keyframes}
         |    transforms:
         |      - {op: videoDedupPairs, id: id, hash: dhash, minShared: 2}
         |""".stripMargin)
    // scene-identical videos pair on their shared keyframe set; the
    // unrelated video stays out
    val got = out("pairs").select("left_id", "right_id")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((0L, 1L)))
  }

  // ---- exactly-once ingest sinks as YAML (r15 verdict ask #2) ----------

  /** Land `df` as ONE parquet file named `dest` — the arrival-drop shape a
    * fileStream source watches (a directory of day files, not a Spark
    * output dir).
    */
  private def dropFile(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
    val tmp = tempDir("graft_cfg_drop_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dest).getParent)
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dest))
  }

  test("ingestWarc declares in YAML: fileStream arrivals → exactly-once ingest sink") {
    val dir = tempDir("graft_cfg_iwarc_")
    def warc(k: Long, n: Int): Array[Byte] = graft.sources.Warc.genWarcs(
      Seq((k, n, true)).toDF("id", "n", "gz"), "id", "n", "gz")
      .select("content").as[Array[Byte]].head()
    val yaml =
      s"""name: crawl
         |cron: -1
         |checkpoint: $dir/ckpt
         |source: {type: fileStream, path: $dir/arrivals, format: parquet}
         |sink: {type: ingestWarc, corpus: $dir/corpus, index: $dir/idx,
         |       quarantine: $dir/quar, id: wid, column: content}
         |""".stripMargin
    // day 1: file 1 (5 records) + a rotten segment → bootstrap + quarantine
    dropFile(Seq((1L, warc(1, 2)), (99L, "rot".getBytes))
      .toDF("wid", "content"), s"$dir/arrivals/day1.parquet")
    Config.run(spark, yaml)
    assert(spark.read.parquet(s"$dir/corpus").count() == 5L)
    assert(spark.read.parquet(s"$dir/quar").select("wid")
      .as[Long].collect().toSeq == Seq(99L))
    // re-run, SAME checkpoint, no new files: offsets committed → no-op
    Config.run(spark, yaml)
    assert(spark.read.parquet(s"$dir/corpus").count() == 5L)
    // day 2 arrival: a re-crawl of file 1 under a new file id (admits
    // nothing — content identity) + a genuinely new file (7 records)
    dropFile(Seq((2L, warc(1, 2)), (3L, warc(3, 3)))
      .toDF("wid", "content"), s"$dir/arrivals/day2.parquet")
    Config.run(spark, yaml)
    val stored = spark.read.parquet(s"$dir/corpus")
    assert(stored.count() == 12L)
    assert(stored.select("file_id").distinct().as[Long].collect().sorted
      .toSeq == Seq(1L, 3L))
  }

  test("ingestPdf as a one-shot batch task: bootstrap, then re-drop admits nothing") {
    val dir = tempDir("graft_cfg_ipdf_")
    def pdf(k: Long, n: Int): Array[Byte] = graft.ext.Pdf.genPdfs(
      Seq((k, n, true)).toDF("id", "n", "flate"), "id", "n", "flate")
      .select("content").as[Array[Byte]].head()
    Seq((1L, pdf(1, 2))).toDF("pid", "content").write.parquet(s"$dir/in1")
    def yaml(in: String) =
      s"""source: {type: parquet, path: $in}
         |sink: {type: ingestPdf, corpus: $dir/corpus, index: $dir/idx,
         |       quarantine: $dir/quar, id: pid, column: content}
         |""".stripMargin
    Config.run(spark, yaml(s"$dir/in1"))
    assert(spark.read.parquet(s"$dir/corpus").count() == 2L)
    // a mirrored re-drop under a new file id: page text identity → no-op
    Seq((2L, pdf(1, 2))).toDF("pid", "content").write.parquet(s"$dir/in2")
    Config.run(spark, yaml(s"$dir/in2"))
    assert(spark.read.parquet(s"$dir/corpus").count() == 2L)
    assert(spark.read.parquet(s"$dir/idx/hashes").count() == 2L)
  }

  test("ingestImageDedup as a batch task dedups in-batch and against the index") {
    val dir = tempDir("graft_cfg_iimg_")
    def png(k: Long, p: Int): Array[Byte] = graft.ext.Media.genPatternPngs(
      Seq((0L, k, p)).toDF("id", "k", "p"), "id", "k", "p", 9, 8)
      .select("content").as[Array[Byte]].head()
    Seq((1L, png(5, 0)), (2L, png(5, 1)), (3L, png(40, 0)))
      .toDF("img_id", "content").write.parquet(s"$dir/in1")
    def yaml(in: String) =
      s"""source: {type: parquet, path: $in}
         |sink: {type: ingestImageDedup, corpus: $dir/corpus, index: $dir/idx,
         |       quarantine: $dir/quar, id: img_id, column: content}
         |""".stripMargin
    Config.run(spark, yaml(s"$dir/in1"))
    assert(spark.read.parquet(s"$dir/corpus").select("img_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // day 2: a near-dup of indexed content + new content
    Seq((5L, png(5, 1)), (6L, png(90, 0)))
      .toDF("img_id", "content").write.parquet(s"$dir/in2")
    Config.run(spark, yaml(s"$dir/in2"))
    assert(spark.read.parquet(s"$dir/corpus").select("img_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 3L, 6L))
  }

  test("ingestAudioDedup as a batch task: fingerprint dedup + bit-depth quarantine") {
    val dir = tempDir("graft_cfg_iaud_")
    def wav(k: Long, p: Int): Array[Byte] = graft.ext.Media.genToneWavs(
      Seq((0L, k, p, 65)).toDF("id", "k", "p", "nw"), "id", "k", "p", "nw")
      .select("content").as[Array[Byte]].head()
    val wav24 = { val b = wav(7, 0); b(34) = 24; b }
    Seq((1L, wav(5, 0)), (2L, wav(5, 1)), (3L, wav24))
      .toDF("aid", "content").write.parquet(s"$dir/in1")
    Config.run(spark,
      s"""source: {type: parquet, path: $dir/in1}
         |sink: {type: ingestAudioDedup, corpus: $dir/corpus, index: $dir/idx,
         |       quarantine: $dir/quar, id: aid, column: content}
         |""".stripMargin)
    assert(spark.read.parquet(s"$dir/corpus").select("aid")
      .as[Long].collect().toSeq == Seq(1L))
    assert(spark.read.parquet(s"$dir/quar").select("aid", "decode_err")
      .as[(Long, String)].collect().toSeq ==
      Seq((3L, "UnsupportedBitDepth(24)")))
  }

  test("ingestVideoDedup as a batch task: shared-frame dedup via YAML") {
    val dir = tempDir("graft_cfg_ivid_")
    def avi(k: Long, n: Int): Array[Byte] = graft.ext.Media.genPatternAvis(
      Seq((0L, k, n)).toDF("id", "k", "n"), "id", "k", "n", 9, 8)
      .select("content").as[Array[Byte]].head()
    Seq((1L, avi(5, 3)), (2L, avi(5, 3)), (3L, avi(40, 3)))
      .toDF("vid", "content").write.parquet(s"$dir/in1")
    def yaml(in: String) =
      s"""source: {type: parquet, path: $in}
         |sink: {type: ingestVideoDedup, corpus: $dir/corpus, index: $dir/idx,
         |       quarantine: $dir/quar, id: vid, column: content}
         |""".stripMargin
    Config.run(spark, yaml(s"$dir/in1"))
    assert(spark.read.parquet(s"$dir/corpus").select("vid")
      .as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // a trim of stored pattern 5 (dup at minShared=2) + new content
    Seq((5L, avi(5, 2)), (6L, avi(90, 3)))
      .toDF("vid", "content").write.parquet(s"$dir/in2")
    Config.run(spark, yaml(s"$dir/in2"))
    assert(spark.read.parquet(s"$dir/corpus").select("vid")
      .as[Long].collect().sorted.toSeq == Seq(1L, 3L, 6L))
  }

  test("ingestVideoDedup admit: keyframe plumbs through YAML (over-cap stss MP4 classifies)") {
    val dir = tempDir("graft_cfg_ividkf_")
    def kfMp4(k: Long, n: Int, step: Int): Array[Byte] =
      graft.ext.Media.genPatternMp4sKeyframed(
        Seq((0L, k, n, step)).toDF("id", "k", "n", "step"),
        "id", "k", "n", "step", 9, 8)
        .select("content").as[Array[Byte]].head()
    // 12 frames > maxFrames 6, 4 sync samples <= 6
    Seq((1L, kfMp4(1, 12, 3))).toDF("vid", "content")
      .write.parquet(s"$dir/in1")
    def yaml(in: String, admit: String) =
      s"""source: {type: parquet, path: $in}
         |sink: {type: ingestVideoDedup, corpus: $dir/corpus-$admit,
         |       index: $dir/idx-$admit, quarantine: $dir/quar-$admit,
         |       id: vid, column: content, maxFrames: 6, admit: $admit}
         |""".stripMargin
    // keyframe mode: admits on the 4 sync decodes
    Config.run(spark, yaml(s"$dir/in1", "keyframe"))
    assert(spark.read.parquet(s"$dir/corpus-keyframe").count() == 1L)
    assert(spark.read.parquet(s"$dir/idx-keyframe/sigs").count() == 4L)
    // a re-drop under a fresh id rejects on the stored keyframe sigs
    Seq((2L, kfMp4(1, 12, 3))).toDF("vid", "content")
      .write.parquet(s"$dir/in2")
    Config.run(spark, yaml(s"$dir/in2", "keyframe"))
    assert(spark.read.parquet(s"$dir/corpus-keyframe").count() == 1L)
    // default (fullFrame) mode: the same file can only quarantine
    Config.run(spark,
      s"""source: {type: parquet, path: $dir/in1}
         |sink: {type: ingestVideoDedup, corpus: $dir/corpus-full,
         |       index: $dir/idx-full, quarantine: $dir/quar-full,
         |       id: vid, column: content, maxFrames: 6}
         |""".stripMargin)
    assert(spark.read.parquet(s"$dir/quar-full").select("vid")
      .as[Long].collect().toSeq == Seq(1L))
  }

  test("batch-task ingest reruns keep prior quarantine (per-run batch id)") {
    val dir = tempDir("graft_cfg_requar_")
    def yaml(in: String) =
      s"""source: {type: parquet, path: $in}
         |sink: {type: ingestPdf, corpus: $dir/corpus, index: $dir/idx,
         |       quarantine: $dir/quar, id: pid, column: content}
         |""".stripMargin
    def pdf(k: Long): Array[Byte] = graft.ext.Pdf.genPdfs(
      Seq((k, 1L, true)).toDF("id", "n", "flate"), "id", "n", "flate")
      .select("content").as[Array[Byte]].head()
    // run 1: one good doc + one rotten payload → quarantine row for 91
    Seq((1L, pdf(1)), (91L, "rot1".getBytes))
      .toDF("pid", "content").write.parquet(s"$dir/in1")
    Config.run(spark, yaml(s"$dir/in1"))
    // run 2 (same task, new day): another rotten payload. At a fixed
    // batch_id=0 this would Overwrite run 1's quarantine; per-run ids
    // must preserve BOTH rows
    Seq((2L, pdf(2)), (92L, "rot2".getBytes))
      .toDF("pid", "content").write.parquet(s"$dir/in2")
    Config.run(spark, yaml(s"$dir/in2"))
    assert(spark.read.parquet(s"$dir/quar").select("pid")
      .as[Long].collect().sorted.toSeq == Seq(91L, 92L))
    // a pinned YAML batchId reproduces the old replace-my-own-run shape
    Seq((93L, "rot3".getBytes)).toDF("pid", "content")
      .write.parquet(s"$dir/in3")
    val pinned =
      s"""source: {type: parquet, path: $dir/in3}
         |sink: {type: ingestPdf, corpus: $dir/corpus, index: $dir/idx,
         |       quarantine: $dir/quar2, id: pid, column: content, batchId: 7}
         |""".stripMargin
    Config.run(spark, pinned)
    Config.run(spark, pinned)
    assert(spark.read.parquet(s"$dir/quar2").select("pid")
      .as[Long].collect().toSeq == Seq(93L))
  }

  test("fileStream source fails fast on an empty or missing arrivals dir") {
    val dir = tempDir("graft_cfg_fsempty_")
    val e = intercept[IllegalArgumentException] {
      Config.run(spark,
        s"""source: {type: fileStream, path: $dir/nowhere, format: parquet}
           |sink: {type: parquet, path: $dir/out}
           |""".stripMargin)
    }
    assert(e.getMessage.contains("at least one .parquet file"))
  }

  test("hash-index maintenance from config: hashIndexCompact + hashIndexErase") {
    val dir = tempDir("graft_cfg_hashm_")
    def pdf(k: Long, n: Int): Array[Byte] = graft.ext.Pdf.genPdfs(
      Seq((k, n, true)).toDF("id", "n", "flate"), "id", "n", "flate")
      .select("content").as[Array[Byte]].head()
    // build a real ingest identity index via the PDF sink
    Seq((1L, pdf(1, 2)), (2L, pdf(3, 3))).toDF("pid", "content")
      .write.parquet(s"$dir/in")
    Config.run(spark,
      s"""source: {type: parquet, path: $dir/in}
         |sink: {type: ingestPdf, corpus: $dir/corpus, index: $dir/idx,
         |       quarantine: $dir/quar, id: pid, column: content}
         |""".stripMargin)
    val hashes = spark.read.parquet(s"$dir/idx/hashes")
    assert(hashes.count() == 5L)
    // erase doc 1's two page hashes, then compact to one file
    hashes.join(spark.read.parquet(s"$dir/corpus")
        .filter($"doc_id" === 1L).select("__h"), Seq("__h"), "left_semi")
      .write.parquet(s"$dir/del")
    Config.runAll(spark,
      s"""tasks:
         |  - name: maintain
         |    source: {type: parquet, path: $dir/del}
         |    transforms:
         |      - {op: hashIndexErase, path: $dir/idx, hash: __h}
         |      - {op: hashIndexCompact, path: $dir/idx}
         |""".stripMargin)
    assert(spark.read.parquet(s"$dir/idx/hashes").count() == 3L)
    assert(new java.io.File(s"$dir/idx/hashes")
      .listFiles().count(_.getName.endsWith(".parquet")) == 1)
    // forgotten-means-forgotten: doc 1's pages re-ADMIT after erasure
    Seq((9L, pdf(1, 2))).toDF("pid", "content").write.parquet(s"$dir/in2")
    Config.run(spark,
      s"""source: {type: parquet, path: $dir/in2}
         |sink: {type: ingestPdf, corpus: $dir/corpus, index: $dir/idx,
         |       quarantine: $dir/quar, id: pid, column: content}
         |""".stripMargin)
    assert(spark.read.parquet(s"$dir/idx/hashes").count() == 5L)
  }

  test("unknown op fails fast with a clear message") {
    val dir = tempDir("graft_cfg_")
    Seq((1, 2)).toDF("a", "b").write.parquet(s"$dir/in")
    val e = intercept[IllegalArgumentException] {
      Config.run(spark, s"source: {type: parquet, path: $dir/in}\ntransforms: [{op: nope}]")
    }
    assert(e.getMessage.contains("unknown transform op"))
  }

  test("kafka source and sink configs fail fast naming the missing connector jar") {
    // this image ships no spark-sql-kafka connector — the guard must name
    // the jar in BOTH directions so binding a real cluster is a classpath
    // change, not an opaque ClassNotFound at runtime
    assume(!graft.sources.Sinks.kafkaAvailable)
    val eSrc = intercept[IllegalArgumentException] {
      Config.run(spark,
        """source: {type: kafka, servers: "localhost:9092", topic: t}
          |sink: {type: console}
          |""".stripMargin)
    }
    assert(eSrc.getMessage.contains("spark-sql-kafka"))
    val dir = tempDir("graft_cfg_kafka_")
    Seq((1, "a")).toDF("key", "value").write.parquet(s"$dir/in")
    val eSink = intercept[IllegalArgumentException] {
      Config.run(spark,
        s"""source: {type: parquet, path: $dir/in}
           |sink: {type: kafka, servers: "localhost:9092", topic: t}
           |""".stripMargin)
    }
    assert(eSink.getMessage.contains("spark-sql-kafka"))
  }
}
