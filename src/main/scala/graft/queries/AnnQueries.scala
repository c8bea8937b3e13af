package graft
package queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.Similarity
import graft.functions.{VectorFunctions => V}
import graft.SparkEntry.{oracleArtifactDir, tmpDir}

/** Similarity search and vector ops: exact, int8 and Hamming top-k, sign-LSH,
  * IVF and PQ, their planted-duplicate recall companions, and the vector
  * transforms.
  */
object AnnQueries {

  /** The per-bit sign-LSH bucket assembly as DuckDB SQL over a column `v`
    * (list of DOUBLE): each hyperplane is inlined as a literal list and
    * contributes its bit iff the projection is positive — the exact
    * semantics of [[graft.functions.SignLshBucketExpr]]. Shared by every
    * oracle that models a sign-LSH index instead of assuming recall.
    */
  private def lshBitTermsSql(lshBits: Int, dim: Int, seed: Int): String = {
    val planes = graft.functions.SignLshBucketExpr.planesFor(lshBits, dim, seed)
    planes.zipWithIndex.map { case (p, b) =>
      val lst = p.map(_.toString).mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, ${dim + 1}), " +
        s"i -> v[i] * ($lst)[i])) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("\n   + ")
  }

  /** Full-pipeline oracle for `ann_lsh_topk`: the sign-LSH hyperplanes are
    * deterministic plan-time constants ([[graft.functions.SignLshBucketExpr
    * .planesFor]]), so the SQL can REPLICATE the whole pipeline — per-bit
    * plane projections (planes inlined as literals), the bucket assembly,
    * the multi-probe set (query bucket + the first `probes-1` single-bit
    * flips), and the exact-cosine rescore — in an independent engine.
    * That is a strictly stronger check than the previous rows-only +
    * recall-gate pairing: it pins the bucketing itself, with NO
    * total-recall assumption (measured recall at these parameters is far
    * from total on this near-random corpus — single-table sign-LSH cannot
    * hash-match brute force here, which is exactly why the oracle must
    * model the index, not the exhaustive ranking).
    *
    * Sign-boundary caveat: both engines sum the projection in doubles; a
    * projection within float-rounding distance of 0 could in principle
    * flip a bit between engines (same order of magnitude of risk as the
    * round(score,4) tie convention every float oracle here accepts).
    */
  private def lshTopkOracleSql(lshBits: Int, dim: Int, seed: Int,
                               probes: Int, queryId: Long, k: Int): String = {
    val bitTerms = lshBitTermsSql(lshBits, dim, seed)
    val probeList = (Seq("q.qb") ++
      (0 until math.max(probes - 1, 0)).map(b => s"xor(q.qb, ${1L << b})"))
      .mkString(", ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |b AS (SELECT vec_id, v,
       |   $bitTerms AS bkt FROM e),
       |q AS (SELECT v AS qv, bkt AS qb FROM b WHERE vec_id = $queryId),
       |cand AS (SELECT b.vec_id, b.v, q.qv FROM b, q
       |  WHERE b.vec_id <> $queryId AND b.bkt IN ($probeList))
       |SELECT vec_id, round(list_sum(list_transform(range(1, ${dim + 1}), i -> v[i] * qv[i]))
       |  / sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> v[i] * v[i]))
       |       * list_sum(list_transform(range(1, ${dim + 1}), i -> qv[i] * qv[i]))), 4) AS score
       |FROM cand ORDER BY score DESC, vec_id LIMIT $k""".stripMargin
  }

  /** Full-pipeline oracle for `ann_knn_bucket` — the same model-the-index
    * promotion `ann_lsh_topk` got in r10, for the BATCH k-NN path: DuckDB
    * recomputes every vector's sign-LSH bucket (planes inlined via
    * [[lshBitTermsSql]]), self-joins corpus×queries on the bucket, rescores
    * with exact cosine rounded to 4, and keeps each query's top `k` by
    * (score desc, corpus_id asc) — replicating [[graft.ext.Similarity
    * .bucketJoinKnn]]'s window rank exactly, with no recall assumption.
    * Rounding comes BEFORE ranking on both sides, so rounded ties break on
    * corpus_id identically in both engines.
    */
  private def knnBucketOracleSql(lshBits: Int, dim: Int, seed: Int,
                                 maxQueryId: Long, k: Int): String = {
    val bitTerms = lshBitTermsSql(lshBits, dim, seed)
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |b AS (SELECT vec_id, v,
       |   $bitTerms AS bkt FROM e),
       |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |  round(list_sum(list_transform(range(1, ${dim + 1}), i -> c.v[i] * q.v[i]))
       |    / sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> c.v[i] * c.v[i]))
       |         * list_sum(list_transform(range(1, ${dim + 1}), i -> q.v[i] * q.v[i]))), 4) AS score
       |  FROM b c JOIN b q ON c.bkt = q.bkt
       |  WHERE q.vec_id < $maxQueryId AND c.vec_id <> q.vec_id)
       |SELECT query_id, corpus_id, score FROM (
       |  SELECT query_id, corpus_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS rk
       |  FROM scored) WHERE rk <= $k""".stripMargin
  }

  def cases: Seq[QueryCase] = Seq(
    QueryCase("ann_cosine_topk", (s, dir) =>
      Similarity.cosineTopK(Tables(s, dir).embeddings, "vec_id", "embedding",
        queryId = 1L, k = 20),
      Oracle(
        """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
          |SELECT vec_id,
          |  round(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
          |    / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
          |         * list_sum(list_transform(range(1, 65), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))), 4) AS score
          |FROM embeddings, q WHERE vec_id <> 1
          |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin)),

    // int8-quantized scan: ranking by INTEGER code dot products is bit-exact
    // across engines, so unlike the float-LSH variants this ANN path gets a
    // full hash oracle (1/4 the scan bytes of float32 at 100 TB)
    QueryCase("ann_int8_topk", (s, dir) =>
      Similarity.int8TopK(Tables(s, dir).embeddings, "vec_id", "embedding",
        queryId = 1L, k = 20),
      Oracle(
        """WITH sc AS (SELECT vec_id,
          |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
          |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
          |  FROM embeddings),
          |  q8 AS (SELECT vec_id, CASE WHEN s = 0 THEN list_transform(v, x -> 0)
          |    ELSE list_transform(v, x -> CAST(round(x / s) AS INT)) END AS qa FROM sc),
          |  qq AS (SELECT qa AS qv FROM q8 WHERE vec_id = 1)
          |SELECT vec_id, CAST(list_sum(list_transform(range(1, 65),
          |    i -> CAST(qa[i] AS BIGINT) * qv[i])) AS BIGINT) AS iscore
          |FROM q8, qq WHERE vec_id <> 1
          |ORDER BY iscore DESC, vec_id LIMIT 20""".stripMargin)),

    // int8 candidate scan + exact-cosine rescore of the top 4k: recovers the
    // exact ranking (oracle: the same all-pairs cosine SQL as
    // ann_cosine_topk), while the wide read stays on the 1-byte codes
    QueryCase("ann_int8_rescored", (s, dir) =>
      Similarity.int8TopKRescored(Tables(s, dir).embeddings, "vec_id",
        "embedding", queryId = 1L, k = 20),
      // rescored int8 ANN recovers the exact ranking → same oracle as the
      // brute-force cosine scan
      Oracle(
        """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
          |SELECT vec_id,
          |  round(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
          |    / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
          |         * list_sum(list_transform(range(1, 65), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))), 4) AS score
          |FROM embeddings, q WHERE vec_id <> 1
          |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin)),

    // batch int8 search from the PERSISTED code table: integer scores are
    // bit-exact across engines, so the whole batch ranking gets a full
    // hash oracle (the only batch-ANN tier where that is possible)
    QueryCase("ann_int8_batch", (s, dir) => {
      val e = Tables(s, dir).embeddings
      val path = tmpDir(dir, "int8_codes")
      Similarity.writeCodes(e, "vec_id", "embedding", path)
      val codes = s.read.parquet(path)
      Similarity.int8TopKMany(codes, "vec_id",
        codes.filter(col("vec_id").between(1L, 5L)), "vec_id", k = 10)
    },
    // the batch ranking uses the same quantization as ann_int8_topk; per
    // query: rank by integer dot desc, corpus id asc, top 10, no self-match
    Oracle(
      """WITH sc AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
        |  FROM embeddings),
        |  q8 AS (SELECT vec_id, CASE WHEN s = 0 THEN list_transform(v, x -> 0)
        |    ELSE list_transform(v, x -> CAST(round(x / s) AS INT)) END AS qa FROM sc),
        |  qq AS (SELECT vec_id AS query_id, qa AS qv FROM q8 WHERE vec_id BETWEEN 1 AND 5),
        |  scored AS (SELECT query_id, q8.vec_id AS corpus_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(qa[i] AS BIGINT) * qv[i])) AS BIGINT) AS iscore
        |    FROM q8, qq WHERE q8.vec_id <> query_id)
        |SELECT query_id, corpus_id, iscore FROM (
        |  SELECT query_id, corpus_id, iscore,
        |    row_number() OVER (PARTITION BY query_id ORDER BY iscore DESC, corpus_id) AS rk
        |  FROM scored) WHERE rk <= 10""".stripMargin)),

    // 1-bit sign quantization: Hamming ranking over packed sign bits (64
    // dims = ONE 8-byte long/row — 32× less scan than float32). Integer
    // distances ⇒ full hash oracle (oracle re-derives the sign bits and
    // counts per-dim disagreements)
    QueryCase("ann_hamming_topk", (s, dir) =>
      Similarity.hammingTopK(Tables(s, dir).embeddings, "vec_id", "embedding",
        dim = 64, queryId = 1L, k = 20),
      // sign-bit Hamming ranking: per-dim sign disagreement count — pure
      // integer, replicated dim-by-dim (no packing needed oracle-side)
      Oracle(
        """WITH sg AS (SELECT vec_id,
          |    list_transform(embedding, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS sb
          |  FROM embeddings),
          |  q AS (SELECT sb AS qb FROM sg WHERE vec_id = 1)
          |SELECT vec_id, CAST(list_sum(list_transform(range(1, 65),
          |    i -> CASE WHEN sb[i] <> qb[i] THEN 1 ELSE 0 END)) AS BIGINT) AS hdist
          |FROM sg, q WHERE vec_id <> 1
          |ORDER BY hdist, vec_id LIMIT 20""".stripMargin)),

    // Hamming candidate scan + exact-cosine rescore of the top 4k: BOTH
    // stages are deterministic, so the oracle replicates the candidate cut
    // too — a full-pipeline oracle, no recall assumption
    QueryCase("ann_hamming_rescored", (s, dir) =>
      Similarity.hammingRescoredTopK(Tables(s, dir).embeddings, "vec_id",
        "embedding", dim = 64, queryId = 1L, k = 10, rescoreFactor = 4),
      // full two-stage pipeline: Hamming top-40 candidate cut (hdist asc, id
      // asc — deterministic), then exact-cosine rescore of ONLY those
      Oracle(
        """WITH sg AS (SELECT vec_id,
          |    list_transform(embedding, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS sb
          |  FROM embeddings),
          |  q AS (SELECT sb AS qb FROM sg WHERE vec_id = 1),
          |  hd AS (SELECT vec_id, CAST(list_sum(list_transform(range(1, 65),
          |      i -> CASE WHEN sb[i] <> qb[i] THEN 1 ELSE 0 END)) AS BIGINT) AS hdist
          |    FROM sg, q WHERE vec_id <> 1),
          |  cand AS (SELECT vec_id FROM hd ORDER BY hdist, vec_id LIMIT 40),
          |  qv AS (SELECT embedding AS qve FROM embeddings WHERE vec_id = 1)
          |SELECT e.vec_id,
          |  round(list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qve[i] AS DOUBLE)))
          |    / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
          |         * list_sum(list_transform(range(1, 65), i -> CAST(qve[i] AS DOUBLE) * CAST(qve[i] AS DOUBLE)))), 4) AS score
          |FROM embeddings e JOIN cand USING (vec_id), qv
          |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)),

    // batch Hamming search from the PERSISTED signature table: xor+popcount
    // heap kernel, one pass over 8-byte signatures; integer distances ⇒ the
    // whole batch ranking is hash-oracled like ann_int8_batch
    QueryCase("ann_hamming_batch", (s, dir) => {
      val e = Tables(s, dir).embeddings
      val path = tmpDir(dir, "sign_sigs")
      Similarity.writeSignBits(e, "vec_id", "embedding", dim = 64, path)
      val sigs = s.read.parquet(path)
      Similarity.hammingTopKMany(sigs, "vec_id",
        sigs.filter(col("vec_id").between(1L, 5L)), "vec_id", k = 10)
    },
    // per query: rank by hdist asc, corpus id asc, top 10, no self-match
    Oracle(
      """WITH sg AS (SELECT vec_id,
        |    list_transform(embedding, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS sb
        |  FROM embeddings),
        |  qq AS (SELECT vec_id AS query_id, sb AS qb FROM sg WHERE vec_id BETWEEN 1 AND 5),
        |  scored AS (SELECT query_id, sg.vec_id AS corpus_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CASE WHEN sb[i] <> qb[i] THEN 1 ELSE 0 END)) AS BIGINT) AS hdist
        |    FROM sg, qq WHERE sg.vec_id <> query_id)
        |SELECT query_id, corpus_id, hdist FROM (
        |  SELECT query_id, corpus_id, hdist,
        |    row_number() OVER (PARTITION BY query_id ORDER BY hdist, corpus_id) AS rk
        |  FROM scored) WHERE rk <= 10""".stripMargin)),

    // lshBits sized to the test corpus (~500 vecs): 2^6 buckets keeps them
    // populated; the 16-bit default is the 100 TB setting (see Similarity).
    // FULL hash oracle since r10: the deterministic hyperplanes are inlined
    // into the DuckDB SQL, which replicates bucketing + multi-probe +
    // rescore (lshTopkOracleSql) — the parameters here must stay in sync
    // with that oracle entry.
    QueryCase("ann_lsh_topk", (s, dir) =>
      Similarity.lshTopK(Tables(s, dir).embeddings, "vec_id", "embedding", dim = 64,
        queryId = 1L, k = 10, lshBits = 6, probes = 4),
      // full-pipeline LSH oracle: planes inlined as literals, DuckDB
      // recomputes buckets + probes + rescore (see lshTopkOracleSql)
      Oracle(
        lshTopkOracleSql(lshBits = 6, dim = 64, seed = 42, probes = 4,
          queryId = 1L, k = 10))),

    // IVF coarse-quantizer ANN (k-means cells + probe-pruned search).
    // FULL oracle since r13: the k-means FIT isn't SQL-expressible, but
    // the fitted centroids are a persisted 8-row table — the query
    // writeIndexes them to a fixed artifact path and the DuckDB oracle
    // read_parquet()s them back, re-deriving cell assignment (argmin
    // squared-L2, ties to lowest cell — the assignCells contract), probe
    // selection, and the cosine top-k entirely in SQL. Assignment goes
    // through assignCells (not model.transform) precisely so that
    // tie-breaks are a stated cross-engine contract.
    QueryCase("ann_ivf", (s, dir) => {
      val e = Tables(s, dir).embeddings
      val path = oracleArtifactDir("ann_ivf")
      // maxIter=3: a coarse quantizer needs placement, not convergence —
      // recall comes from nProbe (see Ivf scaladoc); 5 iterations measured
      // ~1.5 s slower for identical search results on this corpus
      val fit = graft.ext.Ivf.build(e, "vec_id", "embedding", nLists = 8,
        maxIter = 3)
      val assigned = graft.ext.Ivf.assignCells(e, "vec_id", "embedding",
        fit.centroids)
      graft.ext.Ivf.writeIndex(graft.ext.Ivf.Index(assigned, fit.centroids), path)
      val idx = graft.ext.Ivf.readIndex(s, path)
      graft.ext.Ivf.search(idx.assigned, idx, "vec_id", "embedding",
        queryVec = Seq.fill(64)(0.1), k = 10, nProbe = 2)
    },
    // IVF re-derived from the persisted quantizer: centroids come from the
    // artifact the query wrote (k-means fit is the ONLY non-SQL step);
    // assignment (argmin L2, ties → lowest cell), probe selection, and the
    // probed cosine top-k are all re-computed in SQL. (centroid[i] - 0.1)²
    // equals Spark's (0.1 - centroid[i])² exactly — FP negation is exact.
    Oracle(
      """WITH cents AS (SELECT list_id, centroid
        |    FROM read_parquet('/tmp/graft_q/oracle_artifacts/ann_ivf/centroids/*.parquet')),
        |  probes AS (SELECT list_id FROM (
        |    SELECT list_id, list_sum(list_transform(range(1, 65),
        |      i -> (centroid[i] - 0.1) * (centroid[i] - 0.1))) AS d FROM cents)
        |    ORDER BY d, list_id LIMIT 2),
        |  asg AS (SELECT vec_id, embedding FROM (
        |    SELECT e.vec_id, e.embedding, c.list_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(range(1, 65),
        |          i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
        |             * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))),
        |        c.list_id) AS rk
        |    FROM embeddings e, cents c)
        |    WHERE rk = 1 AND list_id IN (SELECT list_id FROM probes))
        |SELECT vec_id,
        |  round(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * 0.1))
        |    / sqrt(list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
        |         * list_sum(list_transform(range(1, 65), i -> 0.1 * 0.1))), 4) AS score
        |FROM asg ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)),

    // batch k-NN via bucket join + per-query window rank. FULL hash oracle
    // since r12: knnBucketOracleSql replicates bucketing + join + windowed
    // rescore with the planes inlined — parameters here must stay in sync
    // with that oracle entry.
    QueryCase("ann_knn_bucket", (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.bucketJoinKnn(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        dim = 64, k = 5, lshBits = 6)
    },
    // full-pipeline batch-kNN oracle: buckets + bucket join + windowed
    // rescore all replicated in DuckDB (see knnBucketOracleSql) — the
    // parameters must stay in sync with the ann_knn_bucket query entry
    Oracle(
      knnBucketOracleSql(lshBits = 6, dim = 64, seed = 42,
        maxQueryId = 10L, k = 5))),

    // product-quantized ADC scan (FAISS-style m-byte codes, 32× the scan-
    // byte cut of float32). FULL oracle since r13, same technique as
    // ann_ivf: the trained codebooks persist to a fixed artifact path via
    // writeIndex and the DuckDB oracle read_parquet()s them, re-deriving
    // per-subspace encoding (argmin, ties to lowest code), the query's
    // distance table, and the ADC ranking in SQL. adist is rounded to 4
    // decimals on BOTH sides after ranking (the ranking itself compares
    // raw doubles produced by identical sequential-sum order).
    QueryCase("ann_pq", (s, dir) => {
      val e = Tables(s, dir).embeddings
      val path = oracleArtifactDir("ann_pq")
      val cb = graft.ext.Pq.train(e, "embedding", dim = 64, m = 8)
      val codes = graft.ext.Pq.encode(e, "vec_id", "embedding", cb)
      graft.ext.Pq.writeIndex(codes, cb, path)
      val (codes2, cb2) = graft.ext.Pq.readIndex(s, path)
      val qv = e.filter(col("vec_id") === 1L).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      graft.ext.Pq.adcTopK(codes2.filter(col("vec_id") =!= 1L), cb2, "vec_id",
        qv, k = 10)
        .withColumn("adist", round(col("adist"), 4))
    },
    // PQ ADC re-derived from the persisted codebooks: encode = per-subspace
    // argmin (ties → lowest code), the query's distance table = squared L2
    // of query slice vs codeword, adist = subspace-ORDERED sum of lookups
    // (list(d ORDER BY subspace) → list_sum matches Spark's sequential
    // j=0..7 accumulation); rounded to 4 decimals after ranking, like the
    // Spark side
    Oracle(
      """WITH cb AS (SELECT subspace, code, centroid
        |    FROM read_parquet('/tmp/graft_q/oracle_artifacts/ann_pq/codebooks/*.parquet')),
        |  q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |    FROM embeddings WHERE vec_id = 1),
        |  tbl AS (SELECT subspace, code,
        |      list_sum(list_transform(range(1, 9),
        |        i -> (qv[subspace*8 + i] - centroid[i]) * (qv[subspace*8 + i] - centroid[i]))) AS d
        |    FROM cb, q),
        |  enc AS (SELECT vec_id, subspace, code FROM (
        |    SELECT e.vec_id, c.subspace, c.code,
        |      row_number() OVER (PARTITION BY e.vec_id, c.subspace ORDER BY
        |        list_sum(list_transform(range(1, 9),
        |          i -> (CAST(e.embedding[c.subspace*8 + i] AS DOUBLE) - c.centroid[i])
        |             * (CAST(e.embedding[c.subspace*8 + i] AS DOUBLE) - c.centroid[i]))),
        |        c.code) AS rk
        |    FROM embeddings e, cb c WHERE e.vec_id <> 1)
        |    WHERE rk = 1),
        |  ad AS (SELECT enc.vec_id, list_sum(list(tbl.d ORDER BY enc.subspace)) AS adist
        |    FROM enc JOIN tbl ON tbl.subspace = enc.subspace AND tbl.code = enc.code
        |    GROUP BY enc.vec_id)
        |SELECT vec_id, round(adist, 4) AS adist
        |FROM ad ORDER BY ad.adist, vec_id LIMIT 10""".stripMargin)),

    // ANN oracle companions: planted-duplicate retrieval. Each
    // approximate index must retrieve the exact copy of every query vector
    // (cosine 1.0 — identical vectors share buckets/cells deterministically),
    // giving the approximate paths a hash-checkable correctness gate the
    // driver can verify from the parquet alone.
    QueryCase("ann_lsh_recall", (s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      (1L to 5L).map { qid =>
        Similarity.lshTopK(withCopies, "vec_id", "embedding", dim = 64,
          queryId = qid, k = 10, lshBits = 6, probes = 4)
          .filter(col("vec_id") === qid + 1000000L)
          .select(lit(qid).as("query_id"), col("vec_id").as("hit_id"), col("score"))
      }.reduce(_ unionByName _)
    }, Oracle(
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id, 1.0 AS score
        |FROM embeddings WHERE vec_id BETWEEN 1 AND 5""".stripMargin)),

    QueryCase("ann_knn_recall", (s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      Similarity.bucketJoinKnn(withCopies, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", dim = 64, k = 5, lshBits = 6)
        .filter(col("corpus_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("corpus_id").as("hit_id"), col("score"))
    }, Oracle(
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id, 1.0 AS score
        |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    QueryCase("ann_ivf_recall", (s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      // the query IS corpus vector 1, so its nearest centroid is its own
      // cell and nProbe=1 must surface both copies at cosine 1.0
      val qv = e.filter(col("vec_id") === 1L).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      val idx = graft.ext.Ivf.build(withCopies, "vec_id", "embedding",
        nLists = 8, maxIter = 2)
      graft.ext.Ivf.search(idx.assigned, idx, "vec_id", "embedding",
        queryVec = qv, k = 2, nProbe = 1)
    }, Oracle(
      """SELECT * FROM (VALUES (CAST(1 AS BIGINT), 1.0),
        |  (CAST(1000001 AS BIGINT), 1.0)) AS t(vec_id, score)""".stripMargin)),

    // batch (many-query) IVF, planted-duplicate gate: every query vector is
    // its own nearest centroid's cell-mate with its copy, so nProbe=1 must
    // surface the copy at cosine 1.0 for ALL 20 queries in one distributed
    // search — no driver round-trip per query (k=3 absorbs incidental
    // rounded-1.0 ties ahead of the planted hit)
    QueryCase("ann_ivf_batch_recall", (s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      val idx = graft.ext.Ivf.build(withCopies, "vec_id", "embedding",
        nLists = 8, maxIter = 2)
      graft.ext.Ivf.searchMany(idx.assigned, idx, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 3, nProbe = 1)
        .filter(col("corpus_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("corpus_id").as("hit_id"), col("score"))
    }, Oracle(
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id, 1.0 AS score
        |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // IVF daily-append gate: the corpus is indexed+persisted ONCE, then a
    // batch of planted copies is appended by nearest-EXISTING-centroid
    // assignment (Ivf.appendIndex — no k-means refit), and the batch search
    // runs from the RE-READ index. Every appended copy shares its
    // original's cell, so nProbe=1 must surface it at cosine 1.0 — the gate
    // that certifies append-then-search, the daily ANN-ingest shape
    QueryCase("ann_ivf_append_recall", (s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val idx = graft.ext.Ivf.build(e, "vec_id", "embedding",
        nLists = 8, maxIter = 2)
      val path = tmpDir(dir, "ivf_append_index")
      graft.ext.Ivf.writeIndex(idx, path)
      graft.ext.Ivf.appendIndex(s, path,
        e.filter(col("vec_id") < 20)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
        "vec_id", "embedding")
      val loaded = graft.ext.Ivf.readIndex(s, path)
      graft.ext.Ivf.searchMany(loaded.assigned, loaded,
        e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 3, nProbe = 1)
        .filter(col("corpus_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("corpus_id").as("hit_id"), col("score"))
    }, Oracle(
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id, 1.0 AS score
        |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // PQ planted-duplicate gate: a copy encodes to the query's own code, so
    // its ADC distance is the sum of per-subspace minima — the global
    // minimum — and MUST appear in the top-k (k=4 absorbs the query's own
    // corpus row and incidental code collisions). One adcTopKMany plan for
    // all 5 queries — the same batch shape as every other ANN gate (the
    // old form built 5 per-query plans in a driver loop and unioned them).
    QueryCase("ann_pq_recall", (s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      val cb = graft.ext.Pq.train(withCopies, "embedding", dim = 64, m = 8)
      val codes = graft.ext.Pq.encode(withCopies, "vec_id", "embedding", cb)
      graft.ext.Pq.adcTopKMany(codes, cb, "vec_id",
        e.filter(col("vec_id").between(1L, 5L)), "vec_id", "embedding", k = 4)
        .filter(col("corpus_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("corpus_id").as("hit_id"))
    }, Oracle(
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id
        |FROM embeddings WHERE vec_id BETWEEN 1 AND 5""".stripMargin)),

    // persisted-index PQ, batch form: the corpus is encoded ONCE, the full
    // index (codes + codebooks) round-trips through parquet, and the
    // planted-duplicate batch search runs from the REREAD index — the
    // encode-once/search-many shape a 100 TB deployment actually uses
    // (per-query adcTopK from fresh codes is ann_pq)
    QueryCase("ann_pq_persisted_recall", (s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      val cb = graft.ext.Pq.train(withCopies, "embedding", dim = 64, m = 8)
      val codes = graft.ext.Pq.encode(withCopies, "vec_id", "embedding", cb)
      val path = tmpDir(dir, "pq_index")
      graft.ext.Pq.writeIndex(codes, cb, path)
      val (codes2, cb2) = graft.ext.Pq.readIndex(s, path)
      graft.ext.Pq.adcTopKMany(codes2, cb2, "vec_id",
        e.filter(col("vec_id").between(1L, 5L)), "vec_id", "embedding", k = 4)
        .filter(col("corpus_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("corpus_id").as("hit_id"))
    }, Oracle(
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id
        |FROM embeddings WHERE vec_id BETWEEN 1 AND 5""".stripMargin)),

    // composed IVF-PQ (the FAISS IVFADC architecture) from a PERSISTED
    // index: the coarse quantizer prunes which cells are scanned (parquet
    // partition pruning), PQ makes each scanned code m bytes + m lookups.
    // Planted-duplicate gate: a copy shares its original's cell and code →
    // globally minimal ADC distance at nProbe=1 (k=3 absorbs the query's
    // own corpus row + incidental code collisions)
    // IVF-PQ daily-append gate: the index is built WITHOUT the copies,
    // which then arrive as a daily batch through IvfPq.appendIndex —
    // nearest-existing-centroid assignment + residual encode with the
    // EXISTING codebooks, no refit. A verbatim copy gets its original's
    // cell and identical code, so the batch search from the re-read index
    // must surface it (k=3 absorbs the tied original row + collisions)
    QueryCase("ann_ivfpq_append_recall", (s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val idx = graft.ext.IvfPq.build(e, "vec_id", "embedding",
        dim = 64, m = 8, nLists = 8, maxIter = 2)
      val path = tmpDir(dir, "ivfpq_append_index")
      graft.ext.IvfPq.writeIndex(idx, path)
      graft.ext.IvfPq.appendIndex(s, path,
        e.filter(col("vec_id") < 20)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
        "vec_id", "embedding")
      val idx2 = graft.ext.IvfPq.readIndex(s, path)
      graft.ext.IvfPq.searchMany(idx2, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 3, nProbe = 1)
        .filter(col("corpus_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("corpus_id").as("hit_id"))
    }, Oracle(
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id
        |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    QueryCase("ann_ivfpq_recall", (s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val withCopies = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000L))
      val idx = graft.ext.IvfPq.build(withCopies, "vec_id", "embedding",
        dim = 64, m = 8, nLists = 8, maxIter = 2)
      val path = tmpDir(dir, "ivfpq_index")
      graft.ext.IvfPq.writeIndex(idx, path)
      val idx2 = graft.ext.IvfPq.readIndex(s, path)
      graft.ext.IvfPq.searchMany(idx2, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 3, nProbe = 1)
        .filter(col("corpus_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("corpus_id").as("hit_id"))
    }, Oracle(
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id
        |FROM embeddings WHERE vec_id < 20""".stripMargin)),

    // L2 normalization: values scaled ×10⁴ and floored half-up so the
    // DuckDB-side division hash-matches (same guard for zero vectors)
    QueryCase("vec_l2_normalize", (s, dir) =>
      Tables(s, dir).embeddings.select(col("vec_id"),
        array_join(transform(V.l2Normalize(col("embedding")),
          x => floor(x * 10000 + lit(0.5)).cast("bigint")), ",").as("v_tenk")),
      Oracle(
        """SELECT vec_id, array_to_string(list_transform(range(1, 65),
          |  i -> CAST(floor(CASE WHEN n = 0 THEN CAST(embedding[i] AS DOUBLE)
          |       ELSE CAST(embedding[i] AS DOUBLE) / n END * 10000 + 0.5) AS BIGINT)), ',') AS v_tenk
          |FROM (SELECT vec_id, embedding,
          |  sqrt(list_sum(list_transform(range(1, 65),
          |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS n
          |  FROM embeddings)""".stripMargin)),

    // int8 scalar quantization (4× memory cut for ANN scans): verified via
    // integer aggregates of the quantized codes — bit-exact across engines,
    // unlike a float reconstruction-error metric
    QueryCase("vec_quantize_int8", (s, dir) =>
      Tables(s, dir).embeddings
        .select(col("vec_id"), V.quantizeInt8(col("embedding")).as("qs"))
        .select(col("vec_id"), round(col("qs.scale"), 6).as("scale"),
          aggregate(col("qs.q"), lit(0L), (a, x) => a + x.cast("bigint")).as("sum_q"),
          array_min(col("qs.q")).cast("bigint").as("min_q"),
          array_max(col("qs.q")).cast("bigint").as("max_q")),
      Oracle(
        """WITH sc AS (SELECT vec_id,
          |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
          |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
          |  FROM embeddings),
          |  q AS (SELECT vec_id, s, CASE WHEN s = 0 THEN list_transform(v, x -> 0)
          |    ELSE list_transform(v, x -> CAST(round(x / s) AS INT)) END AS qa FROM sc)
          |SELECT vec_id, round(s, 6) AS scale,
          |  CAST(list_sum(qa) AS BIGINT) AS sum_q,
          |  CAST(list_min(qa) AS BIGINT) AS min_q,
          |  CAST(list_max(qa) AS BIGINT) AS max_q
          |FROM q""".stripMargin)),

    // 1-bit sign packing verified directly: the packed BIGINT word and its
    // popcount — both exact integers, so the oracle re-derives the word via
    // HUGEINT shifted sums and wraps to signed 64-bit
    QueryCase("vec_sign_bits", (s, dir) =>
      Tables(s, dir).embeddings
        .select(col("vec_id"),
          element_at(V.packSignBits(col("embedding"), 64), 1).as("sig_word"))
        .select(col("vec_id"), col("sig_word"),
          call_function("bit_count", col("sig_word")).cast("bigint").as("n_pos")),
      // packed word re-derived as a HUGEINT shifted sum (DuckDB's BIGINT <<
      // overflows at bit 63), wrapped to signed 64-bit to match Spark's long
      Oracle(
        """WITH s AS (SELECT vec_id,
          |    list_sum(list_transform(range(1, 65),
          |      i -> CASE WHEN embedding[i] >= 0 THEN (CAST(1 AS HUGEINT) << (i - 1))
          |           ELSE CAST(0 AS HUGEINT) END)) AS u,
          |    CAST(list_sum(list_transform(embedding,
          |      x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END)) AS BIGINT) AS n_pos
          |  FROM embeddings)
          |SELECT vec_id,
          |  CAST(CASE WHEN u >= CAST(1 AS HUGEINT) << 63
          |    THEN u - (CAST(1 AS HUGEINT) << 64) ELSE u END AS BIGINT) AS sig_word,
          |  n_pos
          |FROM s""".stripMargin)),

    // deterministic Rademacher projection 64→16 over int8-quantized codes:
    // integer sums are order-independent, so the md5-derived ±1 matrix makes
    // the whole projection hash-oracle-able (same precedent as ann_int8_topk)
    QueryCase("vec_random_projection", (s, dir) => {
      val q = Tables(s, dir).embeddings.select(col("vec_id"),
        V.quantizeInt8(col("embedding")).getField("q").as("q"))
      q.select(col("vec_id"),
          posexplode(V.randomProjection(col("q"), dim = 64, outDim = 16)))
        .select(col("vec_id"), col("pos").cast("bigint").as("j"),
          col("col").cast("bigint").as("proj"))
    }, Oracle(
      """WITH sc AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
        |  FROM embeddings),
        |  q AS (SELECT vec_id, CASE WHEN s = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |    ELSE list_transform(v, x -> CAST(round(x / s) AS BIGINT)) END AS qa FROM sc)
        |SELECT vec_id, CAST(j AS BIGINT) AS j,
        |  CAST(list_sum(list_transform(range(0, 64), i ->
        |    CASE WHEN (instr('0123456789abcdef',
        |        substr(md5('graft:' || CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)) - 1) % 2 = 0
        |      THEN qa[CAST(i + 1 AS INT)] ELSE -qa[CAST(i + 1 AS INT)] END)) AS BIGINT) AS proj
        |FROM q, unnest(range(0, 16)) AS t(j)""".stripMargin)),

    // batched inference harness end-to-end: a deterministic stand-in model
    // (code-point count mod 997) scores documents through the per-partition
    // batching machinery; the oracle checks id↔score alignment survives
    // batch boundaries under any partitioning
    QueryCase("infer_batched", (s, dir) =>
      graft.ext.Inference.scoreBatched(s,
        Tables(s, dir).documents.select("doc_id", "text"),
        "doc_id", "text", batchSize = 32, numPartitions = 8) { batch =>
        batch.map(t => (t.codePointCount(0, t.length) % 997).toDouble)
      }, Oracle("SELECT doc_id, CAST(length(text) % 997 AS DOUBLE) AS score FROM documents")))
}
