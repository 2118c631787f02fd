package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions
import graft.similarity.Similarity
import Fragments._

/** Embedding similarity: brute-force, LSH and quantized top-k,
  * recall/ranking metrics and embedding transforms. */
object SimilarityQueries {

  /** Residual-quantized ANN under the oracle
    * ([[graft.similarity.Similarity.rqTopK]]): two additive first-k
    * codebooks, tie-deterministic assignments, the nC1×nC2
    * reconstruction LUT, ADC, and the exact-cosine rerank — the FULL
    * production chain replayed (the sim_sq8 convention, stronger than
    * exhaustive-only). */
  private def simRq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = queryVectors(e)
    Similarity.rqTopK(e.select("vec_id", "embedding"), queries,
      k = 5, nC1 = 16, nC2 = 16, coarseK = 20)
  }

  private def simTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = queryVectors(e)
    Similarity.bruteForceTopK(e.select("vec_id", "embedding"), queries, k = 5)
  }

  /** Fixed-point PCA power iteration under the oracle
    * ([[graft.similarity.Similarity.pc1Scores]]): every embedding's
    * coordinate along the corpus's dominant principal direction, in
    * exact micro-units — the "all-but-the-top" isotropy primitive.
    * The oracle replays the mean-centering, all three v ← Xᵀ(Xv)
    * rounds (HUGEINT back-projection, floor-division renormalization)
    * and the final scoring, verbatim. */
  private def embedPca(spark: SparkSession, dir: String): DataFrame =
    Similarity.pc1Scores(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), iters = 3)

  private def pcaSql(iters: Int): String = {
    val ones = Seq.fill(64)("1000000").mkString("[", ", ", "]")
    val setup =
      s"""WITH f AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding,
         |    v -> CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS fv
         |  FROM embeddings),
         |st AS (
         |  SELECT p, SUM(fv[CAST(p AS INT) + 1]) AS s, COUNT(*) AS n
         |  FROM f, range(0, 64) t(p) GROUP BY p),
         |mu AS MATERIALIZED (
         |  SELECT list(CAST((s - ((s % n + n) % n)) // n AS BIGINT) ORDER BY p) AS mv
         |  FROM st),
         |xc AS MATERIALIZED (
         |  SELECT vec_id, list_transform(range(1, 65),
         |    i -> fv[i] - mu.mv[i]) AS xc
         |  FROM f, mu),
         |v0 AS (SELECT $ones AS v)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s""",
         |sc$t AS MATERIALIZED (
         |  SELECT vec_id, xc, list_sum(list_transform(range(1, 65),
         |    i -> xc[i] * pv.v[i])) AS s
         |  FROM xc, v${t - 1} pv),
         |w$t AS MATERIALIZED (
         |  SELECT p, SUM(CAST(xc[CAST(p AS INT) + 1] AS HUGEINT) * s) AS w
         |  FROM sc$t, range(0, 64) t(p) GROUP BY p),
         |m$t AS (SELECT MAX(ABS(w)) AS m FROM w$t),
         |v$t AS MATERIALIZED (
         |  SELECT list(CAST((w * 1000000 - (((w * 1000000) % m + m) % m)) // m AS BIGINT)
         |    ORDER BY p) AS v
         |  FROM w$t, m$t)""".stripMargin
    }.mkString
    setup + rounds +
      s""",
         |fin AS (
         |  SELECT vec_id, list_sum(list_transform(range(1, 65),
         |    i -> xc[i] * pv.v[i])) AS s
         |  FROM xc, v$iters pv),
         |dd AS (
         |  SELECT CAST(((vv - (vv % 1000000)) // 1000000) AS BIGINT) AS d FROM (
         |    SELECT list_sum(list_transform(v, x -> x * x)) AS vv FROM v$iters))
         |SELECT vec_id, CAST((s - ((s % d + d) % d)) // d AS BIGINT) AS pc1_micro
         |FROM fin, dd""".stripMargin
  }

  /** KNN-Shapley data valuation
    * ([[graft.operators.Valuation.knnShapley]]): exact per-training-
    * point Shapley value under a 5-NN utility against the bounded
    * eval set (vec_id < 10), labels derived as vec_id % 3, summed
    * over eval points in integer micro-units. */
  private def dataShapley(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("label", (col("vec_id") % 3).cast("int"))
    val test = queryVectors(e, col("label").as("q_label"))
    graft.operators.Valuation.knnShapley(
      e.filter(col("vec_id") >= 10).select("vec_id", "embedding", "label"), test)
  }

  /** ANN-screened KNN-Shapley
    * ([[graft.operators.Valuation.knnShapleyScreened]]): the
    * coarse-to-fine JL screen prunes each test point's candidates to
    * screenK=50 of the 1990 train points, then the exact recurrence
    * values the retrieved neighborhood (n = candidate count). The
    * whole chain — integer plane projections, coarse cut, exact
    * cosine re-rank, recurrence — replays in SQL, so the oracle
    * checks the screen AND the restricted valuation end-to-end. */
  private def dataShapleyScreened(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("label", (col("vec_id") % 3).cast("int"))
    val test = queryVectors(e, col("label").as("q_label"))
    graft.operators.Valuation.knnShapleyScreened(
      e.filter(col("vec_id") >= 10).select("vec_id", "embedding", "label"), test,
      k = 5, screenK = 50, coarseK = 100)
  }

  /** SemDeDup ([[graft.similarity.Similarity.semanticDedup]]): drop
    * bucket members within cosine 0.2 of their representative. */
  private def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"),
      dim = 64, tau = 0.2, nPlanes = 6)

  /** Semantic coverage sampling ([[graft.similarity.Similarity.diversitySample]]):
    * 3 highest-norm representatives per 6-plane LSH bucket. */
  private def embedDiversity(spark: SparkSession, dir: String): DataFrame =
    Similarity.diversitySample(
        Tables.embeddings(spark, dir).select("vec_id", "embedding"),
        dim = 64, perBucket = 3, nPlanes = 6)
      .select("vec_id", "bucket", "bucket_rank")

  private def simLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = queryVectors(e)
    Similarity.lshTopK(e.select("vec_id", "embedding"), queries, dim = 64, k = 5)
  }

  /** Multi-probe LSH ([[graft.similarity.Similarity.lshMultiProbeTopK]]):
    * each query also probes the two flipped lowest-|margin| buckets —
    * several hash tables' recall at one table's memory. */
  private def simLshMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = queryVectors(e)
    Similarity.lshMultiProbeTopK(e.select("vec_id", "embedding"), queries,
      dim = 64, k = 5, nPlanes = 8, extraProbes = 2)
  }

  /** Threshold 0.4: the synthetic embeddings carry no true near-dups
    * (max pairwise cosine ≈ 0.51), so a production-style 0.95 cutoff
    * would legitimately return zero rows; 0.4 keeps the pipeline
    * observable end-to-end. */
  private def embedNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDups(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"),
      dim = 64, threshold = 0.4)

  // ---- oracle fragments shared by the text/dedup statements

  /** Hashed-TF document vectors (tok → b → grid → v, 64 buckets) —
    * the WITH-body shared by the `text_knn` oracle and the dense leg
    * of `hybrid_search`. */
  private lazy val hashedVecCtesSql: String =
    s"""tok AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
       |b AS (SELECT doc_id,
       |    CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) % 64 AS bucket,
       |    count(*) AS c
       |  FROM tok GROUP BY 1, 2),
       |grid AS (SELECT d.doc_id, t.i
       |  FROM (SELECT DISTINCT doc_id FROM documents) d, range(0, 64) t(i)),
       |v AS (SELECT g.doc_id,
       |    list(CAST(coalesce(b.c, 0) AS BIGINT) ORDER BY g.i) AS vec
       |  FROM grid g LEFT JOIN b ON g.doc_id = b.doc_id AND g.i = b.bucket
       |  GROUP BY g.doc_id)""".stripMargin

  /** The JL projection expression for plane `p` over `src` — the
    * engine's md5-derived ±1 signs (seed offset 100 =
    * [[Similarity.randomProject]]'s default, dim 64) inlined as an
    * integer literal list, same micro-quantize-then-integer-sum
    * arithmetic. ONE generator shared by the `embed_project` and
    * `sim_project_rerank` oracles so the plane family and the
    * quantization constant cannot drift between them. */
  private def projMicroSql(src: String, p: Int): String = {
    val signs = Similarity.planeVector(100 + p, 64)
      .map(v => if (v > 0) "1" else "-1").mkString("[", ", ", "]")
    s"CAST(list_sum(list_transform(range(1, 65), i -> " +
      s"CAST(round(CAST($src[i] AS DOUBLE) * 1000000) AS BIGINT) * ($signs)[i])) AS BIGINT)"
  }

  /** One plane's SELECT for the `embed_project` oracle: the engine's
    * md5-derived ±1 signs (seed offset 100 = [[Similarity
    * .randomProject]]'s default) inlined as an integer literal list,
    * the same micro-quantize-then-integer-sum arithmetic. */
  private def projectPlaneSql(p: Int): String =
    s"""SELECT vec_id, CAST($p AS INT) AS plane_idx,
       |  ${projMicroSql("embedding", p)} AS proj_micro
       |FROM embeddings""".stripMargin

  /** DuckDB literal for hyperplane p (same md5-derived signs as
    * [[Similarity.planeVector]]). */
  private def planeSqlList(p: Int): String =
    Similarity.planeVector(p, 64).map(v => if (v > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]")

  /** Bucket id from `nPlanes` sign bits of `emb` against planes
    * [seedOffset, seedOffset+nPlanes) — SQL twin of lshBucketSeeded. */
  private def bucketSql(emb: String, nPlanes: Int, seedOffset: Int): String =
    (0 until nPlanes).map { p =>
      val proj = s"list_sum(list_transform(range(1, 65), i -> CAST($emb[i] AS DOUBLE) * (${planeSqlList(seedOffset + p)})[i]))"
      s"(CASE WHEN $proj >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  /** DuckDB list of probed buckets — own bucket + `extraProbes`
    * flipped lowest-|margin| sign bits (ties toward the lower plane
    * index via the mask field) — SQL twin of
    * [[Similarity.lshProbeBuckets]]. */
  private def probeBucketsSql(emb: String, nPlanes: Int, extraProbes: Int,
                              seedOffset: Int): String = {
    val base = bucketSql(emb, nPlanes, seedOffset)
    val margins = (0 until nPlanes).map { p =>
      val proj = s"list_sum(list_transform(range(1, 65), i -> CAST($emb[i] AS DOUBLE) * (${planeSqlList(seedOffset + p)})[i]))"
      s"{'m': abs($proj), 'mask': ${1L << p}}"
    }.mkString("[", ",\n    ", "]")
    s"""list_concat([$base],
       |  list_transform(list_slice(list_sort($margins), 1, $extraProbes),
       |    s -> xor($base, CAST(s.mask AS BIGINT))))""".stripMargin
  }

  /** Binary-code ANN ([[graft.similarity.Similarity.binarize]] /
    * `hammingTopK`): sign-bit codes (8 bytes/vector) + Hamming top-5 —
    * the memory-bound scale path next to the float brute force of
    * `sim_topk`. */
  private def simHamming(spark: SparkSession, dir: String): DataFrame = {
    val codes = Similarity.binarize(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"))
    val queries = codes.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("code0").as("q0"), col("code1").as("q1"))
    Similarity.hammingTopK(codes, queries, k = 5)
  }

  val specs: Seq[QuerySpec] = Seq(
    // exact KNN-Shapley recurrence replayed verbatim: same rounded
    // cosine ranking, same positive integer divisions (// == div on
    // positive operands), same integer suffix sum
    QuerySpec("data_shapley", dataShapley, {
      val dotTQ = dotSql("t.embedding", "q.q_emb")
      val normT = dotSql("t.embedding", "t.embedding")
      val normQ = dotSql("q.q_emb", "q.q_emb")
      s"""WITH e AS (SELECT vec_id, embedding, CAST(vec_id % 3 AS INT) AS label FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label FROM e WHERE vec_id < 10),
         |sc AS (
         |  SELECT t.vec_id, q.q_id,
         |    CAST(t.label = q.q_label AS INT) AS a,
         |    round($dotTQ / (sqrt($normT) * sqrt($normQ)), 9) AS cos
         |  FROM e t, q WHERE t.vec_id >= 10),
         |r AS (
         |  SELECT vec_id, q_id, a,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rnk,
         |    count(*) OVER (PARTITION BY q_id) AS n,
         |    lead(a) OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS a_next
         |  FROM sc),
         |c AS (
         |  SELECT vec_id, q_id, rnk,
         |    CASE WHEN a_next IS NULL THEN (CAST(a AS BIGINT) * 1000000000000) // n
         |         ELSE (CASE WHEN a > a_next THEN 1 WHEN a < a_next THEN -1 ELSE 0 END)
         |              * ((1000000000000 * least(5, rnk)) // (5 * rnk)) END AS contrib
         |  FROM r),
         |s AS (
         |  SELECT vec_id, q_id,
         |    SUM(contrib) OVER (PARTITION BY q_id ORDER BY rnk DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sv
         |  FROM c)
         |SELECT vec_id, CAST(SUM(sv) AS BIGINT) AS shapley_micros
         |FROM s GROUP BY vec_id""".stripMargin
    }),
    // ANN-screened Shapley: the sim_project_rerank screen (same plane
    // literals, same raw-cos cut) restricted to train ids, then the
    // data_shapley recurrence over ONLY the screened candidates with
    // n = each test point's candidate count
    QuerySpec("data_shapley_screened", dataShapleyScreened, {
      val cpCols = (0 until 32)
        .map(p => projMicroSql("embedding", p) + s" AS p$p").mkString(",\n  ")
      val coarseSum = (0 until 32).map(p => s"cp.p$p * qp.p$p").mkString(" + ")
      val dotEq = dotSql("t.embedding", "q.embedding")
      val normT = dotSql("t.embedding", "t.embedding")
      val normQ = dotSql("q.embedding", "q.embedding")
      s"""WITH cp AS (SELECT vec_id,
         |  $cpCols
         |FROM embeddings WHERE vec_id >= 10),
         |qp AS (SELECT vec_id,
         |  $cpCols
         |FROM embeddings WHERE vec_id < 10),
         |coarse AS (
         |  SELECT qp.vec_id AS q_id, cp.vec_id, ($coarseSum) AS coarse
         |  FROM cp, qp),
         |surv AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY coarse DESC, vec_id ASC) AS crank
         |    FROM coarse) WHERE crank <= 100),
         |fine AS (
         |  SELECT s.q_id, s.vec_id,
         |    $dotEq / (sqrt($normT) * sqrt($normQ)) AS cos
         |  FROM surv s
         |  JOIN embeddings t ON t.vec_id = s.vec_id
         |  JOIN embeddings q ON q.vec_id = s.q_id),
         |sc AS (
         |  SELECT vec_id, q_id, round(cos, 9) AS cos,
         |    CAST((vec_id % 3) = (q_id % 3) AS INT) AS a FROM (
         |    SELECT q_id, vec_id, cos,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
         |    FROM fine) WHERE rank <= 50),
         |r AS (
         |  SELECT vec_id, q_id, a,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rnk,
         |    count(*) OVER (PARTITION BY q_id) AS n,
         |    lead(a) OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS a_next
         |  FROM sc),
         |c AS (
         |  SELECT vec_id, q_id, rnk,
         |    CASE WHEN a_next IS NULL THEN (CAST(a AS BIGINT) * 1000000000000) // n
         |         ELSE (CASE WHEN a > a_next THEN 1 WHEN a < a_next THEN -1 ELSE 0 END)
         |              * ((1000000000000 * least(5, rnk)) // (5 * rnk)) END AS contrib
         |  FROM r),
         |s AS (
         |  SELECT vec_id, q_id,
         |    SUM(contrib) OVER (PARTITION BY q_id ORDER BY rnk DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sv
         |  FROM c)
         |SELECT vec_id, CAST(SUM(sv) AS BIGINT) AS shapley_micros
         |FROM s GROUP BY vec_id""".stripMargin
    }),
    QuerySpec("embed_pca", embedPca, pcaSql(3)),
    // RRF hybrid retrieval ([[graft.operators.Fusion.rrfFuse]]): the
    // BM25 lexical top-20 fused with a dense top-20 — the query's own
    // hashed-TF vector against the text_knn document vectors — by
    // reciprocal rank in integer millionths. Both legs are bounded
    // top-k lists, so the fusion is corpus-size-independent.
    // RRF hybrid retrieval: both legs replayed from their shared CTE
    // chains (lexical = the bm25_search statement ranked on its
    // emitted rounded score; dense = the text_knn vectors against the
    // literal query's own hashed-TF vector), fused in integer
    // millionths by floor division — exactly Fusion.rrfFuse
    QuerySpec("hybrid_search", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val terms = Seq("spark", "merge", "window")
      // rank on the emitted (rounded) score so the ordering is exactly
      // reproducible from the bm25_search result itself
      val lex = TextFunctions.bm25Search(docs, terms, k = 20)
        .select(col("doc_id"), row_number().over(
            Window.orderBy(col("score").desc, col("doc_id").asc))
          .cast("bigint").as("rank"))
      val cands = TextFunctions.hashedTf(docs)
        .select(col("doc_id").as("vec_id"),
          transform(col("vec"), _.cast("float")).as("embedding"))
      val qv = TextFunctions.hashedTf(
          s.range(1).select(lit(-1L).as("doc_id"),
            lit(terms.mkString(" ")).as("text")))
        .select(col("doc_id").as("q_id"),
          transform(col("vec"), _.cast("float")).as("q_emb"))
      val dense = Similarity.bruteForceTopK(cands, qv, k = 20)
        .select(col("vec_id").as("doc_id"), col("rank"))
      graft.operators.Fusion.rrfFuse(Seq(lex, dense), topK = 20)
    }, {
      val hv = (a: String, b: String) => dotSql(a, b)
      s"""WITH $bm25CtesSql,
         |$hashedVecCtesSql,
         |lex AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY round(score_raw, 9) DESC, doc_id) AS rank
         |  FROM (SELECT doc_id, score_raw FROM scored WHERE score_raw > 0
         |        ORDER BY score_raw DESC, doc_id LIMIT 20)),
         |qb AS (SELECT
         |    CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) % 64 AS bucket,
         |    count(*) AS c
         |  FROM (SELECT unnest(['spark', 'merge', 'window']) AS t) GROUP BY 1),
         |qv AS (SELECT list(CAST(coalesce(qb.c, 0) AS BIGINT) ORDER BY t.i) AS q_vec
         |  FROM range(0, 64) t(i) LEFT JOIN qb ON t.i = qb.bucket),
         |dense AS (
         |  SELECT doc_id, rank FROM (
         |    SELECT v.doc_id,
         |      ROW_NUMBER() OVER (ORDER BY
         |        ${hv("v.vec", "q.q_vec")}
         |          / (sqrt(${hv("v.vec", "v.vec")}) * sqrt(${hv("q.q_vec", "q.q_vec")}))
         |        DESC, v.doc_id ASC) AS rank
         |    FROM v, qv q) WHERE rank <= 20),
         |contrib AS (
         |  SELECT doc_id, CAST(1000000 // (60 + rank) AS BIGINT) AS rrf_fp FROM lex
         |  UNION ALL
         |  SELECT doc_id, CAST(1000000 // (60 + rank) AS BIGINT) FROM dense),
         |fused AS (
         |  SELECT doc_id, count(*) AS n_lists, CAST(SUM(rrf_fp) AS BIGINT) AS rrf_fp
         |  FROM contrib GROUP BY 1 ORDER BY rrf_fp DESC, doc_id LIMIT 20)
         |SELECT doc_id, n_lists, rrf_fp,
         |  ROW_NUMBER() OVER (ORDER BY rrf_fp DESC, doc_id) AS rank
         |FROM fused""".stripMargin
    }),
    // feature-hashed TF vectors (hashing trick — no vocab, no model),
    // serialized for the pandas comparator
    // feature hashing: same md5-bucket derivation, dense 64-vector
    // assembled with an ordered list aggregate over a (doc x bucket)
    // grid left-joined to the counts
    QuerySpec("text_hash_vector", (s, d) =>
      TextFunctions.hashedTf(Tables.documents(s, d))
        .select(col("doc_id"),
          array_join(transform(col("vec"), _.cast("string")), ",").as("vec_str")),
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
         |b AS (SELECT doc_id,
         |    CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) % 64 AS bucket,
         |    count(*) AS c
         |  FROM tok GROUP BY 1, 2),
         |grid AS (SELECT d.doc_id, t.i
         |  FROM (SELECT DISTINCT doc_id FROM documents) d, range(0, 64) t(i)),
         |v AS (SELECT g.doc_id,
         |    list(CAST(coalesce(b.c, 0) AS BIGINT) ORDER BY g.i) AS vec
         |  FROM grid g LEFT JOIN b ON g.doc_id = b.doc_id AND g.i = b.bucket
         |  GROUP BY g.doc_id)
         |SELECT doc_id,
         |  array_to_string(list_transform(vec, x -> CAST(x AS VARCHAR)), ',') AS vec_str
         |FROM v""".stripMargin),
    // text-only similarity search: cosine top-k over the hashed-TF
    // vectors (integer-valued floats — engine-exact dot products)
    QuerySpec("text_knn", (s, d) => {
      val v = TextFunctions.hashedTf(Tables.documents(s, d))
      val cands = v.select(col("doc_id").as("vec_id"),
        transform(col("vec"), _.cast("float")).as("embedding"))
      val queries = cands.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.bruteForceTopK(cands, queries, k = 5)
    }, {
      val hv = (a: String, b: String) => dotSql(a, b)
      s"""WITH $hashedVecCtesSql,
         |q AS (SELECT doc_id AS q_id, vec AS q_vec FROM v WHERE doc_id < 5),
         |pairs AS (
         |  SELECT q.q_id, v.doc_id AS vec_id,
         |    ${hv("v.vec", "q.q_vec")}
         |      / (sqrt(${hv("v.vec", "v.vec")}) * sqrt(${hv("q.q_vec", "q.q_vec")})) AS cos
         |  FROM v, q WHERE v.doc_id <> q.q_id)
         |SELECT q_id, vec_id, rank, round(cos, 9) AS cos FROM (
         |  SELECT q_id, vec_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM pairs) WHERE rank <= 5""".stripMargin
    }),
    QuerySpec("sim_topk", simTopK, bruteTopKSql,
      lintExempt = Map("cartesian" ->
        "brute-force cosine baseline: every doc scored against a bounded query set"),
      scalingExempt = Some(
        "brute-force float cosine top-k baseline")),
    // RQ replayed at the PRODUCTION budget: two additive first-k
    // codebooks, deterministic assignments, the nC1 x nC2
    // reconstruction LUT, integer ADC, exact-cosine rerank
    QuerySpec("sim_rq", simRq, {
      val dotEq = dotSql("e.embedding", "q.q_emb")
      val normE = dotSql("e.embedding", "e.embedding")
      val normQ = dotSql("q.q_emb", "q.q_emb")
      s"""WITH f AS MATERIALIZED (
         |  SELECT vec_id, embedding, list_transform(embedding,
         |    v -> CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS fv
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, fv AS qv FROM f WHERE vec_id < 10),
         |cb1 AS (SELECT vec_id AS c1_id, fv AS c1 FROM f ORDER BY vec_id ASC LIMIT 16),
         |a1 AS MATERIALIZED (
         |  SELECT vec_id, c1_id, list_transform(range(1, 65), i -> fv[i] - c1[i]) AS rv
         |  FROM (
         |    SELECT f.vec_id, f.fv, c.c1_id, c.c1,
         |      ROW_NUMBER() OVER (PARTITION BY f.vec_id
         |        ORDER BY list_sum(list_transform(range(1, 65), i -> (f.fv[i] - c.c1[i]) * (f.fv[i] - c.c1[i]))) ASC, c.c1_id ASC) AS rn
         |    FROM f CROSS JOIN cb1 c) WHERE rn = 1),
         |cb2 AS (SELECT vec_id AS c2_id, rv AS c2 FROM a1 ORDER BY vec_id ASC LIMIT 16),
         |a2 AS MATERIALIZED (
         |  SELECT vec_id, c1_id, c2_id FROM (
         |    SELECT r.vec_id, r.c1_id, c.c2_id,
         |      ROW_NUMBER() OVER (PARTITION BY r.vec_id
         |        ORDER BY list_sum(list_transform(range(1, 65), i -> (r.rv[i] - c.c2[i]) * (r.rv[i] - c.c2[i]))) ASC, c.c2_id ASC) AS rn
         |    FROM a1 r CROSS JOIN cb2 c) WHERE rn = 1),
         |lut AS MATERIALIZED (
         |  SELECT q.q_id, c1.c1_id, c2.c2_id, list_sum(list_transform(range(1, 65), i -> (q.qv[i] - (c1.c1[i] + c2.c2[i])) * (q.qv[i] - (c1.c1[i] + c2.c2[i])))) AS d
         |  FROM q CROSS JOIN cb1 c1 CROSS JOIN cb2 c2),
         |adc AS (
         |  SELECT l.q_id, a.vec_id, l.d
         |  FROM a2 a JOIN lut l ON l.c1_id = a.c1_id AND l.c2_id = a.c2_id
         |  WHERE a.vec_id <> l.q_id),
         |coarse AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d ASC, vec_id ASC) AS crank
         |  FROM adc) WHERE crank <= 20),
         |pairs AS (SELECT c.q_id, c.vec_id,
         |  $dotEq / (sqrt($normE) * sqrt($normQ)) AS cos
         |  FROM coarse c JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN q ON q.q_id = c.q_id)
         |SELECT q_id, vec_id, rank, round(cos, 9) AS cos FROM (
         |  SELECT q_id, vec_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM pairs) WHERE rank <= 5""".stripMargin
    }),
    // SQ8 scalar quantization: per-dim byte codes on a [min,max] grid
    // (integer micro arithmetic end to end — the PRODUCTION coarse
    // budget replays exactly in SQL, not just the exhaustive case),
    // asymmetric integer dot, exact-cosine re-rank of the top 20
    // SQ8 replayed at the PRODUCTION budget: micro-unit quantization,
    // integer code/dequant floor divisions, integer ADC, then the
    // exact-cosine re-rank — every stage bit-exact cross-engine
    QuerySpec("sim_sq8", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.sq8TopK(
        e.select("vec_id", "embedding"),
        queryVectors(e),
        k = 5, coarseK = 20)
    }, {
      val dotEq = dotSql("e.embedding", "q.q_emb")
      val normE = dotSql("e.embedding", "e.embedding")
      val normQ = dotSql("q.q_emb", "q.q_emb")
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |ce AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         |  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS vm
         |  FROM embeddings),
         |grid AS (SELECT pos, MIN(vm) AS mn, MAX(vm) AS mx FROM ce GROUP BY 1),
         |deq AS (SELECT vec_id, ce.pos,
         |  mn + (LEAST(GREATEST(((vm - mn) * 255) // GREATEST(mx - mn, 1), 0), 255)
         |        * (mx - mn)) // 255 AS dv
         |  FROM ce JOIN grid ON grid.pos = ce.pos),
         |qe AS (SELECT q_id, generate_subscripts(q_emb, 1) AS pos,
         |  CAST(round(CAST(unnest(q_emb) AS DOUBLE) * 1000000.0) AS BIGINT) AS qm
         |  FROM q),
         |adc AS (SELECT qe.q_id, deq.vec_id, CAST(SUM(qm * dv) AS BIGINT) AS adc
         |  FROM deq JOIN qe ON qe.pos = deq.pos AND deq.vec_id <> qe.q_id
         |  GROUP BY 1, 2),
         |coarse AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id ASC) AS crank
         |  FROM adc) WHERE crank <= 20),
         |pairs AS (SELECT c.q_id, c.vec_id,
         |  $dotEq / (sqrt($normE) * sqrt($normQ)) AS cos
         |  FROM coarse c JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN q ON q.q_id = c.q_id)
         |SELECT q_id, vec_id, rank, round(cos, 9) AS cos FROM (
         |  SELECT q_id, vec_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM pairs) WHERE rank <= 5""".stripMargin
    }),
    // Sign-bit codes replayed with a seeded list_reduce fold (prepended
    // BIGINT 0 matches Spark aggregate's explicit zero), Hamming via
    // bit_count(xor) on each 32-bit half.
    QuerySpec("sim_hamming", simHamming,
      """WITH codes AS (
        |  SELECT vec_id,
        |    list_reduce([CAST(0 AS BIGINT)] ||
        |      list_transform(embedding[1:32], v -> CASE WHEN v > 0 THEN 1 ELSE 0 END),
        |      (acc, b) -> acc * 2 + b) AS code0,
        |    list_reduce([CAST(0 AS BIGINT)] ||
        |      list_transform(embedding[33:64], v -> CASE WHEN v > 0 THEN 1 ELSE 0 END),
        |      (acc, b) -> acc * 2 + b) AS code1
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, code0 AS q0, code1 AS q1
        |      FROM codes WHERE vec_id < 10),
        |d AS (SELECT q.q_id, c.vec_id,
        |    CAST(bit_count(xor(c.code0, q.q0))
        |       + bit_count(xor(c.code1, q.q1)) AS INT) AS hamming
        |  FROM codes c, q WHERE c.vec_id <> q.q_id),
        |r AS (SELECT q_id, vec_id, hamming,
        |    row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS rnk
        |  FROM d)
        |SELECT q_id, vec_id, hamming, rnk FROM r WHERE rnk <= 5""".stripMargin,
      lintExempt = Map("cartesian" ->
        "brute-force Hamming baseline: bounded query set vs corpus"),
      scalingExempt = Some(
        "brute-force Hamming top-k baseline")),
    QuerySpec("sim_lsh", simLsh, {
      val dotEq = dotSql("cb.embedding", "qb.q_emb")
      val normE = dotSql("cb.embedding", "cb.embedding")
      val normQ = dotSql("qb.q_emb", "qb.q_emb")
      s"""WITH qb AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb,
         |    ${bucketSql("embedding", 8, 0)} AS bucket
         |  FROM embeddings WHERE vec_id < 10),
         |cb AS (
         |  SELECT vec_id, embedding,
         |    ${bucketSql("embedding", 8, 0)} AS bucket
         |  FROM embeddings),
         |pairs AS (
         |  SELECT qb.q_id, cb.vec_id,
         |    $dotEq / (sqrt($normE) * sqrt($normQ)) AS cos
         |  FROM cb JOIN qb USING (bucket) WHERE cb.vec_id <> qb.q_id)
         |SELECT q_id, vec_id, rank, round(cos, 9) AS cos FROM (
         |  SELECT q_id, vec_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM pairs) WHERE rank <= 5""".stripMargin
    },
      scalingExempt = Some(
        "LSH bucket self-join pair baseline")),
    QuerySpec("sim_lsh_multiprobe", simLshMultiprobe, {
      val dotEq = dotSql("cb.embedding", "qp.q_emb")
      val normE = dotSql("cb.embedding", "cb.embedding")
      val normQ = dotSql("qp.q_emb", "qp.q_emb")
      s"""WITH qb AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb,
         |    ${probeBucketsSql("embedding", 8, 2, 0)} AS probes
         |  FROM embeddings WHERE vec_id < 10),
         |qp AS (SELECT q_id, q_emb, unnest(probes) AS bucket FROM qb),
         |cb AS (
         |  SELECT vec_id, embedding,
         |    ${bucketSql("embedding", 8, 0)} AS bucket
         |  FROM embeddings),
         |pairs AS (
         |  SELECT qp.q_id, cb.vec_id,
         |    $dotEq / (sqrt($normE) * sqrt($normQ)) AS cos
         |  FROM cb JOIN qp USING (bucket) WHERE cb.vec_id <> qp.q_id)
         |SELECT q_id, vec_id, rank, round(cos, 9) AS cos FROM (
         |  SELECT q_id, vec_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM pairs) WHERE rank <= 5""".stripMargin
    }),
    // MMR diversity rerank ([[graft.similarity.Similarity.mmrRerank]],
    // λ=1/2): pick 3 per query from the brute-force top-20, each round
    // trading relevance against max-similarity to what's already picked
    // MMR at λ=1/2, 3 unrolled greedy rounds (the bpe_merges
    // discipline): comparison key is rel − maxsim, one double
    // subtraction of engine-exact cosines; rel is the top-20 list's
    // rounded cosine on BOTH sides
    QuerySpec("mmr_rerank", (s, d) => {
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val queries = queryVectors(Tables.embeddings(s, d))
      val cand = Similarity.bruteForceTopK(e, queries, k = 20)
        .select(col("q_id"), col("vec_id"), col("cos").as("rel"))
        .join(e, "vec_id")
      Similarity.mmrRerank(cand, k = 3)
    }, {
      def cosS(a: String, b: String) =
        s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |bp AS (
         |  SELECT q.q_id, e.vec_id, e.embedding,
         |    ${cosS("e.embedding", "q.q_emb")} AS cos
         |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         |cand AS (SELECT q_id, vec_id, embedding, round(cos, 9) AS rel FROM (
         |  SELECT q_id, vec_id, embedding, cos,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM bp) WHERE rank <= 20),
         |s1 AS (SELECT q_id, vec_id, embedding, rel FROM (
         |  SELECT q_id, vec_id, embedding, rel,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id ASC) AS rn
         |  FROM cand) WHERE rn = 1),
         |r2 AS (
         |  SELECT c.q_id, c.vec_id, c.embedding, c.rel,
         |    ${cosS("c.embedding", "s1.embedding")} AS maxsim
         |  FROM cand c JOIN s1 ON c.q_id = s1.q_id AND c.vec_id <> s1.vec_id),
         |s2 AS (SELECT q_id, vec_id, embedding, rel FROM (
         |  SELECT q_id, vec_id, embedding, rel,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel - maxsim DESC, vec_id ASC) AS rn
         |  FROM r2) WHERE rn = 1),
         |r3 AS (
         |  SELECT c.q_id, c.vec_id, c.rel,
         |    greatest(${cosS("c.embedding", "s1.embedding")},
         |             ${cosS("c.embedding", "s2.embedding")}) AS maxsim
         |  FROM cand c
         |  JOIN s1 ON c.q_id = s1.q_id AND c.vec_id <> s1.vec_id
         |  JOIN s2 ON c.q_id = s2.q_id AND c.vec_id <> s2.vec_id),
         |s3 AS (SELECT q_id, vec_id, rel FROM (
         |  SELECT q_id, vec_id, rel,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel - maxsim DESC, vec_id ASC) AS rn
         |  FROM r3) WHERE rn = 1)
         |SELECT q_id, vec_id, CAST(1 AS BIGINT) AS pick, rel FROM s1
         |UNION ALL SELECT q_id, vec_id, CAST(2 AS BIGINT), rel FROM s2
         |UNION ALL SELECT q_id, vec_id, CAST(3 AS BIGINT), rel FROM s3""".stripMargin
    }),
    // recall@k of the LSH index against brute-force ground truth
    // ([[graft.similarity.Similarity.recallAtK]]) — the acceptance
    // metric every ANN config ships against; integer millionths
    QuerySpec("ann_recall", (s, d) => {
      val e = Tables.embeddings(s, d)
      val queries = queryVectors(e)
      val cands = e.select("vec_id", "embedding")
      Similarity.recallAtK(
        Similarity.bruteForceTopK(cands, queries, k = 5),
        Similarity.lshTopK(cands, queries, dim = 64, k = 5))
    }, {
      val dotEq = dotSql("e.embedding", "q.q_emb")
      val normE = dotSql("e.embedding", "e.embedding")
      val normQ = dotSql("q.q_emb", "q.q_emb")
      val dotL = dotSql("cb.embedding", "qb.q_emb")
      val normCb = dotSql("cb.embedding", "cb.embedding")
      val normQb = dotSql("qb.q_emb", "qb.q_emb")
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |bp AS (
         |  SELECT q.q_id, e.vec_id,
         |    $dotEq / (sqrt($normE) * sqrt($normQ)) AS cos
         |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         |truth AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM bp) WHERE rank <= 5),
         |qb AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb,
         |    ${bucketSql("embedding", 8, 0)} AS bucket
         |  FROM embeddings WHERE vec_id < 10),
         |cb AS (
         |  SELECT vec_id, embedding,
         |    ${bucketSql("embedding", 8, 0)} AS bucket
         |  FROM embeddings),
         |lp AS (
         |  SELECT qb.q_id, cb.vec_id,
         |    $dotL / (sqrt($normCb) * sqrt($normQb)) AS cos
         |  FROM cb JOIN qb USING (bucket) WHERE cb.vec_id <> qb.q_id),
         |approx AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM lp) WHERE rank <= 5),
         |hit AS (SELECT t.q_id, count(*) AS n_hit
         |  FROM truth t JOIN approx a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
         |  GROUP BY 1),
         |tsz AS (SELECT q_id, count(*) AS n_truth FROM truth GROUP BY 1),
         |asz AS (SELECT q_id, count(*) AS n_approx FROM approx GROUP BY 1)
         |SELECT t.q_id, t.n_truth,
         |  CAST(coalesce(a.n_approx, 0) AS BIGINT) AS n_approx,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST((1000000 * coalesce(h.n_hit, 0)) // t.n_truth AS BIGINT) AS recall_fp
         |FROM tsz t LEFT JOIN asz a USING (q_id) LEFT JOIN hit h USING (q_id)""".stripMargin
    }),
    // rank-AWARE acceptance metric ([[graft.similarity.Similarity
    // .ndcgAtK]]): nDCG@5 of the same LSH ranking against the same
    // brute-force truth — recall can't see right-neighbors-wrong-order,
    // the log2-discounted gain can; exact integer fixed point (the
    // unigram trainer's 16-step ilog2, replayed in SQL)
    // nDCG@5: the same truth/approx ranking chains, then per-term
    // graded gains discounted by the 16-step integer log2 (one UNION
    // feeds both DCG and IDCG through a single replayed chain)
    QuerySpec("ann_ndcg", (s, d) => {
      val e = Tables.embeddings(s, d)
      val queries = queryVectors(e)
      val cands = e.select("vec_id", "embedding")
      Similarity.ndcgAtK(
        Similarity.bruteForceTopK(cands, queries, k = 5),
        Similarity.lshTopK(cands, queries, dim = 64, k = 5), k = 5)
    }, {
      val dotEq = dotSql("e.embedding", "q.q_emb")
      val normE = dotSql("e.embedding", "e.embedding")
      val normQ = dotSql("q.q_emb", "q.q_emb")
      val dotL = dotSql("cb.embedding", "qb.q_emb")
      val normCb = dotSql("cb.embedding", "cb.embedding")
      val normQb = dotSql("qb.q_emb", "qb.q_emb")
      val lg = (1 to 16).map(j =>
        s"""g$j AS (SELECT side, q_id, rel,
           |  CASE WHEN ((x*x) >> 20) >= 2097152 THEN ((x*x) >> 20) >> 1 ELSE (x*x) >> 20 END AS x,
           |  CASE WHEN ((x*x) >> 20) >= 2097152 THEN acc*2+1 ELSE acc*2 END AS acc, msb
           |  FROM g${j - 1})""".stripMargin).mkString(",\n")
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |bp AS (
         |  SELECT q.q_id, e.vec_id,
         |    $dotEq / (sqrt($normE) * sqrt($normQ)) AS cos
         |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         |truth AS (SELECT q_id, vec_id, rank FROM (
         |  SELECT q_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM bp) WHERE rank <= 5),
         |qb AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb,
         |    ${bucketSql("embedding", 8, 0)} AS bucket
         |  FROM embeddings WHERE vec_id < 10),
         |cb AS (
         |  SELECT vec_id, embedding,
         |    ${bucketSql("embedding", 8, 0)} AS bucket
         |  FROM embeddings),
         |lp AS (
         |  SELECT qb.q_id, cb.vec_id,
         |    $dotL / (sqrt($normCb) * sqrt($normQb)) AS cos
         |  FROM cb JOIN qb USING (bucket) WHERE cb.vec_id <> qb.q_id),
         |approx AS (SELECT q_id, vec_id, rank FROM (
         |  SELECT q_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM lp) WHERE rank <= 5),
         |terms AS (
         |  SELECT 'a' AS side, a.q_id,
         |    CAST(coalesce(6 - t.rank, 0) AS BIGINT) AS rel,
         |    CAST(a.rank AS BIGINT) AS r
         |  FROM approx a LEFT JOIN truth t ON t.q_id = a.q_id AND t.vec_id = a.vec_id
         |  UNION ALL
         |  SELECT 't' AS side, q_id, CAST(6 - rank AS BIGINT) AS rel,
         |    CAST(rank AS BIGINT) AS r FROM truth),
         |g0 AS (SELECT side, q_id, rel,
         |  (CAST(r + 1 AS BIGINT) << 20) >> (length(bin(r + 1)) - 1) AS x,
         |  CAST(0 AS BIGINT) AS acc,
         |  CAST(length(bin(r + 1)) - 1 AS BIGINT) AS msb FROM terms),
         |$lg,
         |gains AS (SELECT side, q_id,
         |  (rel * 65536000000) // (msb * 65536 + acc) AS gain FROM g16),
         |agg AS (SELECT q_id,
         |  SUM(gain) FILTER (WHERE side = 'a') AS dcg,
         |  SUM(gain) FILTER (WHERE side = 't') AS idcg
         |  FROM gains GROUP BY 1)
         |SELECT q_id, CAST(coalesce(dcg, 0) AS BIGINT) AS dcg_fp,
         |  CAST(idcg AS BIGINT) AS idcg_fp,
         |  CAST((1000000 * coalesce(dcg, 0)) // idcg AS BIGINT) AS ndcg_fp
         |FROM agg""".stripMargin
    }),
    // matryoshka truncation eval (Kusupati et al. 2022): how much of
    // the full-dim top-5 neighborhood survives when embeddings are cut
    // to their first 16 dims — the accept/reject gate for serving
    // truncated vectors; both legs are the same brute-force ranker
    // recall@k: both ranking chains replayed (brute truth + LSH
    // bucket-restricted approx), intersected on (q_id, vec_id),
    // recall in integer millionths by floor division
    // truncated-prefix replay: the approx leg is the same brute ranker
    // over the first 16 dims (range(1, 17) in the dot/norm sums)
    QuerySpec("mrl_recall", (s, d) => {
      val e = Tables.embeddings(s, d)
      val full = e.select("vec_id", "embedding")
      val qFull = queryVectors(e)
      Similarity.recallAtK(
        Similarity.bruteForceTopK(full, qFull, k = 5),
        Similarity.bruteForceTopK(
          full.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding")),
          qFull.select(col("q_id"), slice(col("q_emb"), 1, 16).as("q_emb")),
          k = 5))
    }, {
      def dot16(a: String, b: String) =
        s"list_sum(list_transform(range(1, 17), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
      val dotF = dotSql("e.embedding", "q.q_emb")
      val normE = dotSql("e.embedding", "e.embedding")
      val normQ = dotSql("q.q_emb", "q.q_emb")
      val dotT = dot16("e.embedding", "q.q_emb")
      val normET = dot16("e.embedding", "e.embedding")
      val normQT = dot16("q.q_emb", "q.q_emb")
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |bp AS (
         |  SELECT q.q_id, e.vec_id, $dotF / (sqrt($normE) * sqrt($normQ)) AS cos
         |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         |truth AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM bp) WHERE rank <= 5),
         |tp AS (
         |  SELECT q.q_id, e.vec_id, $dotT / (sqrt($normET) * sqrt($normQT)) AS cos
         |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         |approx AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM tp) WHERE rank <= 5),
         |hit AS (SELECT t.q_id, count(*) AS n_hit
         |  FROM truth t JOIN approx a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
         |  GROUP BY 1),
         |tsz AS (SELECT q_id, count(*) AS n_truth FROM truth GROUP BY 1),
         |asz AS (SELECT q_id, count(*) AS n_approx FROM approx GROUP BY 1)
         |SELECT t.q_id, t.n_truth,
         |  CAST(coalesce(a.n_approx, 0) AS BIGINT) AS n_approx,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST((1000000 * coalesce(h.n_hit, 0)) // t.n_truth AS BIGINT) AS recall_fp
         |FROM tsz t LEFT JOIN asz a USING (q_id) LEFT JOIN hit h USING (q_id)""".stripMargin
    }),
    QuerySpec("embed_diversity", embedDiversity, {
      s"""WITH b AS (
         |  SELECT vec_id, ${bucketSql("embedding", 6, 0)} AS bucket,
         |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings)
         |SELECT vec_id, CAST(bucket AS BIGINT) AS bucket,
         |  CAST(rnk AS BIGINT) AS bucket_rank FROM (
         |  SELECT vec_id, bucket,
         |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY nrm DESC, vec_id ASC) AS rnk
         |  FROM b) WHERE rnk <= 3""".stripMargin
    }),
    QuerySpec("semantic_dedup", semanticDedup, {
      val cosExpr =
        s"round(${dotSql("b.embedding", "r.rep_emb")} / (b.nrm * r.rep_norm), 9)"
      s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding", 6, 0)} AS bucket,
         |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |reps AS (
         |  SELECT bucket, vec_id AS rep_id, embedding AS rep_emb,
         |    nrm AS rep_norm FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |        PARTITION BY bucket ORDER BY nrm DESC, vec_id ASC) AS rn
         |    FROM b) WHERE rn = 1)
         |SELECT b.vec_id, CAST(b.bucket AS BIGINT) AS bucket, r.rep_id,
         |  $cosExpr AS cos,
         |  (b.vec_id = r.rep_id OR $cosExpr < 0.2) AS keep
         |FROM b JOIN reps r USING (bucket)""".stripMargin
    }),
    QuerySpec("embed_neardup", embedNearDup, {
      val buckets = (0 until 4).map(t => bucketSql("embedding", 6, t * 6))
        .mkString("[", ",\n      ", "]")
      val dotXY = dotSql("x.embedding", "y.embedding")
      s"""WITH v AS (
         |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm,
         |    $buckets AS bks
         |  FROM embeddings),
         |b AS (
         |  SELECT vec_id, embedding, nrm, t.i AS table_idx, bks[CAST(t.i AS INT) + 1] AS bucket
         |  FROM v, range(0, 4) t(i))
         |SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b,
         |  round($dotXY / (x.nrm * y.nrm), 9) AS cos
         |FROM b x JOIN b y ON x.table_idx = y.table_idx AND x.bucket = y.bucket
         |WHERE x.vec_id < y.vec_id
         |  AND $dotXY / (x.nrm * y.nrm) >= 0.4""".stripMargin
    },
      scalingExempt = Some(
        "pair-verifying near-dup: candidate pairs grow with bucket density")),
    // cluster-balanced coverage sampling: nearest-centroid assignment
    // (broadcast argmin, embeddings never shuffle) capped per cell in
    // salted-hash order — density-flattening curation before training
    // cluster-balanced coverage sample: nearest-centroid assignment
    // (same argmin convention as sim_ivf) capped per cell in
    // deterministic hash order
    QuerySpec("embed_cluster_sample", (s, d) =>
      Similarity.clusterBalancedSample(
        Tables.embeddings(s, d).select("vec_id", "embedding"),
        dim = 64, nCells = 8, perCell = 20), {
      val dotEC = dotSql("e.embedding", "c.c_emb")
      s"""WITH cents AS (
         |  SELECT vec_id AS cell_id, embedding AS c_emb,
         |    sqrt(${dotSql("embedding", "embedding")}) AS c_norm
         |  FROM embeddings ORDER BY vec_id ASC LIMIT 8),
         |assigned AS (
         |  SELECT vec_id, cell_id FROM (
         |    SELECT e.vec_id, c.cell_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        -($dotEC) / (sqrt(${dotSql("e.embedding", "e.embedding")}) * c.c_norm) ASC,
         |        c.cell_id ASC) AS rn
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE rn = 1)
         |SELECT vec_id, cell_id FROM (
         |  SELECT vec_id, cell_id,
         |    ROW_NUMBER() OVER (PARTITION BY cell_id ORDER BY
         |      CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) ASC,
         |      vec_id ASC) AS rn
         |  FROM assigned)
         |WHERE rn <= 20""".stripMargin
    }),
    // contrastive hard-negative mining: per-query top-k in the
    // similar-but-not-duplicate cosine band, banded map-side before
    // the rank exchange
    // sim_topk banded to the hard-negative zone before ranking — same
    // dot-product fold, same tie-breaks
    QuerySpec("hard_negatives", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.hardNegatives(e.select("vec_id", "embedding"),
        queryVectors(e),
        k = 5, loCos = 0.2, hiCos = 0.4)
    }, {
      val dotEq = dotSql("e.embedding", "q.q_emb")
      val normE = dotSql("e.embedding", "e.embedding")
      val normQ = dotSql("q.q_emb", "q.q_emb")
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |pairs AS (
         |  SELECT q.q_id, e.vec_id,
         |    $dotEq / (sqrt($normE) * sqrt($normQ)) AS cos
         |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         |banded AS (SELECT * FROM pairs WHERE cos >= 0.2 AND cos < 0.4)
         |SELECT q_id, vec_id, rank, round(cos, 9) AS cos FROM (
         |  SELECT q_id, vec_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM banded) WHERE rank <= 5""".stripMargin
    }),
    // unit vector serialized as fixed-point micros (round(u*1e6)):
    // identical double arithmetic both engines, and a string column the
    // pandas comparator can hash (float formatting differs across
    // engines, so raw doubles-in-strings would not)
    // JL ±1 random projection: the pre-LSH dimensionality shrink,
    // integer-exact micro arithmetic, pure map-side projection
    // JL ±1 random projection: per-plane sign literals replayed, one
    // quantization round then pure integer sums — hash-exact
    QuerySpec("embed_project", (s, d) =>
      Similarity.randomProject(
        Tables.embeddings(s, d).select("vec_id", "embedding"),
        dim = 64, outDim = 8),
      (0 until 8).map(projectPlaneSql).mkString("\nUNION ALL\n")),
    // coarse-to-fine ANN: integer projected dot product prunes to 50
    // per query, exact cosine re-ranks the survivors to top-5
    // coarse-to-fine over the JL projection: integer coarse scores are
    // replayed from the same plane literals as embed_project, the fine
    // stage is sim_topk's cosine restricted to the coarse survivors
    QuerySpec("sim_project_rerank", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.projectedRerankTopK(e.select("vec_id", "embedding"),
        queryVectors(e),
        dim = 64, outDim = 32, coarseK = 100, k = 5)
    }, {
      val cpCols = (0 until 32)
        .map(p => projMicroSql("embedding", p) + s" AS p$p").mkString(",\n  ")
      val coarseSum = (0 until 32).map(p => s"cp.p$p * qp.p$p").mkString(" + ")
      val dotEq = dotSql("e.embedding", "q.embedding")
      val normE = dotSql("e.embedding", "e.embedding")
      val normQ = dotSql("q.embedding", "q.embedding")
      s"""WITH cp AS (SELECT vec_id,
         |  $cpCols
         |FROM embeddings),
         |qp AS (SELECT * FROM cp WHERE vec_id < 10),
         |coarse AS (
         |  SELECT qp.vec_id AS q_id, cp.vec_id, ($coarseSum) AS coarse
         |  FROM cp, qp WHERE cp.vec_id <> qp.vec_id),
         |surv AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY coarse DESC, vec_id ASC) AS crank
         |    FROM coarse) WHERE crank <= 100),
         |pairs AS (
         |  SELECT s.q_id, s.vec_id,
         |    $dotEq / (sqrt($normE) * sqrt($normQ)) AS cos
         |  FROM surv s
         |  JOIN embeddings e ON e.vec_id = s.vec_id
         |  JOIN embeddings q ON q.vec_id = s.q_id)
         |SELECT q_id, vec_id, rank, round(cos, 9) AS cos FROM (
         |  SELECT q_id, vec_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM pairs) WHERE rank <= 5""".stripMargin
    }),
    QuerySpec("embed_normalize", (s, d) =>
      Similarity.l2Normalize(Tables.embeddings(s, d).select("vec_id", "embedding"))
        .select(col("vec_id"), col("norm"),
          array_join(transform(col("unit"),
            u => round(u * 1e6).cast("long").cast("string")), ",").as("unit_fp")),
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS norm
        |  FROM embeddings)
        |SELECT vec_id, norm,
        |  array_to_string(list_transform(embedding, v ->
        |    CAST(CAST(round(CASE WHEN norm = 0.0 THEN CAST(v AS DOUBLE)
        |                         ELSE CAST(v AS DOUBLE) / norm END * 1e6) AS BIGINT) AS VARCHAR)), ',') AS unit_fp
        |FROM n""".stripMargin),
    // q serialized to a string: the driver's pandas comparator cannot
    // sort/hash array-typed columns
    // int8 scalar quantization: identical arithmetic step-for-step
    QuerySpec("embed_quantize", (s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d).select("vec_id", "embedding"))
        .select(col("vec_id"), col("scale"),
          array_join(transform(col("q"), _.cast("string")), ",").as("q_str"),
          col("max_abs_err")),
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_aggregate(list_transform(embedding, v -> abs(CAST(v AS DOUBLE))), 'max') / 127.0 AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, embedding, scale,
        |    CASE WHEN scale = 0.0 THEN list_transform(embedding, v -> 0)
        |         ELSE list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) / scale) AS INT))
        |    END AS qv
        |  FROM s)
        |SELECT vec_id, scale,
        |  array_to_string(qv, ',') AS q_str,
        |  list_aggregate(list_transform(range(1, len(embedding)+1),
        |    i -> abs(CAST(embedding[i] AS DOUBLE) - qv[i] * scale)), 'max') AS max_abs_err
        |FROM q""".stripMargin),
    // chunk→doc pooling over the int8-quantized embeddings: integer-
    // valued sums are exact (order-independent below 2^53), so the
    // mergeable (n, sums) form hash-compares across engines where a
    // float mean would be summation-order noise
    // embedding-distribution drift monitor: per label stratum, the
    // cosine between the mean vector of the even-id half-snapshot and
    // the full corpus (counts cancel — cos of sums IS cos of means).
    // Element sums of float32 values in double are EXACT below 2^29
    // addends, so the sums are order-stable across engines; the final
    // cosine folds in index order (the sim_topk discipline). ~1.0 per
    // stratum = the re-embed/new-batch pipeline didn't move the
    // distribution; a dipping stratum names where to look.
    // chunk→doc pooling of the quantized embeddings: same quantization
    // replay as embed_quantize, then per-(group, position) integer sums
    // drift replay: exact per-(label, pos) float32-in-double sums,
    // cosine folded in index order on both engines
    QuerySpec("embed_drift", (s, d) => {
      val e = Tables.embeddings(s, d).select("vec_id", "label", "embedding")
      val a = Similarity.poolEmbeddings(e.filter(col("vec_id") % 2 === 0), "label")
        .select(col("group_id"), col("n_vectors").as("n_a"), col("sum_emb").as("sa"))
      val b = Similarity.poolEmbeddings(e, "label")
        .select(col("group_id"), col("n_vectors").as("n_b"), col("sum_emb").as("sb"))
      // double-array dot via the ordered HOF fold (the native float
      // dot expression wants float inputs; the pooled sums are double)
      def ddot(x: Column, y: Column): Column =
        aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, e) => acc + e)
      a.join(b, Seq("group_id"))
        .select(col("group_id").as("label"), col("n_a"), col("n_b"),
          round(ddot(col("sa"), col("sb")) /
            (sqrt(ddot(col("sa"), col("sa"))) * sqrt(ddot(col("sb"), col("sb")))), 9)
            .as("cos_means"))
    },
      """WITH pos AS (
        |  SELECT label, CAST(r.i AS INT) AS i,
        |    SUM(CAST(embedding[CAST(r.i AS INT)] AS DOUBLE))
        |      FILTER (vec_id % 2 = 0) AS sa,
        |    SUM(CAST(embedding[CAST(r.i AS INT)] AS DOUBLE)) AS sb
        |  FROM embeddings, range(1, 65) r(i) GROUP BY 1, 2),
        |cnt AS (SELECT label,
        |    CAST(count(*) FILTER (vec_id % 2 = 0) AS BIGINT) AS n_a,
        |    CAST(count(*) AS BIGINT) AS n_b
        |  FROM embeddings GROUP BY 1),
        |v AS (SELECT label, list(sa ORDER BY i) AS va, list(sb ORDER BY i) AS vb
        |      FROM pos GROUP BY label)
        |SELECT label, n_a, n_b,
        |  round(list_sum(list_transform(range(1, 65), j -> va[j] * vb[j])) /
        |    (sqrt(list_sum(list_transform(range(1, 65), j -> va[j] * va[j]))) *
        |     sqrt(list_sum(list_transform(range(1, 65), j -> vb[j] * vb[j])))), 9) AS cos_means
        |FROM v JOIN cnt USING (label)
        |WHERE n_a > 0""".stripMargin),
    QuerySpec("embed_pool", (s, d) => {
      val q = Similarity.quantizeInt8(Tables.embeddings(s, d).select("vec_id", "embedding"))
        .select((col("vec_id") % 25).as("grp"), col("q").as("embedding"))
      Similarity.poolEmbeddings(q, "grp")
        .select(col("group_id"), col("n_vectors"),
          array_join(transform(col("sum_emb"), v => v.cast("long").cast("string")), ",")
            .as("sum_fp"))
    },
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_aggregate(list_transform(embedding, v -> abs(CAST(v AS DOUBLE))), 'max') / 127.0 AS scale
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id % 25 AS group_id,
        |    CASE WHEN scale = 0.0 THEN list_transform(embedding, v -> 0)
        |         ELSE list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) / scale) AS INT))
        |    END AS q
        |  FROM s),
        |ex AS (
        |  SELECT group_id, CAST(r.pos AS INT) AS pos, q[CAST(r.pos AS INT)] AS v
        |  FROM qz, range(1, 65) r(pos)),
        |ag AS (
        |  SELECT group_id, pos, CAST(sum(v) AS BIGINT) AS sv, count(*) AS n
        |  FROM ex GROUP BY group_id, pos)
        |SELECT group_id, CAST(min(n) AS BIGINT) AS n_vectors,
        |  array_to_string(list(CAST(sv AS VARCHAR) ORDER BY pos), ',') AS sum_fp
        |FROM ag GROUP BY group_id""".stripMargin),
  )
}
