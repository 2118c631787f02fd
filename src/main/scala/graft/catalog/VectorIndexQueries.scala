package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.similarity.Similarity
import Fragments._

/** IVF and product-quantization vector search, including the
  * persisted indexes and their maintenance paths. */
object VectorIndexQueries {

  private def simIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = queryVectors(e)
    Similarity.ivfTopK(e.select("vec_id", "embedding"), queries, dim = 64, k = 5)
  }

  /** Product-quantization ADC ANN
    * ([[graft.similarity.Similarity.pqTopK]]): 64 float dims → 4
    * one-byte codes against a 16-centroid codebook per subspace;
    * distance = sum of per-subspace lookups. All-integer fixed-point
    * arithmetic, so the oracle replays assignment and ADC exactly. */
  private def simPq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = queryVectors(e)
    Similarity.pqTopK(e.select("vec_id", "embedding"), queries, dim = 64, k = 5)
  }

  /** Lloyd-trained PQ ([[graft.similarity.Similarity.pqTrainedTopK]]):
    * two rounds of per-subspace exact fixed-point Lloyd improve the
    * first-`nCents` sample codebook at the same code budget; the
    * oracle unrolls both training rounds per subspace (the
    * `sim_ivf_lloyd` convention) then replays the PQ chain. */
  private def simPqTrained(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = queryVectors(e)
    Similarity.pqTrainedTopK(e.select("vec_id", "embedding"), queries,
      dim = 64, k = 5, iters = 2)
  }

  /** `sim_pq_trained` oracle: per-subspace Lloyd unrolled `iters`
    * rounds in SQL (assignment by integer sq-distance with
    * (d, cent_id) ties, update by exact sums + floor division, empty
    * cells carry), then the [[simPq]] codes/ADC chain on cb$iters. */
  private def pqTrainedSql(iters: Int): String = {
    val sq16 = (a: String, b: String) =>
      s"list_sum(list_transform(range(1, 17), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    val setup =
      s"""WITH f AS (
         |  SELECT vec_id, list_transform(embedding,
         |    v -> CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS fv
         |  FROM embeddings),
         |sub AS (
         |  SELECT vec_id, CAST(t.j AS INTEGER) AS sub_id,
         |    fv[t.j*16+1 : t.j*16+16] AS sv
         |  FROM f, range(0, 4) t(j)),
         |cb0 AS (
         |  SELECT sub_id, vec_id AS cent_id, sv AS cv FROM sub
         |  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id ASC LIMIT 16))""".stripMargin
    val its = (1 to iters).map { i =>
      s""",
         |a$i AS (
         |  SELECT sub_id, cent_id, sv FROM (
         |    SELECT s.sub_id, s.sv, c.cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub_id ORDER BY
         |        ${sq16("s.sv", "c.cv")} ASC, c.cent_id ASC) AS rn
         |    FROM sub s JOIN cb${i - 1} c USING (sub_id)) WHERE rn = 1),
         |s$i AS (
         |  SELECT sub_id, cent_id, p, SUM(sv[CAST(p AS INT) + 1]) AS s, COUNT(*) AS n
         |  FROM a$i, range(0, 16) t(p) GROUP BY sub_id, cent_id, p),
         |n$i AS (
         |  SELECT sub_id, cent_id,
         |    list(CAST((s - ((s % n + n) % n)) // n AS BIGINT) ORDER BY p) AS cv
         |  FROM s$i GROUP BY sub_id, cent_id),
         |cb$i AS (
         |  SELECT c.sub_id, c.cent_id, COALESCE(n$i.cv, c.cv) AS cv
         |  FROM cb${i - 1} c LEFT JOIN n$i
         |    ON c.sub_id = n$i.sub_id AND c.cent_id = n$i.cent_id)""".stripMargin
    }.mkString
    setup + its +
      s""",
         |codes AS (
         |  SELECT vec_id, sub_id, cent_id FROM (
         |    SELECT s.vec_id, s.sub_id, c.cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub_id ORDER BY
         |        ${sq16("s.sv", "c.cv")} ASC, c.cent_id ASC) AS rn
         |    FROM sub s JOIN cb$iters c USING (sub_id)) WHERE rn = 1),
         |dtab AS (
         |  SELECT s.vec_id AS q_id, s.sub_id, c.cent_id,
         |    CAST(${sq16("s.sv", "c.cv")} AS BIGINT) AS d
         |  FROM sub s JOIN cb$iters c USING (sub_id) WHERE s.vec_id < 10),
         |adc AS (
         |  SELECT t.q_id, k.vec_id, CAST(SUM(t.d) AS BIGINT) AS adc
         |  FROM codes k JOIN dtab t ON k.sub_id = t.sub_id AND k.cent_id = t.cent_id
         |  WHERE k.vec_id <> t.q_id GROUP BY 1, 2)
         |SELECT q_id, vec_id, rank, adc FROM (
         |  SELECT q_id, vec_id, adc,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY adc ASC, vec_id ASC) AS BIGINT) AS rank
         |  FROM adc) WHERE rank <= 5""".stripMargin
  }

  /** OPQ-gated PQ ([[graft.similarity.Similarity.opqTopK]]): the
    * eigenvalue-allocation permutation engages only on a measurably
    * variance-skewed corpus; the oracle recomputes the per-dim
    * integer variances, the skew gate, and the snake permutation in
    * SQL — no literals — then replays the PQ chain over the chosen
    * layout. */
  private def simOpq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = queryVectors(e)
    Similarity.opqTopK(e.select("vec_id", "embedding"), queries, dim = 64, k = 5)
  }

  /** IVF over Spark-ML-trained k-means centroids, run at full probe
    * width (`nProbe = nCells`). ML KMeans accumulates float partial
    * sums in partition order, so its centroids are not
    * bit-reproducible outside Spark and no SQL oracle can restate
    * them — but the standard IVF invariant is that probing EVERY cell
    * scores every (query, candidate) pair exactly once, making the
    * result identical to brute-force top-k no matter what centroids
    * training produced. That is what the oracle checks (same SQL as
    * `sim_topk`): the full chain — ML training, cell assignment,
    * probing, per-cell scoring, global top-k — runs live, and the
    * exact-at-full-probe guarantee is hash-verified. The reduced-probe
    * trained-centroid path is `sim_ivf_lloyd`, whose fixed-point
    * trainer ([[graft.similarity.Similarity.lloydCentroidsExact]])
    * lets the oracle replay training itself. */
  private def simIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = queryVectors(e)
    val cents = Similarity.kmeansCentroids(e.select("vec_id", "embedding"), nCells = 16)
    Similarity.ivfTopK(e.select("vec_id", "embedding"), queries,
      dim = 64, k = 5, nCells = 16, nProbe = 16, centroids = Some(cents))
  }

  /** IVF over exactly-trained Lloyd centroids
    * ([[graft.similarity.Similarity.lloydCentroidsExact]]): integer
    * micro-unit arithmetic end-to-end, so the DuckDB oracle replays the
    * full 2-iteration training verbatim — the oracle-checkable trained-
    * centroid path that `sim_ivf_kmeans` (ML floats) cannot be. */
  private def simIvfLloyd(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = queryVectors(e)
    val cents = Similarity.lloydCentroidsExact(
      e.select("vec_id", "embedding"), nCells = 16, iters = 2)
    Similarity.ivfTopK(e.select("vec_id", "embedding"), queries,
      dim = 64, k = 5, nCells = 16, nProbe = 4, centroids = Some(cents))
  }

  /** k-means|| scalable initialization under the oracle
    * ([[graft.similarity.Similarity.kmeansParallelInit]], Bahmani et
    * al. VLDB 2012): 3 rounds of D²-weighted batch sampling (md5
    * uniforms, exact integer cross-multiplied acceptance), weights
    * from a nearest-candidate census, and a weighted fixed-point
    * Lloyd over the candidate set. The ENTIRE training — every
    * sampling decision included — replays in DuckDB CTEs; the query
    * emits the final centroids as narrow (cell_id, pos, micro) rows. */
  private def kmeansppInit(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cents = Similarity.kmeansParallelInit(
      e.select("vec_id", "embedding"),
      nCells = 8, oversample = 8, rounds = 3, lloydIters = 2)
    cents.select(col("cell_id"), posexplode(col("cv")).as(Seq("p", "c")))
      .select(col("cell_id"), col("p").cast("long").as("p"), col("c"))
  }

  /** The full k-means|| replay for the `kmeanspp_init` oracle —
    * sampling rounds, weight census, weighted-Lloyd recluster —
    * mirroring [[kmeansppInit]]'s parameters. MATERIALIZED CTEs: the
    * round chain references each stage more than once and DuckDB
    * inlines CTEs by default (the unigram_train lesson). */
  private def kmeansppSql(nCells: Int, oversample: Int, rounds: Int,
                          lloydIters: Int): String = {
    val d2fc = "list_sum(list_transform(range(1, 65), i -> (f.fv[i] - c.cv[i]) * (f.fv[i] - c.cv[i])))"
    val setup =
      s"""WITH f AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding,
         |    v -> CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS fv
         |  FROM embeddings),
         |k0 AS (SELECT vec_id AS cand_id, fv AS cv FROM f ORDER BY vec_id ASC LIMIT 1)""".stripMargin
    val rds = (1 to rounds).map { t =>
      s""",
         |d$t AS MATERIALIZED (
         |  SELECT f.vec_id, MIN($d2fc) AS d2
         |  FROM f CROSS JOIN k${t - 1} c GROUP BY f.vec_id),
         |s$t AS MATERIALIZED (
         |  SELECT d.vec_id FROM d$t d
         |  WHERE (CAST(concat('0x', substring(md5(concat(CAST(d.vec_id AS VARCHAR), ':kpp:$t')), 1, 15)) AS BIGINT) % 1000000)
         |        * (SELECT SUM(d2) FROM d$t)
         |      < CAST(d.d2 AS HUGEINT) * ${oversample.toLong * 1000000L}),
         |k$t AS MATERIALIZED (
         |  SELECT * FROM k${t - 1} UNION ALL
         |  SELECT f.vec_id AS cand_id, f.fv AS cv FROM f JOIN s$t USING (vec_id))""".stripMargin
    }.mkString
    val census =
      s""",
         |asg AS MATERIALIZED (
         |  SELECT vec_id, cand_id FROM (
         |    SELECT f.vec_id, c.cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY $d2fc ASC, c.cand_id ASC) AS rn
         |    FROM f CROSS JOIN k$rounds c) WHERE rn = 1),
         |wt AS (SELECT cand_id, CAST(COUNT(*) AS BIGINT) AS w FROM asg GROUP BY cand_id),
         |kw AS MATERIALIZED (
         |  SELECT k.cand_id, k.cv, COALESCE(wt.w, 0) AS w
         |  FROM k$rounds k LEFT JOIN wt USING (cand_id)),
         |c0 AS (SELECT cand_id AS cell_id, cv FROM kw ORDER BY w DESC, cand_id ASC LIMIT $nCells)""".stripMargin
    val lloyd = (1 to lloydIters).map { i =>
      s""",
         |la$i AS MATERIALIZED (
         |  SELECT cand_id, cell_id FROM (
         |    SELECT kw.cand_id, c.cell_id,
         |      ROW_NUMBER() OVER (PARTITION BY kw.cand_id ORDER BY
         |        list_sum(list_transform(range(1, 65), j -> (kw.cv[j] - c.cv[j]) * (kw.cv[j] - c.cv[j]))) ASC,
         |        c.cell_id ASC) AS rn
         |    FROM kw CROSS JOIN c${i - 1} c) WHERE rn = 1),
         |ls$i AS (
         |  SELECT a.cell_id, p, SUM(kw.cv[CAST(p AS INT) + 1] * kw.w) AS s, SUM(kw.w) AS n
         |  FROM la$i a JOIN kw USING (cand_id), range(0, 64) t(p)
         |  GROUP BY a.cell_id, p HAVING SUM(kw.w) > 0),
         |ln$i AS (
         |  SELECT cell_id, list(CAST((s - ((s % n + n) % n)) // n AS BIGINT) ORDER BY p) AS cv
         |  FROM ls$i GROUP BY cell_id),
         |c$i AS MATERIALIZED (
         |  SELECT c${i - 1}.cell_id, COALESCE(ln$i.cv, c${i - 1}.cv) AS cv
         |  FROM c${i - 1} LEFT JOIN ln$i USING (cell_id))""".stripMargin
    }.mkString
    setup + rds + census + lloyd +
      s"""
         |SELECT cell_id, CAST(p AS BIGINT) AS p, cv[CAST(p AS INT) + 1] AS c
         |FROM c$lloydIters, range(0, 64) t(p)""".stripMargin
  }

  /** IVF-PQ composed ANN ([[graft.similarity.Similarity.ivfPqTopK]]):
    * the Lloyd-exact coarse quantizer probes 4 of 16 cells, PQ-ADC
    * scores ONLY the probed cells' candidates from their 4×16-codebook
    * codes, and an exact-cosine rerank of the ADC top-20 yields the
    * final top-5 — the FAISS `IVF16,PQ4` serving shape with every
    * stage fixed-point/integer, so the oracle replays the ENTIRE
    * composition (training, assignment, probing, code assignment,
    * ADC, rerank) verbatim. The exhaustive-budget ≡ brute-force law
    * and the recall floor are SimilarityScaleSpec rows. */
  private def simIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = queryVectors(e)
    val cents = Similarity.lloydCentroidsExact(
      e.select("vec_id", "embedding"), nCells = 16, iters = 2)
    Similarity.ivfPqTopK(e.select("vec_id", "embedding"), queries,
      dim = 64, k = 5, nCells = 16, nProbe = 4, nSub = 4, nCents = 16,
      coarseK = 20, centroids = Some(cents))
  }

  /** Build-if-absent of the PERSISTED IVF index
    * ([[graft.similarity.IvfIndex]]) — the ANN twin of the bucketed /
    * partitioned table layouts: quantizer training + corpus assignment
    * run once per source snapshot (content-keyed, metered as a layout
    * build), queries serve from partition-pruned scans of `cells/`.
    * v1 tag: dim 64, nCells 16, Lloyd iters 2 — bump on change. */
  private def ensureIvfIndexLayout(spark: SparkSession, dir: String): String = {
    val fp = graft.sources.LayoutCache.contentFingerprint(
      Seq(new java.io.File(dir, "embeddings.parquet")))
    graft.sources.LayoutCache.ensure("graft_ivf_index_v1-d64-c16-i2",
      new java.io.File(dir).getName, fp) { tmp =>
      graft.similarity.IvfIndex.build(
        Tables.embeddings(spark, dir).select("vec_id", "embedding"),
        tmp, dim = 64, nCells = 16, iters = 2)
    }
  }

  /** Persisted IVF-PQ index layout — [[ensureIvfIndexLayout]] plus
    * the PQ tier ([[graft.similarity.IvfIndex.buildPq]]): the corpus
    * CODES are computed once per source snapshot and stored
    * cell-partitioned, so serving never re-encodes the corpus (at
    * 100 TB the 4-byte codes are the index; the float vectors are
    * read only by the exact rerank). v1 tag: dim 64, 16 cells,
    * Lloyd 2 iters, PQ 4 subspaces × 16 centroids. */
  private def ensureIvfPqIndexLayout(spark: SparkSession, dir: String): String = {
    val fp = graft.sources.LayoutCache.contentFingerprint(
      Seq(new java.io.File(dir, "embeddings.parquet")))
    graft.sources.LayoutCache.ensure("graft_ivfpq_index_v1-d64-c16-i2-s4x16",
      new java.io.File(dir).getName, fp) { tmp =>
      graft.similarity.IvfIndex.build(
        Tables.embeddings(spark, dir).select("vec_id", "embedding"),
        tmp, dim = 64, nCells = 16, iters = 2)
      graft.similarity.IvfIndex.buildPq(spark, tmp, dim = 64,
        nSub = 4, nCents = 16)
    }
  }

  /** IVF-PQ served from PERSISTED codes
    * ([[graft.similarity.IvfIndex.topKPq]]): the probe prunes the
    * pq_codes partitions, ADC never reads a raw embedding, and the
    * exact rerank touches only the coarse survivors' vectors in the
    * probed cells — bit-identical to `sim_ivfpq` (same quantizers,
    * same integer ADC), so it shares that oracle statement verbatim:
    * storage changes the plan, never the answer. */
  private def simIvfPqIndexed(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = queryVectors(e)
    graft.similarity.IvfIndex.topKPq(spark,
      ensureIvfPqIndexLayout(spark, dir), queries, dim = 64, k = 5,
      nProbe = 4, coarseK = 20)
  }

  /** ANN served from the persisted index: must equal `sim_ivf_lloyd`
    * bit-for-bit (same exact-Lloyd quantizer, same shared assignment
    * expression at build and probe) — which is exactly what the
    * shared oracle checks; the plan difference is the point (scan
    * reads only the probed cell PARTITIONS, PlanSpec-guarded). */
  private def simIvfIndexed(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = queryVectors(e)
    graft.similarity.IvfIndex.topK(spark,
      ensureIvfIndexLayout(spark, dir), queries, dim = 64, k = 5, nProbe = 4)
  }

  /** The object-store-safe twin: cells routed through TxnLog
    * (manifest = commit point, a reader can never list a torn append),
    * partition pruning preserved inside each version dir. Same oracle
    * as `sim_ivf_indexed` — the storage mode must not change a single
    * result bit. */
  private def ensureIvfIndexTxnLayout(spark: SparkSession, dir: String): String = {
    val fp = graft.sources.LayoutCache.contentFingerprint(
      Seq(new java.io.File(dir, "embeddings.parquet")))
    graft.sources.LayoutCache.ensure("graft_ivf_index_txn_v1-d64-c16-i2",
      new java.io.File(dir).getName, fp) { tmp =>
      graft.similarity.IvfIndex.build(
        Tables.embeddings(spark, dir).select("vec_id", "embedding"),
        tmp, dim = 64, nCells = 16, iters = 2, txnSafe = true)
    }
  }

  private def simIvfIndexedTxn(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = queryVectors(e)
    graft.similarity.IvfIndex.topK(spark,
      ensureIvfIndexTxnLayout(spark, dir), queries, dim = 64, k = 5,
      nProbe = 4, txnSafe = true)
  }

  /** Incrementally-maintained index: base built (and its quantizer
    * TRAINED) on vec_id < 250 only, the rest appended with the stored
    * centroids ([[graft.similarity.IvfIndex.append]] — no retraining,
    * the daily-ingest maintenance path). The oracle trains its Lloyd
    * replay on the same subset and searches ALL vectors — exactly the
    * semantics "assignment is always correct w.r.t. the stored
    * quantizer". */
  private def ensureIvfIndexIncLayout(spark: SparkSession, dir: String): String = {
    val fp = graft.sources.LayoutCache.contentFingerprint(
      Seq(new java.io.File(dir, "embeddings.parquet")))
    graft.sources.LayoutCache.ensure("graft_ivf_index_inc_v1-d64-c16-i2-cut250",
      new java.io.File(dir).getName, fp) { tmp =>
      val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      graft.similarity.IvfIndex.build(
        e.filter(col("vec_id") < 250), tmp, dim = 64, nCells = 16, iters = 2)
      graft.similarity.IvfIndex.append(
        spark, tmp, e.filter(col("vec_id") >= 250), dim = 64)
    }
  }

  /** Drift-then-heal lifecycle under the oracle: gen0 is the
    * incremental story (quantizer trained on vec_id < 250, the rest
    * appended with NO retraining — accepted drift), gen1 is
    * [[graft.similarity.IvfIndex.rebuild]] retraining on gen0's
    * OWN cells table. The rebuilt generation must be bit-identical
    * to a fresh full-corpus build — so the FULL-corpus Lloyd oracle
    * (`sim_ivf_indexed`'s SQL) checks it, while gen0 still answers
    * to the subset-trained oracle. Generation swap = pointer move;
    * gen0 stays servable inside the same layout. */
  private def ensureIvfIndexRebLayout(spark: SparkSession, dir: String): String = {
    val fp = graft.sources.LayoutCache.contentFingerprint(
      Seq(new java.io.File(dir, "embeddings.parquet")))
    graft.sources.LayoutCache.ensure("graft_ivf_index_reb_v1-d64-c16-i2-cut250",
      new java.io.File(dir).getName, fp) { tmp =>
      val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      val gen0 = s"$tmp/gen0"
      graft.similarity.IvfIndex.build(
        e.filter(col("vec_id") < 250), gen0, dim = 64, nCells = 16, iters = 2)
      graft.similarity.IvfIndex.append(
        spark, gen0, e.filter(col("vec_id") >= 250), dim = 64)
      graft.similarity.IvfIndex.rebuild(spark, gen0, s"$tmp/gen1", dim = 64,
        nCells = 16, iters = 2)
      // the gens carry their own _SUCCESS one level down; the layout
      // root needs its own completeness marker for the cache contract
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tmp, "_SUCCESS"), "")
      ()
    }
  }

  private def simIvfRebuilt(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = queryVectors(e)
    graft.similarity.IvfIndex.topK(spark,
      s"${ensureIvfIndexRebLayout(spark, dir)}/gen1", queries,
      dim = 64, k = 5, nProbe = 4)
  }

  /** Index health report ([[graft.similarity.IvfIndex.stats]]): cell
    * populations + corpus share in exact bps over the persisted index —
    * the rebuild-the-quantizer signal; the oracle replays the Lloyd
    * assignment and counts per cell. */
  private def ivfIndexStats(spark: SparkSession, dir: String): DataFrame =
    graft.similarity.IvfIndex.stats(spark, ensureIvfIndexLayout(spark, dir))

  /** Rebuild decision ([[graft.similarity.IvfIndex.rebuildAdvice]]):
    * the monitoring→action close of the index lifecycle — hot-cell
    * imbalance and empty-cell thresholds in exact bps over the stats
    * row; the oracle replays the stats and the threshold arithmetic. */
  private def ivfRebuildAdvice(spark: SparkSession, dir: String): DataFrame =
    graft.similarity.IvfIndex.rebuildAdvice(spark,
      ensureIvfIndexLayout(spark, dir))

  private def simIvfIndexedIncremental(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = queryVectors(e)
    graft.similarity.IvfIndex.topK(spark,
      ensureIvfIndexIncLayout(spark, dir), queries, dim = 64, k = 5, nProbe = 4)
  }

  /** The ivfTopK scoring chain (assign → probe → score → top-k) as a
    * suffix to an arbitrary centroid CTE chain ending in
    * `cents(cell_id, c_emb, c_norm)` — shared by `sim_ivf`
    * (deterministic-sample centroids) and `sim_ivf_lloyd` (exact
    * fixed-point trained centroids). */
  private def ivfScoringSql(centsCtes: String, candWhere: String = ""): String = {
    val dotEC = dotSql("e.embedding", "c.c_emb")
    val dotAQ = dotSql("a.embedding", "p.q_emb")
    s"""$centsCtes,
       |assigned AS (
       |  SELECT vec_id, embedding, c_norm2, cell_id FROM (
       |    SELECT e.vec_id, e.embedding,
       |      sqrt(${dotSql("e.embedding", "e.embedding")}) AS c_norm2,
       |      c.cell_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        -($dotEC) / (sqrt(${dotSql("e.embedding", "e.embedding")}) * c.c_norm) ASC,
       |        c.cell_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |probed AS (
       |  SELECT q_id, q_emb, q_norm2, cell_id FROM (
       |    SELECT e.vec_id AS q_id, e.embedding AS q_emb,
       |      sqrt(${dotSql("e.embedding", "e.embedding")}) AS q_norm2,
       |      c.cell_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        -($dotEC) / (sqrt(${dotSql("e.embedding", "e.embedding")}) * c.c_norm) ASC,
       |        c.cell_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |    WHERE e.vec_id < 10)
       |  WHERE rn <= 4),
       |pairs AS (
       |  SELECT p.q_id, a.vec_id,
       |    ($dotAQ) / (a.c_norm2 * p.q_norm2) AS cos
       |  FROM assigned a JOIN probed p USING (cell_id)
       |  WHERE a.vec_id <> p.q_id$candWhere)
       |SELECT q_id, vec_id, rank, round(cos, 9) AS cos FROM (
       |  SELECT q_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM pairs) WHERE rank <= 5""".stripMargin
  }

  /** The ivf_index_stats replay (Lloyd assignment → per-cell counts +
    * integral share), shared with the rebuild-advice oracle, which
    * wraps it in the decision rule's threshold arithmetic. */
  private lazy val ivfStatsOracleSql: String = {
    val dotEC = dotSql("e.embedding", "c.c_emb")
    lloydCentsSql(2) + s""",
       |assigned AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT e.vec_id, c.cell_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        -($dotEC) / (sqrt(${dotSql("e.embedding", "e.embedding")}) * c.c_norm) ASC,
       |        c.cell_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |counts AS (
       |  SELECT cell_id, count(*) AS n_vectors FROM assigned GROUP BY cell_id)
       |SELECT cell_id, n_vectors,
       |  CAST((n_vectors * 10000) // greatest((SELECT SUM(n_vectors) FROM counts), 1) AS BIGINT) AS share_bps
       |FROM counts""".stripMargin
  }

  /** IVF-PQ composition oracle: Lloyd training + cosine
    * assignment/probing (shared cents/assigned/probed shapes), PQ
    * codes + ADC restricted to probed pairs, exact-cosine rerank of
    * the ADC top-20 — every stage replayed verbatim; `f` (micro
    * fixed-point vectors) is shared between the Lloyd trainer and the
    * PQ subvector slicer. Shared by `sim_ivfpq` (ad-hoc composition)
    * and `sim_ivfpq_indexed` (persisted codes): the storage mode must
    * not change a single result bit. */
  private lazy val simIvfPqOracleSql: String = {
    val sq16 = (a: String, b: String) =>
      s"list_sum(list_transform(range(1, 17), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    val dotEC = dotSql("e.embedding", "c.c_emb")
    val dotEE = dotSql("e.embedding", "e.embedding")
    lloydCentsSql(2) + s""",
       |assigned AS (
       |  SELECT vec_id, embedding, c_norm2, cell_id FROM (
       |    SELECT e.vec_id, e.embedding,
       |      sqrt($dotEE) AS c_norm2, c.cell_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        -($dotEC) / (sqrt($dotEE) * c.c_norm) ASC,
       |        c.cell_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |probed AS (
       |  SELECT q_id, cell_id FROM (
       |    SELECT e.vec_id AS q_id, c.cell_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        -($dotEC) / (sqrt($dotEE) * c.c_norm) ASC,
       |        c.cell_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |    WHERE e.vec_id < 10)
       |  WHERE rn <= 4),
       |qs AS (
       |  SELECT e.vec_id AS q_id, e.embedding AS q_emb,
       |    sqrt($dotEE) AS q_norm2
       |  FROM embeddings e WHERE e.vec_id < 10),
       |sub AS (
       |  SELECT vec_id, CAST(t.j AS INTEGER) AS sub_id,
       |    fv[t.j*16+1 : t.j*16+16] AS sv
       |  FROM f, range(0, 4) t(j)),
       |cb AS (
       |  SELECT sub_id, vec_id AS cent_id, sv AS cv FROM sub
       |  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id ASC LIMIT 16)),
       |codes AS (
       |  SELECT vec_id, sub_id, cent_id FROM (
       |    SELECT s.vec_id, s.sub_id, c.cent_id,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub_id ORDER BY
       |        ${sq16("s.sv", "c.cv")} ASC, c.cent_id ASC) AS rn
       |    FROM sub s JOIN cb c USING (sub_id)) WHERE rn = 1),
       |dtab AS (
       |  SELECT s.vec_id AS q_id, s.sub_id, c.cent_id,
       |    CAST(${sq16("s.sv", "c.cv")} AS BIGINT) AS d
       |  FROM sub s JOIN cb c USING (sub_id) WHERE s.vec_id < 10),
       |ppairs AS (
       |  SELECT p.q_id, a.vec_id
       |  FROM assigned a JOIN probed p USING (cell_id)
       |  WHERE a.vec_id <> p.q_id),
       |adcx AS (
       |  SELECT pp.q_id, k.vec_id, CAST(SUM(t.d) AS BIGINT) AS adc
       |  FROM ppairs pp JOIN codes k ON k.vec_id = pp.vec_id
       |    JOIN dtab t ON t.q_id = pp.q_id
       |      AND t.sub_id = k.sub_id AND t.cent_id = k.cent_id
       |  GROUP BY 1, 2),
       |coarse AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY adc ASC, vec_id ASC) AS crk
       |    FROM adcx) WHERE crk <= 20),
       |rer AS (
       |  SELECT co.q_id, co.vec_id,
       |    (${dotSql("a.embedding", "q.q_emb")}) / (a.c_norm2 * q.q_norm2) AS cos
       |  FROM coarse co
       |  JOIN assigned a ON a.vec_id = co.vec_id
       |  JOIN qs q ON q.q_id = co.q_id)
       |SELECT q_id, vec_id, rank, round(cos, 9) AS cos FROM (
       |  SELECT q_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM rer) WHERE rank <= 5""".stripMargin
  }

  /** Unrolled exact fixed-point Lloyd training
    * ([[Similarity.lloydCentroidsExact]] twin): micro-unit
    * quantization, integer squared-Euclidean assignment, exact integer
    * sums with explicit floor division, empty cells keeping their
    * previous centroid. Ends in the `cents` CTE [[ivfScoringSql]]
    * consumes. */
  private def lloydCentsSql(iters: Int, trainWhere: String = ""): String = {
    val setup =
      s"""WITH f AS (
        |  SELECT vec_id, list_transform(embedding,
        |    v -> CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS fv
        |  FROM embeddings$trainWhere),
        |c0 AS (SELECT vec_id AS cell_id, fv AS cv
        |       FROM f ORDER BY vec_id ASC LIMIT 16)""".stripMargin
    val its = (1 to iters).map { i =>
      s""",
         |a$i AS (
         |  SELECT cell_id, fv FROM (
         |    SELECT f.vec_id, f.fv, c.cell_id,
         |      ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY
         |        list_sum(list_transform(range(1, 65),
         |          i -> (f.fv[i] - c.cv[i]) * (f.fv[i] - c.cv[i]))) ASC,
         |        c.cell_id ASC) AS rn
         |    FROM f CROSS JOIN c${i - 1} c) WHERE rn = 1),
         |s$i AS (
         |  SELECT cell_id, p, SUM(fv[CAST(p AS INT) + 1]) AS s, COUNT(*) AS n
         |  FROM a$i, range(0, 64) t(p) GROUP BY cell_id, p),
         |n$i AS (
         |  SELECT cell_id,
         |    list(CAST((s - ((s % n + n) % n)) // n AS BIGINT) ORDER BY p) AS cv
         |  FROM s$i GROUP BY cell_id),
         |c$i AS (SELECT c${i - 1}.cell_id, COALESCE(n$i.cv, c${i - 1}.cv) AS cv
         |        FROM c${i - 1} LEFT JOIN n$i USING (cell_id))""".stripMargin
    }.mkString
    setup + its +
      s""",
         |cemb AS (
         |  SELECT cell_id, list_transform(cv,
         |    x -> CAST(CAST(x AS DOUBLE) / 1000000.0 AS FLOAT)) AS c_emb
         |  FROM c$iters),
         |cents AS (
         |  SELECT cell_id, c_emb,
         |    sqrt(${dotSql("c_emb", "c_emb")}) AS c_norm FROM cemb)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_ivf", simIvf, ivfScoringSql(
      s"""WITH cents AS (
         |  SELECT vec_id AS cell_id, embedding AS c_emb,
         |    sqrt(${dotSql("embedding", "embedding")}) AS c_norm
         |  FROM embeddings ORDER BY vec_id ASC LIMIT 16)""".stripMargin)),
    // full-probe IVF (nProbe = nCells) scores every pair exactly once,
    // so the result is brute-force top-k regardless of the ML-trained
    // centroids — the same oracle verifies the exact-at-full-probe
    // invariant end-to-end (see simIvfKmeans scaladoc)
    QuerySpec("sim_ivf_kmeans", simIvfKmeans, bruteTopKSql),
    // exact fixed-point Lloyd training unrolled (2 iterations), then
    // the same IVF scoring chain — the trained-centroid twin that IS
    // hash-checkable (see simIvfKmeans for why the ML
    // trainer is not)
    QuerySpec("sim_ivf_lloyd", simIvfLloyd, ivfScoringSql(lloydCentsSql(2))),
    QuerySpec("kmeanspp_init", kmeansppInit, kmeansppSql(8, 8, 3, 2)),
    // the persisted index serves the SAME exact-Lloyd IVF search its
    // build trained — one oracle for both (storage changes the plan,
    // never the answer; the build/probe shared expression is the proof)
    QuerySpec("sim_ivf_indexed", simIvfIndexed, ivfScoringSql(lloydCentsSql(2)),
      layout = Some(ensureIvfIndexLayout(_, _))),
    // FILTERED vector search: the metadata predicate applies inside
    // the probed partitions (pushed to the scan), ranking over the
    // survivors — the production ANN-with-WHERE-clause shape
    // filtered search: the same probing, candidates restricted to the
    // predicate's survivors BEFORE ranking (exact post-filter k)
    QuerySpec("sim_ivf_filtered", (s, d) => {
      val e = Tables.embeddings(s, d)
      val queries = queryVectors(e)
      graft.similarity.IvfIndex.topK(s, ensureIvfIndexLayout(s, d),
        queries, dim = 64, k = 5, nProbe = 4,
        predicate = Some(col("vec_id") % 3 === 0))
    },
      ivfScoringSql(lloydCentsSql(2), " AND a.vec_id % 3 = 0"),
      layout = Some(ensureIvfIndexLayout(_, _))),
    // storage mode (TxnLog-backed cells) must not change a result bit
    QuerySpec("sim_ivf_indexed_txn", simIvfIndexedTxn, ivfScoringSql(lloydCentsSql(2)),
      layout = Some(ensureIvfIndexTxnLayout(_, _))),
    // the persisted index's ACCEPTANCE number: recall@5 of the
    // cell-pruned nProbe=4 search against brute-force ground truth —
    // closes the index lifecycle (build → append → stats → recall)
    // recall@5 of the indexed search: the whole sim_ivf_indexed
    // statement embedded as a derived table (its WITH scope is
    // independent), intersected with brute-force truth
    QuerySpec("ann_recall_indexed", (s, d) => {
      val e = Tables.embeddings(s, d)
      val queries = queryVectors(e)
      val brute = Similarity.bruteForceTopK(
        e.select("vec_id", "embedding"), queries, k = 5)
      val approx = graft.similarity.IvfIndex.topK(s,
        ensureIvfIndexLayout(s, d), queries, dim = 64, k = 5, nProbe = 4)
      Similarity.recallAtK(brute, approx)
    }, {
      val dotEq = dotSql("e.embedding", "bq.q_emb")
      val normE = dotSql("e.embedding", "e.embedding")
      val normQ = dotSql("bq.q_emb", "bq.q_emb")
      s"""WITH bq AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |bp2 AS (
         |  SELECT bq.q_id, e.vec_id,
         |    $dotEq / (sqrt($normE) * sqrt($normQ)) AS cos
         |  FROM embeddings e, bq WHERE e.vec_id <> bq.q_id),
         |truth AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM bp2) WHERE rank <= 5),
         |approx AS (SELECT q_id, vec_id FROM (
         |${ivfScoringSql(lloydCentsSql(2))}
         |) ivf),
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
    },
      layout = Some(ensureIvfIndexLayout(_, _))),
    // incremental index: the quantizer trained on the base subset only,
    // every vector (base + appended) searchable — assignment w.r.t. the
    // STORED centroids is what the maintenance path guarantees
    QuerySpec("sim_ivf_indexed_incremental", simIvfIndexedIncremental,
      ivfScoringSql(lloydCentsSql(2, " WHERE vec_id < 250")),
      layout = Some(ensureIvfIndexIncLayout(_, _))),
    // index health: the same cosine assignment as the scoring oracle,
    // reduced to per-cell populations + integral-division share
    QuerySpec("ivf_index_stats", ivfIndexStats, ivfStatsOracleSql,
      layout = Some(ensureIvfIndexLayout(_, _))),
    // the stats replay wrapped in the decision rule's exact-integer
    // threshold arithmetic (nCells = 16, maxImbalanceBps = 30000,
    // maxEmptyCells = 0 — the registered query's defaults)
    QuerySpec("ivf_rebuild_advice", ivfRebuildAdvice,
      s"""WITH stats_out AS ($ivfStatsOracleSql)
         |SELECT CAST(16 AS BIGINT) AS n_cells,
         |  count(*) AS populated_cells,
         |  CAST(16 AS BIGINT) - count(*) AS empty_cells,
         |  CAST(SUM(n_vectors) AS BIGINT) AS total_vectors,
         |  MAX(share_bps) AS max_share_bps,
         |  MAX(share_bps) * 16 AS imbalance_bps,
         |  CAST(MAX(share_bps) * 16 > 30000
         |       OR CAST(16 AS BIGINT) - count(*) > 0 AS INT) AS rebuild,
         |  CASE
         |    WHEN MAX(share_bps) * 16 > 30000
         |         AND CAST(16 AS BIGINT) - count(*) > 0 THEN 'hot-cell+empty-cells'
         |    WHEN MAX(share_bps) * 16 > 30000 THEN 'hot-cell'
         |    WHEN CAST(16 AS BIGINT) - count(*) > 0 THEN 'empty-cells'
         |    ELSE 'balanced' END AS reason
         |FROM stats_out""".stripMargin,
      layout = Some(ensureIvfIndexLayout(_, _))),
    // rebuild heals append drift COMPLETELY: the engine path is
    // subset-train → append → rebuild-from-own-cells, but the result
    // must equal a fresh FULL-corpus build bit-for-bit — so the
    // full-corpus Lloyd replay is the oracle (vs the incremental
    // query, which answers to the subset-trained replay)
    QuerySpec("sim_ivf_rebuilt", simIvfRebuilt, ivfScoringSql(lloydCentsSql(2)),
      layout = Some(ensureIvfIndexRebLayout(_, _))),
    QuerySpec("sim_ivfpq", simIvfPq, simIvfPqOracleSql),
    // the persisted-codes serving path must be bit-identical: same
    // quantizers, same integer ADC, same rerank — the oracle statement
    // is shared verbatim (the sim_ivf_indexed convention)
    QuerySpec("sim_ivfpq_indexed", simIvfPqIndexed, simIvfPqOracleSql,
      layout = Some(ensureIvfPqIndexLayout(_, _))),
    // PQ-ADC: fixed-point subvectors, integer code assignment (ties ->
    // lower centroid id), integer ADC sums — replayed exactly
    QuerySpec("sim_pq", simPq, {
      val sq16 = (a: String, b: String) =>
        s"list_sum(list_transform(range(1, 17), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
      s"""WITH f AS (
         |  SELECT vec_id, list_transform(embedding,
         |    v -> CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS fv
         |  FROM embeddings),
         |sub AS (
         |  SELECT vec_id, CAST(t.j AS INTEGER) AS sub_id,
         |    fv[t.j*16+1 : t.j*16+16] AS sv
         |  FROM f, range(0, 4) t(j)),
         |cb AS (
         |  SELECT sub_id, vec_id AS cent_id, sv AS cv FROM sub
         |  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id ASC LIMIT 16)),
         |codes AS (
         |  SELECT vec_id, sub_id, cent_id FROM (
         |    SELECT s.vec_id, s.sub_id, c.cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub_id ORDER BY
         |        ${sq16("s.sv", "c.cv")} ASC, c.cent_id ASC) AS rn
         |    FROM sub s JOIN cb c USING (sub_id)) WHERE rn = 1),
         |dtab AS (
         |  SELECT s.vec_id AS q_id, s.sub_id, c.cent_id,
         |    CAST(${sq16("s.sv", "c.cv")} AS BIGINT) AS d
         |  FROM sub s JOIN cb c USING (sub_id) WHERE s.vec_id < 10),
         |adc AS (
         |  SELECT t.q_id, k.vec_id, CAST(SUM(t.d) AS BIGINT) AS adc
         |  FROM codes k JOIN dtab t ON k.sub_id = t.sub_id AND k.cent_id = t.cent_id
         |  WHERE k.vec_id <> t.q_id GROUP BY 1, 2)
         |SELECT q_id, vec_id, rank, adc FROM (
         |  SELECT q_id, vec_id, adc,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY adc ASC, vec_id ASC) AS BIGINT) AS rank
         |  FROM adc) WHERE rank <= 5""".stripMargin
    }),
    QuerySpec("sim_pq_trained", simPqTrained, pqTrainedSql(2)),
    QuerySpec("sim_opq", simOpq, {
      val sq16 = (a: String, b: String) =>
        s"list_sum(list_transform(range(1, 17), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
      s"""WITH f0 AS (
         |  SELECT vec_id, list_transform(embedding,
         |    v -> CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS fv
         |  FROM embeddings),
         |e AS (SELECT vec_id, t.j AS p, fv[CAST(t.j + 1 AS INT)] AS v
         |      FROM f0, range(0, 64) t(j)),
         |vr AS (
         |  SELECT p,
         |    CAST(count(*) AS HUGEINT) * SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT))
         |      - SUM(CAST(v AS HUGEINT)) * SUM(CAST(v AS HUGEINT)) AS var_n
         |  FROM e GROUP BY p),
         |gate AS (
         |  SELECT max(sv) * 4 >= SUM(sv) * 2 AS skewed
         |  FROM (SELECT p // 16 AS sub, SUM(var_n) AS sv FROM vr GROUP BY 1)),
         |rk AS (SELECT p, row_number() OVER (ORDER BY var_n DESC, p ASC) - 1 AS r FROM vr),
         |pm AS (SELECT (CASE WHEN (r // 4) % 2 = 0 THEN r % 4 ELSE 3 - (r % 4) END) * 16
         |         + (r // 4) AS newpos, p AS olddim FROM rk),
         |ol AS (SELECT list(olddim ORDER BY newpos) AS olds FROM pm),
         |f AS (
         |  SELECT vec_id,
         |    CASE WHEN skewed
         |      THEN list_transform(range(0, 64),
         |             q -> fv[CAST(olds[CAST(q + 1 AS INT)] + 1 AS INT)])
         |      ELSE fv END AS fv
         |  FROM f0, ol, gate),
         |sub AS (
         |  SELECT vec_id, CAST(t.j AS INTEGER) AS sub_id,
         |    fv[t.j*16+1 : t.j*16+16] AS sv
         |  FROM f, range(0, 4) t(j)),
         |cb AS (
         |  SELECT sub_id, vec_id AS cent_id, sv AS cv FROM sub
         |  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id ASC LIMIT 16)),
         |codes AS (
         |  SELECT vec_id, sub_id, cent_id FROM (
         |    SELECT s.vec_id, s.sub_id, c.cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub_id ORDER BY
         |        ${sq16("s.sv", "c.cv")} ASC, c.cent_id ASC) AS rn
         |    FROM sub s JOIN cb c USING (sub_id)) WHERE rn = 1),
         |dtab AS (
         |  SELECT s.vec_id AS q_id, s.sub_id, c.cent_id,
         |    CAST(${sq16("s.sv", "c.cv")} AS BIGINT) AS d
         |  FROM sub s JOIN cb c USING (sub_id) WHERE s.vec_id < 10),
         |adc AS (
         |  SELECT t.q_id, k.vec_id, CAST(SUM(t.d) AS BIGINT) AS adc
         |  FROM codes k JOIN dtab t ON k.sub_id = t.sub_id AND k.cent_id = t.cent_id
         |  WHERE k.vec_id <> t.q_id GROUP BY 1, 2)
         |SELECT q_id, vec_id, rank, adc FROM (
         |  SELECT q_id, vec_id, adc,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY adc ASC, vec_id ASC) AS BIGINT) AS rank
         |  FROM adc) WHERE rank <= 5""".stripMargin
    }),
  )
}
