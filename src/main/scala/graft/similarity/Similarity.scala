package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design: the brute-force path broadcasts the (small) query set
  * and scans candidates once — a map-side cross product with a
  * per-partition top-k (window over rank) that shuffles only
  * (query, candidate, score) triples. The LSH path buckets vectors by
  * random-hyperplane sign bits so the scan side shrinks to one bucket
  * per query — the standard recall/latency trade at 100 TB, where
  * brute force over everything is a full-table scan per query batch.
  *
  * All dot products run in double precision with a left-to-right fold
  * (`zip_with` + `aggregate`) — deterministic and engine-portable.
  */
object Similarity {

  /** Double-precision dot product of two float arrays — a native
    * codegen'd expression ([[graft.expressions.FloatDotProduct]]); the
    * accumulation order matches the built-in
    * `aggregate(zip_with(...))` fold, so results are bit-identical. */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VectorFunctions.floatDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: every query (broadcast) against every
    * candidate; rank by (score desc, vec_id) for determinism. Norms are
    * precomputed once per row on each side, so the per-pair work is a
    * single dot product. */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame, k: Int): DataFrame =
    rankScored(scoredPairs(candidates, queries), k)

  /** The shared brute-force scoring frame: (q_id, vec_id, cos) for
    * every (query, candidate) pair, queries broadcast, self-pairs
    * excluded. Map-side only — no shuffle until a consumer ranks. */
  private def scoredPairs(candidates: DataFrame, queries: DataFrame): DataFrame = {
    val cand = graft.core.Parallelism.ensure(candidates)
      .withColumn("c_norm", norm(col("embedding")))
    val qs = queries.withColumn("q_norm", norm(col("q_emb")))
    cand.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("embedding"), col("q_emb")) / (col("c_norm") * col("q_norm"))).as("cos"))
  }

  /** Deterministic per-query top-k of a (q_id, vec_id, cos) frame. */
  private[similarity] def rankScored(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), round(col("cos"), 9).as("cos"))
  }

  /** Hard-negative mining for contrastive training: per query, the
    * top-k candidates whose cosine lands in [loCos, hiCos) — similar
    * enough to be informative, below the near-duplicate band that
    * would make them FALSE negatives. (Random negatives are trivially
    * separable; the pairs that teach a bi-encoder sit just under the
    * duplicate threshold.)
    *
    * Scale shape: identical to [[bruteForceTopK]] — the band filter
    * runs map-side before the rank exchange, so the shuffle carries
    * only banded (q_id, vec_id, cos) triples, strictly fewer than the
    * unbanded search. The LSH/IVF paths compose the same way when the
    * query batch outgrows brute force.
    *
    * Note: the band test uses the RAW cosine; the reported `cos`
    * column is rounded to 9 decimals (engine-portable display). A row
    * whose raw value sits within [loCos, hiCos) can therefore DISPLAY
    * a rounded cos equal to hiCos — filter downstream on the band you
    * requested, not on equality against the rounded column. */
  def hardNegatives(candidates: DataFrame, queries: DataFrame, k: Int,
                    loCos: Double, hiCos: Double): DataFrame = {
    require(loCos < hiCos, s"need loCos < hiCos, got [$loCos, $hiCos)")
    rankScored(
      scoredPairs(candidates, queries)
        .filter(col("cos") >= loCos && col("cos") < hiCos), k)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Deterministic ±1 hyperplane row: sign(p,d) = +1 iff md5("p:d")'s
    * first hex nibble is even — reproducible in any engine without a
    * stored model. Materialized driver-side into an array literal so
    * executors never hash per (row, plane, dim) cell. */
  def planeVector(p: Int, dim: Int): Seq[Double] =
    (0 until dim).map { d =>
      if (Character.digit(md5Hex(s"$p:$d").charAt(0), 16) % 2 == 0) 1.0 else -1.0
    }

  /** Random-hyperplane LSH bucket id from `nPlanes` sign bits. */
  def lshBucket(emb: Column, dim: Int, nPlanes: Int = 8): Column =
    lshBucketSeeded(emb, dim, nPlanes, 0)

  /** LSH-bucketed ANN: queries only compare against candidates in the
    * same hyperplane bucket (approximate — trades recall for a
    * bucket-local join instead of a full scan).
    *
    * Regime note: angular LSH pays off when true near neighbors exist
    * (cosine ≳ 0.8, e.g. near-duplicate embeddings) — collision odds
    * per plane are 1 − θ/π, so weakly-correlated corpora (max cosine
    * ~0.5) collide near-randomly and [[ivfTopK]] is the better scale
    * path there (its recall degrades with distance, not correlation). */
  def lshTopK(candidates: DataFrame, queries: DataFrame, dim: Int,
              k: Int, nPlanes: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = candidates.withColumn("bucket", lshBucket(col("embedding"), dim, nPlanes))
      .withColumn("c_norm", norm(col("embedding")))
    val qb = queries.withColumn("bucket", lshBucket(col("q_emb"), dim, nPlanes))
      .withColumn("q_norm", norm(col("q_emb")))
    val scored = cb.join(broadcast(qb), "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("embedding"), col("q_emb")) / (col("c_norm") * col("q_norm"))).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), round(col("cos"), 9).as("cos"))
  }

  /** Signed projection of `emb` onto deterministic plane `p` — the
    * shared kernel of bucket assignment and multi-probe margins. */
  private def planeProj(emb: Column, dim: Int, p: Int): Column =
    aggregate(
      zip_with(emb, typedLit(planeVector(p, dim)), (x, s) => x.cast("double") * s),
      lit(0.0), (acc, v) => acc + v)

  /** Random-hyperplane LSH bucket id using planes
    * [seedOffset, seedOffset + nPlanes). */
  def lshBucketSeeded(emb: Column, dim: Int, nPlanes: Int, seedOffset: Int): Column =
    (0 until nPlanes).map { p =>
      when(planeProj(emb, dim, seedOffset + p) >= 0, 1L << p).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Multi-probe bucket list (Lv et al., VLDB'07): the point's own
    * bucket plus the buckets reached by flipping each of the
    * `extraProbes` smallest-|margin| sign bits — the planes a query
    * sits closest to are exactly the ones likeliest to disagree for a
    * true neighbor, so probing those flips recovers most of the recall
    * of running several independent hash tables at ONE table's memory
    * and build cost. Ties on |margin| break toward the lower plane
    * index; fully deterministic, same derivation expressible in SQL. */
  def lshProbeBuckets(emb: Column, dim: Int, nPlanes: Int = 8,
                      extraProbes: Int = 2, seedOffset: Int = 0): Column = {
    require(extraProbes >= 0 && extraProbes <= nPlanes,
      s"extraProbes must be in [0, $nPlanes], got $extraProbes")
    val base = lshBucketSeeded(emb, dim, nPlanes, seedOffset)
    val margins = array_sort(array((0 until nPlanes).map { p =>
      struct(abs(planeProj(emb, dim, seedOffset + p)).as("m"),
        lit(1L << p).as("mask"))
    }: _*))
    val flips = transform(slice(margins, 1, extraProbes),
      s => base.bitwiseXOR(s.getField("mask")))
    concat(array(base), flips)
  }

  /** Multi-probe LSH ANN: candidates are bucketed ONCE (single narrow
    * table, same as [[lshTopK]]); each query probes its own bucket
    * plus `extraProbes` flipped-margin buckets. The probed buckets are
    * distinct and a candidate lives in exactly one, so no dedup pass
    * is needed before ranking. Same scale shape as [[lshTopK]] — the
    * exploded query side stays tiny and broadcasts; the corpus is
    * never re-hashed per probe. */
  def lshMultiProbeTopK(candidates: DataFrame, queries: DataFrame, dim: Int,
                        k: Int, nPlanes: Int = 8, extraProbes: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = candidates.withColumn("bucket", lshBucket(col("embedding"), dim, nPlanes))
      .withColumn("c_norm", norm(col("embedding")))
    val qb = queries
      .withColumn("bucket",
        explode(lshProbeBuckets(col("q_emb"), dim, nPlanes, extraProbes)))
      .withColumn("q_norm", norm(col("q_emb")))
    val scored = cb.join(broadcast(qb), "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("embedding"), col("q_emb")) / (col("c_norm") * col("q_norm"))).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), round(col("cos"), 9).as("cos"))
  }

  /** Semantic coverage / diversity sampling (SemDeDup-flavored,
    * Abbas et al. 2023, public): partition the embedding space into
    * hyperplane-LSH buckets and keep the `perBucket` most central
    * representatives of each bucket — a corpus-wide "one per semantic
    * neighborhood" downsample that removes redundant regions without
    * any pairwise comparison.
    *
    * Election is deterministic: rank by (L2 norm desc, id asc) inside
    * each bucket — highest-energy vector first; a hash-salted rank
    * would work equally, the point is reproducibility.
    *
    * Scale shape: ONE narrow shuffle of (id, bucket, norm) triples for
    * the rank window (Spark bounds it map-side via WindowGroupLimit);
    * the embedding payload itself never crosses an exchange — the kept
    * id set (≤ perBucket·2^nPlanes rows, bounded by construction) joins
    * back onto the input, broadcast at any sane bucket count (AQE picks
    * it up from the runtime size otherwise). Bucket count is 2^nPlanes:
    * size it so corpus/2^nPlanes ≈ the neighborhood granularity. */
  def diversitySample(embeddings: DataFrame, dim: Int, perBucket: Int,
                      nPlanes: Int = 8, idCol: String = "vec_id",
                      embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(perBucket > 0, s"perBucket must be positive, got $perBucket")
    val keep = embeddings.select(col(idCol).as("__id"),
        lshBucket(col(embCol), dim, nPlanes).as("__b"),
        norm(col(embCol)).as("__n"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__b")).orderBy(col("__n").desc, col("__id").asc)))
      .filter(col("__rn") <= perBucket)
      .select(col("__id").as(idCol), col("__b").as("bucket"),
        col("__rn").cast("bigint").as("bucket_rank"))
    embeddings.join(keep, Seq(idCol))
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023, public):
    * inside each hyperplane-LSH bucket, keep the single highest-norm
    * representative and DROP every other member whose cosine to it
    * exceeds `tau` — removing semantically redundant documents with
    * zero pairwise comparisons across buckets (each member is compared
    * to exactly ONE representative, so work is linear in corpus size).
    *
    * Returns every input row annotated with (bucket, rep_id, cos,
    * keep): representatives keep themselves; members with
    * cos ≥ tau are dropped. Filter `keep` for the deduped corpus.
    *
    * Scale shape: the representative set (≤ 2^nPlanes rows) broadcasts
    * back onto the bucketed corpus — one narrow election shuffle (via
    * [[diversitySample]]), no embedding ever crosses an exchange. */
  def semanticDedup(embeddings: DataFrame, dim: Int, tau: Double,
                    nPlanes: Int = 8, idCol: String = "vec_id",
                    embCol: String = "embedding"): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau in (0,1], got $tau")
    val reps = diversitySample(embeddings, dim, perBucket = 1, nPlanes,
        idCol, embCol)
      .select(col("bucket"), col(idCol).as("__rep_id"),
        col(embCol).as("__rep_emb"), norm(col(embCol)).as("__rep_norm"))
    embeddings
      .withColumn("bucket", lshBucket(col(embCol), dim, nPlanes))
      .join(broadcast(reps), "bucket")
      .withColumn("cos",
        round(dot(col(embCol), col("__rep_emb")) /
          (norm(col(embCol)) * col("__rep_norm")), 9))
      .withColumn("keep",
        col(idCol) === col("__rep_id") || col("cos") < tau)
      .select(col(idCol), col("bucket"), col("__rep_id").as("rep_id"),
        col("cos"), col("keep"))
  }

  /** IVF (inverted-file) ANN — the scale path: candidates are coarse-
    * quantized once to their nearest of `nCells` centroids (one narrow
    * shuffle keyed by cell), and each query probes only its `nProbe`
    * nearest cells instead of scanning the full corpus. Centroids here
    * are a deterministic sample (lowest `vec_id`s); swapping in k-means
    * centroids changes only the centroid frame, not the plan shape.
    * Approximate by construction (recall grows with nProbe) — no SQL
    * oracle; verified against brute force in tests. */
  def ivfTopK(candidates: DataFrame, queries: DataFrame, dim: Int, k: Int,
              nCells: Int = 16, nProbe: Int = 4,
              centroids: Option[DataFrame] = None,
              inlineCellThreshold: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centFrame = centroids.getOrElse(
      candidates.orderBy(col("vec_id").asc).limit(nCells)
        .select(col("vec_id").as("cell_id"), col("embedding").as("c_emb"),
          norm(col("embedding")).as("c_norm")))
    // Two assignment strategies with identical semantics (nearest cell,
    // ties toward the lower cell_id):
    //  - nCells <= inlineCellThreshold: collect the centroid table and
    //    inline it as literals — nearest-cell assignment is a map-only
    //    projection, no join at all. The expression tree grows with
    //    nCells, so this is capped: at production quantizer sizes
    //    (256-65536 cells) a per-row literal array would bloat codegen.
    //  - above the cap: broadcast-join the centroid frame and take
    //    min_by over the narrow (d, cell_id) pairs — plan size is
    //    constant in nCells; the per-candidate partial aggregation
    //    happens map-side before the one narrow shuffle.
    val (assigned, probed) =
      if (nCells <= inlineCellThreshold) {
        val cents = centFrame.collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
        cents.foreach { case (id, ce, _) =>
          require(ce.length == dim, s"centroid $id has dim ${ce.length}, expected $dim") }
        def cellDists(emb: Column, nrm: Column): Column =
          cellDistsLit(cents)(emb, nrm)
        val a = graft.core.Parallelism.ensure(candidates)
          .withColumn("c_norm2", norm(col("embedding")))
          .withColumn("cell_id", element_at(
            array_sort(cellDists(col("embedding"), col("c_norm2"))), 1).getField("cell_id"))
        val p = queries
          .withColumn("q_norm2", norm(col("q_emb")))
          .withColumn("probe", explode(slice(
            array_sort(cellDists(col("q_emb"), col("q_norm2"))), 1, nProbe)))
          .select(col("q_id"), col("q_emb"), col("q_norm2"),
            col("probe.cell_id").as("cell_id"))
        (a, p)
      } else {
        val c = broadcast(centFrame)
        val a = graft.core.Parallelism.ensure(candidates)
          .withColumn("c_norm2", norm(col("embedding")))
          .crossJoin(c)
          .withColumn("d",
            -dot(col("embedding"), col("c_emb")) / (col("c_norm2") * col("c_norm")))
          .groupBy(col("vec_id"))
          .agg(min_by(
            struct(col("cell_id"), col("embedding"), col("c_norm2")),
            struct(col("d"), col("cell_id"))).as("best"))
          .select(col("vec_id"), col("best.cell_id").as("cell_id"),
            col("best.embedding").as("embedding"), col("best.c_norm2").as("c_norm2"))
        val wq = Window.partitionBy(col("q_id"))
          .orderBy(col("d").asc, col("cell_id").asc)
        val p = queries
          .withColumn("q_norm2", norm(col("q_emb")))
          .crossJoin(c)
          .withColumn("d",
            -dot(col("q_emb"), col("c_emb")) / (col("q_norm2") * col("c_norm")))
          .withColumn("__rk", row_number().over(wq))
          .filter(col("__rk") <= nProbe)
          .select(col("q_id"), col("q_emb"), col("q_norm2"), col("cell_id"))
        (a, p)
      }
    val scored = assigned.join(broadcast(probed), "cell_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("embedding"), col("q_emb")) / (col("c_norm2") * col("q_norm2"))).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), round(col("cos"), 9).as("cos"))
  }

  /** Literal-centroid (cosine-distance, cell_id) struct array — the
    * inline assignment strategy's scoring expression, shared by
    * [[ivfTopK]] and the persisted [[IvfIndex]] so build-time and
    * query-time assignment can never drift. Sorted ascending it
    * yields nearest-first with ties toward the lower cell id. */
  private[similarity] def cellDistsLit(
      cents: Array[(Long, Seq[Float], Double)])(emb: Column, nrm: Column): Column =
    array(cents.map { case (id, ce, cn) =>
      struct((-dot(emb, typedLit(ce)) / (nrm * lit(cn))).as("d"),
        lit(id).as("cell_id"))
    }.toIndexedSeq: _*)

  /** K-means-trained IVF centroids (the production centroid source;
    * the deterministic-sample default in [[ivfTopK]] is the model-free
    * fallback). Fixed seed + capped iterations keep training
    * reproducible. At 100 TB one trains on a sample, not the corpus:
    * `trainSamplePct` < 100 trains on a deterministic hash sample of
    * the candidate ids ([[graft.operators.Sampling.hashSample]] —
    * engine-portable, stable across partitionings), which is the
    * standard IVF recipe (quantizer quality degrades slowly with
    * sample rate; assignment still covers every row).
    * Returns a (cell_id, c_emb, c_norm) frame for `ivfTopK(centroids=)`.
    */
  def kmeansCentroids(candidates: DataFrame, nCells: Int,
                      seed: Long = 42L, maxIter: Int = 5,
                      trainSamplePct: Int = 100): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = candidates.sparkSession
    import spark.implicits._
    val base =
      if (trainSamplePct >= 100) candidates
      else graft.operators.Sampling.hashSample(
        candidates, "vec_id", trainSamplePct, salt = "kmeans")
    val train = base.select(array_to_vector(
      col("embedding").cast("array<double>")).as("features"))
    val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features").fit(train)
    val centers = model.clusterCenters.zipWithIndex.map { case (v, i) =>
      (i.toLong, v.toArray.map(_.toFloat))
    }.toSeq
    centers.toDF("cell_id", "c_emb")
      .withColumn("c_norm", norm(col("c_emb")))
  }

  /** Exact fixed-point Lloyd (k-means) IVF centroids — the ORACLE-
    * CHECKABLE trainer: [[kmeansCentroids]] (Spark ML) produces
    * centroids that depend on partition-order float summation, so its
    * output can only ever be rows-only checked; this variant makes
    * every step engine-portable and order-independent, the same recipe
    * as the fixed-point PageRank:
    *
    *  - embeddings quantized to integer MICRO-UNITS
    *    (`round(v * 1e6)` as long — identical double arithmetic in
    *    any engine);
    *  - assignment by INTEGER squared Euclidean distance (exact
    *    comparisons, ties toward the lower cell id);
    *  - centroid update by exact integer sums (order-independent,
    *    far below 2^63) and explicit floor division; empty cells keep
    *    their previous centroid;
    *  - fixed deterministic init (lowest `nCells` vec_ids) and a fixed
    *    iteration count, so the whole training unrolls to pure
    *    relational algebra that a SQL oracle replays verbatim.
    *
    * Scale shape per iteration: one broadcast of `nCells` centroids,
    * one narrow (cell, pos, partial-sum) shuffle — vectors never cross
    * an exchange whole. Returns (cell_id, c_emb float, c_norm) for
    * `ivfTopK(centroids = ...)`. */
  def lloydCentroidsExact(candidates: DataFrame, nCells: Int = 16,
                          iters: Int = 2,
                          init: Option[DataFrame] = None): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val f = graft.core.Parallelism.ensure(candidates)
      .select(col("vec_id"),
        transform(col("embedding"),
          v => round(v.cast("double") * 1e6).cast("long")).as("fv"))
    // init override: (cell_id, cv micro) — e.g. [[kmeansParallelInit]]'s
    // output, whose D²-spread seeding beats first-k at equal budget.
    // Centroids live on the DRIVER throughout (bounded: nCells rows —
    // the documented centroid-class collect): every iteration is then
    // ONE job over a FLAT plan — map-side literal assignment + a
    // narrow (cell, pos, partial-sum) aggregate — where the previous
    // lazy formulation nested crossJoin+min_by(vec_id)+join round-over-
    // round, shuffling the full vector set per iteration and paying
    // AQE planning of an ever-deeper tree. Arithmetic is IDENTICAL
    // (integer d2, ties to the lower cell_id, order-free integer sums,
    // the same floor division), so results are bit-exact.
    var cents: Array[(Long, Array[Long])] =
      init.map(_.select(col("cell_id"), col("cv")).collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)))
        .getOrElse(f.orderBy(col("vec_id").asc).limit(nCells).collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)))
    for (_ <- 1 to iters if cents.nonEmpty) {
      // nearest cell per row, ties to the lower cell_id — the literal
      // twin of the crossJoin+min_by ordering (sort by (d, cell_id)).
      // `fv` is bound once (let-binding): without it CollapseProject
      // inlines the quantizing transform into every per-cell distance
      // struct — nCells re-evaluations per row.
      def dists(fv: Column) = array(cents.map { case (id, cv) =>
        struct(graft.expressions.IntegerVectorFunctions
            .longSqDist(fv, typedLit(cv.toIndexedSeq)).as("d"),
          lit(id).as("cell_id"))
      }.toIndexedSeq: _*)
      val sums = f
        .withColumn("cell_id", graft.functions.TextFunctions.bound(col("fv")) {
          fv => element_at(array_sort(dists(fv)), 1).getField("cell_id") })
        .select(col("cell_id"), posexplode(col("fv")).as(Seq("p", "v")))
        .groupBy(col("cell_id"), col("p"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect() // bounded: nCells × dim rows
      val byCell = sums.groupBy(_.getLong(0))
      cents = cents.map { case (id, prev) =>
        byCell.get(id) match {
          case None => (id, prev) // empty cell keeps its centroid
          case Some(rows) =>
            val cv = prev.clone()
            rows.foreach { r =>
              val p = r.getInt(1); val s = r.getLong(2); val n = r.getLong(3)
              // explicit floor division (s can be negative; identical
              // to the SQL `(s - ((s % n + n) % n)) div n`)
              cv(p) = Math.floorDiv(s, n)
            }
            (id, cv)
        }
      }
    }
    cents.toIndexedSeq.map { case (id, cv) => (id, cv) }
      .toDF("cell_id", "cv")
      .select(col("cell_id"),
        transform(col("cv"), x => (x.cast("double") / 1e6).cast("float")).as("c_emb"))
      .withColumn("c_norm", norm(col("c_emb")))
  }

  /** k-means|| initialization (Bahmani, Moseley, Vattani, Kumar,
    * Vassilvitskii — "Scalable k-means++", VLDB 2012) — the
    * INITIALIZATION that makes Lloyd trainable at 100 TB.
    * [[lloydCentroidsExact]] seeds from the lowest vec_ids: fine for
    * an oracle, but an arbitrary init can start every centroid inside
    * one dense region and waste the iteration budget escaping it.
    * k-means++ fixes that with D²-weighted seeding but is inherently
    * sequential (k passes); k-means|| batches it: O(rounds) passes,
    * each sampling ~`oversample` points with probability ∝ their
    * squared distance to the current candidate set, then a WEIGHTED
    * k-means over the tiny candidate set picks the final `nCells`.
    *
    * Engine-exact (every step replays in SQL):
    *  - micro-unit fixed point (the [[lloydCentroidsExact]]
    *    convention); seed = lowest vec_id;
    *  - per round `t`: d2(x) = min integer sq-distance to the
    *    candidate set; potential φ = Σ d2 (exact integer); keep x iff
    *    `u(x,t) · φ < oversample · d2(x) · 1e6` where u(x,t) is an
    *    md5 uniform in [0, 1e6) — the D²-sampling acceptance test as
    *    one exact integer cross-multiply (no division, no floats; a
    *    point already selected has d2 = 0 and can never re-select);
    *  - weights: points per nearest candidate (ties → lower id);
    *  - final: weighted Lloyd over the candidates, init = top
    *    `nCells` by (weight DESC, id ASC), `lloydIters` rounds of
    *    integer assignment + floor-division weighted means (a cell
    *    whose assignees carry zero weight keeps its centroid).
    *
    * Scale shape: per round ONE broadcast of the candidate set and
    * one narrow (vec_id, d2) aggregate — embeddings never cross an
    * exchange. The collects are bounded and documented: the scalar φ
    * per round, the sampled candidates (expected `oversample` per
    * round — the acceptance probabilities sum to ~oversample by
    * construction), and the final ≤ `1 + oversample·rounds`-point
    * weighted recluster, which runs on the driver in exact integer
    * arithmetic (the centroid-family collect the plan lint already
    * admits).
    *
    * Returns (cell_id, c_emb float, c_norm, cv micro) — feed straight
    * into [[ivfTopK]]; `cv` is the exact fixed-point centroid for
    * oracle comparison. */
  def kmeansParallelInit(candidates: DataFrame, nCells: Int = 16,
                         oversample: Int = 8, rounds: Int = 3,
                         lloydIters: Int = 2, salt: String = "kpp"): DataFrame = {
    require(nCells > 0 && oversample > 0 && rounds > 0 && lloydIters >= 0,
      s"kmeansParallelInit: bad budget ($nCells, $oversample, $rounds, $lloydIters)")
    val spark = candidates.sparkSession
    import spark.implicits._
    val f = graft.core.Parallelism.ensure(candidates)
      .select(col("vec_id").cast("long").as("vec_id"),
        transform(col("embedding"),
          v => round(v.cast("double") * 1e6).cast("long")).as("fv"))
    val seedRows = f.orderBy(col("vec_id").asc).limit(1).collect()
    require(seedRows.nonEmpty, "kmeansParallelInit: empty input")
    var cand: Vector[(Long, IndexedSeq[Long])] = Vector(
      (seedRows(0).getLong(0), seedRows(0).getSeq[Long](1).toIndexedSeq))
    // Nearest candidate per row, computed MAP-SIDE from the literal
    // candidate set (bounded: ≤ 1 + oversample·rounds entries) — the
    // previous crossJoin+groupBy(vec_id) formulation shuffled the full
    // (vec_id, fv) set through the min aggregate on EVERY pass (φ,
    // selection, weights). Ordering identical: sorted (d, cand_id)
    // struct ⇒ min distance, ties toward the lower cand_id.
    def minD2: DataFrame = {
      // fv bound once per row (let-binding — CollapseProject would
      // otherwise inline the quantizing transform into every
      // candidate's distance struct)
      def dists(fv: Column) = array(cand.map { case (id, cv) =>
        struct(graft.expressions.IntegerVectorFunctions
            .longSqDist(fv, typedLit(cv)).as("d"),
          lit(id).as("cand_id"))
      }: _*)
      f.withColumn("__best", graft.functions.TextFunctions.bound(col("fv")) {
          fv => element_at(array_sort(dists(fv)), 1) })
        .select(col("vec_id"), col("__best").getField("d").as("d2"),
          col("__best").getField("cand_id").as("near"), col("fv"))
    }
    for (t <- 1 to rounds) {
      val dmin = minD2
      // exact integer potential — Σ d2 can pass 2^63 on large corpora,
      // so the sum runs in decimal (DuckDB sums BIGINT into HUGEINT
      // the same way); ONE scalar row collected per round
      val phi = dmin.agg(sum(col("d2").cast("decimal(38,0)")))
        .head.getDecimal(0)
      if (phi.signum > 0) {
        val u = conv(substring(md5(concat(col("vec_id").cast("string"),
          lit(s":$salt:$t"))), 1, 15), 16, 10).cast("long") % 1000000L
        // D²-acceptance as one integer cross-multiply in decimal —
        // u/1e6 < oversample * d2 / φ, exactly
        val sel = dmin
          .filter((u.cast("decimal(38,0)") * lit(phi)) <
            (col("d2").cast("decimal(38,0)") * lit(oversample.toLong * 1000000L)))
          .select(col("vec_id"), col("fv"))
          .collect() // bounded: acceptance probabilities sum to ~oversample
        cand = cand ++ sel.map(r =>
          (r.getLong(0), r.getSeq[Long](1).toIndexedSeq))
      }
    }
    // weights = |points nearest to each candidate| — one more pass
    val w: Map[Long, Long] = minD2.groupBy(col("near"))
      .agg(count(lit(1)).as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // weighted Lloyd over ≤ 1 + oversample·rounds candidates, on the
    // driver, in exact long arithmetic (weighted sums stay far below
    // 2^63: |cv| ≤ ~1e7 micro, weights ≤ corpus rows)
    val dim = cand.head._2.length
    var cents: Vector[(Long, IndexedSeq[Long])] = cand
      .sortBy { case (id, _) => (-w.getOrElse(id, 0L), id) }
      .take(nCells).map { case (id, cv) => (id, cv) }
    for (_ <- 1 to lloydIters) {
      val assigned = cand.map { case (id, cv) =>
        val best = cents.map { case (cid, cc) =>
          var d = 0L; var i = 0
          while (i < dim) { val x = cv(i) - cc(i); d += x * x; i += 1 }
          (d, cid)
        }.min
        (best._2, cv, w.getOrElse(id, 0L))
      }
      cents = cents.map { case (cid, prev) =>
        val mine = assigned.filter(_._1 == cid)
        val wsum = mine.map(_._3).sum
        if (wsum <= 0L) (cid, prev)
        else (cid, IndexedSeq.tabulate(dim) { p =>
          Math.floorDiv(mine.map(a => a._2(p) * a._3).sum, wsum)
        })
      }
    }
    cents.map { case (cid, cv) => (cid, cv.toArray) }
      .toDF("cell_id", "cv")
      .select(col("cell_id"),
        transform(col("cv"), x => (x.cast("double") / 1e6).cast("float")).as("c_emb"),
        col("cv"))
      .withColumn("c_norm", norm(col("c_emb")))
      .select(col("cell_id"), col("c_emb"), col("c_norm"), col("cv"))
  }

  /** Top-principal-component scores by FIXED-POINT POWER ITERATION —
    * the distributed PCA step behind "all-but-the-top" embedding
    * post-processing (Mu & Viswanath, ICLR 2018: most embedding
    * corpora share one dominant direction; its removal restores
    * isotropy and improves retrieval) and the classic corpus
    * diagnostics (what single axis explains the spread).
    *
    * Exact integer recipe (every step engine-portable, so the oracle
    * replays the WHOLE iteration):
    *  - micro-unit fixed point; mean by per-position integer sums +
    *    floor division (64 narrow rows collected);
    *  - `iters` power-iteration rounds of v ← Xᵀ(Xv): the per-row
    *    score s = Σ xc·v runs map-side with v a 64-long literal; the
    *    per-position back-projection w = Σ xc·s accumulates in
    *    decimal (it passes 2^63 on large corpora — DuckDB's HUGEINT
    *    twin), 64 rows collected; normalization to micro scale by
    *    exact floor division against max|w| on the driver (BigInt);
    *  - final per-vector score c = floorDiv(s, v·v div 1e6) — the
    *    PC1 coordinate in micro units, pure BIGINT in both engines.
    *
    * Scale shape per round: one map-side scan (v rides as a literal —
    * no join, no broadcast table) + one narrow (pos, partial-sum)
    * aggregate; embeddings never cross an exchange. Collects are 64
    * rows per round — the centroid-class bounded collect.
    *
    * Power iteration converges to PC1 at rate (λ2/λ1)ᵗ; `iters` = 3
    * is the diagnostics budget, not a guarantee — the value is the
    * DETERMINISTIC, replayable direction, same on any engine or
    * partitioning. Returns (vec_id, pc1_micro). */
  def pc1Scores(candidates: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"pc1Scores: need iters >= 1, got $iters")
    val f = graft.core.Parallelism.ensure(candidates)
      .select(col("vec_id").cast("long").as("vec_id"),
        transform(col("embedding"),
          v => round(v.cast("double") * 1e6).cast("long")).as("fv"))
    // mean: exact integer per-position sums, floor division (bounded
    // 64-row collect)
    val mrows = f.select(posexplode(col("fv")).as(Seq("p", "v")))
      .groupBy(col("p")).agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> Math.floorDiv(r.getLong(1), r.getLong(2)))
      .toMap
    val dim = mrows.size
    val mu = IndexedSeq.tabulate(dim)(mrows(_))
    val xc = zip_with(col("fv"),
      array(mu.map(lit): _*), (a, b) => a - b).as("xc")
    val centered = f.select(col("vec_id"), xc)
    var v: IndexedSeq[BigInt] = IndexedSeq.fill(dim)(BigInt(1000000))
    def scoreCol(vv: IndexedSeq[BigInt]): Column = aggregate(
      zip_with(col("xc"), array(vv.map(x => lit(x.toLong)): _*),
        (a, b) => a * b), lit(0L), (acc, x) => acc + x)
    for (_ <- 1 to iters) {
      // w_p = Σ_i xc_ip · s_i — decimal: the back-projection is the
      // one sum that outgrows a long
      val w = centered.withColumn("s", scoreCol(v))
        .select(posexplode(col("xc")).as(Seq("p", "x")), col("s"))
        .groupBy(col("p"))
        .agg(sum(col("x").cast("decimal(38,0)") * col("s").cast("decimal(38,0)")).as("w"))
        .collect().map(r => r.getInt(0) -> BigInt(r.getDecimal(1).toBigInteger)).toMap
      val m = (0 until dim).map(p => w(p).abs).max
      require(m.signum > 0,
        "pc1Scores: degenerate corpus (zero covariance) — no principal direction")
      // exact floor division back to micro scale (sign-correct)
      v = IndexedSeq.tabulate(dim) { p =>
        val num = w(p) * 1000000
        (num - (((num % m) + m) % m)) / m
      }
    }
    val vv = v.map(x => x * x).sum
    val denom = (vv / 1000000).toLong // vv ≤ 64·(1e6)² — long-safe
    require(denom > 0, "pc1Scores: principal direction underflowed")
    centered.withColumn("s", scoreCol(v))
      .select(col("vec_id"),
        expr(s"(s - ((s % $denom + $denom) % $denom)) div $denom").as("pc1_micro"))
  }

  /** L2-normalize an embedding column to unit vectors (the standard
    * pre-step that turns cosine into a plain dot product, halving ANN
    * scoring cost). Zero vectors pass through as zeros. Pure per-row
    * projection; arithmetic written identically in the oracle. */
  def l2Normalize(df: DataFrame, embCol: String = "embedding",
                  idCol: String = "vec_id"): DataFrame = {
    val withNorm = df.select(col(idCol), col(embCol), norm(col(embCol)).as("norm"))
    withNorm.select(col(idCol), col("norm"),
      when(col("norm") === 0.0, transform(col(embCol), v => v.cast("double")))
        .otherwise(transform(col(embCol), v => v.cast("double") / col("norm")))
        .as("unit"))
  }

  /** Deterministic ±1 random projection (the dense-sign
    * Johnson–Lindenstrauss variant, Achlioptas 2003): `outDim` output
    * coordinates, out_p = Σ_i sign(p, i) · q_i over the
    * micro-quantized embedding q_i = round(emb_i · 1e6) — one
    * quantization round per element, then pure integer arithmetic, so
    * projections are hash-exact in any engine (a float Σ would be
    * summation-order noise). The sign planes are the engine's
    * md5-derived family ([[planeVector]], dedicated seed offset so
    * projection planes never collide with the LSH bucket planes),
    * materialized driver-side into literal arrays — executors never
    * hash per (row, plane, dim) cell.
    *
    * This is the pre-LSH/pre-scoring shrink for embedding corpora: at
    * 100 TB, reducing dim → outDim cuts every downstream
    * band/scoring pass by the same factor while JL preserves pairwise
    * geometry to within the usual ε for outDim = O(log n / ε²).
    *
    * Scale shape: pure map-side projection — no shuffle, stays in
    * whole-stage codegen. Returns narrow (id, plane_idx, proj_micro)
    * long rows: hash-checkable directly and pivotable back to a
    * reduced vector table. */
  def randomProject(df: DataFrame, dim: Int, outDim: Int,
                    seedOffset: Int = 100,
                    embCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    require(dim > 0 && outDim > 0, s"need dim/outDim > 0, got $dim/$outDim")
    val projs = projExprs(col(embCol), dim, outDim, seedOffset)
    df.select(col(idCol),
      posexplode(array(projs: _*)).as(Seq("plane_idx", "proj_micro")))
  }

  /** The per-plane projection expressions behind [[randomProject]],
    * reusable wherever the projected vector is wanted as an array. */
  private def projExprs(emb: Column, dim: Int, outDim: Int,
                        seedOffset: Int): Seq[Column] =
    (0 until outDim).map { p =>
      val signs = planeVector(seedOffset + p, dim).map(v => if (v > 0) 1L else -1L)
      aggregate(
        zip_with(emb, typedlit(signs),
          (x, s) => round(x.cast("double") * 1e6).cast("long") * s),
        lit(0L), (acc, v) => acc + v)
    }

  /** Coarse-to-fine ANN over the JL projection: rank every candidate
    * per query by the INTEGER dot product of the two `outDim`-dim sign
    * projections ([[randomProject]]'s planes — exact, order-free
    * arithmetic), keep the coarse top-`coarseK`, then re-score just
    * those with the full-dimension exact cosine and return top-`k` in
    * [[bruteForceTopK]]'s output convention.
    *
    * This is the standard two-stage retrieval shape at corpus scale:
    * the expensive full-width scoring touches `coarseK` candidates per
    * query instead of the corpus, while the coarse pass reads
    * `outDim` longs per row instead of `dim` floats — with JL
    * distortion bounded the recall loss is the usual ε for
    * `outDim = O(log n / ε²)` (and the spec pins recall on the test
    * corpus).
    *
    * Scale shape: embeddings NEVER cross an exchange — the coarse
    * stage broadcasts the projected queries and shuffles only narrow
    * (q_id, vec_id, score) triples into the rank window; the
    * surviving (q_id, vec_id) pairs (≤ queries × coarseK) broadcast
    * back onto the candidate and query tables, so the fine stage is
    * map-side joins plus one more narrow rank exchange. */
  def projectedRerankTopK(candidates: DataFrame, queries: DataFrame,
                          dim: Int, outDim: Int, coarseK: Int, k: Int,
                          seedOffset: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(coarseK >= k, s"need coarseK >= k, got $coarseK < $k")
    val cand = graft.core.Parallelism.ensure(candidates)
      .select(col("vec_id"),
        array(projExprs(col("embedding"), dim, outDim, seedOffset): _*).as("cproj"))
    val qs = queries
      .select(col("q_id"),
        array(projExprs(col("q_emb"), dim, outDim, seedOffset): _*).as("qproj"))
    val coarseScore = aggregate(
      zip_with(col("cproj"), col("qproj"), (a, b) => a * b),
      lit(0L), (acc, v) => acc + v)
    val wCoarse = Window.partitionBy(col("q_id"))
      .orderBy(col("coarse").desc, col("vec_id").asc)
    val survivors = cand.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), coarseScore.as("coarse"))
      .withColumn("crank", row_number().over(wCoarse))
      .filter(col("crank") <= coarseK)
      .select("q_id", "vec_id")
    val fine = candidates.join(broadcast(survivors), "vec_id")
      .join(broadcast(queries), "q_id")
      .withColumn("cos",
        dot(col("embedding"), col("q_emb")) /
          (norm(col("embedding")) * norm(col("q_emb"))))
    rankScored(fine.select(col("q_id"), col("vec_id"), col("cos")), k)
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * standard 4x storage reduction for embedding corpora. Per-vector
    * scale = max|x| / 127; q_i = round(x_i / scale) ∈ [-127, 127];
    * reported `max_abs_err` is the true dequantization error bound per
    * row. Zero vectors quantize to zeros with scale 0.
    *
    * Pure per-row projection (no shuffle, stays in whole-stage
    * codegen); every arithmetic step is written identically in the
    * DuckDB oracle, so results are bit-exact cross-engine. */
  def quantizeInt8(df: DataFrame, embCol: String = "embedding",
                   idCol: String = "vec_id"): DataFrame = {
    val maxAbs = aggregate(col(embCol), lit(0.0),
      (acc, v) => greatest(acc, abs(v.cast("double"))))
    val withScale = df.select(col(idCol), col(embCol),
      (maxAbs / 127.0).as("scale"))
    val q = when(col("scale") === 0.0,
        transform(col(embCol), _ => lit(0)))
      .otherwise(transform(col(embCol),
        v => round(v.cast("double") / col("scale")).cast("int")))
    val withQ = withScale.withColumn("q", q)
    val err = aggregate(
      zip_with(col(embCol), col("q"),
        (v, qi) => abs(v.cast("double") - qi * col("scale"))),
      lit(0.0), (acc, e) => greatest(acc, e))
    withQ.select(col(idCol), col("scale"), col("q"), err.as("max_abs_err"))
  }

  /** Mergeable element-wise pooling of equal-length vectors per group —
    * the chunk→document aggregation step of an embedding pipeline
    * (documents are embedded chunk-wise, then pooled). Returns
    * `(group_id, n_vectors, sum_emb)`: sums rather than means, because
    * sums are MERGEABLE — partial pools from different partitions,
    * batches, or days combine by element-wise addition plus a count,
    * where means cannot be combined without carrying the count anyway.
    * `mean = transform(sum_emb, _ / n_vectors)` downstream when wanted.
    *
    * Plan shape at scale: posexplode → ONE partially-aggregated shuffle
    * of narrow (group, pos, partial-sum) triples — vectors never cross
    * the exchange whole, and map-side combine collapses each partition
    * to ≤ groups×dim rows — then per-group ordered reassembly. */
  def poolEmbeddings(df: DataFrame, groupCol: String,
                     embCol: String = "embedding"): DataFrame =
    df.select(col(groupCol).as("group_id"),
        posexplode(col(embCol).cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col("group_id"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("group_id"))
      .agg(min(col("n")).as("n_vectors"),
        transform(array_sort(collect_list(struct(col("pos"), col("s")))),
          t => t.getField("s")).as("sum_emb"))

  /** Embedding-cosine near-duplicate pairs via multi-table LSH:
    * `nTables` independent hyperplane tables (amplifies recall — a pair
    * is a candidate if it collides in ANY table), verified by exact
    * cosine. Shuffles only (table, bucket, id) triples plus the
    * embeddings of bucket-mates; never the full cross product. */
  def cosineNearDups(df: DataFrame, dim: Int, threshold: Double,
                     nPlanes: Int = 6, nTables: Int = 4): DataFrame = {
    val b = graft.core.Parallelism.ensure(df)
      .select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"), posexplode(
        array((0 until nTables).map(t =>
          lshBucketSeeded(col("embedding"), dim, nPlanes, t * nPlanes)): _*)))
      .withColumnRenamed("pos", "table_idx")
      .withColumnRenamed("col", "bucket")
    val l = b.select(col("table_idx"), col("bucket"),
      col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val r = b.select(col("table_idx"), col("bucket"),
      col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    l.join(r, Seq("table_idx", "bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b"))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 9).as("cos"))
      .distinct()
  }

  /** One up-to-32-dim word of a sign-bit code: fold `acc*2 + (v > 0)`
    * over the slice — first element lands in the highest bit. 32-bit
    * words instead of one 64-bit code so the fold never overflows a
    * signed long in ANY engine (DuckDB/Trino BIGINT overflow is an
    * error, not a wrap). */
  private def signWord(emb: Column, from: Int, len: Int): Column =
    aggregate(slice(emb, from, len), lit(0L),
      (acc, v) => acc * 2 + when(v > lit(0f), 1L).otherwise(0L))

  /** Binary (sign-bit) embedding codes: `dim` float dims →
    * `ceil(dim/32)` 32-bit words (`code0..codeN`) = dim/8 bytes per
    * vector, a 32x memory shrink over float32. Hamming distance on
    * codes approximates angular distance (the SimHash bound:
    * P[bits differ] = angle/pi per dim) — the standard first stage for
    * billion-scale ANN, where the code table fits in memory and
    * bit_count(xor) is one SIMD instruction per 64 dims.
    *
    * Vectors whose length differs from `dim` raise at execution rather
    * than silently truncating or folding short — a wrong `dim` is a
    * caller bug, not data to guess around. */
  def binarize(df: DataFrame, dim: Int = 64, embCol: String = "embedding",
               idCol: String = "vec_id"): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val checked = when(size(col(embCol)) === dim, col(embCol)).otherwise(
      raise_error(concat(
        lit(s"binarize: embedding must have exactly $dim dims, got "),
        size(col(embCol)).cast("string"))))
    val nWords = (dim + 31) / 32
    val words = (0 until nWords).map { w =>
      signWord(checked, w * 32 + 1, math.min(32, dim - w * 32)).as(s"code$w")
    }
    df.select(col(idCol) +: words: _*)
  }

  /** Brute-force Hamming top-k over binary codes: broadcast the query
    * codes, scan candidate codes once, rank by (hamming, vec_id). The
    * code word count adapts to whatever `code0..codeN` columns
    * [[binarize]] produced (queries carry the same words as `q0..qN`).
    * The scan side is dim/8 bytes/row — at 100 TB of embeddings this
    * is the path that still fits: ~1 GB of codes per 125M 64-dim
    * vectors, prunable further with the SimHash pigeonhole blocks
    * ([[graft.dedup.Dedup.simhashNearDups]] uses the same trick). */
  def hammingTopK(candidates: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = candidates.columns.filter(_.matches("code\\d+"))
      .sortBy(_.stripPrefix("code").toInt)
    require(words.nonEmpty,
      "candidates must carry the code0..codeN columns binarize produces")
    words.foreach { w =>
      val q = "q" + w.stripPrefix("code")
      require(queries.columns.contains(q), s"queries missing column $q for $w")
    }
    val ham = words.map { w =>
      bit_count(col(w).bitwiseXOR(col("q" + w.stripPrefix("code"))))
    }.reduce(_ + _).cast("int")
    val joined = candidates.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("hamming", ham)
    joined.withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("hamming"), col("vec_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"), col("hamming"), col("rnk"))
  }

  /** Product-quantization ANN with ADC (asymmetric distance
    * computation) scoring — the memory tier below [[binarize]]:
    * `dim` float dims become `nSub` one-byte codes (a 256x shrink at
    * nSub=dim/16, codebook shared), and query↔candidate distance is
    * approximated by summing per-subspace distances from the query to
    * each candidate's ASSIGNED centroid — a table lookup per subspace,
    * never a full-vector computation (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011).
    *
    * Exactness: embeddings are quantized to fixed-point millionths
    * (the [[lloydCentroidsExact]] convention), so every squared
    * distance, code assignment (ties → lower centroid id), and ADC sum
    * is INTEGER arithmetic — hash-exact across engines, no float
    * accumulation order anywhere.
    *
    * Scale shape: the codebook (nSub·nCents subvectors, derived from
    * the deterministic lowest-id sample) broadcasts; code assignment
    * is a map-side min_by per (vector, subspace); the ADC join fans
    * each candidate code row out to the (tiny, broadcast) per-query
    * distance table and partial-aggregates the nSub terms map-side —
    * one narrow (q_id, vec_id, partial-sum) exchange; embeddings
    * themselves never shuffle past the assignment stage. */
  /** Fixed-point micro quantization of a float vector — the shared
    * convention of [[lloydCentroidsExact]]/[[pqTopK]]/[[ivfPqTopK]],
    * exposed so [[IvfIndex]]'s persisted PQ codes are bit-compatible
    * with the ad-hoc paths. */
  private[similarity] def fpMicro(c: Column): Column =
    transform(c, v => round(v.cast("double") * 1000000.0).cast("long"))

  /** Integer squared L2 between two fixed-point vectors. */
  private[similarity] def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  def pqTopK(candidates: DataFrame, queries: DataFrame, dim: Int, k: Int,
             nSub: Int = 4, nCents: Int = 16): DataFrame =
    pqTopKWith(candidates, queries, dim, k, nSub, nCents,
      c => transform(c, v => round(v.cast("double") * 1000000.0).cast("long")))

  /** OPQ-style PQ — the SAME code budget as [[pqTopK]], preceded by
    * the eigenvalue-ALLOCATION step of OPQ (Ge et al., "Optimized
    * Product Quantization", CVPR 2013, the non-parametric OPQ-P
    * variant) restricted to the orthogonal PERMUTATION subgroup: PQ
    * quantizes each subspace independently, so variance concentrated
    * in one subspace's dimensions starves the others' centroid budget
    * — OPQ-P fixes it by re-allocating dimensions so every subspace
    * carries comparable variance. Here dimensions rank by EXACT
    * integer variance (n·Σx² − (Σx)² on micro units, the
    * [[graft.operators.Profiler.covarianceReport]] moments) and
    * snake-assign to subspaces (best, 2·nSub-th, … per subspace), a
    * permutation — orthogonal by construction, so true distances are
    * untouched and only the quantization grid improves.
    *
    * SKEW GATE: the allocation engages only when the raw layout is
    * measurably unbalanced — max per-subspace variance ≥ 2× the
    * balanced share (`nSub·maxV ≥ 2·ΣV`) — because on an
    * already-balanced corpus the re-allocation buys nothing and a
    * variance-noise permutation can only scramble whatever incidental
    * alignment the sample codebook exploits. Balanced corpus ⇒
    * identity ⇒ bit-identical to [[pqTopK]]; skewed corpus ⇒ measured
    * recall lift (SimilarityScaleSpec) — so recall ≥ plain PQ on both
    * regimes by construction. Every step (variance ranking, snake
    * formula, gate predicate) is exact integer arithmetic a SQL
    * oracle recomputes from the data — no plane literals.
    *
    * Scale shape: one narrow (dim, var) aggregate (dim rows
    * collected — the centroid-class bounded collect) decides the
    * permutation; applying it is a map-side array re-index fused into
    * the quantizing scan; nothing new shuffles. */
  def opqTopK(candidates: DataFrame, queries: DataFrame, dim: Int, k: Int,
              nSub: Int = 4, nCents: Int = 16): DataFrame = {
    require(nSub > 0 && dim % nSub == 0, s"dim=$dim must divide into nSub=$nSub")
    val micro: Column => Column =
      c => transform(c, v => round(v.cast("double") * 1000000.0).cast("long"))
    // exact integer per-dim variance: n·Σx² − (Σx)², decimal-summed
    // (n·Σx² outgrows a long beyond ~5k rows at micro scale)
    val stats = candidates
      .select(posexplode(micro(col("embedding"))).as(Seq("p", "v")))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(38,0)")).as("s"),
        sum((col("v") * col("v")).cast("decimal(38,0)")).as("q"))
      .collect() // bounded: dim rows
      .map { r =>
        val n = BigInt(r.getLong(1))
        val s = BigInt(r.getDecimal(2).toBigInteger)
        val q = BigInt(r.getDecimal(3).toBigInteger)
        (r.getInt(0), n * q - s * s)
      }
    require(stats.length == dim, s"opqTopK: expected $dim dims, saw ${stats.length}")
    val sw = dim / nSub
    val bySub = stats.groupBy(_._1 / sw).map { case (s, xs) => (s, xs.map(_._2).sum) }
    val total = bySub.values.sum
    val skewed = total.signum > 0 && bySub.values.max * nSub >= total * 2
    val fp: Column => Column =
      if (!skewed) micro
      else {
        // variance-desc rank (dim asc ties) → snake-assign: rank r
        // lands at subspace sub(r), slot r/nSub
        val ranked = stats.sortBy { case (p, v) => (-v, p) }.map(_._1)
        val perm = new Array[Int](dim)
        for (r <- 0 until dim) {
          val block = r / nSub
          val within = r % nSub
          val sub = if (block % 2 == 0) within else nSub - 1 - within
          perm(sub * sw + block) = ranked(r)
        }
        c => graft.functions.TextFunctions.bound(micro(c)) { fv =>
          array(perm.toIndexedSeq.map(p => element_at(fv, p + 1)): _*)
        }
      }
    pqTopKWith(candidates, queries, dim, k, nSub, nCents, fp)
  }

  /** One row per (id, subspace): the fixed-point subvector under
    * `fp` — shared by the sample-codebook, OPQ, and Lloyd-trained PQ
    * paths so their quantization conventions cannot drift. */
  private def pqSubRows(df: DataFrame, nSub: Int, sw: Int, fp: Column => Column,
                        idCol: String, embCol: String,
                        idOut: String, svOut: String): DataFrame =
    df.select(col(idCol).as(idOut), fp(col(embCol)).as("__fv"))
      .select(col(idOut),
        posexplode(transform(sequence(lit(0), lit(nSub - 1)),
          j => slice(col("__fv"), j * sw + 1, lit(sw)))).as(Seq("sub_id", svOut)))

  private def pqSqd(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  /** PQ with per-subspace LLOYD-TRAINED codebooks — the round-15
    * measurement showed rotations/permutations cannot rescue a SAMPLE
    * codebook (the first `nCents` vectors are arbitrary grid points);
    * the principled lift at the same code budget is training the grid
    * itself: `iters` rounds of exact fixed-point Lloyd PER SUBSPACE
    * (assignment by integer squared distance, ties to the lower
    * cent_id; update by exact integer sums + floor division; empty
    * cells keep their centroid — the [[lloydCentroidsExact]] recipe
    * applied to each subvector family), initialized from the same
    * first-`nCents` sample [[pqTopK]] uses, so `iters = 0` is
    * bit-identical to [[pqTopK]] and every trained step is pure
    * relational algebra a SQL oracle unrolls verbatim.
    *
    * Scale shape: training touches only narrow (vec_id, sub_id, sv)
    * rows — per round one broadcast of the `nSub·nCents` codebook and
    * one (sub_id, cent_id, pos, partial-sum) aggregate; embeddings
    * never cross an exchange whole. Codes/ADC are [[pqTopK]]'s. */
  def pqTrainedTopK(candidates: DataFrame, queries: DataFrame, dim: Int, k: Int,
                    nSub: Int = 4, nCents: Int = 16, iters: Int = 2): DataFrame = {
    val micro: Column => Column =
      c => transform(c, v => round(v.cast("double") * 1000000.0).cast("long"))
    val cb = pqTrainedCodebook(candidates, dim, nSub, nCents, iters)
    pqTopKWithCodebook(candidates, queries, dim, k, nSub, micro, cb)
  }

  /** The trained (sub_id, cent_id, cv) codebook [[pqTrainedTopK]]
    * serves from — exposed so index builders can persist it and specs
    * can assert the MSE-descent law directly. */
  def pqTrainedCodebook(candidates: DataFrame, dim: Int, nSub: Int = 4,
                        nCents: Int = 16, iters: Int = 2): DataFrame = {
    require(nSub > 0 && dim % nSub == 0, s"dim=$dim must divide into nSub=$nSub")
    require(nCents > 0 && iters >= 0, s"bad budget nCents=$nCents iters=$iters")
    val spark = candidates.sparkSession
    import spark.implicits._
    val micro: Column => Column =
      c => transform(c, v => round(v.cast("double") * 1000000.0).cast("long"))
    val sw = dim / nSub
    val base = pqSubRows(candidates, nSub, sw, micro, "vec_id", "embedding", "vec_id", "sv")
    // The codebook lives on the DRIVER through training (bounded:
    // nSub·nCents rows — the centroid-class collect): each iteration
    // is ONE job over a FLAT plan — per-subspace literal assignment
    // fused map-side + a narrow (sub, cent, pos, partial-sum)
    // aggregate — where the lazy formulation re-joined and re-planned
    // a nesting tree per round and shuffled the subvector set through
    // groupBy(vec_id, sub_id) every iteration. Arithmetic unchanged
    // (integer d2, ties to the lower cent_id, order-free sums, same
    // floor division): iters = 0 stays bit-identical to [[pqTopK]]'s
    // sample codebook, trained rounds are bit-exact to the old plan.
    var cb: Array[(Int, Long, Array[Long])] =
      pqSubRows(candidates.orderBy(col("vec_id").asc).limit(nCents),
        nSub, sw, micro, "vec_id", "embedding", "cent_id", "cv")
        .collect()
        .map(r => (r.getInt(r.fieldIndex("sub_id")), r.getLong(r.fieldIndex("cent_id")),
          r.getSeq[Long](r.fieldIndex("cv")).toArray))
    for (_ <- 1 to iters if cb.nonEmpty) {
      val bySub = cb.groupBy(_._1)
      // nearest centroid within this row's subspace, ties to the
      // lower cent_id — a when-chain over the nSub literal codebooks
      val assignedCent = bySub.toSeq.sortBy(_._1).map { case (s, cents) =>
        val dists = array(cents.sortBy(_._2).map { case (_, id, cv) =>
          struct(graft.expressions.IntegerVectorFunctions
              .longSqDist(col("sv"), typedLit(cv.toIndexedSeq)).as("d"),
            lit(id).as("cent_id"))
        }.toIndexedSeq: _*)
        (s, element_at(array_sort(dists), 1).getField("cent_id"))
      }.foldLeft(lit(null).cast("long")) { case (acc, (s, c)) =>
        when(col("sub_id") === s, c).otherwise(acc)
      }
      val sums = base
        .withColumn("cent_id", assignedCent)
        .select(col("sub_id"), col("cent_id"), posexplode(col("sv")).as(Seq("p", "v")))
        .groupBy(col("sub_id"), col("cent_id"), col("p"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect() // bounded: nSub × nCents × sw rows
      val byKey = sums.groupBy(r => (r.getInt(0), r.getLong(1)))
      cb = cb.map { case (s, id, prev) =>
        byKey.get((s, id)) match {
          case None => (s, id, prev) // empty cell keeps its centroid
          case Some(rows) =>
            val cv = prev.clone()
            rows.foreach { r =>
              // exact floor division (see lloydCentroidsExact)
              cv(r.getInt(2)) = Math.floorDiv(r.getLong(3), r.getLong(4))
            }
            (s, id, cv)
        }
      }
    }
    cb.toIndexedSeq.toDF("sub_id", "cent_id", "cv")
  }

  private def pqTopKWith(candidates: DataFrame, queries: DataFrame,
                         dim: Int, k: Int, nSub: Int, nCents: Int,
                         fp: Column => Column): DataFrame = {
    require(nCents > 0, s"nCents must be positive, got $nCents")
    val sw = dim / nSub
    require(nSub > 0 && dim % nSub == 0, s"dim=$dim must divide into nSub=$nSub")
    val codebook = pqSubRows(
      candidates.orderBy(col("vec_id").asc).limit(nCents),
      nSub, sw, fp, "vec_id", "embedding", "cent_id", "cv")
    pqTopKWithCodebook(candidates, queries, dim, k, nSub, fp, codebook)
  }

  /** The PQ encode + ADC chain against an EXPLICIT codebook
    * (sub_id, cent_id, cv) — shared tail of [[pqTopK]]/[[opqTopK]]
    * (first-`nCents` sample) and [[pqTrainedTopK]] (Lloyd-trained). */
  /** Per-subspace LITERAL codebook columns — the encode/ADC building
    * blocks once a (bounded: nSub·nCents) codebook has been collected:
    *  - `assign`: nearest cent_id for this row's (sub_id, sv), ties to
    *    the lower cent_id — identical ordering to the broadcast-join
    *    min_by(struct(d, cent_id)) it replaces;
    *  - `entries`: the (cent_id, cv) struct array of this row's
    *    subspace, for exploding a per-query distance table.
    * Both are MAP-SIDE when-chains over the per-sub literal arrays, so
    * encode needs no broadcast join and no (vec_id, sub_id) aggregate
    * exchange. */
  private def pqCodebookLit(cb: Array[(Int, Long, Array[Long])], svCol: Column)
      : (Column, Column) = {
    val bySub = cb.groupBy(_._1).toSeq.sortBy(_._1)
    val assign = bySub.map { case (s, cents) =>
      val dists = array(cents.sortBy(_._2).map { case (_, id, cv) =>
        struct(graft.expressions.IntegerVectorFunctions
            .longSqDist(svCol, typedLit(cv.toIndexedSeq)).as("d"),
          lit(id).as("cent_id"))
      }.toIndexedSeq: _*)
      (s, element_at(array_sort(dists), 1).getField("cent_id"))
    }.foldLeft(lit(null).cast("long")) { case (acc, (s, c)) =>
      when(col("sub_id") === s, c).otherwise(acc)
    }
    val entries = bySub.map { case (s, cents) =>
      (s, array(cents.sortBy(_._2).map { case (_, id, cv) =>
        struct(lit(id).as("cent_id"), typedLit(cv.toIndexedSeq).as("cv"))
      }.toIndexedSeq: _*))
    }.foldLeft(lit(null).cast("array<struct<cent_id:bigint,cv:array<bigint>>>")) {
      case (acc, (s, a)) => when(col("sub_id") === s, a).otherwise(acc)
    }
    (assign, entries)
  }

  private def pqTopKWithCodebook(candidates: DataFrame, queries: DataFrame,
                                 dim: Int, k: Int, nSub: Int,
                                 fp: Column => Column,
                                 codebook: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nSub > 0 && dim % nSub == 0, s"dim=$dim must divide into nSub=$nSub")
    val sw = dim / nSub
    def subRows(df: DataFrame, idCol: String, embCol: String,
                idOut: String, svOut: String): DataFrame =
      pqSubRows(df, nSub, sw, fp, idCol, embCol, idOut, svOut)
    // The codebook is bounded (nSub·nCents rows — the centroid-class
    // collect): inline it as per-sub literal arrays, so corpus encode
    // is a MAP-SIDE argmin (the broadcast-join + groupBy(vec_id,
    // sub_id) min_by it replaces shuffled the whole subvector set) and
    // the per-query distance table explodes the literal entries
    // instead of re-joining the codebook frame. Distances, tie order
    // and the ADC sum are unchanged — results bit-identical.
    val cb: Array[(Int, Long, Array[Long])] = codebook.collect()
      .map(r => (r.getInt(r.fieldIndex("sub_id")), r.getLong(r.fieldIndex("cent_id")),
        r.getSeq[Long](r.fieldIndex("cv")).toArray))
    if (cb.isEmpty) {
      // degenerate empty codebook: no codes, no candidates — empty out
      return candidates.sparkSession.emptyDataFrame
        .select(lit(0L).as("q_id"), lit(0L).as("vec_id"),
          lit(0L).as("rank"), lit(0L).as("adc")).limit(0)
    }
    val (assignLit, entriesLit) = pqCodebookLit(cb, col("sv"))
    val codes = subRows(candidates, "vec_id", "embedding", "vec_id", "sv")
      .withColumn("cent_id", assignLit)
      .select(col("vec_id"), col("sub_id"), col("cent_id"))
    // per-query ADC lookup table: distance to every (subspace, centroid)
    val dtab = subRows(queries, "q_id", "q_emb", "q_id", "sv")
      .select(col("q_id"), col("sub_id"), explode(entriesLit).as("__e"),
        col("sv"))
      .select(col("q_id"), col("sub_id"), col("__e.cent_id").as("cent_id"),
        pqSqd(col("sv"), col("__e.cv")).as("d"))
    val adc = codes.join(broadcast(dtab), Seq("sub_id", "cent_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d")).as("adc"))
    adc.withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("adc").asc, col("vec_id").asc)).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), col("adc"))
  }

  /** IVF-PQ composed ANN — the production big-corpus shape: a COARSE
    * inverted-file quantizer restricts each query to its `nProbe`
    * nearest cells' candidates, PQ-ADC scores ONLY those candidates
    * from their precomputed codes (never their raw vectors), and an
    * exact-cosine rerank of the ADC top `coarseK` restores ranking
    * fidelity — the FAISS `IVFx,PQy` recipe (Jégou et al., TPAMI
    * 2011; Johnson et al., "Billion-scale similarity search with
    * GPUs", 2017) assembled from this engine's own oracle-exact
    * halves ([[ivfTopK]] cell probing, [[pqTopK]] ADC,
    * [[projectedRerankTopK]]'s coarse-then-exact discipline).
    *
    * Exactness: cell assignment/probing use the shared cosine
    * convention (ties → lower cell_id); codes and ADC are the
    * fixed-point integer arithmetic of [[pqTopK]]; the rerank is the
    * [[bruteForceTopK]] cosine — every stage engine-portable, so a
    * SQL oracle replays the whole composition. Two laws anchor it:
    * `nProbe = nCells` with `coarseK ≥ |candidates|` is bit-identical
    * to [[bruteForceTopK]] (the rerank covers every pair exactly),
    * and recall degrades monotonically as either budget shrinks.
    *
    * Scale shape at 100 TB: codes are computed once corpus-wide (one
    * narrow (vec_id, sub_id, cent_id) frame — in production they
    * persist next to the [[IvfIndex]] cells); per query batch, the
    * probed-pair set is |batch| · nProbe/nCells of the corpus, ADC
    * joins it to the broadcast per-query distance tables (narrow rows
    * only), and the exact rerank touches `coarseK` embeddings per
    * query — raw vectors enter exactly one bounded join, never a
    * corpus-wide exchange. */
  /** Scalar-quantized (SQ8) ANN — the quantization family's third
    * member next to PQ ([[pqTopK]]) and IVF-PQ ([[ivfPqTopK]]): each
    * dimension compresses independently to ONE BYTE on a per-dim
    * [min, max] grid (Faiss's `SQ8` / Lucene's scalar quantization —
    * 4× smaller than float32 with far better per-dim fidelity than
    * PQ's shared-subspace centroids), and the asymmetric score is
    * `Σ q_d · dequant(code_d)` against the full-precision query.
    * Top `coarseK` by quantized score then re-rank by exact cosine.
    *
    * EXACT integer fixed point end to end: embeddings quantize in
    * micro-units (the Lloyd/[[pqTopK]] convention), the code is an
    * integer floor division onto [0, 255], dequantization and the
    * dot are pure long arithmetic (|v_micro| < 2^21 ⇒ the 64-dim sum
    * stays under 2^48) — so a SQL oracle replays the PRODUCTION
    * budget bit-for-bit, coarse stage included, not just the
    * exhaustive degenerate case.
    *
    * Scale shape: per-dim stats are one narrow (pos, min, max) agg
    * broadcast back; codes/dequant values derive map-side from the
    * melted corpus (longs only — embeddings never cross a keyed
    * exchange); the ADC aggregate shuffles (q_id, vec_id, partial)
    * longs; the exact re-rank BROADCASTS the tiny coarse id-list back
    * onto the corpus scan. At 100 TB the codes are the index — 1/4
    * the vector bytes, one byte per dimension. */
  def sq8TopK(candidates: DataFrame, queries: DataFrame, k: Int,
              coarseK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.expr
    require(k >= 1 && coarseK >= k, s"need coarseK >= k >= 1, got k=$k coarseK=$coarseK")
    def melt(df: DataFrame, idCol: String, embCol: String,
             idOut: String, vOut: String): DataFrame =
      df.select(col(idCol).as(idOut),
        posexplode(transform(col(embCol),
          v => round(v.cast("double") * 1000000.0).cast("long"))).as(Seq("pos", vOut)))
    val ce = melt(candidates, "vec_id", "embedding", "vec_id", "vm")
    // per-dim grid: one bounded narrow agg (dim rows), broadcast back
    val grid = ce.groupBy("pos").agg(min(col("vm")).as("mn"), max(col("vm")).as("mx"))
    val deq = ce.join(broadcast(grid), Seq("pos"))
      .withColumn("c",
        expr("least(greatest(((vm - mn) * 255) div greatest(mx - mn, 1), 0), 255)"))
      .withColumn("dv", expr("mn + (c * (mx - mn)) div 255"))
      .select(col("vec_id"), col("pos"), col("dv"))
    val qe = melt(queries, "q_id", "q_emb", "q_id", "qm")
    val adc = deq.join(broadcast(qe), Seq("pos"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(expr("qm * dv")).as("adc"))
    val coarse = adc.withColumn("crank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("adc").desc, col("vec_id").asc)))
      .filter(col("crank") <= coarseK)
      .select(col("q_id"), col("vec_id"))
    // exact re-rank: the bounded coarse list broadcasts back onto the
    // corpus — raw vectors never enter a keyed exchange
    val scored = candidates
      .join(broadcast(coarse), "vec_id")
      .join(broadcast(queries.select(col("q_id"), col("q_emb"))), "q_id")
      .select(col("q_id"), col("vec_id"),
        (dot(col("embedding"), col("q_emb")) /
          (norm(col("embedding")) * norm(col("q_emb")))).as("cos"))
    rankScored(scored, k)
  }

  /** RESIDUAL-QUANTIZED ANN — the quantization family's fourth member
    * (next to [[pqTopK]], [[ivfPqTopK]], [[sq8TopK]]): two ADDITIVE
    * codebooks (Chen, Guan & Wang, "Approximate nearest neighbor
    * search by residual vector quantization", Sensors 2010 — the
    * lineage behind Babenko & Lempitsky's additive quantization and
    * today's RabitQ/RaBit-style codecs). Stage 1 quantizes the vector,
    * stage 2 quantizes the RESIDUAL x − c1, so the reconstruction
    * c1 + c2 shares both codebooks across the full dimensionality —
    * where PQ's subspaces cannot trade precision across dims, RQ can.
    * A vector stores TWO code bytes; the per-query lookup table is
    * nC1 × nC2 reconstruction distances; exact-cosine rerank of the
    * ADC top `coarseK` restores ranking fidelity.
    *
    * Exact integer fixed point end to end (micro-units, integer
    * squared distances — residual entries stay < 2^23, so 64-dim sums
    * sit far under 2^63): codebooks are the deterministic first-k
    * rows ([[pqTopK]]'s convention), assignments tie toward the lower
    * id, so a SQL oracle replays the PRODUCTION budget bit-for-bit,
    * coarse stage included.
    *
    * Scale shape: two broadcast-codebook assignment passes (narrow —
    * embeddings never cross a keyed exchange), a per-query LUT of
    * nC1·nC2 longs broadcast onto the (vec_id, c1, c2) code rows, and
    * the bounded coarse id-list broadcast back for the exact rerank. */
  def rqTopK(candidates: DataFrame, queries: DataFrame, k: Int,
             nC1: Int = 16, nC2: Int = 16, coarseK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nC1 > 0 && nC2 > 0, s"rqTopK: need positive codebooks, got $nC1, $nC2")
    require(coarseK >= k, s"rqTopK: coarseK=$coarseK must cover k=$k")
    def fpm(c: Column): Column =
      transform(c, v => round(v.cast("double") * 1000000.0).cast("long"))
    def sqd(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)
    val f = graft.core.Parallelism.ensure(candidates)
      .select(col("vec_id"), col("embedding"), fpm(col("embedding")).as("fv"))
    // Both codebooks are bounded (first-nC1 / first-nC2 rows): collect
    // them and assign MAP-SIDE from sorted literal (d, id[, cv])
    // structs — the crossJoin + min_by(vec_id) route shuffled the full
    // fixed-point vector set twice. Distances, tie order (lower id)
    // and the residual arithmetic are unchanged — bit-identical codes.
    val cb1v: Array[(Long, Array[Long])] =
      f.orderBy(col("vec_id").asc).limit(nC1)
        .select(col("vec_id"), col("fv")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    if (cb1v.isEmpty)
      return rankScored(queries.select(col("q_id"), lit(0L).as("vec_id"),
        lit(0.0).as("cos")).limit(0), k)
    // struct comparison never reaches cv: (d, c1_id) is already unique.
    // fv and the sorted best struct are BOUND (let-bindings): without
    // them CollapseProject inlines the quantizing transform into every
    // distance struct and the whole nC1-way sort into every consumer —
    // the quadratic-blowup class bound() exists for.
    def d1(fv: Column) = array(cb1v.map { case (id, cv) =>
      struct(graft.expressions.IntegerVectorFunctions
          .longSqDist(fv, typedLit(cv.toIndexedSeq)).as("d"),
        lit(id).as("c1_id"), typedLit(cv.toIndexedSeq).as("cv"))
    }.toIndexedSeq: _*)
    val a1 = f
      .withColumn("__s", graft.functions.TextFunctions.bound(col("fv")) { fv =>
        graft.functions.TextFunctions.bound(element_at(array_sort(d1(fv)), 1)) { b =>
          struct(b.getField("c1_id").as("c1_id"),
            zip_with(fv, b.getField("cv"), (x, y) => x - y).as("rv"))
        } })
      .select(col("vec_id"), col("__s").getField("c1_id").as("c1_id"),
        col("__s").getField("rv").as("rv"))
    val cb2v: Array[(Long, Array[Long])] =
      a1.orderBy(col("vec_id").asc).limit(nC2)
        .select(col("vec_id"), col("rv")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    def d2(rv: Column) = array(cb2v.map { case (id, cv) =>
      struct(graft.expressions.IntegerVectorFunctions
          .longSqDist(rv, typedLit(cv.toIndexedSeq)).as("d"),
        lit(id).as("c2_id"))
    }.toIndexedSeq: _*)
    val codes = a1
      .withColumn("c2_id", graft.functions.TextFunctions.bound(col("rv")) {
        rv => element_at(array_sort(d2(rv)), 1).getField("c2_id") })
      .select(col("vec_id"), col("c1_id"), col("c2_id"))
    val qf = queries.select(col("q_id"), fpm(col("q_emb")).as("qv"))
    // reconstruction LUT entries c1 + c2 precomputed on the driver
    // (exact long adds — the zip_with(x + y) it replaces)
    val recon = for ((id1, c1) <- cb1v; (id2, c2) <- cb2v) yield
      (id1, id2, Array.tabulate(c1.length)(i => Math.addExact(c1(i), c2(i))))
    val lutEntries = explode(array(recon.map { case (id1, id2, rv) =>
      struct(lit(id1).as("c1_id"), lit(id2).as("c2_id"),
        typedLit(rv.toIndexedSeq).as("rc"))
    }.toIndexedSeq: _*))
    val lut = qf.select(col("q_id"), lutEntries.as("__e"), col("qv"))
      .select(col("q_id"), col("__e.c1_id").as("c1_id"),
        col("__e.c2_id").as("c2_id"), sqd(col("qv"), col("__e.rc")).as("d"))
    val adc = codes.join(broadcast(lut), Seq("c1_id", "c2_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("d"))
    val coarse = adc.withColumn("crank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("d").asc, col("vec_id").asc)))
      .filter(col("crank") <= coarseK)
      .select(col("q_id"), col("vec_id"))
    val scored = candidates.join(broadcast(coarse), "vec_id")
      .join(broadcast(queries.select(col("q_id"), col("q_emb"))), "q_id")
      .select(col("q_id"), col("vec_id"),
        (dot(col("embedding"), col("q_emb")) /
          (norm(col("embedding")) * norm(col("q_emb")))).as("cos"))
    rankScored(scored, k)
  }

  def ivfPqTopK(candidates: DataFrame, queries: DataFrame, dim: Int, k: Int,
                nCells: Int = 16, nProbe: Int = 4,
                nSub: Int = 4, nCents: Int = 16, coarseK: Int = 20,
                centroids: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nSub > 0 && dim % nSub == 0, s"dim=$dim must divide into nSub=$nSub")
    require(coarseK >= k, s"coarseK=$coarseK must cover k=$k")
    val sw = dim / nSub
    val centFrame = centroids.getOrElse(
      candidates.orderBy(col("vec_id").asc).limit(nCells)
        .select(col("vec_id").as("cell_id"), col("embedding").as("c_emb"),
          norm(col("embedding")).as("c_norm")))
    // coarse assignment + probing: ivfTopK's INLINE literal strategy
    // (the centroid table is bounded — nCells rows — so assignment is
    // a map-side projection; the previous broadcast crossJoin +
    // min_by(vec_id) route shuffled the full embedding set through
    // the aggregate). Identical distance/tie semantics: sorted
    // (d, cell_id) structs, same -dot/(norm·norm) expression.
    val cents = centFrame.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
    cents.foreach { case (id, ce, _) =>
      require(ce.length == dim, s"centroid $id has dim ${ce.length}, expected $dim") }
    def cellDists(emb: Column, nrm: Column): Column = cellDistsLit(cents)(emb, nrm)
    val assigned = graft.core.Parallelism.ensure(candidates)
      .withColumn("c_norm2", norm(col("embedding")))
      .withColumn("cell_id", element_at(
        array_sort(cellDists(col("embedding"), col("c_norm2"))), 1).getField("cell_id"))
      .select(col("vec_id"), col("cell_id"), col("embedding"), col("c_norm2"))
    val qn = queries.withColumn("q_norm2", norm(col("q_emb")))
    val probed = qn
      .withColumn("probe", explode(slice(
        array_sort(cellDists(col("q_emb"), col("q_norm2"))), 1, nProbe)))
      .select(col("q_id"), col("probe.cell_id").as("cell_id"))
    // PQ codes for the whole corpus + per-query ADC tables — pqTopK's
    // fixed-point blocks verbatim, with the bounded (nSub·nCents)
    // codebook inlined as literals (the pqTopKWithCodebook discipline)
    // so corpus encode is FUSED map-side into the assignment scan —
    // no broadcast join, no (vec_id, sub_id) aggregate, and the
    // probed-pair ⋈ codes re-join on vec_id disappears outright.
    def fp(cc: Column): Column =
      transform(cc, v => round(v.cast("double") * 1000000.0).cast("long"))
    def subRows(df: DataFrame, idCol: String, embCol: String,
                idOut: String, svOut: String): DataFrame =
      df.select(col(idCol).as(idOut), fp(col(embCol)).as("__fv"))
        .select(col(idOut),
          posexplode(transform(sequence(lit(0), lit(nSub - 1)),
            j => slice(col("__fv"), j * sw + 1, lit(sw)))).as(Seq("sub_id", svOut)))
    val cb: Array[(Int, Long, Array[Long])] = subRows(
        candidates.orderBy(col("vec_id").asc).limit(nCents),
        "vec_id", "embedding", "cent_id", "cv")
      .collect()
      .map(r => (r.getInt(r.fieldIndex("sub_id")), r.getLong(r.fieldIndex("cent_id")),
        r.getSeq[Long](r.fieldIndex("cv")).toArray))
    val (assignLit, entriesLit) = pqCodebookLit(cb, col("sv"))
    val dtab = subRows(queries, "q_id", "q_emb", "q_id", "sv")
      .select(col("q_id"), col("sub_id"), explode(entriesLit).as("__e"), col("sv"))
      .select(col("q_id"), col("sub_id"), col("__e.cent_id").as("cent_id"),
        pqSqd(col("sv"), col("__e.cv")).as("d"))
    // the IVF restriction: ADC runs ONLY over probed (query, cand)
    // pairs — codes ride the assigned scan as (sub_id, cent_id) rows
    val codedPairs = assigned
      .select(col("vec_id"), col("cell_id"),
        posexplode(transform(sequence(lit(0), lit(nSub - 1)),
          j => slice(fp(col("embedding")), j * sw + 1, lit(sw)))).as(Seq("sub_id", "sv")))
      .withColumn("cent_id", assignLit)
      .join(broadcast(probed), "cell_id")
      .filter(col("vec_id") =!= col("q_id"))
    val adc = codedPairs
      .join(broadcast(dtab), Seq("q_id", "sub_id", "cent_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d")).as("adc"))
    val coarse = adc.withColumn("__crk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc").asc, col("vec_id").asc)))
      .filter(col("__crk") <= coarseK)
      .select(col("q_id"), col("vec_id"))
    // exact rerank of the coarse survivors — bruteForceTopK's cosine
    // on a per-query bounded pair set
    val rer = coarse
      .join(assigned.select("vec_id", "embedding", "c_norm2"), "vec_id")
      .join(broadcast(qn.select("q_id", "q_emb", "q_norm2")), "q_id")
      .select(col("q_id"), col("vec_id"),
        (dot(col("embedding"), col("q_emb")) / (col("c_norm2") * col("q_norm2"))).as("cos"))
    rankScored(rer, k)
  }

  /** Nearest-cell assignment only — (vec_id, cell_id) for every
    * candidate against the deterministic first-`nCells` centroid set
    * (same centroid convention as [[ivfTopK]]'s default; nearest by
    * cosine, ties toward the lower cell_id).
    *
    * Always takes the broadcast-join + `min_by` route rather than
    * inlined centroid literals: plan size is constant in `nCells`, the
    * per-candidate argmin partially aggregates map-side, and only
    * (vec_id, d, cell_id) triples ever reach the one narrow exchange —
    * embeddings never shuffle. */
  def assignCells(candidates: DataFrame, dim: Int, nCells: Int): DataFrame = {
    require(nCells >= 1, s"need nCells >= 1, got $nCells")
    val cents = candidates.orderBy(col("vec_id").asc).limit(nCells)
      .select(col("vec_id").as("cell_id"), col("embedding").as("c_emb"),
        norm(col("embedding")).as("c_norm"))
    // dim is enforced on the candidate side — centroids are a subset
    // of candidates, so every vector (centroid included) is checked,
    // and the top-k centroid subtree stays a clean
    // TakeOrderedAndProject (a raise_error in its projection would
    // defeat that pattern and force a real sort exchange)
    val checked = when(size(col("embedding")) === dim, col("embedding"))
      .otherwise(raise_error(concat(
        lit(s"assignCells: embedding dim != $dim for vec_id "),
        col("vec_id").cast("string"))))
    graft.core.Parallelism.ensure(candidates)
      .withColumn("embedding", checked)
      .withColumn("c_norm2", norm(col("embedding")))
      .crossJoin(broadcast(cents))
      .withColumn("d",
        -dot(col("embedding"), col("c_emb")) / (col("c_norm2") * col("c_norm")))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cell_id"), struct(col("d"), col("cell_id"))).as("cell_id"))
  }

  /** Cluster-balanced coverage sampling (the embedding-space analogue
    * of per-source stratified sampling): assign every vector to its
    * nearest centroid, then keep at most `perCell` vectors per cell in
    * salted-hash order. Where proportional sampling mirrors the
    * corpus's density (head clusters dominate), this caps every
    * region of embedding space at the same budget — the standard
    * diversity-preserving curation step before training.
    *
    * Scale shape: [[assignCells]]'s narrow argmin plus
    * [[graft.operators.Sampling.topKPerStratum]]'s slim rank window —
    * the window runs over (vec_id, cell_id, hash) triples, so neither
    * embeddings nor payloads cross an exchange; with k-means-sized
    * cell counts (thousands), per-cell windows parallelize across the
    * cluster. */
  def clusterBalancedSample(candidates: DataFrame, dim: Int, nCells: Int,
                            perCell: Int, salt: String = ""): DataFrame = {
    val cells = assignCells(candidates, dim, nCells)
    graft.operators.Sampling
      .topKPerStratum(cells, "vec_id", "cell_id", perCell, salt)
  }

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein, SIGIR
    * 1998) at λ = 1/2: greedily pick `k` results per query maximizing
    * rel(d) − max_{s∈S} sim(d, s) — relevance minus redundancy — the
    * classic diversity-aware rerank of a retrieval stack (λ = 1/2
    * makes the MMR objective the pure difference, so the comparison
    * key is ONE double subtraction of two engine-exact cosines — no
    * multiplication to diverge). Ties break by vec_id; pick 1 is the
    * plain relevance argmax.
    *
    * `scored` is a bounded candidate frame (q_id, vec_id, rel,
    * embedding) — typically a top-k list from [[bruteForceTopK]] (or
    * any ANN) joined back to its embeddings. Selection runs as `k−1`
    * distributed rounds: each round anti-joins the selected set,
    * recomputes every remaining candidate's max-similarity to the
    * selection (a per-query ≤ |cands|·|S| join — bounded because the
    * candidate list is), and takes the per-query argmax window over
    * the ≤ |cands| remainder. Rounds localCheckpoint so the plan
    * doesn't double per round; queries parallelize freely — no
    * driver-side selection loop over data. */
  def mmrRerank(scored: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 16, s"need 1 <= k <= 16 picks, got $k")
    import org.apache.spark.sql.expressions.Window
    val base = scored.select(col("q_id").cast("long").as("q_id"),
      col("vec_id").cast("long").as("vec_id"), col("rel"), col("embedding"))
    val w1 = Window.partitionBy(col("q_id"))
      .orderBy(col("rel").desc, col("vec_id").asc)
    var selected = base.withColumn("rn", row_number().over(w1))
      .filter(col("rn") === 1).drop("rn")
      .withColumn("pick", lit(1L))
      .localCheckpoint()
    for (i <- 2 to k) {
      val rem = base.join(selected.select("q_id", "vec_id"),
        Seq("q_id", "vec_id"), "left_anti")
      val sims = rem.select("q_id", "vec_id", "embedding")
        .join(selected.select(col("q_id"), col("embedding").as("s_emb")), Seq("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosine(col("embedding"), col("s_emb")).as("sim"))
        .groupBy("q_id", "vec_id").agg(max(col("sim")).as("maxsim"))
      val wi = Window.partitionBy(col("q_id"))
        .orderBy((col("rel") - col("maxsim")).desc, col("vec_id").asc)
      val next = rem.join(sims, Seq("q_id", "vec_id"))
        .withColumn("rn", row_number().over(wi))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("vec_id"), col("rel"), col("embedding"),
          lit(i.toLong).as("pick"))
      selected = selected.unionAll(next).localCheckpoint()
    }
    selected.select(col("q_id"), col("vec_id"), col("pick"),
      round(col("rel"), 9).as("rel"))
  }

  /** Per-query recall@k of an approximate ranking against the exact
    * one — THE acceptance metric for every ANN index in this module
    * (an IVF/LSH/PQ config is only shippable at a measured recall).
    * Both inputs are (q_id, vec_id, ...) top-k lists; recall is
    * |approx ∩ exact| / |exact| carried in integer millionths via
    * floor division, so rows are engine-exact. Queries the approx
    * ranking missed entirely (an LSH bucket holding only the query)
    * still report, with n_approx = 0.
    *
    * Scale shape: rankings are bounded top-k lists per query, so
    * every frame here is (id, id)-narrow; the intersection is one
    * equi-join on (q_id, vec_id) and the three counts are partial-
    * aggregated hash aggs. Embeddings never enter the plan — recall
    * is computed from ids alone. */
  /** Rank-AWARE quality of an approximate ranking — nDCG@k against
    * the exact top-k as graded truth ([[recallAtK]]'s order-sensitive
    * sibling: recall cannot see that an ANN index returns the right
    * five neighbors in the wrong order, nDCG can). Graded relevance
    * is positional: the true rank-1 neighbor carries `k`, rank-k
    * carries 1, anything outside the true top-k carries 0.
    *
    * Exact integer fixed point end to end (the house oracle
    * discipline): each DCG term is
    * `(rel · 1e6 · 2^16) div ilog2Fp16(rank+1)` — the same 16-step
    * integer log2 the unigram trainer replays in SQL — so any engine
    * reproduces every division bit-for-bit where a float
    * `log2(rank+1)` could flip a last-ulp tie. IDCG is the truth's
    * own terms (the best any ranking could score), and
    * `ndcg_fp = (1e6 · DCG) div IDCG` lands in [0, 1e6].
    *
    * Scale shape: two narrow (q_id, vec_id, rank) frames joined on
    * their keys and folded per query — cost is O(queries · k), never
    * the corpus; embeddings are long gone by this point. */
  def ndcgAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.functions.expr
    require(k >= 1 && k <= 1000, s"ndcgAtK: need 1 <= k <= 1000, got $k")
    val disc = graft.functions.TextFunctions.ilog2Fp16(col("r") + lit(1L))
    val t = exact.select(col("q_id").cast("long").as("q_id"),
      col("vec_id").cast("long").as("vec_id"),
      (lit(k + 1L) - col("rank").cast("long")).as("rel"),
      col("rank").cast("long").as("r"))
    val a = approx.select(col("q_id").cast("long").as("q_id"),
      col("vec_id").cast("long").as("vec_id"),
      col("rank").cast("long").as("r"))
    val dcg = a.join(t.select("q_id", "vec_id", "rel"), Seq("q_id", "vec_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
      .withColumn("__disc", disc)
      .withColumn("gain", expr("(rel * 65536000000) div __disc"))
      .groupBy("q_id").agg(sum(col("gain")).as("dcg_fp"))
    val idcg = t
      .withColumn("__disc", disc)
      .withColumn("gain", expr("(rel * 65536000000) div __disc"))
      .groupBy("q_id").agg(sum(col("gain")).as("idcg_fp"))
    idcg.join(dcg, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("dcg_fp"), lit(0L)).as("dcg_fp"),
        col("idcg_fp"),
        expr("(1000000 * coalesce(dcg_fp, 0)) div idcg_fp").as("ndcg_fp"))
  }

  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val t = exact.select(col("q_id").cast("long").as("q_id"),
      col("vec_id").cast("long").as("vec_id"))
    val a = approx.select(col("q_id").cast("long").as("q_id"),
      col("vec_id").cast("long").as("vec_id"))
    val hits = t.join(a, Seq("q_id", "vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    val tsz = t.groupBy("q_id").agg(count(lit(1)).as("n_truth"))
    val asz = a.groupBy("q_id").agg(count(lit(1)).as("n_approx"))
    tsz.join(asz, Seq("q_id"), "left")
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_truth"),
        coalesce(col("n_approx"), lit(0L)).as("n_approx"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_fp", expr("(1000000 * n_hit) div n_truth"))
  }
}
