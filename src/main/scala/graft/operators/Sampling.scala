package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling — the reproducible-split
  * primitive a training-data pipeline needs (RNG-based `sample()` is
  * implementation-specific and changes across engines/partitionings;
  * hash-based sampling is stable given (key, salt)).
  */
object Sampling {

  /** Uniform bucket in [0, 100) from the row key: md5-derived, salted.
    * NULL keys hash as the empty string (they land in a bucket instead
    * of silently vanishing from every split — and this matches SQL
    * engines whose concat skips NULLs). The same derivation is
    * expressible in any SQL engine. */
  def hashBucket(key: Column, salt: String = ""): Column =
    conv(substring(md5(concat(coalesce(key.cast("string"), lit("")), lit(salt))), 1, 15), 16, 10)
      .cast("long") % 100

  /** Keep ~pct% of rows, deterministically by key. */
  def hashSample(df: DataFrame, keyCol: String, pct: Int, salt: String = ""): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be in [0,100], got $pct")
    df.filter(hashBucket(col(keyCol), salt) < pct)
  }

  /** Disjoint reproducible train/validation/test split: buckets
    * [0,trainPct) / [trainPct,trainPct+valPct) / rest. */
  def split(df: DataFrame, keyCol: String, trainPct: Int, valPct: Int,
            salt: String = ""): (DataFrame, DataFrame, DataFrame) = {
    require(trainPct + valPct <= 100, "trainPct + valPct must be <= 100")
    val b = hashBucket(col(keyCol), salt)
    (df.filter(b < trainPct),
      df.filter(b >= trainPct && b < trainPct + valPct),
      df.filter(b >= trainPct + valPct))
  }

  /** Deterministic shard + global shuffle for training-data export:
    * every row gets a shard (hash mod nShards) and a position within
    * its shard (hash order) — the "shuffle the corpus, write N shard
    * files, stream them in order" step before training. Reproducible
    * given (key, salt), unlike `orderBy(rand())`.
    *
    * Scale shape: one exchange on `shard` (narrow: key + 60-bit hash,
    * never payload columns) and a per-shard sort — the payload joins
    * back by key at write time, ideally against a bucketed-by-key
    * layout. No global single-partition sort anywhere. */
  def shardShuffle(df: DataFrame, keyCol: String, nShards: Int,
                   salt: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val h = conv(substring(md5(concat(coalesce(col(keyCol).cast("string"), lit("")),
      lit(salt))), 1, 15), 16, 10).cast("long")
    df.select(col(keyCol), h.as("h"))
      .withColumn("shard", (col("h") % nShards).cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("h"), col(keyCol))).cast("long"))
      .drop("h")
  }

  /** Weighted systematic sampling: keep one row per `step` units of
    * cumulative weight, deterministically. The token-budget sampler —
    * with weight = token count and step = S, the kept set holds
    * ~total_tokens/S documents with inclusion probability ∝ size, and
    * every document of ≥ S tokens is guaranteed in.
    *
    * Mechanics: rows order by a salted 60-bit hash (stable, uniform)
    * within `nShards` hash shards; a row is kept iff its cumulative-
    * weight interval (cum - w, cum] straddles a multiple of `step`.
    * All-integer arithmetic — no RNG, no transcendentals — so any
    * engine reproduces the exact sample. Sharding keeps the running
    * sum a bounded per-shard window instead of a single-partition
    * global cumsum (the classic scale trap of systematic sampling);
    * hash uniformity spreads weight evenly across shards, so the
    * sample rate is preserved.
    *
    * Weights must be positive integers (tokens, bytes, rows); `keyCol`
    * must be unique (it is the sampling identity the kept set joins
    * back on). */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     step: Long, nShards: Int = 32, salt: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(step > 0 && nShards > 0, s"step/nShards must be positive")
    val h = conv(substring(md5(concat(coalesce(col(keyCol).cast("string"), lit("")),
      lit(salt))), 1, 15), 16, 10).cast("long")
    // Narrow internal projection: only (key, weight, hash) flows
    // through the cumsum exchange — payload columns (the document text
    // at 100 TB) never shuffle. The kept keys — ~total_weight/step
    // rows, small by construction — semi-join back, which AQE turns
    // into a broadcast, so the caller's frame crosses no exchange at
    // all. A fresh select also means caller columns named __w/__cum
    // can never be clobbered.
    val slim = df.select(col(keyCol).as("__k"),
      col(weightCol).cast("long").as("__w"), h.as("__h"))
      .withColumn("__shard", (col("__h") % nShards).cast("int"))
    val cum = sum(col("__w")).over(Window.partitionBy(col("__shard"))
      .orderBy(col("__h"), col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val keep = slim.withColumn("__cum", cum)
      // integer floor-division (SQL `div`) keeps the arithmetic exact
      // at any corpus size — no double rounding at 2^53 token counts
      .filter(expr(s"(__cum div $step) > ((__cum - __w) div $step)"))
      .select(col("__k").as(keyCol))
    df.join(keep, Seq(keyCol), "left_semi")
  }

  /** Deterministic fixed-size per-stratum sample: the `k` rows with
    * the smallest salted hash within each stratum — "k examples per
    * domain/language/source" for training mixes and eval sets, stable
    * given (key, salt) where an RNG reservoir is not (rerun, engine, or
    * partitioning changes resample it).
    *
    * Scale shape: same as [[weightedSample]] — the rank window runs
    * over an internal (key, stratum, hash) projection, so payload
    * columns never cross the exchange; kept keys (≤ k per stratum,
    * small by construction) semi-join back, which AQE broadcasts.
    * `keyCol` must be unique. */
  def topKPerStratum(df: DataFrame, keyCol: String, stratumCol: String,
                     k: Int, salt: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val h = conv(substring(md5(concat(coalesce(col(keyCol).cast("string"), lit("")),
      lit(salt))), 1, 15), 16, 10).cast("long")
    val keep = df.select(col(keyCol).as("__k"), col(stratumCol).as("__s"), h.as("__h"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__s")).orderBy(col("__h"), col("__k"))))
      .filter(col("__rn") <= k)
      .select(col("__k").as(keyCol))
    df.join(keep, Seq(keyCol), "left_semi")
  }

  /** Stratified deterministic sampling: per-stratum keep percentages
    * (strata absent from the map keep `defaultPct`). */
  /** Per-stratum weight-budget mixing — "this many TOKENS from each
    * source", the data-mixture recipe primitive (doc-percent mixing
    * can't hit token targets when document lengths differ by source).
    * Rows are taken greedily in salted-hash order until each stratum's
    * budget is filled; the boundary row that would cross the budget is
    * dropped. Deterministic given (key, salt); strata absent from
    * `budgets` get `defaultBudget`.
    *
    * Scale shape: same as [[weightedSample]] — the cumsum window runs
    * over an internal (key, stratum, weight, hash) projection and kept
    * keys semi-join back, so the payload never crosses an exchange. */
  def budgetPerStratum(df: DataFrame, keyCol: String, weightCol: String,
                       stratumCol: String, budgets: Map[String, Long],
                       defaultBudget: Long = 0L,
                       salt: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgets.values.forall(_ >= 0) && defaultBudget >= 0,
      "budgets must be non-negative")
    val h = conv(substring(md5(concat(coalesce(col(keyCol).cast("string"), lit("")),
      lit(salt))), 1, 15), 16, 10).cast("long")
    val slim = df.select(col(keyCol).as("__k"), col(stratumCol).as("__s"),
      col(weightCol).cast("long").as("__w"), h.as("__h"))
    val w = Window.partitionBy(col("__s")).orderBy(col("__h"), col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budget =
      if (budgets.isEmpty) lit(defaultBudget)
      else coalesce(element_at(typedLit(budgets), col("__s")), lit(defaultBudget))
    val keep = slim.withColumn("__cum", sum(col("__w")).over(w))
      .filter(col("__cum") <= budget)
      .select(col("__k").as(keyCol))
    df.join(keep, Seq(keyCol), "left_semi")
  }

  /** Curriculum bucketing: assign each row a bucket in [1, nBuckets]
    * from EXACT score quantile cut points — the scalable alternative to
    * a global rank for curriculum ordering ("train easy→hard"): the
    * cut points are one tiny aggregate row broadcast back onto the
    * data, so there is no global sort and no single-partition window.
    * A row whose score equals a cut point lands in the lower bucket
    * (`cut < score` strictly); duplicate-heavy scores therefore give
    * uneven buckets, which is the honest answer (ntile's forced-even
    * split would separate equal scores nondeterministically).
    *
    * The interpolated `percentile` aggregate is exact (sort-based
    * within the aggregate) and matches `quantile_cont` in ANSI
    * engines, so the bucket edges are engine-portable.
    *
    * Memory honesty: Spark's exact `percentile` BUFFERS the group's
    * values in the aggregation buffer — fine for bounded-cardinality
    * scores (lengths, fixed-point ratios, anything bucketable), but an
    * unbounded-cardinality score column at corpus scale should derive
    * its cut points from the mergeable quantile sketch
    * ([[graft.expressions.SketchAggregates]], KLL/MRL — constant
    * memory, approximate cuts) and broadcast them back through this
    * same crossJoin shape. */
  def quantileBuckets(df: DataFrame, scoreCol: String, nBuckets: Int,
                      outCol: String = "bucket"): DataFrame = {
    require(nBuckets > 1, s"nBuckets must be > 1, got $nBuckets")
    val probs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    val cuts = df.agg(
      expr(s"percentile($scoreCol, array(${probs.mkString(", ")}))").as("__cuts"))
    df.crossJoin(broadcast(cuts))
      .withColumn(outCol,
        (lit(1) + size(filter(col("__cuts"),
          c => c < col(scoreCol).cast("double")))).cast("bigint"))
      .drop("__cuts")
  }

  def stratified(df: DataFrame, keyCol: String, stratumCol: String,
                 pcts: Map[String, Int], defaultPct: Int = 0,
                 salt: String = ""): DataFrame = {
    val threshold = pcts.foldLeft(lit(defaultPct)) { case (acc, (s, p)) =>
      when(col(stratumCol) === s, p).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), salt) < threshold)
  }

  /** Temperature-based source mixing at α = 1/2 — the data-mixture
    * recipe that up-weights low-resource sources relative to
    * proportional sampling (sampling probability ∝ W_s^α; α = 1 is
    * proportional, α → 0 uniform). Unlike [[budgetPerStratum]] the
    * budgets are DERIVED from the data: budget_s =
    * totalBudget·⌊√W_s⌋ ÷ Σ⌊√W_s⌋ in pure integer arithmetic
    * (⌊√x⌋ of a correctly-rounded IEEE sqrt is exact for
    * x ≲ 2^52 — engine-portable), then rows fill each budget greedily
    * in salted-hash order, boundary row dropped.
    *
    * Scale shape: the per-stratum totals are one narrow hash-agg; the
    * derived budget frame (one row per source) broadcast-joins onto
    * the slim (key, stratum, weight, hash) projection, so the payload
    * never crosses an exchange and the cumsum window is the same
    * single narrow shuffle [[budgetPerStratum]] pays. */
  def temperatureMix(df: DataFrame, keyCol: String, weightCol: String,
                     stratumCol: String, totalBudget: Long,
                     salt: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(totalBudget > 0, s"totalBudget must be positive, got $totalBudget")
    val h = conv(substring(md5(concat(coalesce(col(keyCol).cast("string"), lit("")),
      lit(salt))), 1, 15), 16, 10).cast("long")
    val slim = df.select(col(keyCol).as("__k"), col(stratumCol).as("__s"),
      col(weightCol).cast("long").as("__w"), h.as("__h"))
    val sq = slim.groupBy(col("__s")).agg(sum(col("__w")).as("__ws"))
      .withColumn("__sq", floor(sqrt(col("__ws").cast("double"))).cast("long"))
    val z = sq.agg(sum(col("__sq")).as("__z"))
    val budgets = sq.crossJoin(broadcast(z))
      .select(col("__s"),
        expr(s"($totalBudget * __sq) div __z").as("__budget"))
    val w = Window.partitionBy(col("__s")).orderBy(col("__h"), col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keep = slim.join(broadcast(budgets), "__s")
      .withColumn("__cum", sum(col("__w")).over(w))
      .filter(col("__cum") <= col("__budget"))
      .select(col("__k").as(keyCol))
    df.join(keep, Seq(keyCol), "left_semi")
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): distribute a total token budget B across sources
    * as uniformly as possible subject to a per-source repeat cap —
    * each source may contribute at most `epochCapMillionths/10^6`
    * epochs of its own token mass. The closed form is water-filling:
    * sources whose cap sits below the water level contribute their
    * full cap, the rest split the remaining budget evenly.
    *
    * All-integer: with sources sorted ascending by cap (ties by
    * name), prefix sums P_i, and k sources, source i is capped iff
    * P_i + cap_i·(k−i) ≤ B — the division-free characterization of
    * "water level ≥ cap_i" (Σ_s min(cap_s, cap_i) ≤ B). Uncapped
    * sources get `(B − P_j) div (k−j)` each (j = last capped index)
    * with the remainder handed one token apiece to the first
    * remainder-many uncapped sources in sort order, clamped to the
    * cap — so Σ budgets = min(B, Σ caps) except in the degenerate
    * integer tie where a +1 would cross a cap. Output one row per
    * source: (stratum, weight, cap, budget, epochs_millionths).
    *
    * Scale shape: one map-side-combinable hash-agg collapses the
    * corpus to one narrow row per source; the windows that follow run
    * over those per-source rows only (the watermark-audit discipline:
    * an unpartitioned window is fine when its input is one row per
    * group, never one row per document). */
  def unimaxBudgets(df: DataFrame, weightCol: String, stratumCol: String,
                    totalBudget: Long, epochCapMillionths: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(totalBudget > 0, s"totalBudget must be positive, got $totalBudget")
    require(epochCapMillionths > 0,
      s"epochCapMillionths must be positive, got $epochCapMillionths")
    val perSrc = df.groupBy(col(stratumCol).as("stratum"))
      .agg(sum(col(weightCol).cast("long")).as("weight"))
      .withColumn("cap", expr(s"(weight * ${epochCapMillionths}L) div 1000000L"))
    val byCap = Window.orderBy(col("cap"), col("stratum"))
    val all = Window.partitionBy(lit(1))
    val ranked = perSrc
      .withColumn("__rn", row_number().over(byCap))
      .withColumn("__p", sum(col("cap")).over(
        byCap.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__k", count(lit(1)).over(all))
      .withColumn("__capped",
        col("__p") + col("cap") * (col("__k") - col("__rn")) <= totalBudget)
    val j = ranked.withColumn("__j",
        max(when(col("__capped"), col("__rn")).otherwise(lit(0))).over(all))
      .withColumn("__pj",
        max(when(col("__capped"), col("__p")).otherwise(lit(0L))).over(all))
    j.withColumn("__share", expr(
        s"CASE WHEN __k > __j THEN (${totalBudget}L - __pj) div (__k - __j) " +
          "ELSE 0L END"))
      .withColumn("__rem", expr(
        s"CASE WHEN __k > __j THEN (${totalBudget}L - __pj) % (__k - __j) " +
          "ELSE 0L END"))
      .withColumn("budget",
        when(col("__capped"), col("cap")).otherwise(least(col("cap"),
          col("__share") +
            when(col("__rn") - col("__j") <= col("__rem"), 1L).otherwise(0L))))
      .withColumn("epochs_millionths",
        expr("(budget * 1000000L) div greatest(weight, 1L)"))
      .select("stratum", "weight", "cap", "budget", "epochs_millionths")
  }

  /** UniMax source mixing: [[unimaxBudgets]] allocation applied as a
    * greedy per-source token fill in salted-hash order (the
    * [[budgetPerStratum]] tail — boundary row dropped). The
    * production one-call shape: budgets DERIVED from the data under a
    * repeat cap, then the corpus cut to match.
    *
    * Scale shape: the one-row-per-source budget frame broadcast-joins
    * onto the slim (key, stratum, weight, hash) projection; the
    * payload rejoins by key semi-join and never crosses an
    * exchange. */
  def unimaxMix(df: DataFrame, keyCol: String, weightCol: String,
                stratumCol: String, totalBudget: Long,
                epochCapMillionths: Long, salt: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budgets = unimaxBudgets(df, weightCol, stratumCol,
      totalBudget, epochCapMillionths)
      .select(col("stratum").as("__s"), col("budget").as("__budget"))
    val h = conv(substring(md5(concat(coalesce(col(keyCol).cast("string"), lit("")),
      lit(salt))), 1, 15), 16, 10).cast("long")
    val slim = df.select(col(keyCol).as("__k"), col(stratumCol).as("__s"),
      col(weightCol).cast("long").as("__w"), h.as("__h"))
    val w = Window.partitionBy(col("__s")).orderBy(col("__h"), col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keep = slim.join(broadcast(budgets), "__s")
      .withColumn("__cum", sum(col("__w")).over(w))
      .filter(col("__cum") <= col("__budget"))
      .select(col("__k").as(keyCol))
    df.join(keep, Seq(keyCol), "left_semi")
  }
}
