package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.core.{Exact, Tables}
import graft.taxi.TaxiShape
import graft.operators.Joins
import Fragments._

/** Event-table analytics: windows, sessions, funnels, time series,
  * robust statistics and mergeable sketches. */
object EventQueries {

  /** PIVOT: per-user-bucket event-type counts as columns (explicit
    * value list keeps the output schema static). */
  private def pivotEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("user_bucket", (col("user_id") % 10).cast("int"))
      .groupBy(col("user_bucket"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .count()
      // fill only the pivoted counts — a NULL user_bucket (null
      // user_id) must survive as NULL to match the oracle's grouping
      .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))

  /** Deterministic hash-based sample: 20% of events by event_id, plus
    * a stratified variant keeping 50% of purchases / 10% of clicks. */
  private def hashSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val ev = Tables.events(spark, dir)
    Sampling.hashSample(ev, "event_id", 20, salt = "r1")
      .select(col("event_id"), col("event_type"))
      .withColumn("stratum", lit("uniform20"))
      .unionAll(
        Sampling.stratified(ev, "event_id", "event_type",
          Map("purchase" -> 50, "click" -> 10), salt = "r1")
          .select(col("event_id"), col("event_type"))
          .withColumn("stratum", lit("stratified")))
  }

  /** One-pass long-format dataset profile of the events table. */
  private def profileEvents(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profiler.profile(
      Tables.events(spark, dir), Seq("event_id", "user_id", "event_type", "value"))

  /** Explicit frame spec: per-customer running order total. The sum
    * accumulates in DECIMAL inside the frame, so the result is exact
    * regardless of each engine's window-aggregation order (running
    * accumulation vs segment tree). */
  private def runningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("running_total"))
  }

  /** Window ranking extension: top-3 orders per customer. */
  private def windowTopk(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
  }

  /** ROLLUP hierarchy totals over the staging shape (engine capability
    * beyond reference parity; SURVEY.md §2.6 note). */
  private def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    TaxiShape.staging(spark, dir)
      .rollup(col("year"), col("month"))
      .agg(count(lit(1)).as("n_trips"),
        Exact.dsum(col("fare_amount")).as("sum_fare"),
        grouping(col("year")).cast("int").as("g_year"),
        grouping(col("month")).cast("int").as("g_month"))

  /** Session assignment shared by [[sessionize]] and [[eventPairs]]:
    * every event tagged with its user's running session index. */
  private def sessionAssign(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val prev = lag(col("ts"), 1).over(w)
    Tables.events(spark, dir)
      .withColumn("is_new",
        when(prev.isNull ||
          (unix_micros(col("ts").cast("timestamp")) -
            unix_micros(prev.cast("timestamp"))) > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Gap-based sessionization of the event stream: a new session starts
    * after >30 min of user inactivity (window lag + running sum). */
  private def sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionAssign(spark, dir)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))

  /** Market-basket co-occurrence over sessions: for each unordered
    * event-type pair, in how many sessions both occur — the
    * association signal behind "users who X also Y" (support counts;
    * lift is a read-time divide by the singleton counts). The
    * per-session distinct type set is tiny (≤ #types), so the
    * within-session self-join is bounded C(#types, 2) per session —
    * never quadratic in events. */
  private def eventPairs(spark: SparkSession, dir: String): DataFrame = {
    val st = sessionAssign(spark, dir)
      .select(col("user_id"), col("session_id"), col("event_type"))
      .distinct()
    val a = st.withColumnRenamed("event_type", "type_a")
    val b = st.withColumnRenamed("event_type", "type_b")
    a.join(b, Seq("user_id", "session_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_sessions"))
  }

  /** Last-touch conversion attribution: every purchase is credited to
    * the most recent preceding click/view by the same user within a
    * 24-hour lookback — the standard marketing-attribution primitive.
    * One running last-non-null window per carried column over ONE
    * (user, ts, tie) ordering: the three carried columns share the
    * same null pattern, so their last-non-null values always come from
    * the same touch row — no join back, no struct. Purchases with no
    * in-window touch are dropped (direct conversions). One shuffle by
    * user; narrow columns only. */
  private def attribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    val touch = col("event_type") === "click" || col("event_type") === "view"
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("touch_event_id",
        last(when(touch, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("touch_type",
        last(when(touch, col("event_type")), ignoreNulls = true).over(w))
      .withColumn("touch_us",
        last(when(touch, col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("touch_us").isNotNull &&
        col("ts_us") - col("touch_us") <= 24L * 3600L * 1000000L)
      .select(col("event_id").as("purchase_event_id"), col("user_id"),
        col("touch_event_id"), col("touch_type"),
        (col("ts_us") - col("touch_us")).as("gap_us"))
  }

  /** Clickstream path analysis: the top-20 session event-type
    * sequences. The per-session collect is bounded by session length
    * and sorted explicitly on (ts, event_id) before joining, so the
    * path string is deterministic; the global top-k is a
    * TakeOrderedAndProject, not a full sort. */
  private def sessionPaths(spark: SparkSession, dir: String): DataFrame =
    sessionAssign(spark, dir)
      .groupBy(col("user_id"), col("session_id"))
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
        e => e.getField("event_type"))).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(20)

  /** Session transition matrix — the first-order Markov input for
    * sequence modeling: consecutive in-session event-type pairs
    * counted per (from, to), with the row-normalized transition
    * probability in fixed-point millionths (exact integer floor
    * division, engine-portable). Consecutive means adjacent under the
    * (ts, event_id) total order within a session — the same ordering
    * convention as `session_paths`.
    *
    * Scale shape: the lag window rides the existing per-(user,
    * session) partitioning; the matrix is (|types|², count) — tiny —
    * and the row totals broadcast back onto it. */
  private def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = sessionAssign(spark, dir)
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .select(col("from_type"), col("event_type").as("to_type"))
    // row totals via a window over the (tiny) matrix itself — a
    // totals-aggregate-plus-join would plan the whole sessionize
    // subtree TWICE (once per side); the window reuses the single pass
    val wTot = Window.partitionBy(col("from_type"))
    pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum(col("n")).over(wTot))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(1000000 * n) div row_total").as("p_fp"))
  }

  /** LSH banding s-curve — the tuning table for choosing (bands, rows):
    * for Jaccard similarity s on a 0.05 grid, the candidate probability
    * 1 − (1 − s^r)^b of the engine's MinHash convention (k = 12,
    * b = 4, r = 3), in exact basis-point integer arithmetic (every
    * power is a chain of int64 floor divisions — engine-portable,
    * overflow-safe: q^4 ≤ 10^16). Generated, not scanned: a constant
    * 19-row planning table. */
  private def lshTuning(spark: SparkSession, dir: String): DataFrame = {
    spark.range(1, 20).toDF("i")
      .select((col("i") * 500L).as("s_bp"))
      .withColumn("s3_bp", expr("(s_bp * s_bp * s_bp) div 100000000"))
      .withColumn("q_bp", lit(10000L) - col("s3_bp"))
      .withColumn("p_candidate_bp",
        lit(10000L) - expr("(q_bp * q_bp * q_bp * q_bp) div 1000000000000"))
      .select("s_bp", "s3_bp", "p_candidate_bp")
  }

  /** Key-skew diagnostic for shuffle planning: one row with the row /
    * key counts, the heaviest key, its share in basis points, and the
    * max-over-mean skew factor ×100 — all integer floor arithmetic so
    * the report is engine-exact. skew_x100 = 100 means perfectly
    * uniform; the salting / AQE-skew-join decision threshold is
    * typically 10-20× (1000-2000). */
  private def skewReport(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("user_id").desc).limit(1)
      .select(col("user_id").as("top_key"), col("n").as("top_n"))
    counts.agg(sum(col("n")).cast("bigint").as("n_rows"),
        count(lit(1)).as("n_keys"))
      .crossJoin(broadcast(top))
      .select(col("n_rows"), col("n_keys"), col("top_key"), col("top_n"),
        expr("top_n * 10000 DIV n_rows").as("top_share_bp"),
        expr("top_n * n_keys * 100 DIV n_rows").as("skew_x100"))
  }

  /** As-of join: each click picks up the user's most recent
    * purchase-value at or before the click time (union + window carry —
    * no range-join explosion; oracle is DuckDB's native ASOF JOIN). */
  private def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(Exact.dsum(col("value")).as("purchase_value"))
    Joins.asOfJoin(clicks, purchases, Seq("user_id"), "ts", Seq("purchase_value"))
  }

  /** Tolerance-bounded as-of join (the pandas `merge_asof(tolerance)`
    * contract): a purchase older than 48 hours must not price the
    * click — the staleness test reads the MATCHED row's own carried
    * timestamp, zero extra data movement. */
  private def asofJoinTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(Exact.dsum(col("value")).as("purchase_value"))
    Joins.asOfJoin(clicks, purchases, Seq("user_id"), "ts",
      Seq("purchase_value"), maxStaleness = Some(expr("INTERVAL 48 HOURS")))
  }

  /** Grouped summary statistics with engine-exact aggregates only
    * (min/max/exact-decimal avg/count/count-distinct). */
  private def statsSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        Exact.davg(col("value")).as("avg_value"),
        count_distinct(col("user_id")).as("n_users"))

  /** Conversion funnel: per viewing user, first view and first
    * purchase at-or-after it (min-aggregates + one equi-join — exact
    * timestamps, no float math). */
  private def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(v, "user_id")
      .filter(col("ts") >= col("first_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_purchase_after"))
    v.join(p, Seq("user_id"), "left")
  }

  /** Ordered 3-step funnel depth counts (view → click → purchase,
    * each step strictly at-or-after the previous step's first
    * occurrence): the product-analytics conversion table. Each stage
    * is one slim per-user min aggregate joined forward — no
    * self-join of the event stream against itself, no window over
    * raw events; at 100 TB each stage shuffles one row per user. */
  private def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def firstAfter(tpe: String, prev: Option[DataFrame], prevCol: String,
                   outCol: String): DataFrame = {
      val base = ev.filter(col("event_type") === tpe)
      val gated = prev match {
        case Some(p) => base.join(p, "user_id").filter(col("ts") >= col(prevCol))
        case None => base
      }
      gated.groupBy(col("user_id")).agg(min(col("ts")).as(outCol))
    }
    val v = firstAfter("view", None, "", "t_view")
    val c = firstAfter("click", Some(v), "t_view", "t_click")
    val p = firstAfter("purchase", Some(c), "t_click", "t_purchase")
    def cnt(df: DataFrame, step: String, depth: Int) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(depth.toLong).as("depth"), lit(step).as("step"), col("n_users"))
    cnt(v, "view", 1).unionAll(cnt(c, "click", 2)).unionAll(cnt(p, "purchase", 3))
  }

  /** Exact interpolated percentiles per group (Spark `percentile` and
    * DuckDB `quantile_cont` share the p*(n-1) linear-interpolation
    * definition). */
  private def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.25)").as("p25"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.75)").as("p75"))

  /** Weekly retention cohorts: users grouped by the ISO week of their
    * first event; each later event credits the (cohort_week,
    * weeks_since) cell with one distinct user. The classic
    * product-analytics matrix, all in exact integer time arithmetic
    * (micros difference / week length — both engines truncate weeks
    * to ISO Monday). Two shuffles: the per-user min and the
    * user-keyed join back (same key, so AQE can reuse the exchange);
    * the distinct-count recount is partial-agg friendly. */
  private def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val first = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val weekMicros = 7L * 86400L * 1000000L
    ev.join(first, "user_id")
      .withColumn("weeks_since",
        ((unix_micros(date_trunc("week", col("ts")).cast("timestamp")) -
          unix_micros(col("cohort_week").cast("timestamp"))) / weekMicros)
          .cast("long"))
      .groupBy(col("cohort_week").cast("timestamp_ntz").as("cohort_week"),
        col("weeks_since"))
      .agg(count_distinct(col("user_id")).as("n_users"))
  }

  /** CUBE totals over (event_type, year): all four grouping-set
    * combinations in one pass — the full-lattice twin of
    * [[rollupAgg]]'s hierarchy (§2.6 note). Partial aggregation holds
    * per grouping set, so the exchange carries only group cells. */
  private def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("year", year(col("ts")).cast("int"))
      .cube(col("event_type"), col("year"))
      .agg(count(lit(1)).as("n"),
        Exact.dsum(col("value")).as("sum_value"),
        grouping(col("event_type")).cast("int").as("g_type"),
        grouping(col("year")).cast("int").as("g_year"))

  /** Incremental view maintenance, proven against the full recompute:
    * history (event_id % 5 < 4) and the "new batch" (% 5 == 4) are
    * aggregated separately in mergeable integer domains, merged with
    * [[graft.operators.Incremental.mergeAggregates]], and the result
    * must equal the one-shot aggregate over everything — which is
    * exactly what the oracle computes. Money stays in cents (long)
    * until the final divide, so merge order cannot drift the sum. */
  private def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"), col("ts"))
    def aggOf(df: DataFrame) = df.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      Exact.centsSum(col("value")).as("value_cents"),
      min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
    val merged = graft.operators.Incremental.mergeAggregates(
      aggOf(ev.filter(pmod(col("event_id"), lit(5)) < 4)),
      aggOf(ev.filter(pmod(col("event_id"), lit(5)) === 4)),
      Seq("event_type"),
      Map("n" -> "sum", "value_cents" -> "sum",
        "first_ts" -> "min", "last_ts" -> "max"))
    merged.select(col("event_type"), col("n"),
      (col("value_cents") / 100.0).as("sum_value"),
      col("first_ts"), col("last_ts"))
  }

  /** Event-time tumbling (hourly) aggregation — the batch twin of the
    * streaming windowed count (§2.11 extension). */
  private def eventsWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Exact.dsum(col("value")).as("sum_value"))

  /** KMV distinct sketch ([[graft.expressions.KmvDistinctAgg]] — the
    * UDAF surface): per event type, a k=64 bottom-k sketch of user_id
    * next to the exact distinct count. The sketch's minima are
    * md5-derived, so the oracle reproduces estimate AND sketch state
    * bit-for-bit via window functions. */
  private def distinctSketch(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.SketchAggregates
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(SketchAggregates.kmvDistinct(col("user_id"), 64).as("sk"),
        countDistinct(col("user_id")).as("n_exact"))
      .select(col("event_type"), col("sk.estimate").as("distinct_est"),
        array_join(col("sk.kmin"), ",").as("kmin"), col("n_exact"))
  }

  /** Incremental distinct-count: history and batch sketched
    * separately, sketches unioned with
    * [[graft.operators.Incremental.mergeKmv]] — by KMV mergeability
    * the unioned minima are byte-identical to sketching everything at
    * once, so the oracle is the whole-data sketch replay. The shape
    * that keeps "distinct users per day" maintainable at 100 TB:
    * per-batch partials of ≤ k longs per group, never a re-scan. */
  private def distinctSketchIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.SketchAggregates
    val ev = Tables.events(spark, dir)
    def sketch(df: DataFrame) = df.groupBy(col("event_type"))
      .agg(SketchAggregates.kmvDistinct(col("user_id"), 64).as("sk"))
      .select(col("event_type"), col("sk.kmin").as("kmin_arr"))
    val merged = graft.operators.Incremental.mergeKmv(
      sketch(ev.filter(pmod(col("event_id"), lit(5)) < 4)),
      sketch(ev.filter(pmod(col("event_id"), lit(5)) === 4)),
      Seq("event_type"), "kmin_arr", 64)
    merged.select(col("event_type"),
      when(size(col("kmin_arr")) < 64, size(col("kmin_arr")).cast("long"))
        .otherwise(floor(lit(63D) * lit(1152921504606846976D) /
          element_at(col("kmin_arr"), 64)).cast("long"))
        .as("distinct_est"),
      array_join(col("kmin_arr"), ",").as("kmin"))
  }

  /** HyperLogLog distinct sketch ([[graft.expressions.HllDistinctAgg]]):
    * per event type, 2^8 dense byte registers over the md5-hashed
    * user_id, next to the raw INTEGER estimate (`7213·m³·2^Rmax /
    * ((10000m+10790)·S)` — the alpha constant in its rational form, so
    * no floating point anywhere and the oracle reproduces estimate AND
    * register state bit-for-bit). Registers ship as a joined string
    * (dense j = 0..255). */
  private def distinctHll(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.SketchAggregates
    Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(SketchAggregates.hllDistinct(col("user_id"), 8).as("hll"))
      .select(col("event_type"), col("hll.est_hll").as("est_hll"),
        col("hll.n_zero").as("n_zero"), col("hll.pow_sum").as("pow_sum"),
        array_join(col("hll.regs"), ",").as("regs"))
  }

  /** HLL union algebra: history and batch sketched separately, stored
    * register arrays combined with [[graft.expressions.SketchAggregates
    * .hllUnion]] (pointwise max). Registers only ever record the max
    * rho seen, so the union IS the whole-data sketch byte-for-byte —
    * which is exactly what the oracle replays. The shape that keeps
    * "distinct users per day" maintainable at 100 TB: per-batch
    * partials of 2^p bytes per group, never a re-scan. */
  private def distinctHllUnion(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.SketchAggregates
    val ev = Tables.events(spark, dir).filter(col("user_id").isNotNull)
    def sketch(df: DataFrame) = df.groupBy(col("event_type"))
      .agg(SketchAggregates.hllDistinct(col("user_id"), 8).as("hll"))
      .select(col("event_type"), col("hll.regs").as("regs"))
    val zeros = array_repeat(lit(0), 256)
    val merged = sketch(ev.filter(pmod(col("event_id"), lit(5)) < 4))
      .join(sketch(ev.filter(pmod(col("event_id"), lit(5)) === 4))
        .withColumnRenamed("regs", "regs_b"), Seq("event_type"), "full")
      .select(col("event_type"),
        SketchAggregates.hllUnion(
          coalesce(col("regs"), zeros), coalesce(col("regs_b"), zeros), 8).as("u"))
    merged.select(col("event_type"), col("u.n_zero").as("n_zero"),
      col("u.pow_sum").as("pow_sum"), array_join(col("u.regs"), ",").as("regs"))
  }

  /** KMV sketch algebra ([[graft.expressions.SketchAggregates]]):
    * audience overlap of the click/view user sets computed purely from
    * two 64-value sketches — union, Jaccard, intersection — never
    * touching the raw ID sets. Jaccard serialized as fixed-point
    * micros for the comparator. */
  private def audienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.SketchAggregates
    val ev = Tables.events(spark, dir)
    def sketchOf(t: String) = ev.filter(col("event_type") === t)
      .agg(SketchAggregates.kmvDistinct(col("user_id"), 64).as(s"sk_$t"))
    val o = sketchOf("click").crossJoin(sketchOf("view"))
      .select(SketchAggregates.kmvOverlap(col("sk_click"), col("sk_view"), 64).as("o"))
    o.select(
      round(col("o.jaccard") * 1e6).cast("long").as("jaccard_micros"),
      col("o.intersection_est"), col("o.union_est"))
  }

  /** Morton z-values for the (user_id, value) plane
    * ([[graft.sources.ZOrder]]) — the clustering key behind
    * 2-dimensional file pruning; the oracle re-derives the bit
    * interleave from the same shift/mask table. */
  private def zorderCells(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.ZOrder
    Tables.events(spark, dir).select(col("event_id"),
      col("user_id").bitwiseAND(lit(65535L)).as("x"),
      floor(coalesce(col("value"), lit(0.0))).cast("long")
        .bitwiseAND(lit(65535L)).as("y"))
      .withColumn("z", ZOrder.zValue(col("x"), col("y")))
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("hash_sample", hashSample,
      """WITH b AS (
        |  SELECT event_id, event_type,
        |    CAST(concat('0x', substring(md5(concat(CAST(event_id AS VARCHAR), 'r1')), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM events)
        |SELECT event_id, event_type, 'uniform20' AS stratum FROM b WHERE bucket < 20
        |UNION ALL
        |SELECT event_id, event_type, 'stratified' AS stratum FROM b
        |WHERE bucket < (CASE WHEN event_type = 'click' THEN 10
        |                     WHEN event_type = 'purchase' THEN 50 ELSE 0 END)""".stripMargin),
    QuerySpec("profile_events", profileEvents, {
      def one(c: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value
           |FROM events""".stripMargin
      Seq("event_id", "user_id", "event_type", "value").map(one)
        .mkString("\nUNION ALL\n")
    }),
    QuerySpec("distinct_sketch", distinctSketch,
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (
        |  SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        |  FROM h),
        |x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
        |      FROM events WHERE user_id IS NOT NULL GROUP BY event_type)
        |SELECT r.event_type,
        |  CAST(CASE WHEN max(r.rn) < 64 THEN max(r.rn)
        |       ELSE FLOOR(63 * 1152921504606846976.0
        |                  / max(CASE WHEN r.rn = 64 THEN r.hv END)) END AS BIGINT)
        |    AS distinct_est,
        |  string_agg(r.hv, ',' ORDER BY r.hv) AS kmin,
        |  any_value(x.n_exact) AS n_exact
        |FROM r JOIN x ON r.event_type = x.event_type
        |WHERE r.rn <= 64
        |GROUP BY r.event_type""".stripMargin),
    // HLL p=8: bucket = top 8 of the 60-bit hash (floor-div by 2^52),
    // rho = 53 - bit_length(tail) via the exact bin() string (never
    // floor(log2()) — fp rounding can cross the integer boundary),
    // raw estimate in HUGEINT with alpha as 7213m/(10000m+10790);
    // nested floor-divisions equal the engine's single BigInt division.
    QuerySpec("distinct_hll", distinctHll,
      """WITH h AS (
        |  SELECT event_type,
        |    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM events WHERE user_id IS NOT NULL),
        |b AS (
        |  SELECT event_type, CAST(hv // 4503599627370496 AS INT) AS j,
        |         hv % 4503599627370496 AS w
        |  FROM h),
        |r AS (
        |  SELECT event_type, j,
        |    MAX(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS reg
        |  FROM b GROUP BY event_type, j),
        |et AS (SELECT DISTINCT event_type FROM h),
        |dense AS (
        |  SELECT et.event_type, g.j, COALESCE(r.reg, 0) AS reg
        |  FROM et CROSS JOIN (SELECT CAST(k AS INT) AS j FROM range(256) t(k)) g
        |  LEFT JOIN r ON r.event_type = et.event_type AND r.j = g.j),
        |agg AS (
        |  SELECT event_type,
        |    string_agg(CAST(reg AS VARCHAR), ',' ORDER BY j) AS regs,
        |    CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |    CAST(SUM(CAST(POW(2, 53 - reg) AS BIGINT)) AS BIGINT) AS pow_sum
        |  FROM dense GROUP BY event_type)
        |SELECT event_type,
        |  CAST(CAST(7213 AS HUGEINT) * 256 * 256 * 256 * 9007199254740992
        |       // (CAST(10000 AS HUGEINT) * 256 + 10790)
        |       // CAST(pow_sum AS HUGEINT) AS BIGINT) AS est_hll,
        |  n_zero, pow_sum, regs
        |FROM agg""".stripMargin),
    // HLL register max is trivially mergeable — the engine's two-half
    // pointwise-max union must equal the whole-data registers
    // byte-for-byte, so the oracle IS the whole-data replay.
    QuerySpec("distinct_hll_union", distinctHllUnion, hllUnionOracleSql),
    QuerySpec("zorder_cells", zorderCells, {
      val z = graft.sources.ZOrder.zValueSql("x", "y")
      s"""WITH c AS (
         |  SELECT event_id,
         |    user_id & 65535 AS x,
         |    CAST(floor(coalesce(value, 0.0)) AS BIGINT) & 65535 AS y
         |  FROM events)
         |SELECT event_id, x, y, $z AS z FROM c""".stripMargin
    }),
    // KMV set algebra replayed in SQL: k-min lists per audience, union
    // sketch via list ops, Beyer-et-al. Jaccard from the union sketch.
    QuerySpec("audience_overlap", audienceOverlap,
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM events WHERE user_id IS NOT NULL AND event_type IN ('click', 'view')),
        |r AS (SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn FROM h),
        |s AS (SELECT event_type, list(hv ORDER BY hv) AS kmin
        |      FROM r WHERE rn <= 64 GROUP BY event_type),
        |c AS (SELECT
        |    (SELECT kmin FROM s WHERE event_type = 'click') AS ka,
        |    (SELECT kmin FROM s WHERE event_type = 'view') AS kb),
        |e AS (SELECT ka, kb,
        |    list_slice(list_sort(list_distinct(ka || kb)), 1, 64) AS uk FROM c),
        |f AS (SELECT
        |    CASE WHEN len(uk) < 64 THEN CAST(len(uk) AS BIGINT)
        |         ELSE CAST(FLOOR(63 * 1152921504606846976.0 / uk[64]) AS BIGINT) END AS union_est,
        |    CASE WHEN len(uk) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(uk, v -> list_contains(ka, v)
        |                                        AND list_contains(kb, v))) AS DOUBLE)
        |              / CAST(len(uk) AS DOUBLE) END AS j
        |  FROM e)
        |SELECT CAST(round(j * 1e6) AS BIGINT) AS jaccard_micros,
        |  CAST(FLOOR(j * CAST(union_est AS DOUBLE)) AS BIGINT) AS intersection_est,
        |  union_est
        |FROM f""".stripMargin),
    // CAST each pivoted SUM: DuckDB returns HUGEINT for integer SUM, which
    // the driver's pandas comparator materializes as float64 and the hash
    // compare against Spark's bigint fails.
    QuerySpec("pivot_events", pivotEvents,
      """SELECT CAST(user_id % 10 AS INT) AS user_bucket,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        |FROM events GROUP BY 1""".stripMargin),
    QuerySpec("window_topk", windowTopk,
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin),
    QuerySpec("running_total", runningTotal,
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders WHERE o_custkey < 100""".stripMargin),
    QuerySpec("rollup_agg", rollupAgg,
      s"""${TaxiShape.stagingSql}
         |SELECT year, month, count(*) AS n_trips,
         |  CAST(SUM(CAST(fare_amount AS DECIMAL(18,2))) AS DOUBLE) AS sum_fare,
         |  CAST(GROUPING(year) AS INT) AS g_year,
         |  CAST(GROUPING(month) AS INT) AS g_month
         |FROM staging GROUP BY ROLLUP(year, month)""".stripMargin),
    // arbitrary GROUPING SETS lattice (the rollup/cube generalization):
    // the exact set list the caller wants, one shuffle, grouping_id
    // disambiguates rollup-NULLs from data NULLs
    // DuckDB GROUPING(a, b) carries Spark's grouping_id bitmask
    // convention (1 bit per aggregated-away column)
    QuerySpec("grouping_sets_agg", (s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      e.groupingSets(
          Seq(Seq(col("event_type")), Seq(col("event_type"), col("day")), Seq()),
          col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          Exact.dsum(col("value")).as("sum_value"),
          grouping_id().cast("long").as("gid"))
    },
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, value FROM events)
        |SELECT event_type, day, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(GROUPING(event_type, day) AS BIGINT) AS gid
        |FROM e GROUP BY GROUPING SETS ((event_type), (event_type, day), ())""".stripMargin),
    QuerySpec("asof_join", asofJoin,
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, c.ts, p.purchase_value
        |FROM clicks c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin),
    // the tolerance variant: the SAME asof match, then the matched
    // row's age decides — stale payloads answer NULL
    QuerySpec("asof_join_tolerance", asofJoinTolerance,
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, c.ts,
        |  CASE WHEN p.ts >= c.ts - INTERVAL 48 HOURS
        |    THEN p.purchase_value END AS purchase_value
        |FROM clicks c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin),
    QuerySpec("stats_summary", statsSummary,
      """SELECT event_type, count(*) AS n,
        |  min(value) AS min_value, max(value) AS max_value,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(value) AS DOUBLE) AS avg_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin),
    QuerySpec("value_histogram", (s, d) =>
      Tables.events(s, d)
        .groupBy((floor(col("value") / 5) * 5).cast("double").as("bucket_start"))
        .agg(count(lit(1)).as("n")),
      """SELECT CAST(floor(value / 5) * 5 AS DOUBLE) AS bucket_start, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),
    QuerySpec("user_event_types", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        // sort makes the collected set deterministic; joined to a plain
        // string because the driver's pandas comparator cannot sort/hash
        // array-typed columns (numpy.ndarray is unhashable)
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",").as("event_types"),
          count(lit(1)).as("n_events")),
      """SELECT user_id,
        |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types,
        |  count(*) AS n_events
        |FROM events GROUP BY user_id""".stripMargin),
    QuerySpec("funnel", funnel,
      """WITH v AS (
        |  SELECT user_id, min(ts) AS first_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS first_purchase_after
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= v.first_view
        |  GROUP BY 1)
        |SELECT v.user_id, v.first_view, p.first_purchase_after
        |FROM v LEFT JOIN p ON v.user_id = p.user_id""".stripMargin),
    // ordered 3-step funnel depth counts (view -> click -> purchase),
    // each stage one slim per-user min aggregate joined forward
    QuerySpec("funnel_steps", funnelSteps,
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= v.t_view GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS depth, 'view' AS step,
        |  CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
        |UNION ALL SELECT 2, 'click', CAST((SELECT count(*) FROM c) AS BIGINT)
        |UNION ALL SELECT 3, 'purchase', CAST((SELECT count(*) FROM p) AS BIGINT)""".stripMargin),
    QuerySpec("percentiles", percentiles,
      """SELECT event_type,
        |  quantile_cont(value, 0.25) AS p25,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.75) AS p75
        |FROM events GROUP BY event_type""".stripMargin),
    // per-group winsorization: clip to exact [p05, p95] — robust
    // scaling for score columns ahead of thresholding/mixing
    QuerySpec("value_winsorize", (s, d) =>
      graft.operators.Robust.winsorize(Tables.events(s, d)
          .select("event_id", "event_type", "value"),
          "value", "event_type")
        .select("event_id", "event_type", "value", "value_w"),
      """WITH cuts AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.05) AS lo,
        |    quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  CASE WHEN e.value IS NULL THEN NULL
        |       ELSE least(greatest(e.value, c.lo), c.hi) END AS value_w
        |FROM events e JOIN cuts c USING (event_type)""".stripMargin),
    // median/MAD robust z per group — the outlier scale heavy tails
    // can't corrupt; zero-MAD groups honestly score NULL
    QuerySpec("value_robust_z", (s, d) =>
      graft.operators.Robust.robustZ(Tables.events(s, d)
          .select("event_id", "event_type", "value"),
          "value", "event_type")
        .select("event_id", "event_type", "value", "robust_z"),
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM events e JOIN med m USING (event_type) GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  CASE WHEN e.value IS NULL OR mad.mad = 0 THEN NULL
        |       ELSE (e.value - med.med) / mad.mad END AS robust_z
        |FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)""".stripMargin),
    // per-group decile + percent-rank features (distribution-free
    // scaling; unique total order via the event_id tiebreak)
    // unique ordering (value, event_id tiebreak) makes ntile and
    // percent_rank deterministic in both engines; NULL values are
    // excluded (the engines disagree on NULL sort order)
    QuerySpec("value_ntile", (s, d) =>
      graft.operators.Robust.rankTransform(Tables.events(s, d)
          .select("event_id", "event_type", "value"),
          "value", "event_type", "event_id"),
      """SELECT event_id, event_type, value,
        |  CAST(ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS INT) AS decile,
        |  percent_rank() OVER (PARTITION BY event_type ORDER BY value, event_id) AS pct_rank
        |FROM events WHERE value IS NOT NULL""".stripMargin),
    // both engines truncate weeks to ISO Monday; the week index is
    // exact integer day arithmetic
    QuerySpec("retention_cohorts", retentionCohorts,
      """WITH f AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY 1)
        |SELECT f.cohort_week,
        |  CAST(date_diff('day', f.cohort_week, date_trunc('week', e.ts)) // 7 AS BIGINT) AS weeks_since,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin),
    QuerySpec("cube_agg", cubeAgg,
      """WITH e AS (
        |  SELECT event_type, CAST(year(ts) AS INT) AS year, value FROM events)
        |SELECT event_type, year, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(GROUPING(event_type) AS INT) AS g_type,
        |  CAST(GROUPING(year) AS INT) AS g_year
        |FROM e GROUP BY CUBE(event_type, year)""".stripMargin),
    // the merge of history + batch partials must equal the one-shot
    // aggregate — which is what the oracle computes directly
    QuerySpec("incremental_agg", incrementalAgg,
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  min(ts) AS first_ts, max(ts) AS last_ts
        |FROM events GROUP BY 1""".stripMargin),
    // KMV mergeability makes the incremental sketch bit-identical to
    // the whole-data sketch — same replay as distinct_sketch
    QuerySpec("distinct_sketch_incremental", distinctSketchIncremental,
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (
        |  SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        |  FROM h)
        |SELECT r.event_type,
        |  CAST(CASE WHEN max(r.rn) < 64 THEN max(r.rn)
        |       ELSE FLOOR(63 * 1152921504606846976.0
        |                  / max(CASE WHEN r.rn = 64 THEN r.hv END)) END AS BIGINT)
        |    AS distinct_est,
        |  string_agg(r.hv, ',' ORDER BY r.hv) AS kmin
        |FROM r
        |WHERE r.rn <= 64
        |GROUP BY r.event_type""".stripMargin),
    QuerySpec("event_pairs", eventPairs,
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT DISTINCT user_id, event_type,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS n_sessions
        |FROM s a JOIN s b ON a.user_id = b.user_id
        |  AND a.session_id = b.session_id AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin),
    QuerySpec("session_paths", sessionPaths,
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g),
        |p AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM s GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions FROM p
        |GROUP BY 1 ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin),
    // last-touch replay: running last_value IGNORE NULLS per carried
    // column over the same (ts, event_id) ordering — identical null
    // pattern means all three come from the same touch row
    QuerySpec("attribution", attribution,
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |t AS (
        |  SELECT user_id, event_id, event_type, ts_us,
        |    last_value(CASE WHEN event_type IN ('click','view') THEN event_id END IGNORE NULLS) OVER w AS touch_event_id,
        |    last_value(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS) OVER w AS touch_type,
        |    last_value(CASE WHEN event_type IN ('click','view') THEN ts_us END IGNORE NULLS) OVER w AS touch_us
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id AS purchase_event_id, user_id, touch_event_id,
        |  touch_type, ts_us - touch_us AS gap_us
        |FROM t
        |WHERE event_type = 'purchase' AND touch_us IS NOT NULL
        |  AND ts_us - touch_us <= 86400000000""".stripMargin),
    // MATCH_RECOGNIZE-lite: count non-overlapping occurrences of the
    // behavioral pattern "one-or-more views, then click, then
    // purchase" (ADJACENT — an interleaved event breaks the run) in
    // each user's time-ordered event-type sequence; the per-user
    // string is bounded by that user's event count, regexp runs
    // map-side after one groupBy
    // non-overlapping greedy scan is left-to-right in both regex
    // engines; the pattern has no alternation so RE2 == java.util.regex
    QuerySpec("event_pattern", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          e => e.getField("event_type"))).as("seq"))
        .select(col("user_id"),
          size(expr("regexp_extract_all(seq, '(view )+click purchase', 0)"))
            .cast("long").as("n_matches"))
        .filter(col("n_matches") > 0)
        .orderBy("user_id"),
      """WITH seqs AS (
        |  SELECT user_id, string_agg(event_type, ' ' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY 1)
        |SELECT user_id,
        |  CAST(len(regexp_extract_all(seq, '(view )+click purchase')) AS BIGINT) AS n_matches
        |FROM seqs
        |WHERE len(regexp_extract_all(seq, '(view )+click purchase')) > 0
        |ORDER BY user_id""".stripMargin),
    // first-order Markov transition counts + fixed-point row
    // probabilities over in-session consecutive event pairs
    // same gap-sessionization CTEs as session_paths, then LAG within
    // the session and exact fixed-point row normalization
    QuerySpec("transition_matrix", transitionMatrix,
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g),
        |pr AS (
        |  SELECT LAG(event_type) OVER (PARTITION BY user_id, session_id
        |      ORDER BY ts, event_id) AS from_type,
        |    event_type AS to_type
        |  FROM s),
        |c AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM pr WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  CAST((1000000 * c.n) // t.row_total AS BIGINT) AS p_fp
        |FROM c JOIN t USING (from_type)""".stripMargin),
    QuerySpec("skew_report", skewReport,
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT user_id AS top_key, n AS top_n FROM c
        |      ORDER BY n DESC, user_id DESC LIMIT 1),
        |a AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_keys FROM c)
        |SELECT n_rows, n_keys, top_key, top_n,
        |  top_n * 10000 // n_rows AS top_share_bp,
        |  top_n * n_keys * 100 // n_rows AS skew_x100
        |FROM a, t""".stripMargin),
    // monitoring -> action: per candidate shuffle key, the salting
    // verdict and factor at 32-way parallelism (event_type's 5 hot
    // keys need salting, user_id's 150 balanced keys do not)
    // advice replay: ceil arithmetic per audited key column, UNION ALL
    QuerySpec("skew_advice", (s, d) =>
      graft.operators.Profiler.skewAdvice(
          Tables.events(s, d), Seq("user_id", "event_type"), partitions = 32)
        .orderBy("key_col"),
      """WITH u AS (
        |  SELECT CAST(count(*) AS BIGINT) AS top_n FROM events GROUP BY user_id
        |  ORDER BY 1 DESC LIMIT 1),
        |ua AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |              CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys FROM events),
        |e AS (
        |  SELECT CAST(count(*) AS BIGINT) AS top_n FROM events GROUP BY event_type
        |  ORDER BY 1 DESC LIMIT 1),
        |ea AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |              CAST(count(DISTINCT event_type) AS BIGINT) AS n_keys FROM events),
        |rows_ AS (
        |  SELECT 'user_id' AS key_col, ua.n_rows, ua.n_keys, u.top_n FROM ua, u
        |  UNION ALL
        |  SELECT 'event_type', ea.n_rows, ea.n_keys, e.top_n FROM ea, e)
        |SELECT key_col, n_rows, n_keys, top_n,
        |  (n_rows + 31) // 32 AS ideal_rows,
        |  top_n > 2 * ((n_rows + 31) // 32) AS skewed,
        |  CASE WHEN top_n > 2 * ((n_rows + 31) // 32)
        |    THEN (top_n + (n_rows + 31) // 32 - 1) // ((n_rows + 31) // 32)
        |    ELSE 1 END AS salt_factor,
        |  CASE WHEN top_n > 2 * ((n_rows + 31) // 32)
        |    THEN 'top ' || top_n || ' > 2 x ideal ' || ((n_rows + 31) // 32)
        |    ELSE 'balanced' END AS reason
        |FROM rows_ ORDER BY key_col""".stripMargin),
    // MinHash banding s-curve in exact basis points — the (bands,
    // rows) tuning table for the engine's LSH convention
    QuerySpec("lsh_tuning", lshTuning,
      """WITH g AS (SELECT CAST(i * 500 AS BIGINT) AS s_bp FROM range(1, 20) t(i)),
        |p AS (SELECT s_bp,
        |    CAST((s_bp * s_bp * s_bp) // 100000000 AS BIGINT) AS s3_bp
        |  FROM g)
        |SELECT s_bp, s3_bp,
        |  CAST(10000 - ((10000 - s3_bp) * (10000 - s3_bp) * (10000 - s3_bp)
        |    * (10000 - s3_bp)) // 1000000000000 AS BIGINT) AS p_candidate_bp
        |FROM p""".stripMargin),
    QuerySpec("sessionize", sessionize,
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
        |FROM s GROUP BY 1, 2""".stripMargin),
    QuerySpec("events_window_agg", eventsWindowAgg,
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    // mergeable quantile sketch in its exact regime (k=32768 >= group
    // sizes at verify scale): weighted-sample quantiles == the
    // ceil(p*n)-th order statistics
    QuerySpec("quantile_sketch", (s, d) => {
      import graft.expressions.SketchAggregates
      Tables.events(s, d).groupBy("event_type")
        .agg(SketchAggregates.quantileSketch(col("value"), 32768).as("sk"))
        .select(col("event_type"),
          SketchAggregates.sketchQuantileDisc(col("sk"), 25).as("p25"),
          SketchAggregates.sketchQuantileDisc(col("sk"), 50).as("p50"),
          SketchAggregates.sketchQuantileDisc(col("sk"), 75).as("p75"),
          SketchAggregates.sketchQuantileDisc(col("sk"), 90).as("p90"))
    },
      """WITH r AS (SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type,
        |  max(CASE WHEN rn = (n * 25 + 99) // 100 THEN value END) AS p25,
        |  max(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50,
        |  max(CASE WHEN rn = (n * 75 + 99) // 100 THEN value END) AS p75,
        |  max(CASE WHEN rn = (n * 90 + 99) // 100 THEN value END) AS p90
        |FROM r GROUP BY 1""".stripMargin),
    // RFM user features with rank-free quintile scores: per-user
    // recency/frequency/monetary collapse in one agg, quintile
    // CUTPOINTS come from the mergeable quantile sketch (exact regime
    // at test scale, range_plan convention) and broadcast back for a
    // map-side bucket — no global ntile sort, no unpartitioned window
    // over users
    // decile cutpoints = order statistics at rank (n*p+99)//100 (the
    // sketch's exact regime), kept WITH multiplicity (a duplicated
    // cut value narrows a bucket to empty, and the replay must agree)
    // quintile cutpoints replayed as order statistics at rank
    // (n*p+99)//100 (the range_plan disc-quantile convention), then
    // the same strictly-below bucket count
    QuerySpec("user_rfm", (s, d) => {
      import graft.expressions.SketchAggregates._
      val ev = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("__ts_us"),
        round(col("value") * 100).cast("long").as("__cents"))
      val g = ev.agg(max(col("__ts_us")).as("__maxus"))
      val base = ev.groupBy("user_id").agg(
          max(col("__ts_us")).as("__last_us"),
          count(lit(1)).as("frequency"),
          sum(col("__cents")).as("monetary_cents"))
        .crossJoin(broadcast(g))
        .withColumn("recency_days",
          expr("(__maxus - __last_us) div 86400000000L"))
        .select("user_id", "recency_days", "frequency", "monetary_cents")
      val cuts = base.agg(
          quantileSketch(col("recency_days").cast("double"), 32768).as("__skr"),
          quantileSketch(col("frequency").cast("double"), 32768).as("__skf"),
          quantileSketch(col("monetary_cents").cast("double"), 32768).as("__skm"))
        .select(
          array((1 to 4).map(i => sketchQuantileDisc(col("__skr"), i * 20)): _*).as("__rc"),
          array((1 to 4).map(i => sketchQuantileDisc(col("__skf"), i * 20)): _*).as("__fc"),
          array((1 to 4).map(i => sketchQuantileDisc(col("__skm"), i * 20)): _*).as("__mc"))
      base.crossJoin(broadcast(cuts))
        .select(col("user_id"), col("recency_days"), col("frequency"),
          col("monetary_cents"),
          // low recency is GOOD (5), high frequency/monetary are GOOD
          (lit(5L) - size(filter(col("__rc"),
            c => col("recency_days").cast("double") > c)).cast("long")).as("r_score"),
          (lit(1L) + size(filter(col("__fc"),
            c => col("frequency").cast("double") > c)).cast("long")).as("f_score"),
          (lit(1L) + size(filter(col("__mc"),
            c => col("monetary_cents").cast("double") > c)).cast("long")).as("m_score"))
        .withColumn("rfm",
          col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
    },
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |base AS (
        |  SELECT user_id,
        |    CAST(((SELECT max(ts_us) FROM ev) - max(ts_us)) // 86400000000 AS BIGINT) AS recency_days,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(SUM(cents) AS BIGINT) AS monetary_cents
        |  FROM ev GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM base),
        |ranks AS (SELECT p, (n * p + 99) // 100 AS rn
        |  FROM nn, (VALUES (20),(40),(60),(80)) t(p)),
        |rc AS (SELECT list(b.recency_days ORDER BY ranks.p) AS cuts FROM ranks
        |  JOIN (SELECT recency_days, ROW_NUMBER() OVER (ORDER BY recency_days) AS rn
        |        FROM base) b ON b.rn = ranks.rn),
        |fc AS (SELECT list(b.frequency ORDER BY ranks.p) AS cuts FROM ranks
        |  JOIN (SELECT frequency, ROW_NUMBER() OVER (ORDER BY frequency) AS rn
        |        FROM base) b ON b.rn = ranks.rn),
        |mc AS (SELECT list(b.monetary_cents ORDER BY ranks.p) AS cuts FROM ranks
        |  JOIN (SELECT monetary_cents, ROW_NUMBER() OVER (ORDER BY monetary_cents) AS rn
        |        FROM base) b ON b.rn = ranks.rn),
        |s AS (
        |  SELECT user_id, recency_days, frequency, monetary_cents,
        |    CAST(5 - len(list_filter(rc.cuts, x -> recency_days > x)) AS BIGINT) AS r_score,
        |    CAST(1 + len(list_filter(fc.cuts, x -> frequency > x)) AS BIGINT) AS f_score,
        |    CAST(1 + len(list_filter(mc.cuts, x -> monetary_cents > x)) AS BIGINT) AS m_score
        |  FROM base, rc, fc, mc)
        |SELECT user_id, recency_days, frequency, monetary_cents,
        |  r_score, f_score, m_score,
        |  CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm
        |FROM s""".stripMargin),
    // explicit range-partition planner: decile cutpoints from ONE
    // mergeable KLL sketch (exact regime at verify scale) broadcast
    // back as the bucket bounds, rows tagged map-side, per-bucket
    // census proves the balance a 100 TB global sort / sorted export
    // would get — the deterministic, persistable replacement for
    // RangePartitioner's per-run reservoir sample (stable shard
    // boundaries across reruns and appends)
    QuerySpec("range_plan", (s, d) => {
      import graft.expressions.SketchAggregates._
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
      val cuts = ev.agg(quantileSketch(col("value"), 32768).as("sk"))
        .select(array((1 to 9).map(i =>
          sketchQuantileDisc(col("sk"), i * 10)): _*).as("cuts"))
      ev.crossJoin(broadcast(cuts))
        .select(col("value"),
          size(filter(col("cuts"), c => col("value") > c)).cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min(col("value")).as("lo"), max(col("value")).as("hi"))
    },
      """WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
        |r AS (SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS rn FROM v),
        |nn AS (SELECT count(*) AS n FROM v),
        |ranks AS (SELECT p, (n * p + 99) // 100 AS rn
        |  FROM nn, (VALUES (10),(20),(30),(40),(50),(60),(70),(80),(90)) t(p)),
        |cuts AS (SELECT list(r.value ORDER BY ranks.p) AS cuts
        |  FROM ranks JOIN r ON r.rn = ranks.rn)
        |SELECT CAST(len(list_filter(cuts, x -> value > x)) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(value) AS lo, max(value) AS hi
        |FROM v, cuts GROUP BY 1""".stripMargin),
    // bucketized interval-overlap join (no nested loop); intervals are
    // [ts, ts + floor(value) seconds] per event, two user cohorts
    QuerySpec("interval_join", (s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("lo"),
        (unix_timestamp(col("ts")) + floor(col("value")).cast("long") * 60).as("hi"))
      val a = ev.filter(col("user_id") < 3)
        .select(col("event_id").as("a_id"), col("lo").as("a_lo"), col("hi").as("a_hi"))
      val b = ev.filter(col("user_id") >= 3 && col("user_id") < 6)
        .select(col("event_id").as("b_id"), col("lo").as("b_lo"), col("hi").as("b_hi"))
      graft.operators.Joins.intervalJoin(a, b,
          "a_lo", "a_hi", "b_lo", "b_hi", bucketWidth = 3600)
        .select("a_id", "b_id", "a_lo", "a_hi", "b_lo", "b_hi")
    },
      """WITH ev AS (SELECT event_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS lo,
        |    CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value) AS BIGINT) * 60 AS hi
        |  FROM events),
        |a AS (SELECT event_id AS a_id, lo AS a_lo, hi AS a_hi
        |      FROM ev WHERE user_id < 3),
        |b AS (SELECT event_id AS b_id, lo AS b_lo, hi AS b_hi
        |      FROM ev WHERE user_id >= 3 AND user_id < 6)
        |SELECT a_id, b_id, a_lo, a_hi, b_lo, b_hi
        |FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi""".stripMargin),
    // per-group 3-sigma outliers with engine-exact integer-moment test
    QuerySpec("value_outliers", (s, d) =>
      graft.validate.Expectations.outliers(
          Tables.events(s, d).select("event_id", "event_type", "value"),
          "value", Seq("event_type"), z = 3)
        .select("event_id", "event_type", "value"),
      """WITH c AS (SELECT event_id, event_type, value,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc FROM events),
        |st AS (SELECT event_type, count(*) AS n,
        |    CAST(SUM(vc) AS BIGINT) AS s,
        |    CAST(SUM(vc * vc) AS BIGINT) AS ss
        |  FROM c GROUP BY 1)
        |SELECT event_id, event_type, value
        |FROM c JOIN st USING (event_type)
        |WHERE CAST(vc * n - s AS DOUBLE) * CAST(vc * n - s AS DOUBLE)
        |  > 9.0 * (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
        |           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))""".stripMargin),
    // regular-grid resample + forward fill (gap-filled hourly series)
    QuerySpec("events_resample", (s, d) =>
      graft.operators.TimeSeries.resampleFfill(
        Tables.events(s, d).filter(col("user_id") < 5),
        "user_id", "ts", "value", "hour"),
      """WITH base AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bucket_sum,
        |    count(*) AS n_events
        |  FROM events WHERE user_id < 5 GROUP BY 1, 2),
        |span AS (SELECT user_id, min(bucket) AS mn, max(bucket) AS mx
        |         FROM base GROUP BY 1),
        |grid AS (SELECT user_id,
        |    unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
        |  FROM span)
        |SELECT g.user_id, g.bucket,
        |  CAST(coalesce(b.n_events, 0) AS BIGINT) AS n_events,
        |  b.bucket_sum IS NULL AS gap,
        |  last_value(b.bucket_sum IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.bucket
        |    ROWS UNBOUNDED PRECEDING) AS filled_sum
        |FROM grid g LEFT JOIN base b USING (user_id, bucket)""".stripMargin),
    // SCD Type 2 validity intervals from the event change log
    QuerySpec("scd2_user_state", (s, d) =>
      graft.operators.TimeSeries.scd2(
        Tables.events(s, d).filter(col("user_id") < 10),
        "user_id", "ts", "event_id", "event_type"),
      """WITH ordered AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER w AS prev,
        |    ROW_NUMBER() OVER w AS rn
        |  FROM events WHERE user_id < 10
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |runs AS (SELECT user_id, ts, event_id, event_type FROM ordered
        |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        |FROM runs""".stripMargin),
    // trailing 7-day rolling sum/count per user (RANGE frame over
    // epoch micros — deterministic among equal timestamps, no ROWS
    // order dependence; exact integer-cents sum)
    QuerySpec("events_rolling", (s, d) =>
      graft.operators.TimeSeries.rollingAgg(
        Tables.events(s, d), "user_id", "ts", "value",
        windowMicros = 7L * 86400L * 1000000L),
      """SELECT event_id, ts, user_id, event_type, value, props,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rolling_sum,
        |  count(*) OVER w AS rolling_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)""".stripMargin),
    // feed-dropout detection: same-key event pairs spaced > 1 hour
    QuerySpec("events_gaps", (s, d) =>
      graft.operators.TimeSeries.gaps(
        Tables.events(s, d), "user_id", "ts", "event_id",
        minGapMicros = 3600L * 1000000L),
      """WITH l AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    lag(epoch_us(ts)) OVER w AS prev_us,
        |    lag(event_id) OVER w AS prev_event_id
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT user_id, prev_event_id, event_id, ts_us - prev_us AS gap_us
        |FROM l WHERE ts_us - prev_us > 3600000000""".stripMargin),
    // backfill planner: which DATE ranges are missing (day-of-month %
    // 7 == 3 days dropped to simulate failed loads) — islands over
    // distinct days, gaps between consecutive islands
    // islands replay over the same filtered day set
    QuerySpec("backfill_plan", (s, d) =>
      graft.operators.TimeSeries.missingRanges(
          Tables.events(s, d).filter(dayofmonth(col("ts")) % 7 =!= 3), "ts")
        .orderBy("gap_start"),
      """WITH days AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
        |  WHERE day(ts) % 7 <> 3),
        |i AS (
        |  SELECT day - CAST(ROW_NUMBER() OVER (ORDER BY day) AS INTEGER) AS grp, day
        |  FROM days),
        |isl AS (SELECT grp, MIN(day) AS island_start, MAX(day) AS island_end
        |        FROM i GROUP BY 1),
        |g AS (SELECT island_end,
        |        LEAD(island_start) OVER (ORDER BY island_start) AS next_start
        |      FROM isl)
        |SELECT island_end + 1 AS gap_start, next_start - 1 AS gap_end,
        |  CAST(date_diff('day', island_end, next_start) - 1 AS BIGINT) AS n_days_missing
        |FROM g WHERE next_start IS NOT NULL ORDER BY 1""".stripMargin),
    // anomaly persistence: longest consecutive run of >= 50.00 events
    // per user (gaps-and-islands; row-number difference, struct-max
    // argmax winner, ties to the earliest streak)
    // islands replay: rank-difference grouping; within an island the
    // (ts, event_id) order IS the rn order, so arg_min/arg_max on rn
    // pick the engine's struct-min start and struct-max end exactly
    QuerySpec("events_streaks", (s, d) =>
      graft.operators.TimeSeries.streaks(
          Tables.events(s, d), "user_id", "ts", "event_id",
          col("value") >= 50.0)
        .orderBy("user_id"),
      """WITH b AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |h AS (
        |  SELECT user_id, event_id, ts_us, rn,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS rh
        |  FROM b WHERE value >= 50),
        |i AS (
        |  SELECT user_id, rn - rh AS grp,
        |    CAST(count(*) AS BIGINT) AS streak_len,
        |    MIN(ts_us) AS s_us,
        |    arg_min(event_id, rn) AS start_event_id,
        |    arg_max(event_id, rn) AS end_event_id
        |  FROM h GROUP BY 1, 2)
        |SELECT user_id, streak_len, start_event_id, end_event_id
        |FROM i
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        |  ORDER BY streak_len DESC, s_us ASC, start_event_id ASC) = 1
        |ORDER BY user_id""".stripMargin),
    // per-user daily quota gate ([[graft.operators.TimeSeries
    // .rateLimit]]): admit the first 3 events per user per event-time
    // day, report the per-window admission audit — one shuffle by
    // user, the rank window strictly per (user, day); streaming twin
    // in StatefulRateLimit carries two longs per user
    // quota admission replay: first-3-per-(user, day) by (ts, id) rank
    QuerySpec("rate_limit", (s, d) =>
      graft.operators.TimeSeries.rateLimit(
          Tables.events(s, d), "user_id", "ts", "event_id",
          maxPerWindow = 3)
        .groupBy("user_id", "window_start")
        .agg(count(lit(1)).as("n_events"),
          sum("admitted").cast("long").as("n_admitted"),
          (count(lit(1)) - sum("admitted")).cast("long").as("n_dropped")),
      """WITH w AS (
        |  SELECT user_id, event_id, ts, date_trunc('day', ts) AS window_start,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, window_start, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(*) FILTER (rn <= 3) AS BIGINT) AS n_admitted,
        |  CAST(count(*) FILTER (rn > 3) AS BIGINT) AS n_dropped
        |FROM w GROUP BY 1, 2""".stripMargin),
    // per-user drift alarms: one-sided CUSUM in integer cents against
    // a 55.00 reference, alarm at 400.00 of accumulated excess — the
    // sequential recurrence runs as two cumulative windows (prefix-sum
    // identity), one shuffle by user
    // CUSUM replay: S_i = P_i - min(0, running min of P); both windows
    // MUST share the (ts, event_id) ordering — an event_id-only min
    // would silently assume arrival order == time
    QuerySpec("events_cusum", (s, d) =>
      graft.operators.TimeSeries.cusum(
          Tables.events(s, d), "user_id", "ts", "event_id",
          valueCents = round(col("value") * 100).cast("long"),
          refCents = 5500L, thresholdCents = 40000L)
        .orderBy("user_id", "event_id"),
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) - 5500 AS d
        |  FROM events),
        |p AS (
        |  SELECT user_id, ts, event_id,
        |    SUM(d) OVER w AS pp
        |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (
        |  SELECT user_id, event_id,
        |    pp - LEAST(0, MIN(pp) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
        |  FROM p)
        |SELECT user_id, event_id, CAST(cusum AS BIGINT) AS cusum FROM s
        |WHERE cusum >= 40000 ORDER BY user_id, event_id""".stripMargin),
    // watermark tuning report: per event-time hour, what a 30-minute
    // watermark replayed in arrival (event_id) order would drop as
    // late — two-phase sharded prefix max, never a global sort
    QuerySpec("watermark_audit", (s, d) =>
      graft.operators.TimeSeries.watermarkAudit(
        Tables.events(s, d), delayMicros = 1800L * 1000000L,
        shardWidth = 4096L),
      """WITH b AS (
        |  SELECT CAST(event_id AS BIGINT) AS a, epoch_us(ts) AS t,
        |    CAST(event_id AS BIGINT) // 4096 AS s
        |  FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL),
        |l AS (
        |  SELECT t, s,
        |    max(t) OVER (PARTITION BY s ORDER BY a
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm_in
        |  FROM b),
        |sm AS (SELECT s, max(t) AS smax FROM b GROUP BY s),
        |sc AS (SELECT s, max(smax) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm_carry FROM sm),
        |w AS (
        |  SELECT l.t,
        |    greatest(coalesce(l.pm_in, -4000000000000000000),
        |             coalesce(sc.pm_carry, -4000000000000000000)) AS pm
        |  FROM l JOIN sc USING (s)),
        |g AS (
        |  SELECT t // 3600000000 AS h,
        |    CASE WHEN pm > -4000000000000000000 AND t < pm - 1800000000
        |         THEN 1 ELSE 0 END AS late
        |  FROM w)
        |SELECT CAST(h * 3600000000 AS BIGINT) AS window_start_us,
        |  count(*) AS n_events,
        |  CAST(SUM(late) AS BIGINT) AS n_late,
        |  CAST((SUM(late) * 10000) // greatest(count(*), 1) AS BIGINT) AS late_bps
        |FROM g GROUP BY h""".stripMargin),
    // Misra-Gries frequent-items UDAF in its exact regime (k=32 >= 25
    // distinct brands): counters provably exact, so the sketch output
    // hash-matches the full GROUP BY it replaces at scale.
    QuerySpec("heavy_hitters", (s, d) =>
      Tables.part(s, d)
        .agg(graft.expressions.SketchAggregates
          .misraGries(col("p_brand"), 32).as("hh"))
        .select(posexplode(col("hh")))
        .select((col("pos") + 1).cast("bigint").as("rank"),
          col("col.item").as("item"), col("col.cnt").as("cnt")),
      """SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, item ASC) AS BIGINT) AS rank,
        |  item, cnt
        |FROM (SELECT p_brand AS item, count(*) AS cnt FROM part GROUP BY 1)""".stripMargin),
    // Count-Min frequency sketch (depth 4 × width 32): per-brand point
    // estimates read back from the ONE stored counter matrix — the
    // md5-derived buckets make even the collision error deterministic,
    // so the oracle checks the estimates themselves, not just bounds
    QuerySpec("freq_sketch", (s, d) => {
      import graft.expressions.SketchAggregates._
      val sk = Tables.part(s, d).agg(countMin(col("p_brand"), 4, 32).as("sk"))
      Tables.part(s, d).select(col("p_brand")).distinct()
        .crossJoin(broadcast(sk))
        .select(col("p_brand"),
          cmEstimate(col("sk"), col("p_brand"), 4, 32).as("est"))
    },
      """WITH h AS (
        |  SELECT p_brand,
        |    CAST(concat('0x', substring(md5(p_brand), 1, 15)) AS BIGINT)
        |      % 2147483648 AS h1,
        |    CAST(concat('0x', substring(md5(p_brand), 16, 15)) AS BIGINT)
        |      % 2147483648 AS h2
        |  FROM part),
        |cnt AS (
        |  SELECT j, (h1 + j * h2) % 2147483648 % 32 AS b,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM h, range(0, 4) AS t(j) GROUP BY 1, 2),
        |d AS (SELECT DISTINCT p_brand, h1, h2 FROM h)
        |SELECT d.p_brand, min(cnt.c) AS est
        |FROM d JOIN cnt ON cnt.b = (d.h1 + cnt.j * d.h2) % 2147483648 % 32
        |GROUP BY 1""".stripMargin),
  )
}
