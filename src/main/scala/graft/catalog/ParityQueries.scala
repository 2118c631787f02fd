package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Exact, Tables}
import graft.clean.Clean
import graft.staging.Staging
import graft.warehouse.Warehouse
import graft.validate.Expectations
import graft.taxi.TaxiShape
import Fragments._

/** Taxi staging and warehouse parity, TPC-H joins, validation, and
  * semi-structured and file-format round trips. */
object ParityQueries {

  /** A1-lite flagship: calendar-derived keys + exact grouped sums. */
  private def q1Agg(spark: SparkSession, dir: String): DataFrame =
    TaxiShape.staging(spark, dir)
      .groupBy(col("year"), col("month"), col("dow"), col("service_type"))
      .agg(
        count(lit(1)).as("n_trips"),
        Exact.dsum(col("passenger_count")).as("sum_passengers"),
        Exact.dsum(col("fare_amount")).as("sum_fare"),
        Exact.dsum(col("total_amount")).as("sum_total"))

  /** The A1 grouping-key set (reference: datalake_to_dw.py:104-130). */
  private val stagingAggKeys = Seq("year", "month", "dow", "vendor_id",
    "rate_code_id", "pickup_location_id", "dropoff_location_id",
    "payment_type_id", "pickup_datetime", "dropoff_datetime",
    "pickup_latitude", "pickup_longitude",
    "dropoff_latitude", "dropoff_longitude")

  /** A1 full: the reference's staging aggregate — grouping keys include
    * the raw timestamps (dedup-and-sum semantics, datalake_to_dw.py:104-130).
    * Near-unique keys mean partial aggregation removes almost nothing,
    * so the WHOLE table crosses the exchange — semantics-exact but
    * superlinear at scale; [[stagingAggBucketed]] is the scale path. */
  private def stagingAgg(spark: SparkSession, dir: String): DataFrame =
    Staging.stagingAggregateDeferredCalendar(
      TaxiShape.staging(spark, dir), keys = stagingAggKeys)

  /** Build-if-absent of `staging_agg_bucketed`'s layout; returns the
    * table name. Layout cost is paid ONCE per source snapshot and
    * amortized — the operator's whole point. The table name carries
    * the source-dir fingerprint, so a same-session re-run (bench
    * steady state, a downstream consumer) reuses the layout, while a
    * different SF dir rebuilds; a fresh JVM also rebuilds (in-memory
    * catalog), which writeBucketed's orphan-location sweep makes safe.
    * Production would key this on a snapshot/version id instead. */
  private def ensureStagingBucketedLayout(spark: SparkSession, dir: String): String = {
    val table = "graft_staging_bucketed_" + dirFingerprint(dir)
    if (!spark.catalog.tableExists(table)) {
      graft.sources.Bucketing.writeBucketed(
        TaxiShape.staging(spark, dir), table,
        bucketCol = "pickup_datetime", nBuckets = 32)
    }
    table
  }

  /** A1 at scale: identical semantics (and oracle SQL) to
    * [[stagingAgg]], but the staging frame is first laid out BUCKETED
    * on `pickup_datetime` — a member of the grouping-key set, so the
    * bucketed scan's hash partitioning already satisfies the
    * aggregation's required distribution and the re-aggregation plans
    * with NO Exchange (PlanSpec-guarded). At 100 TB this converts the
    * recurring whole-table shuffle (the dominant cost of the exact
    * dedup-and-sum) into a one-time write-side layout cost, amortized
    * over every downstream aggregate/join keyed on the bucket column
    * ([[graft.sources.Bucketing]]). */
  private def stagingAggBucketed(spark: SparkSession, dir: String): DataFrame =
    Staging.stagingAggregateDeferredCalendar(
      spark.table(ensureStagingBucketedLayout(spark, dir)), keys = stagingAggKeys)

  /** Build-if-absent of `fact_pruned`'s month-partitioned layout;
    * returns the layout path. Unlike the bucketed twins
    * (session-scoped catalog — a fresh JVM rebuilds), this layout
    * outlives the JVM, so [[graft.sources.LayoutCache]] supplies both
    * guarantees a cross-JVM cache needs: a sampled CONTENT fingerprint
    * of the source files (regenerated testdata must miss — size+mtime
    * alone can silently replay stale bytes) and an atomic
    * lock-serialized publish (a crashed or racing builder can never
    * surface a partial layout; stale-fingerprint siblings are swept). */
  private def ensureFactPrunedLayout(spark: SparkSession, dir: String): String = {
    val fp = graft.sources.LayoutCache.contentFingerprint(
      Seq("lineitem.parquet", "orders.parquet").map(new java.io.File(dir, _)))
    // scope = the source dir name, so the sf0.001/sf0.01/sf0.1 layouts
    // coexist and a regeneration evicts only ITS scope's stale copy
    // v1: bump when the staging derivation feeding this layout changes
    graft.sources.LayoutCache.ensure("graft_fact_pruned_v1",
      new java.io.File(dir).getName, fp) { tmp =>
      graft.sources.Sinks.partitionedParquet(
        TaxiShape.staging(spark, dir).select(
          date_format(col("pickup_datetime"), "yyyy-MM").as("ym"),
          col("service_type"), col("payment_type_id"),
          col("passenger_count"), col("fare_amount"), col("total_amount")),
        tmp, Seq("ym"))
    }
  }

  /** Star-schema scans at 100 TB are only viable when the fact is laid
    * out partitioned on a join-facing key and the engine prunes fact
    * DIRECTORIES from a selective dim filter at RUNTIME — Spark's
    * dynamic partition pruning. The partition-layout twin of
    * [[stagingAggBucketed]]: staging is written ONCE per source-dir
    * fingerprint partitioned by month (`ym`), and the query joins a
    * calendar dim filtered to one quarter. The month list is NOT
    * derivable at plan time (the filter is on year/quarter, the
    * partition key is `ym`), so only DPP can prune — the broadcast
    * build result doubles as the pruning subquery
    * (reuseBroadcastOnly default: no extra job), and 3 of ~84 month
    * directories are read. PlanSpec asserts the
    * dynamicpruningexpression reached the scan's PartitionFilters.
    * Like the bucketed twin, the layout cost is paid once and reused —
    * but keyed on a CONTENT fingerprint of the source files (see
    * below); production would key on a snapshot id. */
  private def factPruned(spark: SparkSession, dir: String): DataFrame = {
    val fact = spark.read.parquet(ensureFactPrunedLayout(spark, dir))
    val calendar = spark.range(1)
      .select(explode(sequence(
        lit(java.sql.Date.valueOf("1992-01-01")),
        lit(java.sql.Date.valueOf("1998-12-01")),
        expr("interval 1 month"))).as("m"))
      .select(date_format(col("m"), "yyyy-MM").as("ym"),
        year(col("m")).as("y"), quarter(col("m")).as("q"))
    val dim = calendar.filter(col("y") === 1995 && col("q") === 2)
    fact.join(broadcast(dim), Seq("ym"))
      .groupBy(col("ym"), col("service_type"))
      .agg(count(lit(1)).as("n_trips"),
        Exact.dsum(col("total_amount")).as("sum_total"))
  }

  /** P1+P3+P6+P12+F2 — the clean-stage pipeline on `events`, fed
    * mixed-case input to exercise lowercase normalization. */
  private def cleanNormalize(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.events(spark, dir).select(
      col("event_id").as("EVENT_ID"), col("ts").as("TS"),
      col("user_id").as("USER_ID"), col("event_type").as("Event_Type"),
      col("value").as("Value"), col("props").as("PROPS"))
    val cleaned = Clean.dropNullRows(
      Clean.castColumns(
        Clean.dropColumns(Clean.lowercaseColumns(raw), "props"),
        Map("user_id" -> "int")))
    Clean.sortColumns(cleaned)
  }

  /** J1 — double zone-lookup enrichment via broadcast inner joins;
    * unmatched location ids are silently dropped (pandas-merge parity). */
  private def zoneEnrich(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val trips = l.select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_partkey") % 12).cast("int").as("pulocationid"),
      (col("l_suppkey") % 12).cast("int").as("dolocationid"),
      col("l_extendedprice").as("fare_amount"))
    val lookup = Tables.supplier(spark, dir).select(
      col("s_suppkey").cast("int").as("LocationID"),
      (col("s_suppkey") % 180 - 90).cast("double").as("latitude"),
      (col("s_suppkey") % 360 - 180).cast("double").as("longitude"))
    Clean.zoneEnrich(
      Clean.zoneEnrich(trips, lookup, "pulocationid", "pickup"),
      lookup, "dolocationid", "dropoff")
  }

  private def stagingOf(spark: SparkSession, dir: String): DataFrame =
    TaxiShape.staging(spark, dir)

  /** F5/A4 — the GX-equivalent 12-rule suite in one aggregate pass,
    * over a staging frame with injected violations so counts are
    * non-trivial. */
  private def validateSuite(spark: SparkSession, dir: String): DataFrame = {
    val s = stagingOf(spark, dir)
      .withColumn("vendor_id", expr("nullif(vendor_id, 0)"))
      .withColumn("trip_distance",
        when(col("payment_type_id") === 6, col("trip_distance") * 100)
          .otherwise(col("trip_distance")))
    Expectations.report(s, Expectations.referenceSuite)
  }

  /** Extended validation-rule kinds (dbt unique/accepted_values + GX
    * regex) over the events table, with an injected duplicate so the
    * unique count is non-trivial. */
  private def validateExtended(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val withDup = ev.unionAll(ev.orderBy(col("event_id").asc).limit(7)) // 7 dup ids
    Expectations.report(withDup, Seq(
      Expectations.NotNull("event_id"),
      Expectations.Unique(Seq("event_id")),
      Expectations.InSet("event_type",
        Seq("click", "view", "purchase", "signup")), // 'error' rows violate
      Expectations.MatchesRegex("event_type", "^[a-z]+$")))
  }

  /** Row-level quarantine annotation over events (violation names per
    * row + validity flag). The library API (`Expectations.annotate`)
    * keeps the array-typed `violations` column; the oracle-checked query
    * serializes it to a comma-joined string because the driver's pandas
    * comparator cannot sort/hash array columns. */
  private def validateRows(spark: SparkSession, dir: String): DataFrame =
    Expectations.annotate(
      Tables.events(spark, dir).select(col("event_id"), col("event_type"), col("value")),
      Seq(
        Expectations.InSet("event_type", Seq("click", "view", "purchase", "signup")),
        Expectations.Between("value", 0, 50),
        Expectations.NotNull("event_id")))
      .withColumn("violations", array_join(col("violations"), ","))

  /** Bucketized range join: events.value against nation-derived
    * intervals [2k, 2k+3] — the equi-join-on-bucket rewrite of a
    * BETWEEN predicate (Joins.rangeJoin), oracle-checked against the
    * plain BETWEEN join. */
  private def rangeJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.events(spark, dir).select(col("event_id"), col("value"))
    val iv = Tables.nation(spark, dir).select(col("n_nationkey"),
      (col("n_nationkey") * 2.0).as("lo"),
      (col("n_nationkey") * 2.0 + 3.0).as("hi"))
    graft.operators.Joins.rangeJoin(pts, iv, "value", "lo", "hi", bucketWidth = 4.0)
      .select(col("event_id"), col("n_nationkey"), col("value"))
  }

  /** U1 — union all (reference example model). */
  private def unionAll(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir).select(col("r_regionkey"), col("r_name"))
    r.unionAll(r.filter(col("r_regionkey") < 3))
  }

  /** P10+P11 — Debezium-envelope build + parse roundtrip (batch mode)
    * with epoch-micros → timestamp conversion. */
  private def cdcParse(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val env = ev.select(to_json(struct(struct(struct(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts").cast("timestamp")).as("ts_us")).as("after")).as("payload"))).as("value"))
    val afterSchema = new StructType()
      .add("event_id", LongType).add("user_id", LongType)
      .add("event_type", StringType).add("ts_us", LongType)
    val schema = new StructType().add("payload",
      new StructType().add("after", afterSchema))
    env.select(from_json(col("value"), schema).as("data"))
      .select(col("data.payload.after.*"))
      .withColumn("event_ts", timestamp_micros(col("ts_us")).cast("timestamp_ntz"))
  }

  /** Month-over-month revenue: cents-exact monthly totals
    * ([[graft.core.Exact.centsSum]]) with lag/delta/basis-point change
    * in pure integer arithmetic. The ordered window runs over the
    * month axis — BOUNDED (dozens of aggregate rows), so the
    * single-partition sort it implies is over aggregates, never facts;
    * the facts themselves take one hash-agg exchange on the month key.
    * Months with zero orders emit no row, so "previous" means the
    * previous PRESENT month — date-spine-join against [[dimDate]]
    * first when calendar-adjacent semantics are needed. */
  private def periodOverPeriod(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(graft.core.Exact.centsSum(col("o_totalprice")).as("rev_cents"))
    val w = Window.orderBy(col("month"))
    monthly
      .withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
      .withColumn("delta_cents", col("rev_cents") - col("prev_cents"))
      .withColumn("pct_bp",
        // integer division of NEGATIVE operands rounds differently
        // across engines (truncate vs floor) — divide magnitudes and
        // re-apply the sign so both engines agree bit-for-bit
        when(col("prev_cents").isNotNull && col("prev_cents") > 0,
          when(col("delta_cents") < 0, lit(-1L)).otherwise(lit(1L)) *
            expr("(10000 * abs(delta_cents)) div prev_cents")))
  }

  /** Multi-join analytic THROUGH THE SQL SURFACE: temp views +
    * spark.sql (the engine's Trino-replacement path, SURVEY.md §3.3).
    * Four-table join tree left to Catalyst's join reordering; sums via
    * the registered-view twin of Exact.dsum. */
  private def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("v_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("v_orders")
    Tables.lineitem(spark, dir).createOrReplaceTempView("v_lineitem")
    Tables.nation(spark, dir).createOrReplaceTempView("v_nation")
    // FROM order leads with LINEITEM: without CBO join reordering
    // Spark follows the syntactic order, and leading with the dim
    // chain made the single-task customer⋈orders result the PROBE
    // side with 600k lineitem rows streaming through one core (the
    // 10.8 MB lineitem estimate broadcast). Fact-first, the planner
    // probes the parallelism-bootstrapped lineitem scan and
    // broadcasts the genuinely small sides — the star-join shape
    // that stays right at scale (oversized sides fall back to SMJ by
    // size, never by syntax). Inner equi-joins: result unchanged.
    spark.sql(
      """SELECT n.n_name AS nation, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM v_lineitem l
        |JOIN v_orders o ON o.o_orderkey = l.l_orderkey
        |JOIN v_customer c ON c.c_custkey = o.o_custkey
        |JOIN v_nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name""".stripMargin)
  }

  /** Q3-shaped analytic: segment filter + date filter pushed to the
    * scans, 3-way join, revenue agg, deterministic top-10. */
  private def q3Priority(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp_ntz"))
    val l = Tables.lineitem(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** Aggregation over the part catalog: per-brand counts and exact
    * retail-value sums. */
  private def partsByBrand(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        Exact.dsum(col("p_retailprice")).as("retail_value"),
        min(col("p_size")).as("min_size"), max(col("p_size")).as("max_size"))

  /** LEFT SEMI: customers that placed at least one order. */
  private def semiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))

  /** LEFT ANTI: customers with no high-value order (the referential
    * complement; the value filter keeps the result non-empty at every
    * scale factor — the plain complement is empty in this data). */
  private def antiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** INTERSECT / EXCEPT over derived key sets. */
  private def setOps(spark: SparkSession, dir: String): DataFrame = {
    val orderCust = Tables.orders(spark, dir).select(col("o_custkey").as("custkey"))
    val bigSpenders = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 100000).select(col("o_custkey").as("custkey"))
    val both = orderCust.intersect(bigSpenders)
      .withColumn("op", lit("intersect"))
    val onlySmall = orderCust.except(bigSpenders)
      .withColumn("op", lit("except"))
    both.unionAll(onlySmall)
  }

  /** JSON property extraction from the events `props` column. */
  private def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    // bootstrap: per-row JSON parsing is the cost, and the local
    // single-row-group events file arrives as one task
    graft.core.Parallelism.ensure(Tables.events(spark, dir), "event_id")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))

  /** Semi-structured round-trip through Spark 4's native VARIANT type:
    * the typed row becomes a binary variant via `to_variant_object`
    * (no JSON text serialized), the `props` JSON string is parsed ONCE
    * via `parse_json`, and every downstream field is a typed
    * `variant_get` path extraction. This is the 100 TB semi-structured
    * path: `get_json_object` re-parses the string per extraction call,
    * while VARIANT parses once into a binary encoding that every
    * subsequent extraction (and any exchange it crosses) reuses — on a
    * wide telemetry payload read by k extractors that is a k× parse
    * saving. The oracle is closed-form: extraction inverts
    * construction, so the round-trip must be the identity on the
    * typed columns. Pure projection — zero exchanges (PlanSpec). */
  private def jsonVariant(spark: SparkSession, dir: String): DataFrame = {
    // bootstrap: parse_json/to_variant_object per row is the cost
    val v = graft.core.Parallelism.ensure(
      Tables.events(spark, dir), "event_id").select(
      col("event_id"),
      to_variant_object(struct(
        col("user_id"), col("event_type"), col("value"))).as("row_v"),
      parse_json(col("props")).as("props_v"))
    v.select(col("event_id"),
      variant_get(col("row_v"), "$.user_id", "bigint").as("user_id"),
      variant_get(col("row_v"), "$.event_type", "string").as("event_type"),
      variant_get(col("row_v"), "$.value", "double").as("value"),
      variant_get(col("props_v"), "$.k", "int").as("k"))
  }

  /** Variant shredding WRITE path ([[graft.sources.VariantShred]]) —
    * the write-side twin of [[jsonVariant]]: the merged
    * `schema_of_variant_agg` schema of each variant column is
    * materialized as typed parquet columns (+ residual variant only
    * where types conflict), and read-back extraction of a shredded
    * field reads ONLY its typed column (ReadSchema-pruned,
    * PlanSpec-guarded). The oracle is the same identity as
    * `json_variant` (construct → shred → extract inverts), plus an
    * array-element extraction through a shredded ARRAY column. The
    * timed query includes the write — it IS the write path. */
  private def jsonShred(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.VariantShred
    // parallelism bootstrap: the shredded WRITE (variant encode +
    // schema_of_variant_agg pass) is the operator's cost, and a
    // single-row-group local events file would run it as one task
    val v = graft.core.Parallelism.ensure(
      Tables.events(spark, dir), "event_id").select(
      col("event_id"),
      to_variant_object(struct(
        col("user_id"), col("event_type"), col("value"),
        array(col("value")).as("vals"))).as("payload"),
      parse_json(col("props")).as("props_v"))
    // per-PROCESS path: this query rewrites its output every run (the
    // write IS the operator); a path shared across JVMs would let a
    // concurrent bench/test overwrite the directory mid-read. TempDirs
    // deletes it at JVM exit and sweeps dead predecessors' leftovers.
    val out = graft.sources.TempDirs.perProcess(
      s"graft_json_shred_${dirFingerprint(dir)}")
    VariantShred.writeShredded(v, out)
    val back = spark.read.parquet(out)
    back.select(col("event_id"),
      VariantShred.extract(back, "payload", "$.user_id", "bigint").as("user_id"),
      VariantShred.extract(back, "payload", "$.event_type", "string").as("event_type"),
      VariantShred.extract(back, "payload", "$.value", "double").as("value"),
      VariantShred.extract(back, "payload", "$.vals[0]", "double").as("val0"),
      VariantShred.extract(back, "props_v", "$.k", "int").as("k"))
  }

  /** Calendar date-spine dimension over the fact table's date span —
    * the dbt-utils date-spine staple: one row per day with surrogate
    * key, names, and weekend flag. Dates serialize as ISO strings (the
    * comparator-stable form). Bounded output (years × 365), generated
    * from one min/max aggregate — no source rows expand. */
  private def dimDate(spark: SparkSession, dir: String): DataFrame = {
    val span = Tables.orders(spark, dir)
      .agg(to_date(min(col("o_orderdate"))).as("lo"),
        to_date(max(col("o_orderdate"))).as("hi"))
    span.select(explode(sequence(col("lo"), col("hi"))).as("d"))
      .select(
        date_format(col("d"), "yyyyMMdd").cast("long").as("date_key"),
        date_format(col("d"), "yyyy-MM-dd").as("date_iso"),
        year(col("d")).cast("long").as("year"),
        date_format(col("d"), "MMMM").as("month_name"),
        month(col("d")).cast("long").as("month"),
        date_format(col("d"), "EEEE").as("dow_name"),
        dayofweek(col("d")).cast("long").as("dow"),
        dayofweek(col("d")).isin(1, 7).as("is_weekend"))
  }

  /** Population covariance per group, derived from engine-exact
    * decimal sums (sum(x), sum(y), sum(x*y) are exact; the final
    * double arithmetic is the same three operations in any engine —
    * unlike covar_pop's streaming accumulation, which is
    * order-dependent). */
  private def lineitemCov(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    // operand precisions sized so the product (27,4) stays inside the
    // 38-digit decimal cap in EVERY engine — a (28,4)^2 product would
    // overflow and round engine-specifically
    val Dx = DecimalType(12, 2)
    val Dy = DecimalType(14, 2)
    l.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(Dx)).as("sx"),
        sum(col("l_extendedprice").cast(Dy)).as("sy"),
        sum((col("l_quantity").cast(Dx) * col("l_extendedprice").cast(Dy))).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        col("sx").cast("double").as("sum_qty"),
        col("sy").cast("double").as("sum_price"),
        ((col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double") / col("n"))
          / col("n")).as("covar_pop"))
  }

  /** One-pass exact covariance profiling under the oracle
    * ([[graft.operators.Profiler.covarianceReport]]): which lineitem
    * measures move together, as exact integer moments — all six
    * pairwise `n·cov` values plus per-column `n·var`, every unit
    * scaled so the report stays long-ranged at any SF. The oracle
    * replays the HUGEINT moments and floor divisions. */
  private def profileCovariance(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profiler.covarianceReport(Tables.lineitem(spark, dir), Seq(
      "qty" -> round(col("l_quantity")).cast("long"),
      "disc_milli" -> round(col("l_discount") * 1000).cast("long"),
      "tax_milli" -> round(col("l_tax") * 1000).cast("long"),
      "price_usd" -> round(col("l_extendedprice")).cast("long")))

  private def profileCovarianceSql: String = {
    val ms = Seq(
      "qty" -> "CAST(round(l_quantity) AS BIGINT)",
      "disc_milli" -> "CAST(round(l_discount * 1000) AS BIGINT)",
      "tax_milli" -> "CAST(round(l_tax * 1000) AS BIGINT)",
      "price_usd" -> "CAST(round(l_extendedprice) AS BIGINT)")
    val names = ms.map(_._1)
    val pairs = for { i <- names.indices; j <- (i + 1) until names.size }
      yield (names(i), names(j))
    val sums = (Seq("CAST(COUNT(*) AS HUGEINT) AS n") ++
      names.map(n => s"SUM(CAST($n AS HUGEINT)) AS s_$n") ++
      names.map(n => s"SUM(CAST($n AS HUGEINT) * CAST($n AS HUGEINT)) AS q_$n") ++
      pairs.map { case (a, b) =>
        s"SUM(CAST($a AS HUGEINT) * CAST($b AS HUGEINT)) AS p_${a}_$b" })
      .mkString(",\n    ")
    def fdiv(e: String) = s"CAST((($e) - ((($e) % n + n) % n)) // n AS BIGINT)"
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, CAST(n AS BIGINT) AS n,
         |  ${fdiv(s"n * p_${a}_$b - s_$a * s_$b")} AS cov_n,
         |  ${fdiv(s"n * q_$a - s_$a * s_$a")} AS var_nx,
         |  ${fdiv(s"n * q_$b - s_$b * s_$b")} AS var_ny
         |FROM s""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (
       |  SELECT ${ms.map { case (n, e) => s"$e AS $n" }.mkString(", ")}
       |  FROM lineitem
       |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
       |    AND l_tax IS NOT NULL AND l_extendedprice IS NOT NULL),
       |s AS MATERIALIZED (
       |  SELECT $sums
       |  FROM m)
       |$rows""".stripMargin
  }

  private def dimVendorSql =
    s"""${TaxiShape.stagingSql}, v AS (SELECT DISTINCT vendor_id FROM staging WHERE vendor_id IS NOT NULL)
       |SELECT ${TaxiShape.surrogateKeySql("vendor_id")} AS vendor_key,
       |  CAST(vendor_id AS INT) AS vendor_id,
       |  CASE CAST(vendor_id AS INT) WHEN 1 THEN 'Creative Mobile Technologies' WHEN 2 THEN 'VeriFone Inc' ELSE 'Other' END AS vendor_name
       |FROM v WHERE CAST(vendor_id AS INT) < 3 ORDER BY vendor_id ASC""".stripMargin

  private def dimRateCodeSql =
    s"""${TaxiShape.stagingSql}, v AS (SELECT DISTINCT rate_code_id FROM staging WHERE rate_code_id IS NOT NULL)
       |SELECT ${TaxiShape.surrogateKeySql("rate_code_id")} AS rate_code_key,
       |  CAST(rate_code_id AS INT) AS rate_code_id,
       |  CASE CAST(rate_code_id AS INT) WHEN 1 THEN 'Standard rate' WHEN 2 THEN 'JFK' WHEN 3 THEN 'Newark' WHEN 4 THEN 'Nassau or Westchester' WHEN 5 THEN 'Negotiated fare' WHEN 6 THEN 'Group ride' ELSE 'Other' END AS rate_code_description
       |FROM v WHERE CAST(rate_code_id AS INT) < 7 ORDER BY rate_code_id ASC""".stripMargin

  private def dimPaymentSql =
    s"""${TaxiShape.stagingSql}, v AS (SELECT DISTINCT payment_type_id FROM staging WHERE payment_type_id IS NOT NULL)
       |SELECT ${TaxiShape.surrogateKeySql("payment_type_id")} AS payment_type_key,
       |  CAST(payment_type_id AS INT) AS payment_type_id,
       |  CASE CAST(payment_type_id AS INT) WHEN 1 THEN 'Credit card' WHEN 2 THEN 'Cash' WHEN 3 THEN 'No charge' WHEN 4 THEN 'Dispute' WHEN 5 THEN 'Unknown' WHEN 6 THEN 'Voided trip' ELSE 'Other' END AS payment_description
       |FROM v ORDER BY payment_type_id ASC""".stripMargin

  private def dimServiceTypeSql =
    s"""${TaxiShape.stagingSql}, v AS (SELECT DISTINCT service_type FROM staging WHERE service_type IS NOT NULL)
       |SELECT CAST(service_type AS INT) AS service_type_id,
       |  CASE CAST(service_type AS INT) WHEN 1 THEN 'Yellow' WHEN 2 THEN 'Green' ELSE 'Other' END AS service_name
       |FROM v ORDER BY service_type_id ASC""".stripMargin

  private def dimPickupLocationSql =
    s"""${TaxiShape.stagingSql}
       |SELECT DISTINCT pickup_location_id, pickup_latitude, pickup_longitude
       |FROM staging WHERE pickup_location_id IS NOT NULL
       |ORDER BY pickup_location_id ASC""".stripMargin

  private def dimDropoffLocationSql =
    s"""${TaxiShape.stagingSql}
       |SELECT DISTINCT dropoff_location_id, dropoff_latitude, dropoff_longitude
       |FROM staging WHERE dropoff_location_id IS NOT NULL
       |ORDER BY dropoff_location_id ASC""".stripMargin

  private def factTripSql = {
    val tripId = TaxiShape.surrogateKeySql(
      "s.vendor_id", "s.rate_code_id", "s.pickup_location_id",
      "s.dropoff_location_id", "s.payment_type_id", "s.service_type",
      "s.pickup_datetime", "s.dropoff_datetime")
    s"""${TaxiShape.stagingSql},
       |dv AS (SELECT ${TaxiShape.surrogateKeySql("vendor_id")} AS vendor_key, CAST(vendor_id AS INT) AS vendor_id
       |       FROM (SELECT DISTINCT vendor_id FROM staging WHERE vendor_id IS NOT NULL) WHERE CAST(vendor_id AS INT) < 3),
       |dr AS (SELECT ${TaxiShape.surrogateKeySql("rate_code_id")} AS rate_code_key, CAST(rate_code_id AS INT) AS rate_code_id
       |       FROM (SELECT DISTINCT rate_code_id FROM staging WHERE rate_code_id IS NOT NULL) WHERE CAST(rate_code_id AS INT) < 7),
       |dp AS (SELECT ${TaxiShape.surrogateKeySql("payment_type_id")} AS payment_type_key, CAST(payment_type_id AS INT) AS payment_type_id
       |       FROM (SELECT DISTINCT payment_type_id FROM staging WHERE payment_type_id IS NOT NULL))
       |SELECT $tripId AS trip_id, dv.vendor_key, dr.rate_code_key,
       |  s.pickup_location_id, s.dropoff_location_id, dp.payment_type_key,
       |  s.service_type AS service_type_id, s.pickup_datetime, s.dropoff_datetime,
       |  s.passenger_count, s.trip_distance, s.extra, s.mta_tax, s.fare_amount,
       |  s.tip_amount, s.tolls_amount, s.total_amount, s.improvement_surcharge,
       |  s.congestion_surcharge
       |FROM staging s
       |JOIN dv ON CAST(s.vendor_id AS INT) = dv.vendor_id
       |JOIN dr ON CAST(s.rate_code_id AS INT) = dr.rate_code_id
       |JOIN dp ON CAST(s.payment_type_id AS INT) = dp.payment_type_id""".stripMargin
  }

  /** Bloom-pre-filtered join ([[graft.operators.BloomJoin]]): probe
    * lineitems that cannot match the selective part build side die at
    * the scan, before the join's exchange. The bloom is false-positive
    * -only, so the result is identical to the plain join — which is
    * exactly what the oracle states. */
  private def bloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val probe = Tables.lineitem(spark, dir).select("l_partkey", "l_quantity")
    val build = Tables.part(spark, dir).filter(col("p_size") < 10)
      .select("p_partkey", "p_brand")
    graft.operators.BloomJoin.join(probe, build, "l_partkey", "p_partkey",
        expectedItems = 4096)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), Exact.dsum(col("l_quantity")).as("sum_qty"))
  }

  /** CSV reader under the oracle: the scalar document columns round-
    * trip through [[graft.sources.Sinks]]-style CSV (header + explicit
    * schema on read — the reference's zone-lookup contract) and must
    * re-read byte-identically vs the parquet originals in DuckDB.
    * Fingerprint-keyed write, paid once per source snapshot. */
  private def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = tmpArtifactRoot("csv", dir)
    if (!new java.io.File(out, "_SUCCESS").isFile)
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
    graft.sources.Sources.csv(spark, out, Some(StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))))
  }

  /** Corrupt-record quarantine gate under the oracle
    * ([[graft.sources.Sources.quarantineSplit]]): a deterministic JSONL
    * feed is built from the documents table by explicit string concat
    * (byte-identical to the oracle's SQL concat — no to_json, whose
    * field ordering the oracle could not replay), with one corruption
    * class injected per id residue — truncated line (malformed JSON),
    * bare scalar (non-object), string where the schema says LONG
    * (type-unconvertible) — plus an unknown-extra-field line that must
    * PASS (benign drift). The gate splits the feed; the query returns
    * every line exactly once (conservation) as either its parsed
    * fields ('ok') or the md5 of its preserved raw line
    * ('quarantined'). The oracle replays the feed construction and the
    * documented decision rule, so a parser behavior change on any of
    * the three corruption classes — or a dropped/duplicated line —
    * breaks the hash. */
  private def quarantineSplitQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = concat(lit("{\"doc_id\":"), col("doc_id").cast("string"),
      lit(",\"source\":\""), col("source"), lit("\"}"))
    val feed = Tables.documents(spark, dir).select(
      when(col("doc_id") % 7 === 0, substring(base, 1, 10))
        .when(col("doc_id") % 7 === 1, col("doc_id").cast("string"))
        .when(col("doc_id") % 7 === 2,
          concat(lit("{\"doc_id\":\"x"), col("doc_id").cast("string"),
            lit("\",\"source\":\""), col("source"), lit("\"}")))
        .when(col("doc_id") % 7 === 3,
          concat(lit("{\"doc_id\":"), col("doc_id").cast("string"),
            lit(",\"source\":\""), col("source"), lit("\",\"extra\":1}")))
        .otherwise(base).as("raw"))
    val (good, quar) = graft.sources.Sources.quarantineSplit(feed,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType))))
    good.select(col("doc_id"), col("source"),
        lit("ok").as("disposition"), lit(null).cast("string").as("raw_md5"))
      .unionAll(quar.select(lit(null).cast("long").as("doc_id"),
        lit(null).cast("string").as("source"),
        lit("quarantined").as("disposition"), md5(col("raw")).as("raw_md5")))
  }

  /** Dead-letter REPLAY — the second half of the quarantine story:
    * after the producer bugs are diagnosed, targeted repairs run over
    * the quarantined raw lines and the SAME gate re-admits what the
    * repairs fixed. Two of the feed's three corruption classes are
    * repairable (the stringified-id field is rewritten to a number;
    * the bare-scalar line is wrapped into an object with a sentinel
    * source), the truncated class is not and stays dead — so the
    * output proves conservation ok + recovered + dead = every line,
    * and that repair NEVER bypasses the gate (recovered rows re-enter
    * through `quarantineSplit`, not around it). Both passes are
    * stateless map-side gates — the whole replay is scan→project. */
  private def quarantineReplay(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val base = concat(lit("{\"doc_id\":"), col("doc_id").cast("string"),
      lit(",\"source\":\""), col("source"), lit("\"}"))
    val feed = Tables.documents(spark, dir).select(
      when(col("doc_id") % 7 === 0, substring(base, 1, 10))
        .when(col("doc_id") % 7 === 1, col("doc_id").cast("string"))
        .when(col("doc_id") % 7 === 2,
          concat(lit("{\"doc_id\":\"x"), col("doc_id").cast("string"),
            lit("\",\"source\":\""), col("source"), lit("\"}")))
        .when(col("doc_id") % 7 === 3,
          concat(lit("{\"doc_id\":"), col("doc_id").cast("string"),
            lit(",\"source\":\""), col("source"), lit("\",\"extra\":1}")))
        .otherwise(base).as("raw"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType)))
    val (good, quar) = graft.sources.Sources.quarantineSplit(feed, schema)
    val repaired = quar.select(
      when(col("raw").rlike("^\\{\"doc_id\":\"x"),
        regexp_replace(col("raw"), "^\\{\"doc_id\":\"x(\\d+)\"", "{\"doc_id\":$1"))
        .when(col("raw").rlike("^\\d+$"),
          concat(lit("{\"doc_id\":"), col("raw"), lit(",\"source\":\"recovered\"}")))
        .otherwise(col("raw")).as("raw"))
    val (rec, dead) = graft.sources.Sources.quarantineSplit(repaired, schema)
    good.select(col("doc_id"), col("source"), lit("ok").as("disposition"))
      .unionAll(rec.select(col("doc_id"), col("source"),
        lit("recovered").as("disposition")))
      .unionAll(dead.select(lit(null).cast("long").as("doc_id"),
        lit(null).cast("string").as("source"), lit("dead").as("disposition")))
  }

  /** JSON-lines reader under the oracle: the FULL document rows —
    * text included, so JSON string escaping is exercised — written as
    * JSONL and re-read with an explicit schema must equal the parquet
    * originals. */
  private def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = tmpArtifactRoot("jsonl", dir)
    if (!new java.io.File(out, "_SUCCESS").isFile)
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"))
        .coalesce(1).write.mode("overwrite").json(out)
    graft.sources.Sources.jsonLines(spark, out, Some(StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))))
  }

  /** ORC reader under the oracle ([[graft.sources.Sinks.orc]] →
    * [[graft.sources.Sources.orc]]): the full scalar document rows —
    * text included, so ORC string/long encodings and zstd stripe
    * compression are exercised — written once per source snapshot
    * (fingerprint-keyed) and re-read; must equal the parquet
    * originals byte-for-byte in the DuckDB compare. */
  private def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpArtifactRoot("orc", dir)
    if (!new java.io.File(out, "_SUCCESS").isFile)
      graft.sources.Sinks.orc(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
          .coalesce(1), out)
    graft.sources.Sources.orc(spark, out)
  }

  /** Shared by `staging_agg` and `staging_agg_bucketed` (same
    * semantics; they differ only in physical layout). */
  private val stagingAggOracleSql: String =
    s"""${TaxiShape.stagingSql}
       |SELECT year, month, dow, vendor_id, rate_code_id, pickup_location_id,
       |  dropoff_location_id, payment_type_id, pickup_datetime, dropoff_datetime,
       |  pickup_latitude, pickup_longitude, dropoff_latitude, dropoff_longitude,
       |  CAST(SUM(CAST(passenger_count AS DECIMAL(18,2))) AS DOUBLE) AS passenger_count,
       |  CAST(SUM(CAST(trip_distance AS DECIMAL(18,2))) AS DOUBLE) AS trip_distance,
       |  CAST(SUM(CAST(extra AS DECIMAL(18,2))) AS DOUBLE) AS extra,
       |  CAST(SUM(CAST(mta_tax AS DECIMAL(18,2))) AS DOUBLE) AS mta_tax,
       |  CAST(SUM(CAST(fare_amount AS DECIMAL(18,2))) AS DOUBLE) AS fare_amount,
       |  CAST(SUM(CAST(tip_amount AS DECIMAL(18,2))) AS DOUBLE) AS tip_amount,
       |  CAST(SUM(CAST(tolls_amount AS DECIMAL(18,2))) AS DOUBLE) AS tolls_amount,
       |  CAST(SUM(CAST(total_amount AS DECIMAL(18,2))) AS DOUBLE) AS total_amount,
       |  CAST(SUM(CAST(improvement_surcharge AS DECIMAL(18,2))) AS DOUBLE) AS improvement_surcharge,
       |  CAST(SUM(CAST(congestion_surcharge AS DECIMAL(18,2))) AS DOUBLE) AS congestion_surcharge
       |FROM staging
       |GROUP BY year, month, dow, vendor_id, rate_code_id, pickup_location_id,
       |  dropoff_location_id, payment_type_id, pickup_datetime, dropoff_datetime,
       |  pickup_latitude, pickup_longitude, dropoff_latitude, dropoff_longitude""".stripMargin

  /** Join-size sketch width: the CMS inner-product bound overshoots
    * by ~N₁·N₂/width per row, so a USEFUL forecast needs width ≳
    * N₁·N₂ / (tolerance · true-join-size) — 2 MB of counters buys a
    * ≲1.25× bound on the fk join at sf0.1, where width 64 gave 24×.
    * The sketch stays a single-row aggregate either way. */
  private val joinSketchWidth = 65536

  /** CMS counter matrix replay for one (table, key) — the same
    * Kirsch-Mitzenmacher md5 bucket family as [[graft.expressions
    * .SketchAggregates.CountMinAgg]] at depth 4 × the given width. */
  private def cmCntSql(src: String, key: String, width: Int): String =
    s"""SELECT j, (h1 + j * h2) % 2147483648 % $width AS b,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT
       |      CAST(concat('0x', substring(md5(CAST($key AS VARCHAR)), 1, 15)) AS BIGINT)
       |        % 2147483648 AS h1,
       |      CAST(concat('0x', substring(md5(CAST($key AS VARCHAR)), 16, 15)) AS BIGINT)
       |        % 2147483648 AS h2
       |    FROM $src WHERE $key IS NOT NULL), range(0, 4) AS t(j)
       |  GROUP BY 1, 2""".stripMargin

  /** One labeled (pair, est_rows, exact_rows) SELECT: CMS inner-product
    * estimate (min over depth rows, absent buckets contribute 0) next
    * to the exact join size via per-key count vectors. */
  private def joinSizePairSql(label: String, srcA: String, keyA: String,
                              srcB: String, keyB: String): String =
    s"""SELECT '$label' AS pair,
       |  (SELECT min(sp) FROM (
       |     SELECT t.j, CAST(coalesce(SUM(a.c * b.c), 0) AS BIGINT) AS sp
       |     FROM range(0, 4) AS t(j)
       |     LEFT JOIN (${cmCntSql(srcA, keyA, joinSketchWidth)}) a ON a.j = t.j
       |     LEFT JOIN (${cmCntSql(srcB, keyB, joinSketchWidth)}) b ON b.j = t.j AND b.b = a.b
       |     GROUP BY 1)) AS est_rows,
       |  (SELECT CAST(coalesce(SUM(na * nb), 0) AS BIGINT)
       |   FROM (SELECT $keyA AS k, count(*) AS na FROM $srcA
       |         WHERE $keyA IS NOT NULL GROUP BY 1) ca
       |   JOIN (SELECT $keyB AS k, count(*) AS nb FROM $srcB
       |         WHERE $keyB IS NOT NULL GROUP BY 1) cb USING (k)) AS exact_rows""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_agg", q1Agg,
      s"""${TaxiShape.stagingSql}
         |SELECT year, month, dow, service_type, count(*) AS n_trips,
         |  CAST(SUM(CAST(passenger_count AS DECIMAL(18,2))) AS DOUBLE) AS sum_passengers,
         |  CAST(SUM(CAST(fare_amount AS DECIMAL(18,2))) AS DOUBLE) AS sum_fare,
         |  CAST(SUM(CAST(total_amount AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
         |FROM staging GROUP BY year, month, dow, service_type""".stripMargin),
    QuerySpec("staging_agg", stagingAgg, stagingAggOracleSql),
    // identical semantics, bucketed physical layout — the oracle can't
    // see layout, so the SQL is the same statement
    QuerySpec("staging_agg_bucketed", stagingAggBucketed, stagingAggOracleSql,
      layout = Some(ensureStagingBucketedLayout(_, _))),
    // the oracle can't see the partitioned layout; the quarter filter
    // expresses the dim-join semantics directly on the staging dates
    QuerySpec("fact_pruned", factPruned,
      s"""${TaxiShape.stagingSql}
         |SELECT strftime(pickup_datetime, '%Y-%m') AS ym, service_type,
         |  count(*) AS n_trips,
         |  CAST(SUM(CAST(total_amount AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
         |FROM staging
         |WHERE year(pickup_datetime) = 1995 AND quarter(pickup_datetime) = 2
         |GROUP BY 1, 2""".stripMargin,
      layout = Some(ensureFactPrunedLayout(_, _))),
    QuerySpec("clean_normalize", cleanNormalize,
      """SELECT event_id, event_type, ts, CAST(user_id AS INT) AS user_id, value
        |FROM events
        |WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
        |  AND event_type IS NOT NULL AND value IS NOT NULL""".stripMargin),
    QuerySpec("zone_enrich", zoneEnrich,
      """WITH trips AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_partkey % 12 AS INT) AS pulocationid,
        |    CAST(l_suppkey % 12 AS INT) AS dolocationid,
        |    l_extendedprice AS fare_amount
        |  FROM lineitem),
        |lookup AS (
        |  SELECT CAST(s_suppkey AS INT) AS LocationID,
        |    CAST(s_suppkey % 180 - 90 AS DOUBLE) AS latitude,
        |    CAST(s_suppkey % 360 - 180 AS DOUBLE) AS longitude
        |  FROM supplier)
        |SELECT t.l_orderkey, t.l_linenumber, t.pulocationid, t.dolocationid,
        |  t.fare_amount,
        |  p.latitude AS pickup_latitude, p.longitude AS pickup_longitude,
        |  d.latitude AS dropoff_latitude, d.longitude AS dropoff_longitude
        |FROM trips t
        |JOIN lookup p ON t.pulocationid = p.LocationID
        |JOIN lookup d ON t.dolocationid = d.LocationID""".stripMargin),
    // referential-integrity audit: per FK, how many fact rows have no
    // dim partner — the rows an inner-join enrichment would silently
    // DROP. The two zone legs prove integrity HOLDS against the real
    // lookup (orphan count 0 is the audit's green light, not a
    // vacuous result); the stale-dim leg simulates a dimension that
    // never learned codes 5-6 and must flag exactly those rows.
    // Anti-join + one-row reduce per FK, always one report row per
    // audited key.
    // NOT EXISTS mirrors left_anti exactly (incl. the null-key case);
    // one UNION ALL leg per audited FK
    QuerySpec("fk_orphans", (s, d) => {
      val l = Tables.lineitem(s, d)
      val trips = l.select(
        (col("l_partkey") % 12).cast("int").as("pulocationid"),
        (col("l_suppkey") % 12).cast("int").as("dolocationid"))
      val lookup = Tables.supplier(s, d)
        .select(col("s_suppkey").cast("int").as("LocationID")).distinct()
      val staging = TaxiShape.staging(s, d)
      val staleDim = staging.filter(col("payment_type_id") <= 4)
        .select(col("payment_type_id")).distinct()
      def audit(fact: DataFrame, keyCol: String, dim: DataFrame,
                dimKey: String, name: String): DataFrame = {
        val tot = fact.agg(count(lit(1)).as("n_rows"))
        fact.join(dim.withColumnRenamed(dimKey, keyCol), Seq(keyCol), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
          .crossJoin(broadcast(tot))
          .select(lit(name).as("fk"), col("n_rows"), col("n_orphans"),
            expr("(n_orphans * 10000L) div greatest(n_rows, 1L)").as("orphan_bps"))
      }
      audit(trips, "pulocationid", lookup, "LocationID", "pulocationid")
        .unionByName(audit(trips, "dolocationid", lookup, "LocationID", "dolocationid"))
        .unionByName(audit(staging.select("payment_type_id"), "payment_type_id",
          staleDim, "payment_type_id", "payment_type_id"))
        .orderBy("fk")
    },
      s"""${TaxiShape.stagingSql},
         |trips AS (
         |  SELECT CAST(l_partkey % 12 AS INT) AS pulocationid,
         |    CAST(l_suppkey % 12 AS INT) AS dolocationid
         |  FROM lineitem),
         |lk AS (SELECT DISTINCT CAST(s_suppkey AS INT) AS lid FROM supplier),
         |stale AS (SELECT DISTINCT payment_type_id FROM staging WHERE payment_type_id <= 4),
         |tn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM trips),
         |sn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM staging),
         |a1 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM trips t
         |       WHERE NOT EXISTS (SELECT 1 FROM lk WHERE lk.lid = t.pulocationid)),
         |a2 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM trips t
         |       WHERE NOT EXISTS (SELECT 1 FROM lk WHERE lk.lid = t.dolocationid)),
         |a3 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM staging f
         |       WHERE NOT EXISTS (SELECT 1 FROM stale s
         |                         WHERE s.payment_type_id = f.payment_type_id))
         |SELECT 'dolocationid' AS fk, tn.n AS n_rows, a2.c AS n_orphans,
         |  (a2.c * 10000) // greatest(tn.n, 1) AS orphan_bps FROM tn, a2
         |UNION ALL
         |SELECT 'payment_type_id', sn.n, a3.c,
         |  (a3.c * 10000) // greatest(sn.n, 1) FROM sn, a3
         |UNION ALL
         |SELECT 'pulocationid', tn.n, a1.c,
         |  (a1.c * 10000) // greatest(tn.n, 1) FROM tn, a1
         |ORDER BY fk""".stripMargin),
    // snapshot reconciliation ([[graft.operators.Reconcile.tableDiff]]):
    // today's load is yesterday's with doc_id≡3 (mod 11) vanished,
    // doc_id≡2 (mod 7) re-sourced, and doc_id≡0 (mod 13) re-keyed
    // high — the diff must name every drifted key with its status and
    // the exact changed column set, and nothing else. Text rides the
    // join as its md5 digest only (hashCols) — the wide column never
    // crosses the exchange.
    // keyed full-outer diff: IS DISTINCT FROM mirrors <=> exactly;
    // text compared through md5 on both sides (the hashCols contract)
    QuerySpec("table_diff", (s, d) => {
      val docs = Tables.documents(s, d)
      val right = docs.filter(col("doc_id") % 11 =!= 3)
        .withColumn("source",
          when(col("doc_id") % 7 === 2, lit("patched")).otherwise(col("source")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("source", lit("added")))
      graft.operators.Reconcile.tableDiff(docs, right, Seq("doc_id"),
        hashCols = Seq("text"))
    },
      """WITH r AS (
        |  SELECT doc_id, text, lang,
        |    CASE WHEN doc_id % 7 = 2 THEN 'patched' ELSE source END AS source,
        |    n_chars
        |  FROM documents WHERE doc_id % 11 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang, 'added', n_chars
        |  FROM documents WHERE doc_id % 13 = 0),
        |j AS (
        |  SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
        |    l.doc_id IS NOT NULL AS lp, r.doc_id IS NOT NULL AS rp,
        |    (l.lang IS DISTINCT FROM r.lang) AS d_lang,
        |    (l.n_chars IS DISTINCT FROM r.n_chars) AS d_n_chars,
        |    (l.source IS DISTINCT FROM r.source) AS d_source,
        |    (md5(l.text) IS DISTINCT FROM md5(r.text)) AS d_text
        |  FROM documents l FULL OUTER JOIN r ON l.doc_id = r.doc_id)
        |SELECT doc_id,
        |  CASE WHEN NOT lp THEN 'added' WHEN NOT rp THEN 'removed'
        |       WHEN d_lang OR d_n_chars OR d_source OR d_text THEN 'changed' END AS status,
        |  CASE WHEN lp AND rp AND (d_lang OR d_n_chars OR d_source OR d_text) THEN
        |    concat_ws(',', CASE WHEN d_lang THEN 'lang' END,
        |      CASE WHEN d_n_chars THEN 'n_chars' END,
        |      CASE WHEN d_source THEN 'source' END,
        |      CASE WHEN d_text THEN 'text' END)
        |  ELSE '' END AS changed_cols
        |FROM j
        |WHERE NOT lp OR NOT rp OR d_lang OR d_n_chars OR d_source OR d_text""".stripMargin),
    QuerySpec("dim_vendor", (s, d) => Warehouse.dimVendor(stagingOf(s, d)), dimVendorSql),
    QuerySpec("dim_rate_code", (s, d) => Warehouse.dimRateCode(stagingOf(s, d)), dimRateCodeSql),
    QuerySpec("dim_payment", (s, d) => Warehouse.dimPayment(stagingOf(s, d)), dimPaymentSql),
    QuerySpec("dim_service_type", (s, d) => Warehouse.dimServiceType(stagingOf(s, d)), dimServiceTypeSql),
    QuerySpec("dim_pickup_location", (s, d) => Warehouse.dimPickupLocation(stagingOf(s, d)), dimPickupLocationSql),
    QuerySpec("dim_dropoff_location", (s, d) => Warehouse.dimDropoffLocation(stagingOf(s, d)), dimDropoffLocationSql),
    QuerySpec("fact_trip", (s, d) => Warehouse.factTrip(stagingOf(s, d)), factTripSql),
    // auto-profiling -> suggested CHECK constraints
    // ([[graft.validate.Expectations.suggestChecks]]): one profile
    // pass over documents emits the not-null / widened-range /
    // IN-domain predicates a human reviews and registers via
    // TxnLog.addCheck — the first step of the quality loop, with
    // every suggestion string deterministic and SQL-replayable
    // every suggestion string rebuilt from the same profile aggregates
    QuerySpec("suggest_checks", (s, d) =>
      graft.validate.Expectations.suggestChecks(
        Tables.documents(s, d)
          .select("doc_id", "text", "lang", "source", "n_chars")),
      """WITH st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    min(doc_id) AS mni, max(doc_id) AS mxi,
        |    min(n_chars) AS mnc, max(n_chars) AS mxc
        |  FROM documents),
        |langs AS (SELECT
        |    array_to_string(list('''' || lang || '''' ORDER BY lang), ', ') AS d,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM (SELECT DISTINCT lang FROM documents WHERE lang IS NOT NULL)),
        |srcs AS (SELECT
        |    array_to_string(list('''' || source || '''' ORDER BY source), ', ') AS d,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM (SELECT DISTINCT source FROM documents WHERE source IS NOT NULL))
        |SELECT 'doc_id' AS col_name, 'doc_id_not_null' AS check_name,
        |  'doc_id IS NOT NULL' AS predicate,
        |  '0 nulls in ' || n || ' rows' AS rationale FROM st
        |UNION ALL SELECT 'text', 'text_not_null', 'text IS NOT NULL',
        |  '0 nulls in ' || n || ' rows' FROM st
        |UNION ALL SELECT 'lang', 'lang_not_null', 'lang IS NOT NULL',
        |  '0 nulls in ' || n || ' rows' FROM st
        |UNION ALL SELECT 'source', 'source_not_null', 'source IS NOT NULL',
        |  '0 nulls in ' || n || ' rows' FROM st
        |UNION ALL SELECT 'n_chars', 'n_chars_not_null', 'n_chars IS NOT NULL',
        |  '0 nulls in ' || n || ' rows' FROM st
        |UNION ALL SELECT 'doc_id', 'doc_id_range',
        |  'doc_id BETWEEN ' || (mni - greatest(1, (mxi - mni) * 10 // 100))
        |    || ' AND ' || (mxi + greatest(1, (mxi - mni) * 10 // 100)),
        |  'observed [' || mni || ', ' || mxi || '], 10% headroom' FROM st
        |UNION ALL SELECT 'n_chars', 'n_chars_range',
        |  'n_chars BETWEEN ' || (mnc - greatest(1, (mxc - mnc) * 10 // 100))
        |    || ' AND ' || (mxc + greatest(1, (mxc - mnc) * 10 // 100)),
        |  'observed [' || mnc || ', ' || mxc || '], 10% headroom' FROM st
        |UNION ALL SELECT 'lang', 'lang_domain', 'lang IN (' || d || ')',
        |  k || ' distinct values' FROM langs
        |UNION ALL SELECT 'source', 'source_domain', 'source IN (' || d || ')',
        |  k || ' distinct values' FROM srcs""".stripMargin),
    QuerySpec("validate_suite", validateSuite,
      s"""${TaxiShape.stagingSql},
         |v AS (SELECT staging.* REPLACE (NULLIF(vendor_id, 0) AS vendor_id,
         |  CASE WHEN payment_type_id = 6 THEN trip_distance * 100 ELSE trip_distance END AS trip_distance)
         |  FROM staging)
         |SELECT
         |  CAST(SUM(CASE WHEN vendor_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_vendor_id,
         |  CAST(SUM(CASE WHEN rate_code_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_rate_code_id,
         |  CAST(SUM(CASE WHEN pickup_location_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_pickup_location_id,
         |  CAST(SUM(CASE WHEN dropoff_location_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_dropoff_location_id,
         |  CAST(SUM(CASE WHEN payment_type_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_payment_type_id,
         |  CAST(SUM(CASE WHEN service_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_service_type,
         |  CAST(SUM(CASE WHEN pickup_latitude IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_pickup_latitude,
         |  CAST(SUM(CASE WHEN pickup_longitude IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_pickup_longitude,
         |  CAST(SUM(CASE WHEN dropoff_latitude IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_dropoff_latitude,
         |  CAST(SUM(CASE WHEN dropoff_longitude IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_dropoff_longitude,
         |  CAST(SUM(CASE WHEN trip_distance IS NOT NULL AND (trip_distance < 0 OR trip_distance > 100) THEN 1 ELSE 0 END) AS BIGINT) AS between_trip_distance,
         |  CAST(SUM(CASE WHEN extra IS NOT NULL AND (extra < 0 OR extra > 3) THEN 1 ELSE 0 END) AS BIGINT) AS between_extra
         |FROM v""".stripMargin),
    QuerySpec("validate_extended", validateExtended,
      """WITH d AS (
        |  SELECT * FROM events
        |  UNION ALL
        |  SELECT * FROM (SELECT * FROM events ORDER BY event_id LIMIT 7))
        |SELECT
        |  CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_event_id,
        |  CAST(SUM(CASE WHEN event_id IS NOT NULL THEN 1 ELSE 0 END)
        |    - COUNT(DISTINCT event_id) AS BIGINT) AS unique_event_id,
        |  CAST(SUM(CASE WHEN event_type IS NOT NULL
        |    AND event_type NOT IN ('click','view','purchase','signup')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS in_set_event_type,
        |  CAST(SUM(CASE WHEN event_type IS NOT NULL
        |    AND NOT regexp_matches(event_type, '^[a-z]+$')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS regex_event_type
        |FROM d""".stripMargin),
    QuerySpec("validate_rows", validateRows,
      """SELECT event_id, event_type, value,
        |  array_to_string(list_filter([
        |    CASE WHEN event_type IS NOT NULL
        |      AND event_type NOT IN ('click','view','purchase','signup')
        |      THEN 'in_set_event_type' END,
        |    CASE WHEN value IS NOT NULL AND (value < 0 OR value > 50)
        |      THEN 'between_value' END,
        |    CASE WHEN event_id IS NULL THEN 'not_null_event_id' END
        |  ], v -> v IS NOT NULL), ',') AS violations,
        |  len(list_filter([
        |    CASE WHEN event_type IS NOT NULL
        |      AND event_type NOT IN ('click','view','purchase','signup')
        |      THEN 'in_set_event_type' END,
        |    CASE WHEN value IS NOT NULL AND (value < 0 OR value > 50)
        |      THEN 'between_value' END,
        |    CASE WHEN event_id IS NULL THEN 'not_null_event_id' END
        |  ], v -> v IS NOT NULL)) = 0 AS is_valid
        |FROM events""".stripMargin),
    QuerySpec("union_all", unionAll,
      """SELECT r_regionkey, r_name FROM region
        |UNION ALL
        |SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 3""".stripMargin),
    // wide→long melt of the lineitem measures (the native unpivot
    // operator — a per-row expansion, no shuffle)
    QuerySpec("unpivot_measures", (s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax")
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "value"),
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""".stripMargin),
    // month-over-month revenue deltas: cents-exact monthly totals,
    // lag window over the BOUNDED month axis (dozens of rows — the
    // single-partition window is over aggregates, never facts)
    // month-over-month deltas in exact integer cents; the basis-point
    // change divides MAGNITUDES and re-applies the sign (negative
    // integer division rounds differently across engines)
    QuerySpec("period_over_period", periodOverPeriod,
      """WITH m AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |l AS (
        |  SELECT month, rev_cents,
        |    lag(rev_cents) OVER (ORDER BY month) AS prev_cents
        |  FROM m)
        |SELECT month, rev_cents, prev_cents,
        |  rev_cents - prev_cents AS delta_cents,
        |  CAST(CASE WHEN prev_cents IS NOT NULL AND prev_cents > 0
        |    THEN (CASE WHEN rev_cents - prev_cents < 0 THEN -1 ELSE 1 END) *
        |         ((10000 * abs(rev_cents - prev_cents)) // prev_cents)
        |  END AS BIGINT) AS pct_bp
        |FROM l""".stripMargin),
    QuerySpec("cdc_parse", cdcParse,
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |  make_timestamp(epoch_us(ts)) AS event_ts
        |FROM events""".stripMargin),
    QuerySpec("json_extract", jsonExtract,
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events""".stripMargin),
    // The VARIANT round-trip is construct-then-extract, so the oracle
    // is the identity on the typed source columns.
    QuerySpec("json_variant", jsonVariant,
      """SELECT event_id, user_id, event_type, value,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events""".stripMargin),
    // shred → extract inverts construction, so the oracle is the same
    // identity; val0 extracts element 0 of the shredded [value] array
    QuerySpec("json_shred", jsonShred,
      """SELECT event_id, user_id, event_type, value, value AS val0,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events""".stripMargin),
    QuerySpec("revenue_by_nation", revenueByNation,
      """SELECT n.n_name AS nation, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name""".stripMargin),
    QuerySpec("q3_priority", q3Priority,
      """SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin),
    QuerySpec("parts_by_brand", partsByBrand,
      """SELECT p_brand, count(*) AS n_parts,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS retail_value,
        |  min(p_size) AS min_size, max(p_size) AS max_size
        |FROM part GROUP BY p_brand""".stripMargin),
    QuerySpec("semi_join", semiJoin,
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin),
    QuerySpec("anti_join", antiJoin,
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)""".stripMargin),
    QuerySpec("set_ops", setOps,
      """SELECT custkey, 'intersect' AS op FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  INTERSECT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000)
        |UNION ALL
        |SELECT custkey, 'except' AS op FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  EXCEPT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000)""".stripMargin),
    QuerySpec("range_join", rangeJoinQuery,
      """SELECT e.event_id, n.n_nationkey, e.value
        |FROM events e JOIN nation n
        |  ON e.value >= n.n_nationkey * 2.0
        | AND e.value <= n.n_nationkey * 2.0 + 3.0""".stripMargin),
    // The bloom pre-filter is false-positive-only; the exact join after
    // it makes the result identical to the plain join the oracle runs.
    QuerySpec("bloom_join", bloomJoin,
      """SELECT p.p_brand, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_size < 10
        |GROUP BY p.p_brand""".stripMargin),
    // CSV/JSONL round-trips must re-read byte-identically
    QuerySpec("csv_roundtrip", csvRoundtrip,
      "SELECT doc_id, lang, source, n_chars FROM documents"),
    // quarantine gate conservation: the oracle rebuilds the same
    // byte-identical JSONL feed and replays the documented decision
    // rule — residues 0 (truncated), 1 (bare scalar), 2 (long field
    // carrying a string) quarantine with the raw line preserved;
    // residue 3 (unknown extra field) and clean lines pass parsed
    QuerySpec("quarantine_split", quarantineSplitQuery,
      """WITH feed AS (
        |  SELECT doc_id, source,
        |    CASE
        |      WHEN doc_id % 7 = 0 THEN substr(base, 1, 10)
        |      WHEN doc_id % 7 = 1 THEN CAST(doc_id AS VARCHAR)
        |      WHEN doc_id % 7 = 2 THEN '{"doc_id":"x' || CAST(doc_id AS VARCHAR)
        |        || '","source":"' || source || '"}'
        |      WHEN doc_id % 7 = 3 THEN '{"doc_id":' || CAST(doc_id AS VARCHAR)
        |        || ',"source":"' || source || '","extra":1}'
        |      ELSE base END AS raw,
        |    doc_id % 7 IN (0, 1, 2) AS is_quar
        |  FROM (SELECT doc_id, source,
        |          '{"doc_id":' || CAST(doc_id AS VARCHAR)
        |          || ',"source":"' || source || '"}' AS base
        |        FROM documents))
        |SELECT CASE WHEN is_quar THEN NULL ELSE doc_id END AS doc_id,
        |  CASE WHEN is_quar THEN NULL ELSE source END AS source,
        |  CASE WHEN is_quar THEN 'quarantined' ELSE 'ok' END AS disposition,
        |  CASE WHEN is_quar THEN md5(raw) ELSE NULL END AS raw_md5
        |FROM feed""".stripMargin),
    // repair replay: residue 2 (stringified id) and 1 (bare scalar)
    // are repairable and re-admit THROUGH the gate; residue 0
    // (truncated) stays dead — conservation over all four classes
    QuerySpec("quarantine_replay", quarantineReplay,
      """SELECT doc_id, source, 'ok' AS disposition FROM documents
        |WHERE doc_id % 7 NOT IN (0, 1, 2)
        |UNION ALL
        |SELECT doc_id, source, 'recovered' FROM documents WHERE doc_id % 7 = 2
        |UNION ALL
        |SELECT doc_id, 'recovered', 'recovered' FROM documents WHERE doc_id % 7 = 1
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), 'dead'
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin),
    QuerySpec("jsonl_roundtrip", jsonlRoundtrip,
      "SELECT doc_id, text, lang FROM documents"),
    QuerySpec("orc_roundtrip", orcRoundtrip,
      "SELECT doc_id, text, source, n_chars FROM documents"),
    QuerySpec("lineitem_cov", lineitemCov,
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
        |    SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS sy,
        |    SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CAST(sx AS DOUBLE) AS sum_qty,
        |  CAST(sy AS DOUBLE) AS sum_price,
        |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / n AS covar_pop
        |FROM s""".stripMargin),
    // dbt-style calendar date spine over the fact span
    // DuckDB dayofweek is 0=Sunday..6; Spark is 1=Sunday..7 — shift
    QuerySpec("dim_date", dimDate,
      """WITH span AS (
        |  SELECT CAST(min(o_orderdate) AS DATE) AS lo,
        |    CAST(max(o_orderdate) AS DATE) AS hi
        |  FROM orders),
        |d AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM span)
        |SELECT CAST(strftime(d, '%Y%m%d') AS BIGINT) AS date_key,
        |  strftime(d, '%Y-%m-%d') AS date_iso,
        |  CAST(year(d) AS BIGINT) AS year,
        |  monthname(d) AS month_name,
        |  CAST(month(d) AS BIGINT) AS month,
        |  dayname(d) AS dow_name,
        |  CAST(dayofweek(d) + 1 AS BIGINT) AS dow,
        |  dayofweek(d) IN (0, 6) AS is_weekend
        |FROM d""".stripMargin),
    // pseudonymize customer PII: salted sha2 tokens, joins survive
    QuerySpec("mask_pii", (s, d) =>
      graft.clean.Clean.pseudonymize(
        Tables.customer(s, d).select("c_custkey", "c_name", "c_mktsegment"),
        Seq("c_name"), salt = "graft-salt-v1"),
      """SELECT c_custkey,
        |  sha256(concat('graft-salt-v1', c_name)) AS c_name,
        |  c_mktsegment
        |FROM customer""".stripMargin),
    // skew-salted join (result ≡ the plain join, which is the oracle):
    // per-row salt from the unique order key, customer replicated 8×
    QuerySpec("salted_join", (s, d) =>
      graft.operators.Joins.saltedJoin(
        Tables.orders(s, d).select(col("o_custkey").as("custkey"),
          col("o_orderkey"), col("o_totalprice")),
        Tables.customer(s, d).select(col("c_custkey").as("custkey"),
          col("c_name")),
        key = "custkey", tieCol = "o_orderkey", saltFactor = 8,
        joinType = "left"),
      """SELECT o.o_custkey AS custkey, o.o_orderkey, o.o_totalprice, c.c_name
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin),
    // pre-flight join-size estimation from two CMS sketches (never
    // runs the join): fk-join forecast + self-join (F2) skew forecast,
    // each next to its exact count computed the scalable way (per-key
    // count vectors joined — one narrow shuffle, no row blowup)
    // CMS estimates recomputed from first principles: per-(row j,
    // bucket) counter sums over the same md5 bucket family, then the
    // min over rows at each brand's buckets
    // pre-flight join-size forecast: CMS inner-product upper bound
    // (min over depth rows) vs the exact per-key-count join size
    QuerySpec("join_size_sketch", (s, d) => {
      import graft.expressions.SketchAggregates._
      val (dep, w) = (4, joinSketchWidth)
      def est(a: DataFrame, ak: Column, b: DataFrame, bk: Column): DataFrame =
        a.agg(countMin(ak.cast("string"), dep, w).as("ska"))
          .crossJoin(b.agg(countMin(bk.cast("string"), dep, w).as("skb")))
          .select(cmJoinSize(col("ska"), col("skb"), dep, w).as("est_rows"))
      def exact(a: DataFrame, ak: Column, b: DataFrame, bk: Column): DataFrame = {
        val ca = a.filter(ak.isNotNull).groupBy(ak.as("k")).agg(count(lit(1)).as("na"))
        val cb = b.filter(bk.isNotNull).groupBy(bk.as("k")).agg(count(lit(1)).as("nb"))
        ca.join(cb, "k")
          .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("exact_rows"))
      }
      def pair(label: String, a: DataFrame, ak: Column, b: DataFrame, bk: Column) =
        est(a, ak, b, bk).crossJoin(exact(a, ak, b, bk))
          .select(lit(label).as("pair"), col("est_rows"), col("exact_rows"))
      val o = Tables.orders(s, d); val c = Tables.customer(s, d)
      val e = Tables.events(s, d)
      pair("customer_orders", o, col("o_custkey"), c, col("c_custkey"))
        .unionByName(pair("events_self", e, col("user_id"), e, col("user_id")))
    },
      (joinSizePairSql("customer_orders", "orders", "o_custkey",
        "customer", "c_custkey") +
        "\nUNION ALL\n" +
        joinSizePairSql("events_self", "events", "user_id",
          "events", "user_id"))),
    // exact integer moments: six pairwise n*cov + per-column n*var
    QuerySpec("profile_covariance", profileCovariance, profileCovarianceSql),
  )
}
