package graft.taxi

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Adapter: projects the driver's TPC-H-ish testdata into the
  * reference's staging shape (FIXTURES.md §5 — the 26-column
  * `staging.nyc_taxi` layout) so every warehouse/validation operator
  * runs and oracle-checks on real driver data. `lineitem`×`orders`
  * play the trip-record role; ids are derived with modular arithmetic
  * (deterministic and exactly reproducible in the DuckDB oracle SQL —
  * see `stagingSql`).
  *
  * Scale: one equi-join on the natural key (l_orderkey = o_orderkey),
  * which Catalyst executes as a broadcast or shuffled hash join
  * depending on the orders-side size; everything else is a narrow
  * projection.
  */
object TaxiShape {

  def staging(spark: SparkSession, dir: String): DataFrame = {
    // Tables.lineitem arrives parallelism-bootstrapped when its file
    // is at least spark.sql.files.openCostInBytes (4 MB) long: a
    // single-row-group local file is then hash-repartitioned on the
    // join key (no-op at scale), so the whole map side of this join —
    // the 26-column projection with its two date_format calls, plus
    // every consumer's per-row work up to its first exchange — runs
    // cluster-wide. A smaller file is read as one task, which is
    // cheaper than the exchange at that size.
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"), "inner")
      .select(
        year(col("o_orderdate")).cast("string").as("year"),
        date_format(col("o_orderdate"), "MMMM").as("month"),
        date_format(col("o_orderdate"), "EEEE").as("dow"),
        (col("l_suppkey") % 4).cast("int").as("vendor_id"),
        col("l_linenumber").cast("double").as("rate_code_id"),
        (col("l_partkey") % 100).cast("int").as("pickup_location_id"),
        (col("l_partkey") % 97).cast("int").as("dropoff_location_id"),
        (col("l_orderkey") % 6 + 1).cast("int").as("payment_type_id"),
        when(col("l_returnflag") === "R", 2).otherwise(1).as("service_type"),
        col("o_orderdate").as("pickup_datetime"),
        col("l_shipdate").as("dropoff_datetime"),
        (col("l_partkey") % 180 - 90).cast("double").as("pickup_latitude"),
        (col("l_partkey") % 360 - 180).cast("double").as("pickup_longitude"),
        (col("l_suppkey") % 180 - 90).cast("double").as("dropoff_latitude"),
        (col("l_suppkey") % 360 - 180).cast("double").as("dropoff_longitude"),
        col("l_quantity").as("passenger_count"),
        (col("l_discount") * 100).as("trip_distance"),
        col("l_tax").as("extra"),
        col("l_discount").as("mta_tax"),
        col("l_extendedprice").as("fare_amount"),
        col("l_tax").as("tip_amount"),
        col("l_discount").as("tolls_amount"),
        col("o_totalprice").as("total_amount"),
        col("l_tax").as("improvement_surcharge"),
        col("l_discount").as("congestion_surcharge"))
  }

  /** DuckDB twin of `staging` — used as a WITH-clause prefix by every
    * oracle statement that consumes the staging shape. Must stay
    * expression-for-expression identical to the Scala above.
    */
  val stagingSql: String =
    """WITH staging AS (
      |  SELECT
      |    CAST(year(o.o_orderdate) AS VARCHAR) AS year,
      |    strftime(o.o_orderdate, '%B') AS month,
      |    strftime(o.o_orderdate, '%A') AS dow,
      |    CAST(l.l_suppkey % 4 AS INT) AS vendor_id,
      |    CAST(l.l_linenumber AS DOUBLE) AS rate_code_id,
      |    CAST(l.l_partkey % 100 AS INT) AS pickup_location_id,
      |    CAST(l.l_partkey % 97 AS INT) AS dropoff_location_id,
      |    CAST(l.l_orderkey % 6 + 1 AS INT) AS payment_type_id,
      |    CASE WHEN l.l_returnflag = 'R' THEN 2 ELSE 1 END AS service_type,
      |    o.o_orderdate AS pickup_datetime,
      |    l.l_shipdate AS dropoff_datetime,
      |    CAST(l.l_partkey % 180 - 90 AS DOUBLE) AS pickup_latitude,
      |    CAST(l.l_partkey % 360 - 180 AS DOUBLE) AS pickup_longitude,
      |    CAST(l.l_suppkey % 180 - 90 AS DOUBLE) AS dropoff_latitude,
      |    CAST(l.l_suppkey % 360 - 180 AS DOUBLE) AS dropoff_longitude,
      |    l.l_quantity AS passenger_count,
      |    l.l_discount * 100 AS trip_distance,
      |    l.l_tax AS extra,
      |    l.l_discount AS mta_tax,
      |    l.l_extendedprice AS fare_amount,
      |    l.l_tax AS tip_amount,
      |    l.l_discount AS tolls_amount,
      |    o.o_totalprice AS total_amount,
      |    l.l_tax AS improvement_surcharge,
      |    l.l_discount AS congestion_surcharge
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |)""".stripMargin

  /** DuckDB twin of Warehouse.surrogateKey (dbt_utils 0.8.0). */
  def surrogateKeySql(cols: String*): String =
    "md5(concat_ws('-', " +
      cols.map(c => s"coalesce(CAST($c AS VARCHAR), '')").mkString(", ") + "))"
}
