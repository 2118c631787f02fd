package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.taxi.TaxiShape
import graft.warehouse.Warehouse

/** Top-level facade: attach the lake + star schema as SQL views so a
  * user of the reference (who queried `staging.nyc_taxi` and
  * `production.*` through Postgres/Trino) can run the same SQL through
  * `spark.sql` — the engine's replacement for both serving layers
  * (SURVEY.md §3.3).
  */
object Engine {

  /** Register every lake table under its own name plus the warehouse
    * model views (`staging_nyc_taxi`, `dim_*`, `fact_trip`). Returns
    * the staging frame. Views are lazy — nothing materializes until
    * queried; call `spark.catalog.cacheTable` on hot ones. */
  def attach(spark: SparkSession, dir: String): DataFrame = {
    Tables.lakeTables.foreach { t =>
      // Tables.events applies the nanos-long -> timestamp_ntz repair;
      // raw load would expose ts as BIGINT through the SQL facade
      val df = if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t)
      df.createOrReplaceTempView(t)
    }
    val staging = TaxiShape.staging(spark, dir)
    staging.createOrReplaceTempView("staging_nyc_taxi")
    Warehouse.dimVendor(staging).createOrReplaceTempView("dim_vendor")
    Warehouse.dimRateCode(staging).createOrReplaceTempView("dim_rate_code")
    Warehouse.dimPayment(staging).createOrReplaceTempView("dim_payment")
    Warehouse.dimServiceType(staging).createOrReplaceTempView("dim_service_type")
    Warehouse.dimPickupLocation(staging).createOrReplaceTempView("dim_pickup_location")
    Warehouse.dimDropoffLocation(staging).createOrReplaceTempView("dim_dropoff_location")
    Warehouse.factTrip(staging).createOrReplaceTempView("fact_trip")
    staging
  }
}
