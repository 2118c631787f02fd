package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  * One parquet file per table under `<sfDir>/`; schema comes from the
  * parquet footer (reference relies on footer-schema inference the same
  * way: batch_processing_optimized.py:226).
  */
object Tables {
  /** Every lake table, by file name. */
  val lakeTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  /** Bootstrapped like [[documents]]: lineitem is the fact-role table
    * — its consumers (the staging join's 26-column projection, the
    * covariance moments, the TPC-H-ish aggregates) all do per-row map
    * work that a single-row-group local file would serialize on one
    * task. No-op at scale. */
  def lineitem(spark: SparkSession, dir: String): DataFrame  =
    Parallelism.ensure(load(spark, dir, "lineitem"), "l_orderkey")
  /** `ts` is TIMESTAMP(NANOS) in the parquet; with
    * `spark.sql.legacy.parquet.nanosAsLong=true` it arrives as a long
    * which we truncate to micros (`div 1000` — integer division; a
    * double division would lose precision above 2^53 ns) to match
    * DuckDB's nanos→micros read-truncation.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    // NOT bootstrapped like documents/lineitem: most event consumers'
    // first real operator is a window/aggregation keyed by user_id,
    // whose own exchange already parallelizes — a source repartition
    // would just double-shuffle (measured 1.3–3.1x slower across the
    // events window family). The few map-heavy JSON consumers
    // bootstrap locally instead.
    if (df.schema("ts").dataType == LongType)
      // cast to NTZ: Spark 4 reads the other tables' naive parquet
      // timestamps as TIMESTAMP_NTZ, and DuckDB sees naive TIMESTAMP —
      // keep every engine timestamp in the same (UTC-pinned) NTZ domain.
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    else df
  }
  /** Parallelism bootstrap at the source (optimization guide §2.5:
    * "one huge unsplittable file ... repartition immediately after the
    * read"): the local corpus is a single-row-group parquet file, so
    * every text operator's CPU-bound map side (tokenize, shingle,
    * window-hash, chunk, decode) would otherwise run as ONE task.
    * Hash-repartitioning on doc_id up to the cluster parallelism is a
    * no-op at scale (a real corpus scan splits into thousands of
    * tasks) and deterministic under retry (no round-robin). Column
    * pruning and filter pushdown pass through the exchange, so each
    * consumer still scans only what it uses. */
  def documents(spark: SparkSession, dir: String): DataFrame =
    Parallelism.ensure(load(spark, dir, "documents"), "doc_id")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
