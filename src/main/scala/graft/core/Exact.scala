package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-exact aggregation helpers.
  *
  * Double sums are order-dependent, so a Spark `sum(double)` and a
  * DuckDB `SUM(double)` over the same rows can differ in the last bits
  * and fail the driver's hash compare. All testdata measures carry at
  * most 2 decimal digits, so summing in `DECIMAL` is mathematically
  * exact in both engines; casting the exact decimal result back to
  * `double` is then deterministic (nearest-double is engine-independent).
  *
  * Oracle-side equivalent of `dsum(c)`:
  *   `CAST(SUM(CAST(c AS DECIMAL(18,2))) AS DOUBLE)`
  */
/** Partitioning guards. */
object Parallelism {
  /** CPU-bound per-row operators (hash signatures, dot products) are
    * throughput-limited by input partition count, and a small parquet
    * file arrives as ONE partition. Repartition up to the cluster's
    * default parallelism when the input has fewer partitions; a no-op
    * on inputs that are already well-split (the 100 TB case, where the
    * scan itself produces thousands of splits).
    *
    * With no `cols` the split is round-robin. Inputs with a
    * high-cardinality key pass it as `cols` to hash-partition instead,
    * which skips the defensive whole-row local sort every keyless
    * `repartition(n)` pays (spark.sql.execution.sortBeforeRepartition,
    * on by default since SPARK-23207 — hash placement is already
    * deterministic under task retry, so no sort is needed). */
  def ensure(df: org.apache.spark.sql.DataFrame, cols: String*)
      : org.apache.spark.sql.DataFrame = {
    // Streaming frames can't expose an RDD pre-start (and micro-batch
    // parallelism is the source's concern) — pass through untouched.
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else if (cols.isEmpty) df.repartition(target)
    else df.repartition(target, cols.map(org.apache.spark.sql.functions.col): _*)
  }
}

object Exact {

  /** Exact scaled-integer "cents" of a ≤2-decimal double: HALF_UP
    * round of c*100, exactly matching `CAST(c AS DECIMAL(18,2))`'s
    * scaled value. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** Exact sum of a ≤2-decimal double column, returned as double.
    *
    * Implemented as integer cents arithmetic rather than
    * `sum(CAST(c AS DECIMAL(18,2)))`: LONG aggregation buffers are
    * codegen'd integer adds (~2x faster than Decimal buffers measured
    * on the staging aggregate, and half the shuffle bytes per measure)
    * while producing the bit-identical double — the summed cents stay
    * exact below 2^53 (~$90e12), and `N / 100.0` is then the same
    * single correctly-rounded division the decimal→double cast
    * performs. Totals past 2^63 cents raise under ANSI mode instead of
    * wrapping (DECIMAL(28,2) had more headroom; no SF here approaches
    * either bound).
    *
    * Oracle-side equivalent (unchanged):
    *   `CAST(SUM(CAST(c AS DECIMAL(18,2))) AS DOUBLE)` */
  def dsum(c: Column): Column = sum(cents(c)) / 100.0

  /** Mergeable form of [[dsum]]: the raw cents total as LONG. Partial
    * aggregates that must be merged later (incremental view
    * maintenance, cross-batch rollup) stay in integer cents — long
    * addition is associative, so merge order can never perturb the
    * result the way re-summing doubles would. Divide by 100.0 once,
    * at the final read. */
  def centsSum(c: Column): Column = sum(cents(c))

  /** Exact average (cents sum / long count), returned as double. */
  def davg(c: Column): Column =
    (sum(cents(c)) / 100.0 / count(c)).cast("double")
}
