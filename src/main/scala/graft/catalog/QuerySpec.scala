package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the driver contract, declared once in its family's
  * catalog file; [[graft.SparkEntry]] derives every name-keyed view
  * from these records.
  *
  * @param name the driver-facing query name
  * @param build builds the query's DataFrame over a testdata dir
  * @param oracle the DuckDB statement whose result must hash-match
  *   `build`'s (the driver sorts columns by name before comparing)
  * @param layout the query's one-time, idempotent layout build, which
  *   Bench primes and meters separately from the timed runs
  * @param scalingExempt why the query's scaling ratio is exempt from
  *   the ≲-linear expectation (quadratic baselines, fixed-query-set
  *   brute force); the ratio is still recorded
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    layout: Option[(SparkSession, String) => Any] = None,
    scalingExempt: Option[String] = None)
