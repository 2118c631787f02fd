package graft.core

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Session factory mirroring the reference's Spark tuning
  * (reference: batch_processing_optimized.py:50-78 — AQE, partition
  * coalescing, Kryo; S3A/Arrow knobs dropped: no object store / no
  * Python boundary in a Scala engine). Every driver (Bench, Profile,
  * Verify, ExplainPlans) and the test session build through here, so
  * the plans one tool prints are the plans another times.
  *
  * Scale notes: `shuffle.partitions` tracks the local core count here;
  * on a real cluster it should be ~2-3x total executor cores (or left
  * to AQE coalescing from a high initial value). All other settings are
  * scale-neutral.
  */
object GraftSession {

  def builder(appName: String, cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.expressions.GraftExtensions)
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
      // nanos timestamp type — read as long, convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // The live status stores retain per-execution plan graphs and
      // per-stage rollups even with the UI off; over a sweep of
      // hundreds of queries the defaults (1000 executions / 1000 jobs)
      // accumulate hundreds of MB of driver state — steady GC pressure
      // that taxes later queries more than earlier ones. Bound them.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "1000")

  /** Warm-up before timing: JIT, codegen, parquet-reader init, the
    * page cache and the lake tables' footer-schema inference are not
    * operator cost, so run one shuffle and read every lake table under
    * `dir` once through [[Tables.load]] (which fills its schema cache).
    * A table that fails to read is logged by name; its queries then
    * fail on their own. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    Tables.lakeTables.foreach { t =>
      try Tables.load(spark, dir, t).count()
      catch { case NonFatal(e) =>
        System.err.println(s"[warm-up] lake table $t failed to read: ${e.getMessage}") }
    }
  }

  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .getOrElse(math.max(4, Runtime.getRuntime.availableProcessors()))
}
