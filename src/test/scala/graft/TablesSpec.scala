package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.core.{Metrics, Tables}
import org.apache.spark.sql.DataFrame

/** The lake-table read floor: footer schemas are inferred once per file
  * version, and lineitem is parallelism-bootstrapped only when its file
  * is large enough to pay for the exchange. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** Run `body` with session confs set, restoring the previous values. */
  private def withConfs[A](confs: (String, String)*)(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Write `df` as one bare parquet file at `path`, replacing it. */
  private def writeFile(df: DataFrame, path: String): Unit = {
    val side = Files.createTempDirectory("graft_tables").toString + "/out"
    df.coalesce(1).write.parquet(side)
    val part = new java.io.File(side).listFiles.filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }

  test("schema cache: a second load of the same file plans with no Spark job") {
    Tables.load(spark, dir, "orders")
    val (again, m) = Metrics.metered(Tables.load(spark, dir, "orders"))
    assert(m.jobs == 0, s"a repeat load ran ${m.jobs} job(s) to build")
    assert(again.count() == spark.read.parquet(s"$dir/orders.parquet").count())
  }

  test("schema cache: a rewritten file is re-inferred and shows its new column") {
    val tmp = Files.createTempDirectory("graft_tables").toString
    writeFile(Seq((1L, "a")).toDF("id", "s"), s"$tmp/t.parquet")
    assert(Tables.load(spark, tmp, "t").columns.toSeq == Seq("id", "s"))
    writeFile(Seq((2L, "b", 20L)).toDF("id", "s", "extra"), s"$tmp/t.parquet")
    val after = Tables.load(spark, tmp, "t")
    assert(after.columns.toSeq == Seq("id", "s", "extra"))
    assert(after.as[(Long, String, Long)].collect().toSeq == Seq((2L, "b", 20L)))
  }

  /** A one-row `events.parquet` in a new temp dir whose ts is
    * TIMESTAMP(NANOS) 2024-03-01T02:17:00.123456789, which Spark cannot
    * write: parquet-mr's example writer can. Returns the dir. */
  private def nanosEventsDir(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val tmp = Files.createTempDirectory("graft_tables").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$tmp/events.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("user_id", 1L).append("ts", 1709259420123456789L))
    finally w.close()
    tmp
  }

  test("schema cache: the session's nanosAsLong and inferTimestampNTZ decide events.ts under one file version") {
    val tmp = nanosEventsDir()
    def ts(d: String) = Tables.load(spark, d, "events").schema("ts").dataType.typeName
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    assert(withConfs(nanos -> "true")(ts(tmp)) == "long")
    // without nanosAsLong Spark refuses the type: the long schema cached
    // above must not be passed back
    val e = intercept[org.apache.spark.sql.AnalysisException](withConfs(nanos -> "false")(ts(tmp)))
    assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
    assert(withConfs(nanos -> "true")(ts(tmp)) == "long")
    // the lake's own events file stores a UTC-naive TIMESTAMP(MICROS)
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert(withConfs(ntz -> "true")(ts(dir)) == "timestamp_ntz")
    assert(withConfs(ntz -> "false")(ts(dir)) == "timestamp")
    assert(withConfs(ntz -> "true")(ts(dir)) == "timestamp_ntz")
  }

  test("Tables.events: a TIMESTAMP(NANOS) ts arrives as timestamp_ntz, truncated to micros") {
    // the session reads NANOS as a long (nanosAsLong), which events
    // converts with integer division, dropping the last three digits
    val ev = Tables.events(spark, nanosEventsDir())
    assert(ev.schema("ts").dataType.typeName == "timestamp_ntz")
    assert(ev.select("ts").as[java.time.LocalDateTime].collect().toSeq ==
      Seq(java.time.LocalDateTime.parse("2024-03-01T02:17:00.123456")))
  }

  test("schema cache: four threads loading the same new file at once get one schema") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val tmp = Files.createTempDirectory("graft_tables").toString
    writeFile(Seq((1L, "a", 2.5)).toDF("id", "s", "x"), s"$tmp/t.parquet")
    val schemas = Await.result(Future.sequence(
      (1 to 4).map(_ => Future(Tables.load(spark, tmp, "t").schema))), 2.minutes)
    assert(schemas.distinct.size == 1, schemas)
    assert(schemas.head.fieldNames.toSeq == Seq("id", "s", "x"))
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("bootstrap rule: a lineitem file under openCostInBytes is read without a repartition") {
    assert(!plan(Tables.lineitem(spark, dir)).contains("REPARTITION"))
    val len = new java.io.File(s"$dir/lineitem.parquet").length
    val p = withConfs("spark.sql.files.openCostInBytes" -> (len - 1).toString) {
      plan(Tables.lineitem(spark, dir))
    }
    assert("hashpartitioning\\(l_orderkey".r.findAllIn(p).size == 1, p)
  }

  test("bootstrap rule: documents keeps its unconditional bootstrap") {
    assert(plan(Tables.documents(spark, dir)).contains("REPARTITION"))
  }

  /** The serving surface of the benchmark's `olap_mix` workload. */
  private val olapMix = Seq("q1_agg", "staging_agg", "fact_trip", "dim_vendor",
    "dim_rate_code", "dim_payment", "dim_service_type", "dim_pickup_location",
    "dim_dropoff_location", "revenue_by_nation", "q3_priority", "rollup_agg",
    "cube_agg", "grouping_sets_agg", "percentiles", "validate_suite",
    "fk_orphans", "zone_enrich", "clean_normalize", "period_over_period",
    "events_window_agg", "sessionize", "funnel", "cdc_parse")

  test("construction floor: every olap_mix query builds with no Spark job once its tables are known") {
    olapMix.foreach(q => SparkEntry.queries(q)(spark, dir))
    val jobs = olapMix.map { q =>
      q -> Metrics.metered(SparkEntry.queries(q)(spark, dir))._2.jobs
    }.filter(_._2 != 0)
    assert(jobs.isEmpty, s"queries that ran jobs while building: $jobs")
  }
}
