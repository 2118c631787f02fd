package graft.core

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** The process-wide cache of inferred parquet schemas. A plain
  * `spark.read.parquet` runs one footer-inference Spark job per call
  * (75–105 ms on a 4-core host); a read whose version was seen before
  * passes the schema back with `spark.read.schema(s)` and plans with no
  * job. A version is a qualified path plus its length and modification
  * time (a rewritten file gets a new key), and the session parquet
  * confs that change the inferred types (`nanosAsLong` decides whether
  * `events.ts` is a long). Callers pick what may be cached: [[Tables]]
  * caches single files, [[graft.sources.TxnLog]] its write-once
  * `data/<uuid>` dirs (length and mtime -1). Safe under concurrent
  * readers: a race infers twice and keeps one equal schema. Bounded by
  * clearing when full. */
object ParquetSchemas {
  private case class Key(path: String, length: Long, mtime: Long,
                         confs: Seq[Option[String]])

  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private val schemas = new ConcurrentHashMap[Key, StructType]()
  private val MaxEntries = 4096

  /** Read the qualified `path`, whose `length`/`mtime` name the
    * version the cached schema belongs to. */
  def read(spark: SparkSession, path: String, length: Long, mtime: Long): DataFrame = {
    val key = Key(path, length, mtime, InferenceConfs.map(spark.conf.getOption))
    val known = schemas.get(key)
    if (known != null) spark.read.schema(known).parquet(path)
    else {
      val df = spark.read.parquet(path)
      if (schemas.size >= MaxEntries) schemas.clear()
      schemas.putIfAbsent(key, df.schema)
      df
    }
  }
}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  * One parquet file per table under `<sfDir>/`; schema comes from the
  * parquet footer (reference relies on footer-schema inference the same
  * way: batch_processing_optimized.py:226), inferred once per file
  * version ([[ParquetSchemas]]).
  */
object Tables {
  /** Every lake table, by file name. */
  val lakeTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loadSized(spark, dir, name)._1

  /** A lake table and, when it is a single file, its length. A file's
    * schema is cached per version; a directory (or a missing path,
    * which then fails as a plain read does) infers on every load. */
  private def loadSized(spark: SparkSession, dir: String, name: String)
      : (DataFrame, Option[Long]) = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = try Some(fs.getFileStatus(p)) catch { case _: FileNotFoundException => None }
    st.filter(_.isFile) match {
      case Some(f) =>
        (ParquetSchemas.read(spark, fs.makeQualified(p).toString,
          f.getLen, f.getModificationTime), Some(f.getLen))
      case None => (spark.read.parquet(path), None)
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  /** Bootstrapped like [[documents]] once the file is large enough to
    * pay for it: lineitem is the fact-role table — its consumers (the
    * staging join's 26-column projection, the covariance moments, the
    * TPC-H-ish aggregates) all do per-row map work that a
    * single-row-group local file would serialize on one task. A file
    * smaller than `spark.sql.files.openCostInBytes` (Spark's estimate
    * of one task's fixed cost, 4 MB by default) is read as is: there
    * the exchange costs more than the map work it spreads, while the
    * 11 MB sf0.1 file still gains from it. The rule reads the length
    * the schema cache already stat'ed, so a small file compiles no
    * physical plan. A directory is always bootstrapped, which is a
    * no-op at scale. */
  def lineitem(spark: SparkSession, dir: String): DataFrame  = {
    val (df, length) = loadSized(spark, dir, "lineitem")
    if (length.exists(_ < spark.sessionState.conf.filesOpenCostInBytes)) df
    else Parallelism.ensure(df, "l_orderkey")
  }
  /** `ts` is TIMESTAMP(MICROS) in the lake's events files (the testdata
    * and perfbench's `gen.py` both write micros), read as is. A
    * TIMESTAMP(NANOS) input arrives as a long under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, which we truncate to
    * micros (`div 1000` — integer division; a double division would
    * lose precision above 2^53 ns) to match DuckDB's nanos→micros
    * read-truncation.
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
