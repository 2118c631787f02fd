package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

/** Structured Streaming pipeline: CDC envelope decode, raw passthrough
  * projection, partitioned parquet sink (reference:
  * streaming_processing/streaming_to_minio_fixed.py and
  * streaming_to_datalake.py). Every transform is a pure
  * `DataFrame => DataFrame` usable on both streaming and batch frames —
  * batch parity of the same logic is oracle-checked by the `cdc_parse`
  * query (`graft.catalog.ParityQueries`).
  *
  * Scale notes: all transforms here are stateless per-row projections
  * (no shuffle); the sink partitions by `date_partition` so downstream
  * batch readers get directory pruning. Watermarked windowed aggs (the
  * one stateful extension) keep state bounded by the watermark delay.
  */
object Streams {

  /** Kafka CDC source, reference options
    * (streaming_to_minio_fixed.py:46-53): earliest offsets, tolerate
    * data loss, backpressure via maxOffsetsPerTrigger. Requires the
    * spark-sql-kafka connector on the classpath at runtime; tests use
    * `MemoryStream`/file sources instead (no broker in the build env).
    */
  def kafkaSource(spark: SparkSession, brokers: String, topic: String,
                  startingOffsets: String = "earliest",
                  failOnDataLoss: Boolean = false,
                  maxOffsetsPerTrigger: Long = 100L): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("failOnDataLoss", failOnDataLoss.toString)
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger.toString)
      .load()

  /** File-based stream source over a directory of parquet — the
    * broker-free stand-in with identical downstream semantics. */
  def fileSource(spark: SparkSession, path: String, schema: StructType,
                 format: String = "parquet",
                 maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .format(format)
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .load(path)

  /** P9 + F1 — raw Kafka record passthrough: key/value decode,
    * processing-time stamps, and the `date_partition`/`hour_partition`
    * partition columns (streaming_to_minio_fixed.py:58-65). */
  def rawPassthrough(kafkaRecords: DataFrame, withHour: Boolean = true): DataFrame = {
    val base = kafkaRecords.select(
      col("key").cast("string").as("message_key"),
      col("value").cast("string").as("cdc_payload"),
      col("timestamp").as("kafka_timestamp"),
      current_timestamp().as("processing_time"),
      date_format(current_timestamp(), "yyyy-MM-dd").as("date_partition"))
    val withParts =
      if (withHour) base.withColumn("hour_partition",
        date_format(current_timestamp(), "HH"))
      else base
    withParts.filter(col("cdc_payload").isNotNull)
  }

  /** P10 — Debezium envelope decode: value → JSON → `payload.after.*`
    * (streaming_to_datalake.py:130-132). */
  def debeziumAfter(records: DataFrame, afterSchema: StructType): DataFrame =
    records.selectExpr("CAST(value AS STRING) AS json")
      .select(from_json(col("json"), SchemaConfig.envelopeSchema(afterSchema)).as("data"))
      .select(col("data.payload.after.*"))

  /** P11 — epoch-microseconds columns → timestamps
    * (streaming_to_datalake.py:134-136; `timestamp_micros` is the exact
    * form of the reference's `/ 1000000` + cast). */
  def epochMicrosToTimestamp(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, timestamp_micros(col(c).cast("long"))))

  /** Full CDC decode pipeline: envelope → after fields → timestamp
    * conversion (the composition streaming_to_datalake.py runs). */
  def cdcDecode(records: DataFrame, afterSchema: StructType,
                epochMicroCols: Seq[String]): DataFrame =
    epochMicrosToTimestamp(debeziumAfter(records, afterSchema), epochMicroCols)

  /** K4 — partitioned append-mode parquet sink with checkpoint and
    * processing-time trigger (streaming_to_minio_fixed.py:70-77). */
  def parquetSink(df: DataFrame, path: String, checkpoint: String,
                  partitionCols: Seq[String] = Seq("date_partition"),
                  triggerSeconds: Option[Int] = Some(10),
                  availableNow: Boolean = false): DataStreamWriter[Row] = {
    val w = df.writeStream
      .format("parquet")
      .outputMode("append")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
    val p = if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w
    // AvailableNow: drain everything currently available in rate-
    // limited batches, then stop — the modern bounded-run form of the
    // reference's awaitTermination(60) demos
    if (availableNow) p.trigger(Trigger.AvailableNow())
    else triggerSeconds.fold(p)(s => p.trigger(Trigger.ProcessingTime(s * 1000L)))
  }

  /** Bounded run helper (K5): start, process everything currently
    * available, stop — the deterministic test-friendly form of the
    * reference's `awaitTermination(60)`. */
  def runBounded(writer: DataStreamWriter[Row]): StreamingQuery = {
    val q = writer.start()
    q.processAllAvailable()
    q.stop()
    q
  }

  // ---- extensions beyond reference parity (SURVEY.md §2.11) ----

  /** Op-aware CDC merge (extension; the reference decodes inserts only,
    * SURVEY.md §2.11 "CDC decode"). Input: decoded change rows with a
    * Debezium `op` column (c/r/u = upsert, d = delete), a primary key,
    * and a monotonically increasing change ordinal (`ts_ms` or the
    * source LSN). Output: latest-wins snapshot with deletes applied —
    * one window pass, shuffled only by key. */
  def cdcMerge(changes: DataFrame, keyCols: Seq[String], ordinalCol: String,
               opCol: String = "op"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(ordinalCol).desc)
    changes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= "d")
      .drop("__rn", opCol)
  }

  /** Watermarked tumbling-window count/sum — the stateful streaming
    * extension; state is dropped once the watermark passes the window
    * end. */
  def windowedAgg(df: DataFrame, tsCol: String, windowDuration: String,
                  watermarkDelay: String, keyCols: Seq[String],
                  sumCol: Option[String] = None): DataFrame = {
    val keyed = df.withWatermark(tsCol, watermarkDelay)
      .groupBy((window(col(tsCol), windowDuration) +: keyCols.map(col)): _*)
    val agged = sumCol match {
      case Some(c) => keyed.agg(count(lit(1)).as("n_events"), sum(col(c)).as("sum_value"))
      case None => keyed.agg(count(lit(1)).as("n_events"))
    }
    agged.select((Seq(col("window.start").as("window_start"),
      col("window.end").as("window_end")) ++ keyCols.map(col) ++
      agged.columns.filter(c => c == "n_events" || c == "sum_value").map(col)): _*)
  }

  /** Watermarked stream-stream inner join: matches right events within
    * `[left.ts, left.ts + intervalSeconds]` per key. Both sides carry
    * watermarks so join state is evicted once event time passes the
    * interval bound (bounded state at any stream length). */
  def streamStreamJoin(left: DataFrame, right: DataFrame, keyCol: String,
                       leftTs: String, rightTs: String,
                       watermarkDelay: String, intervalSeconds: Long,
                       joinType: String = "inner"): DataFrame = {
    // leftOuter is the "was this click ever attributed?" shape: a left
    // row with no interval partner emits with NULL right columns, but
    // only once the WATERMARK proves no partner can still arrive — so
    // outer results trail the watermark by design, and a query with no
    // further input never flushes the last pending rows until a later
    // batch advances event time (the documented Spark contract).
    require(Set("inner", "leftOuter").contains(joinType),
      s"streamStreamJoin: joinType inner|leftOuter, got $joinType")
    val l = left.withWatermark(leftTs, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTs, watermarkDelay).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $intervalSeconds SECONDS"),
      joinType)
  }

  /** Stream-static dimension enrichment: the streaming side joins a
    * STATIC dim frame per micro-batch — no state store, no watermark;
    * Spark re-resolves the static side each batch, so a dim refreshed
    * in place is picked up without restarting the query. The broadcast
    * hint keeps the join map-side (dims are small by definition);
    * "left" preserves events with no dim match, mirroring the batch
    * zone-enrichment contract. */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
                       keys: Seq[String],
                       joinType: String = "left"): DataFrame = {
    require(stream.isStreaming, "left side must be a streaming frame")
    require(!dim.isStreaming, "dim side must be static")
    stream.join(org.apache.spark.sql.functions.broadcast(dim), keys, joinType)
  }

  /** Streaming upsert-to-lake without a table format: each micro-batch
    * merges into a parquet snapshot — read current snapshot, union the
    * batch, keep the latest row per key BY ORDINAL (deletes are
    * retained as tombstone rows, so a late lower-ordinal update can
    * never resurrect a deleted key). Read the live view with
    * [[readMergeSnapshot]] (filters tombstones). Idempotent per batch:
    * re-applying yields the same snapshot. For heavy update rates a
    * transactional format (Delta/Iceberg) replaces the rewrite; the
    * merge semantics stay identical. */
  def foreachBatchMerge(changes: DataFrame, snapshotPath: String,
                        checkpoint: String, keyCols: Seq[String],
                        ordinalCol: String, opCol: String = "op"): DataStreamWriter[Row] = {
    val spark = changes.sparkSession
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        import org.apache.spark.sql.expressions.Window
        // only path-not-found means "no snapshot yet"; any other read
        // failure must abort the batch, not silently drop the snapshot
        val existing =
          try Some(spark.read.parquet(snapshotPath))
          catch {
            case e: org.apache.spark.sql.AnalysisException
              if e.getMessage.contains("PATH_NOT_FOUND") ||
                e.getMessage.toLowerCase.contains("path does not exist") => None
          }
        val all = existing.fold(batch.toDF())(e =>
          batch.toDF().unionByName(e, allowMissingColumns = false))
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col(ordinalCol).desc)
        val merged = all.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        // write to a temp dir then swap: the snapshot being read above
        // cannot be overwritten in place mid-scan. The checked
        // rename-aside (Sinks.swapInPlace) verifies each rename, so a
        // crash or failed rename always leaves a complete copy under
        // the snapshot path, __old, or __tmp.
        val conf = spark.sparkContext.hadoopConfiguration
        val p = new org.apache.hadoop.fs.Path(snapshotPath)
        val fs = p.getFileSystem(conf)
        val tmp = new org.apache.hadoop.fs.Path(snapshotPath + "__tmp")
        val old = new org.apache.hadoop.fs.Path(snapshotPath + "__old")
        merged.write.mode("overwrite").parquet(tmp.toString)
        graft.sources.Sinks.swapInPlace(fs, tmp, p, old)
      }
  }

  /** Live view over a [[foreachBatchMerge]] snapshot (tombstones
    * filtered, op column dropped). */
  def readMergeSnapshot(spark: SparkSession, snapshotPath: String,
                        opCol: String = "op"): DataFrame =
    spark.read.parquet(snapshotPath).filter(col(opCol) =!= "d").drop(opCol)

  /** Watermarked streaming dedup on key columns — the CDC re-delivery
    * guard the reference lacks (§2.11 "Dedup: none"). */
  def dedupStream(df: DataFrame, tsCol: String, watermarkDelay: String,
                  keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicates(keyCols :+ tsCol)

  /** Continuous corpus ingest transform: quality-gate an unbounded
    * document stream (whitespace-token floor) and drop re-delivered or
    * duplicated texts by whitespace-normalized fingerprint, with state
    * bounded by the watermark (`dropDuplicatesWithinWatermark` evicts
    * fingerprints older than the delay — exact-once per fingerprint
    * inside the window, bounded memory at any corpus rate). The batch
    * twin of this gate is [[graft.pipeline.CorpusPipeline.prepare]]'s
    * filter stage. */
  def corpusIngest(docs: DataFrame, tsCol: String, watermarkDelay: String,
                   minTokens: Int = 20, textCol: String = "text"): DataFrame = {
    import graft.functions.TextFunctions
    docs.withWatermark(tsCol, watermarkDelay)
      .filter(TextFunctions.wsTokenCount(col(textCol)) >= minTokens)
      .withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
      .dropDuplicatesWithinWatermark("fingerprint")
  }
}
