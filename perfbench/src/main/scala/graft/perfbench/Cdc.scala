package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.sources.TxnLog

/** `cdc_ingest`: an open-loop generator drops files of Debezium
  * envelopes into a landing directory on a fixed schedule; a
  * Structured Streaming query decodes them and upserts each
  * micro-batch into a TxnLog table, compacting after every batch, while
  * one closed-loop reader runs a seeded mix of reads on the same
  * table. The offered rate (files per second) comes from
  * `perfbench/spec.json` through `--rate`. */
object CdcIngest {
  val Key = "trip_id"
  val Seq_ = "change_seq"
  val TsCols: Seq[String] = Seq("pickup_datetime", "dropoff_datetime")
  val ReaderMix: Seq[String] = Seq("fact_agg", "asof_read", "change_feed", "point_read", "fast_count")
  val RowsPerFile = 200

  /** One generated change: the full after-image of `key`, due `dueMs`
    * after the schedule starts. */
  final case class Change(seq: Long, key: String, values: Array[Any], dueMs: Long)
  /** One landing file: its drop time (ms after the schedule start, the
    * due time of its last change; the first file drops at the start),
    * its changes, and how many distinct keys it updates vs inserts. */
  final case class FileSpec(index: Int, dueMs: Long, changes: Seq[Change],
                            updatedKeys: Int, insertedKeys: Int)

  def baseTable(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.taxi.TaxiShape.staging(spark, dir)
    s.withColumn(Key, graft.warehouse.Warehouse.surrogateKey(
        col("vendor_id"), col("rate_code_id"), col("pickup_location_id"),
        col("dropoff_location_id"), col("payment_type_id"), col("service_type"),
        col("pickup_datetime"), col("dropoff_datetime")))
      .withColumn(Seq_, lit(0L))
      .dropDuplicates(Key)
  }

  def run(ctx: Ctx): Unit = {
    val rate = ctx.args("rate").toDouble
    val work = new File(ctx.workDir)
    val root = new File(work, "table").getPath
    var v0 = -1L
    ctx.timedSetup { () =>
      ctx.startSession()
      ctx.warmUp(Seq("lineitem", "orders"))
      v0 = TxnLog.overwrite(baseTable(ctx.spark, ctx.dataDir), root, collectStats = true)
    }
    val spark = ctx.spark
    val schema = TxnLog.read(spark, root).schema
    val baseRows = TxnLog.fastCount(spark, root).getOrElse(TxnLog.read(spark, root).count())
    // keys by recency (pickup time), the generator's update targets
    val keys = mutable.ArrayBuffer.empty[String] ++ TxnLog.read(spark, root)
      .select(Key, "pickup_datetime").orderBy("pickup_datetime", Key)
      .collect().map(_.getString(0))
    val nFiles = math.max(1, math.ceil(rate * ctx.seconds).toInt)
    val (files, latest) = generate(ctx.seed, schema, keys, nFiles, rate)
    val envelopeBytes = writeEnvelopes(work, schema, files)
    ctx.report("base_rows") = baseRows
    ctx.report("rate_files_per_s") = rate
    ctx.report("rows_per_file") = RowsPerFile
    ctx.report("files") = nFiles
    ctx.afterOp(None)
    ctx.instrument()
    val m = ctx.meter
    val bytes0 = du(new File(root))

    // --- streaming ingest ------------------------------------------
    ctx.phase("streaming ingest")
    val landing = new File(work, "landing"); landing.mkdirs()
    val config = schemaConfig(schema)
    val upsert = TxnLog.foreachBatchUpsert(root, Seq(Key), Seq_)
    val commitMs = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    // (version before, version of) each batch's upsert: its change feed
    val batchFeed = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
    // the latest batch's feed range, for the reader's change_feed
    val feedRange = new AtomicReference[(Long, Long)]((v0, v0))
    val latestV = new AtomicLong(v0)
    val upsertS = mutable.ArrayBuffer.empty[Double]
    val compactS = mutable.ArrayBuffer.empty[Double]
    val batchFn: (DataFrame, Long) => Unit = (raw, batchId) => {
      def body(parent: Long): Unit = {
        def decode(): DataFrame = {
          val d = graft.pipeline.StreamPipeline.cdcDecode(raw, config, TsCols)
          TsCols.foldLeft(d)((x, c) => x.withColumn(c, col(c).cast(TimestampNTZType)))
        }
        val before = latestV.get()
        val decoded = m.fold(decode())(mt => mt.span(batchId + 1000000L, parent, "decode")(_ => decode()))
        val t0 = System.nanoTime()
        m.fold(upsert(decoded, batchId))(mt =>
          mt.span(batchId + 1000000L, parent, "upsert", "execute")(_ => upsert(decoded, batchId)))
        upsertS.synchronized { upsertS += (System.nanoTime() - t0) / 1e9 }
        val v = TxnLog.latestVersion(spark, root)
        batchFeed.put(batchId, (before, v))
        commitMs.put(batchId, System.currentTimeMillis())
        feedRange.set((before, v))
        latestV.set(v)
        // compaction every K = 1 batches: every upsert costs seconds of
        // fixed commit work, so a 10 s run ingests one or two batches,
        // and with a larger K no compaction would fall inside a run
        val c0 = System.nanoTime()
        val cv = m.fold(TxnLog.compact(spark, root))(mt =>
          mt.span(batchId + 1000000L, parent, "compact", "execute")(_ => TxnLog.compact(spark, root)))
        compactS.synchronized { compactS += (System.nanoTime() - c0) / 1e9 }
        latestV.set(cv)
      }
      m.fold(body(0L))(mt => mt.span(batchId + 1000000L, 0L, s"batch:$batchId")(body))
    }
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
    val sl = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = { progress.add(e); () }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(sl)
    val stream = graft.streaming.Streams.fileSource(spark, landing.getPath,
        new StructType().add("value", StringType), format = "text", maxFilesPerTrigger = 1)
      .writeStream.foreachBatch(batchFn)
      .option("checkpointLocation", new File(work, "checkpoint").getPath)
      .start()

    // --- open-loop generator ---------------------------------------
    ctx.phase("open-loop generator")
    val dropped = new AtomicLong(0)
    val lateMs = mutable.ArrayBuffer.empty[Long]
    val backlogMax = new AtomicLong(0)
    val startMs = System.currentTimeMillis() + 200
    val gen = new Thread(() => {
      files.foreach { f =>
        val due = startMs + f.dueMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val staged = new File(work, s"staged/${name(f.index)}")
        // the file source takes files in modification-time order
        staged.setLastModified(due)
        Files.move(staged.toPath, new File(landing, name(f.index)).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        lateMs += System.currentTimeMillis() - due
        val n = dropped.incrementAndGet()
        backlogMax.accumulateAndGet(n - commitMs.size, math.max)
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()

    // --- closed-loop reader ----------------------------------------
    ctx.phase("closed-loop reader")
    val rng = Seeds.random(ctx.seed, 4)
    val kinds = new Rounds(ReaderMix.map(Seq(_)), rng)
    val readerEnd = startMs + (ctx.seconds * 1000).toLong
    // The first round overlaps the first batch's upsert, and its
    // change_feed finds no batch yet; the second round waits for that
    // commit, so every later change_feed reads a batch's feed. Without
    // this wait, whether the second round's change_feed (a 2-4 s read)
    // came before or after the commit was the largest source of spread
    // in the reader's throughput. Three rounds outlast a 10 s window, so
    // every run has three.
    val minOps = 3 * ReaderMix.size
    var done = 0
    val pointHits = mutable.ArrayBuffer.empty[(Long, Long)]
    while ((System.currentTimeMillis() < readerEnd || !kinds.atBoundary || done < minOps) &&
        stream.isActive) {
      if (done == ReaderMix.size) {
        val deadline = System.currentTimeMillis() + 60000L
        while (commitMs.isEmpty && stream.isActive && System.currentTimeMillis() < deadline)
          Thread.sleep(10)
      }
      done += 1
      val (since, until) = feedRange.get()
      val top = latestV.get()
      val kind = kinds.next()
      val build: (SparkSession, String) => DataFrame = kind match {
        case "fact_agg" => (s, r) =>
          graft.warehouse.Warehouse.factTrip(TxnLog.read(s, r).drop(Key, Seq_))
            .groupBy("service_type_id", "payment_type_key")
            .agg(count(lit(1)).as("trips"), sum("total_amount").as("total"))
        case "asof_read" =>
          val v = v0 + (rng.nextDouble() * (top - v0 + 1)).toLong
          (s, r) => TxnLog.read(s, r, asOf = Some(math.min(v, top)))
        case "change_feed" =>
          (s, r) => TxnLog.changeFeed(s, r, since, Seq(Key), untilVersion = Some(until))
        case "point_read" =>
          val k = keys.synchronized(keys(rng.nextInt(keys.size)))
          (s, r) => TxnLog.readPoint(s, r, Key, k)
        case _ => (s, r) =>
          s.range(1).select(lit(TxnLog.fastCount(s, r).getOrElse(TxnLog.read(s, r).count())).as("n"))
      }
      val module = ctx.spec.moduleOf(kind)
      val op = ctx.runQuery(kind, module, build, root, isolate = false)
      if (kind == "point_read" && op.ok) pointHits += ((op.opId, op.outRows))
    }

    // --- drain, stop -----------------------------------------------
    ctx.phase("drain, stop")
    gen.join()
    val drainDeadline = System.currentTimeMillis() + 60000L
    while (commitMs.size < nFiles && stream.isActive && System.currentTimeMillis() < drainDeadline)
      Thread.sleep(20)
    val drained = commitMs.size >= nFiles
    stream.stop()
    stream.awaitTermination()
    spark.streams.removeListener(sl)
    stream.exception.foreach(e => ctx.checkFailures += s"stream: ${e.getMessage}".take(300))
    if (!drained) ctx.checkFailures += s"stream did not drain: ${commitMs.size}/$nFiles files committed"
    ctx.afterOp(None)

    // --- end-to-end ingest numbers ---------------------------------
    ctx.phase("end-to-end ingest numbers")
    val committed = files.filter(f => commitMs.containsKey(f.index.toLong))
    val lags = committed.flatMap(f => f.changes.map(c =>
      (commitMs.get(f.index.toLong) - (startMs + c.dueMs)) / 1000.0))
    ctx.report("lag_by_file_s") = committed.map(f =>
      (commitMs.get(f.index.toLong) - (startMs + f.dueMs)) / 1000.0)
    val bytesWritten = du(new File(root)) - bytes0
    val changeBytes = decodedBytes(spark, work, config)
    ctx.report("ingest_lag_p50_s") = Stats.median(lags)
    ctx.report("ingest_lag_p90_s") = Stats.quantile(lags, 0.9)
    ctx.report("ingest_lag_samples") = lags.size
    ctx.report("write_amp") = bytesWritten.toDouble / math.max(1L, changeBytes)
    ctx.report("bytes_written") = bytesWritten
    ctx.report("change_bytes") = changeBytes
    ctx.report("envelope_bytes") = envelopeBytes
    ctx.report("batches") = commitMs.size
    ctx.report("compactions") = compactS.size

    // --- traced-run layers -----------------------------------------
    ctx.phase("traced-run layers")
    m.foreach { mt =>
      Layers.fromOps(ctx, mt)
      val L = ctx.layers
      val readOps = ctx.ops.toSeq.filter(_.ok)
      def meanOf(k: String) = Stats.mean(readOps.filter(_.name == k).map(_.seconds))
      L("sources.upsert_s") = Stats.mean(upsertS.toSeq)
      L("sources.compact_s") = Stats.mean(compactS.toSeq)
      val commits = commitMs.size + compactS.size
      L("sources.commit_bytes") = bytesWritten.toDouble / math.max(1, commits)
      L("sources.commit_files") = countFiles(new File(root, "data")).toDouble / math.max(1, commits + 1)
      L("sources.live_files") = liveFiles(spark, root).toDouble
      L("sources.read_s") = meanOf("fact_agg")
      L("sources.asof_read_s") = meanOf("asof_read")
      L("sources.change_feed_s") = meanOf("change_feed")
      L("sources.point_read_s") = meanOf("point_read")
      L("sources.point_rows_scanned_per_hit") = Stats.mean(pointHits.toSeq.map { case (id, hits) =>
        mt.counters(id).scanRows.toDouble / math.max(1L, hits) })
      val ps = progress.toArray(Array.empty[StreamingQueryListener.QueryProgressEvent]).toSeq
        .map(_.progress).filter(_.numInputRows > 0)
      def dur(k: String) = Stats.mean(ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0) / 1000.0))
      L("streaming.trigger_s") = dur("triggerExecution")
      L("streaming.add_batch_s") = dur("addBatch")
      L("streaming.planning_s") = dur("queryPlanning")
      L("streaming.wal_commit_s") = dur("walCommit")
      L("streaming.latest_offset_s") = dur("latestOffset")
      L("streaming.batches") = commitMs.size.toDouble
      L("streaming.backlog_files_max") = backlogMax.get().toDouble
      L("streaming.decode_rows") = ps.map(_.numInputRows).sum.toDouble
      // one micro-batch is one op of the streaming module
      val batchSpans = mt.allSpans.filter(_.name.startsWith("batch:"))
      L("streaming.op_s") = Stats.mean(batchSpans.map(s => (s.endNs - s.startNs) / 1e9))
      L("streaming.jobs") = Stats.mean(batchSpans.map(s => mt.counters(s.opId).jobs.toDouble))
      L("gen.late_s") = if (lateMs.isEmpty) 0.0 else lateMs.max / 1000.0
      L("core.table_load_s") = Layers.tableLoadS(ctx)
    }
    ctx.report("gen_late_max_s") = if (lateMs.isEmpty) 0.0 else lateMs.max / 1000.0
    ctx.report("backlog_files_max") = backlogMax.get()

    // --- output checks ----------------------------------------------
    ctx.phase("output checks")
    check(ctx, root, v0, schema, files, latest, baseRows, batchFeed)
  }

  private def name(i: Int): String = f"changes-$i%06d.json"

  /** Seeded change stream: ~80% updates skewed toward recent keys, the
    * rest inserts of new keys; returns the files and the latest
    * after-image of every touched key (the ground truth). */
  def generate(seed: Long, schema: StructType, keys: mutable.ArrayBuffer[String],
               nFiles: Int, rate: Double)
      : (Seq[FileSpec], Map[String, Change]) = {
    val rng = Seeds.random(seed, 3)
    val latest = mutable.HashMap.empty[String, Change]
    var seq = 0L
    var inserted = 0L
    val periodMs = 1000.0 / rate
    val files = (0 until nFiles).map { i =>
      val before = mutable.HashSet.empty[String]
      val fresh = mutable.HashSet.empty[String]
      val changes = (0 until RowsPerFile).map { j =>
        seq += 1
        val key =
          if (rng.nextDouble() < 0.8) {
            val back = (keys.size * math.pow(rng.nextDouble(), 4)).toInt
            keys(keys.size - 1 - math.min(back, keys.size - 1))
          } else {
            inserted += 1
            val k = f"ins-$seed%d-$inserted%08d"
            keys += k
            fresh += k
            k
          }
        if (!fresh(key)) before += key
        // file i drops at i periods; its changes fell due over the
        // period before the drop
        val c = Change(seq, key, schema.fields.map(f => value(rng, f, key, seq)),
          (periodMs * (i - 1 + (j + 1).toDouble / RowsPerFile)).toLong)
        latest(key) = c
        c
      }
      FileSpec(i, changes.last.dueMs, changes, before.size, fresh.size)
    }
    (files, latest.toMap)
  }

  private def value(rng: scala.util.Random, f: StructField, key: String, seq: Long): Any =
    f.name match {
      case Key => key
      case Seq_ => seq
      case "year" => (1995 + rng.nextInt(7)).toString
      case "month" => java.time.Month.of(1 + rng.nextInt(12)).toString.toLowerCase.capitalize
      case "dow" => java.time.DayOfWeek.of(1 + rng.nextInt(7)).toString.toLowerCase.capitalize
      case _ => f.dataType match {
        case IntegerType => 1 + rng.nextInt(6)
        case LongType => rng.nextInt(1000).toLong
        case DoubleType => math.round(rng.nextDouble() * 10000.0) / 100.0
        case TimestampNTZType =>
          java.time.LocalDateTime.of(1995 + rng.nextInt(7), 1 + rng.nextInt(12),
            1 + rng.nextInt(28), rng.nextInt(24), rng.nextInt(60))
        case StringType => s"s${rng.nextInt(100)}"
        case other => throw new IllegalArgumentException(s"no generator for $other")
      }
    }

  private def micros(t: java.time.LocalDateTime): Long = {
    val i = t.toInstant(java.time.ZoneOffset.UTC)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Stage every file's envelopes (one JSON document per line) before
    * the clock; the generator only renames them into place. */
  private def writeEnvelopes(work: File, schema: StructType, files: Seq[FileSpec]): Long = {
    val staged = new File(work, "staged"); staged.mkdirs()
    files.map { f =>
      val sb = new StringBuilder
      f.changes.foreach { c =>
        val after = schema.fields.zip(c.values).map { case (fld, v) =>
          Json.str(fld.name) + ":" + (v match {
            case t: java.time.LocalDateTime => micros(t).toString
            case s: String => Json.str(s)
            case other => other.toString
          })
        }.mkString("{", ",", "}")
        sb.append("{\"payload\":{\"after\":").append(after).append("}}\n")
      }
      val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
      Files.write(new File(staged, name(f.index)).toPath, bytes)
      bytes.length.toLong
    }.sum
  }

  /** The Debezium payload schema config: timestamps travel as epoch
    * microseconds, as in the reference's CDC topic. */
  def schemaConfig(schema: StructType): String =
    schema.fields.map { f =>
      val t = f.dataType match {
        case TimestampNTZType => "LongType"
        case IntegerType => "IntegerType"
        case LongType => "LongType"
        case DoubleType => "DoubleType"
        case _ => "StringType"
      }
      s"""{"name":${Json.str(f.name)},"type":"$t","nullable":true}"""
    }.mkString("""{"fields":[""", ",", "]}")

  private def du(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(du).sum

  private def countFiles(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) { if (f.getName.endsWith(".parquet")) 1L else 0L }
    else Option(f.listFiles()).toSeq.flatten.map(countFiles).sum

  private def liveFiles(spark: SparkSession, root: String): Long =
    TxnLog.read(spark, root).inputFiles.length.toLong

  /** Bytes of every decoded change row, written once as parquet:
    * the denominator of write amplification. */
  private def decodedBytes(spark: SparkSession, work: File, config: String): Long = {
    val out = new File(work, "decoded-changes")
    graft.pipeline.StreamPipeline.cdcDecode(
        spark.read.text(new File(work, "landing").getPath), config, TsCols)
      .coalesce(1).write.mode("overwrite").parquet(out.getPath)
    countBytes(out)
  }

  private def countBytes(f: File): Long =
    if (f.isFile) { if (f.getName.endsWith(".parquet")) f.length() else 0L }
    else Option(f.listFiles()).toSeq.flatten.map(countBytes).sum

  /** Order-independent digest of a frame: row count and the exact sum
    * of a 64-bit hash of every row. */
  private def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Final snapshot = base rows of untouched keys + the generator's
    * latest after-image of every touched key; the change feed of each
    * batch's upsert (read after the compactions that followed it)
    * carries two rows per updated key and one per inserted key. */
  private def check(ctx: Ctx, root: String, v0: Long, schema: StructType,
                    files: Seq[FileSpec], latest: Map[String, Change], baseRows: Long,
                    batchFeed: java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]): Unit = {
    val spark = ctx.spark
    val fin = TxnLog.read(spark, root)
    ctx.phase("check: snapshot")
    val rows = latest.values.toSeq.sortBy(_.seq).map(c => Row.fromSeq(c.values.toSeq))
    val expected = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val touched = broadcast(expected.select(Key))
    val base = TxnLog.read(spark, root, asOf = Some(v0))
    val inserted = latest.keySet.count(_.startsWith("ins-"))
    def fail(msg: String): Unit = ctx.checkFailures += msg
    val (n, _) = digest(fin)
    if (n != baseRows + inserted) fail(s"snapshot rows $n != base $baseRows + inserted $inserted")
    if (digest(fin.join(touched, Seq(Key), "left_semi")) != digest(expected))
      fail("touched keys differ from the generator's latest after-images")
    if (digest(fin.join(touched, Seq(Key), "left_anti")) !=
        digest(base.join(touched, Seq(Key), "left_anti")))
      fail("untouched keys differ from the base version")
    ctx.phase("check: change feed")
    var feedRows = 0L
    files.foreach { f =>
      Option(batchFeed.get(f.index.toLong)).foreach { case (before, v) =>
        val want = 2L * f.updatedKeys + f.insertedKeys
        val got = TxnLog.changeFeed(spark, root, before, Seq(Key), untilVersion = Some(v)).count()
        if (got != want) fail(s"change feed of batch ${f.index} (v$before, v$v] has $got rows, expected $want")
        feedRows += got
      }
    }
    ctx.report("checked_keys") = latest.size
    ctx.report("change_feed_rows") = feedRows
  }
}
