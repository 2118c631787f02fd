package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** `format("graft")` — the [[TxnLog]] table format surfaced through
  * Spark's DataSource API, so a table written by this library is
  * readable/writable by ANY Spark code (SQL included) without
  * importing graft at all:
  *
  * {{{
  *   spark.read.format("graft").load(root)                       // latest
  *   spark.read.format("graft").option("versionAsOf", 3).load(root)
  *   df.write.format("graft").mode("append")
  *     .option("collectStats", true).save(root)
  *   spark.readStream.format("graft").load(root)                 // appends
  * }}}
  *
  * Built on the stable DSv1 relation surface
  * (`org.apache.spark.sql.sources`) exactly the way the open-source
  * Delta connector served `format("delta")` for years:
  *
  *  - BATCH READ is a [[PrunedFilteredScan]]: Catalyst hands the scan
  *    its pushable filters, the relation prunes snapshot DIRECTORIES
  *    against the manifest's per-dir [min, max] stats
  *    ([[TxnLog.readRangesCensusFiles]] — the same data-skipping
  *    scan the native `readWhere` path uses), translates the filters onto the inner
  *    parquet scan (so row-group/page pushdown still happens), and
  *    reports every filter UNHANDLED so Spark re-applies exact
  *    semantics above — pruning is pure I/O avoidance, never a
  *    semantic dependency. At 100 TB this is the property that
  *    matters: a point query opens the manifest plus the admitted
  *    dirs, never the table.
  *  - BATCH WRITE maps SaveMode onto the log's commit protocol
  *    (append/overwrite with the same CAS + idempotent-txnId
  *    discipline as the native API; `ErrorIfExists`/`Ignore` consult
  *    the log, not the filesystem).
  *  - STREAMING READ serves the table as a micro-batch source with
  *    offsets = COMMIT VERSIONS (the Delta-source shape): the first
  *    batch is the full snapshot at the stream's start version, every
  *    later batch is exactly the directories appended in
  *    `(start, end]` ([[TxnLog.appendedDirsBetween]] — O(delta)
  *    manifest reads per poll). Non-append commits refuse loudly
  *    unless `ignoreChanges=true` (rewritten rows are never
  *    re-delivered — the documented Delta contract). Offsets live in
  *    the checkpoint, so recovery replays the exact version range and
  *    exactly-once composes with the sink's own idempotency.
  *
  * Registered in `META-INF/services` under the short name `graft`.
  * Reference anchor: the reference stack reads/writes its lakehouse
  * tables through a format string (`convert_to_delta.py:85-88`); this
  * is that surface for the offline TxnLog format. */
class GraftDataSource extends RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "format(\"graft\") needs a table root: .load(<root>) or option(\"path\", ...)"))

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation =
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      // the Delta CDF read shape: startingVersion is INCLUSIVE of
      // that version's own changes (changeFeed's sinceVersion is
      // exclusive, hence the -1)
      val starting = parameters.getOrElse("startingVersion",
        throw new IllegalArgumentException(
          "readChangeFeed needs option(\"startingVersion\", <first version whose changes to serve>)"))
        .toLong
      new GraftChangeFeedRelation(sqlContext, rootOf(parameters),
        starting - 1,
        parameters.get("endingVersion").map(_.toLong),
        parameters.get("keyCols").map(_.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq).getOrElse(Nil))
    } else {
      // time travel: versionAsOf (a log version) or timestampAsOf
      // (epoch millis, or a 'yyyy-MM-dd HH:mm:ss' local timestamp —
      // the Delta option pair), never both
      require(!(parameters.contains("versionAsOf") && parameters.contains("timestampAsOf")),
        "graft: versionAsOf and timestampAsOf are mutually exclusive")
      val pinned = parameters.get("versionAsOf").map(_.toLong)
        .orElse(parameters.get("timestampAsOf").map { raw =>
          // the Delta option's accepted forms: epoch millis, a full
          // local timestamp, or a date-only form (midnight local) —
          // anything else fails NAMING the accepted formats
          val ms = scala.util.Try(raw.toLong)
            .orElse(scala.util.Try(java.sql.Timestamp.valueOf(raw).getTime))
            .orElse(scala.util.Try(java.sql.Date.valueOf(raw).getTime))
            .getOrElse(throw new IllegalArgumentException(
              s"graft: timestampAsOf accepts epoch millis, 'yyyy-MM-dd HH:mm:ss', " +
                s"or 'yyyy-MM-dd'; got '$raw'"))
          TxnLog.versionAtTimestamp(sqlContext.sparkSession, rootOf(parameters), ms)
        })
      new GraftRelation(sqlContext, rootOf(parameters), pinned)
    }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val root = rootOf(parameters)
    val spark = data.sparkSession
    def csv(key: String): Seq[String] = parameters.get(key)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val partitionBy = csv("partitionBy")
    val bloomCols = csv("bloomCols")
    val collectStats = parameters.get("collectStats").exists(_.toBoolean)
    val txnId = parameters.get("txnId")
    def write(over: Boolean): Unit = {
      if (over) TxnLog.overwrite(data, root, txnId, partitionBy, collectStats, bloomCols)
      else TxnLog.append(data, root, txnId, partitionBy, collectStats, bloomCols)
      ()
    }
    val exists = TxnLog.latestVersion(spark, root) >= 0
    mode match {
      case SaveMode.Append => write(over = false)
      case SaveMode.Overwrite => write(over = true)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"graft table already exists at $root (mode ErrorIfExists)")
        write(over = true)
      case SaveMode.Ignore => if (!exists) write(over = true)
    }
    createRelation(sqlContext, parameters)
  }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "format(\"graft\") streams serve the table's own schema — drop .schema(...)")
    (shortName(),
      TxnLog.read(sqlContext.sparkSession, rootOf(parameters)).schema)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new GraftStreamSource(sqlContext.sparkSession, rootOf(parameters),
      parameters.get("ignoreChanges").exists(_.toBoolean),
      parameters.get("maxVersionsPerTrigger").map(_.toInt).getOrElse(0),
      Some(metadataPath),
      // the Delta startingVersion option: serve commits FROM version N
      // (inclusive) as appends instead of the initial full snapshot;
      // 'latest' = only commits landing after the stream FIRST starts
      // (resolved once and persisted in the checkpoint)
      parameters.get("startingVersion"))

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode): Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"format(\"graft\") sink is append-only (the table format's streaming " +
        s"contract — upserts go through TxnLog.foreachBatchUpsert); got $outputMode")
    new GraftStreamSink(sqlContext.sparkSession, rootOf(parameters),
      partitionColumns, parameters.get("collectStats").exists(_.toBoolean))
  }
}

object GraftDataSource {
  /** Test instrument (the [[TxnLog.manifestReads]] convention): the
    * (opened, skipped) dir census of the most recent
    * [[GraftRelation]] scan planned on this JVM — how specs prove the
    * relation actually pruned, since the inner plan is invisible
    * behind the relation's RDD. */
  @volatile private[graft] var lastScanCensus: (Int, Int) = (0, 0)
  /** (filesKept, filesSkipped) of the last native pruned read — file
    * counts cover only dirs carrying per-file manifest stats. */
  @volatile private[graft] var lastFileCensus: (Int, Int) = (0, 0)

  /** DSv1 [[Filter]] → optional-bounded ranges for manifest pruning.
    * Only conjunctive, single-column range shapes prune (`=`, `<`,
    * `<=`, `>`, `>=`, `And`, and same-typed `In` envelopes); anything
    * else contributes nothing — never a wrong skip, because pruning
    * is advisory (Spark re-applies every filter above the scan). */
  private[graft] def rangesOf(f: Filter): Seq[(String, Option[Any], Option[Any])] = f match {
    case EqualTo(c, v) if v != null => Seq((c, Some(v), Some(v)))
    case GreaterThan(c, v) if v != null => Seq((c, Some(v), None))
    case GreaterThanOrEqual(c, v) if v != null => Seq((c, Some(v), None))
    case LessThan(c, v) if v != null => Seq((c, None, Some(v)))
    case LessThanOrEqual(c, v) if v != null => Seq((c, None, Some(v)))
    case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Number]) =>
      val ls = vs.map(_.asInstanceOf[Number].longValue)
      // envelope of the list — exact only for integral values, so
      // gate on the common integral boxes (a double list keeps dirs)
      if (vs.forall(v => v.isInstanceOf[java.lang.Long] ||
            v.isInstanceOf[java.lang.Integer] || v.isInstanceOf[java.lang.Short] ||
            v.isInstanceOf[java.lang.Byte]))
        Seq((c, Some(Long.box(ls.min)), Some(Long.box(ls.max))))
      else Seq.empty
    case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      val ss = vs.map(_.asInstanceOf[String])
      Seq((c, Some(ss.min), Some(ss.max)))
    case And(l, r) => rangesOf(l) ++ rangesOf(r)
    case _ => Seq.empty
  }

  /** DSv1 [[Filter]] → [[Column]], for pushing the SAME predicate
    * into the inner parquet scan (row-group and page skipping under
    * the dir pruning). Partial on purpose: an untranslatable filter
    * is simply not pushed — Spark holds the original above the scan
    * either way. */
  private[graft] def columnOf(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for { a <- columnOf(l); b <- columnOf(r) } yield a && b
    case Or(l, r) => for { a <- columnOf(l); b <- columnOf(r) } yield a || b
    case Not(x) => columnOf(x).map(!_)
    case _ => None
  }
}

/** One TxnLog snapshot as a Catalyst relation — see
  * [[GraftDataSource]] for the contract. [[InsertableRelation]] makes
  * the SQL surface whole: `CREATE TABLE t USING graft OPTIONS (path
  * ...)` + `INSERT INTO t` route through the same commit protocol. */
class GraftRelation(override val sqlContext: SQLContext, root: String,
                    asOf: Option[Long])
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(asOf.isEmpty,
      s"graft: cannot INSERT into a time-travel (versionAsOf) relation of $root")
    if (overwrite) TxnLog.overwrite(data, root) else TxnLog.append(data, root)
    ()
  }

  private def spark: SparkSession = sqlContext.sparkSession

  /** The table root and version pin, for metadata consumers (the MV
    * rewrite rule keys registrations on the root and refuses pinned
    * time-travel relations). */
  private[graft] def tableRoot: String = root
  private[graft] def pinnedAsOf: Option[Long] = asOf

  override val schema: StructType = TxnLog.read(spark, root, asOf).schema

  /** On-disk snapshot bytes × a conservative parquet-decode factor —
    * lets Catalyst broadcast genuinely small graft tables while never
    * under-reporting a big side (the only dangerous direction). */
  override def sizeInBytes: Long = {
    val onDisk = TxnLog.snapshotBytes(spark, root, asOf)
    if (onDisk > Long.MaxValue / 8) Long.MaxValue else onDisk * 8
  }

  // every filter stays above the scan — pruning/pushdown below are
  // pure I/O avoidance, so a translation gap can never change rows
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    val ranges = filters.toSeq.flatMap(GraftDataSource.rangesOf)
    val m = TxnLog.readRangesCensusFiles(spark, root, ranges, asOf)._1
    val snapN = TxnLog.read(spark, root, asOf) // manifest-only if unused
    // census for specs: dirs admitted vs snapshot size (metadata-only)
    GraftDataSource.lastScanCensus = (
      m.inputFiles.length, snapN.inputFiles.length - m.inputFiles.length)
    val filtered = filters.toSeq.flatMap(GraftDataSource.columnOf)
      .foldLeft(m)(_.filter(_))
    val projected =
      if (requiredColumns.isEmpty) filtered.select()
      else filtered.select(requiredColumns.toIndexedSeq.map(col): _*)
    projected.rdd
  }
}

/** The row-level change feed as a relation —
  * `spark.read.format("graft").option("readChangeFeed", true)
  * .option("startingVersion", N)`: [[TxnLog.changeFeed]] behind the
  * Delta CDF read surface, so any Spark consumer (SQL included) can
  * poll "what changed since version N" with `_change_type` /
  * `_commit_version` tags. Whole-feed scan by design (a CDC consumer
  * applies every change — filter pushdown would buy nothing); cost is
  * bounded by the range's affected dirs, never the snapshot. */
class GraftChangeFeedRelation(override val sqlContext: SQLContext,
                              root: String, sinceVersion: Long,
                              untilVersion: Option[Long], keyCols: Seq[String])
    extends BaseRelation with TableScan {

  private def feed: DataFrame =
    TxnLog.changeFeed(sqlContext.sparkSession, root, sinceVersion,
      keyCols, untilVersion)

  /** The feed as its native DataFrame — the scan-substitution rule
    * splices this plan in directly, skipping the `RDD[Row]` hop. */
  private[graft] def feedFrame: DataFrame = feed

  override val schema: StructType = feed.schema

  override def buildScan(): RDD[Row] = feed.rdd
}

/** The table as a micro-batch stream — offsets are COMMIT VERSIONS.
  * See [[GraftDataSource]] for the contract. */
class GraftStreamSource(spark: SparkSession, root: String,
                        ignoreChanges: Boolean,
                        maxVersionsPerTrigger: Int = 0,
                        metadataPath: Option[String] = None,
                        startingVersionOpt: Option[String] = None) extends Source {

  /** Resolved `startingVersion`: a number validates against the log;
    * `'latest'` resolves ONCE — at the query's first start — and the
    * resolution persists in the source's checkpoint metadata so a
    * restart keeps serving from the original frontier instead of
    * re-resolving against a moved log. */
  private val startingVersion: Option[Long] = startingVersionOpt.map { raw =>
    val file = metadataPath.map(mp => new Path(mp, "graft-starting-version"))
    def persisted: Option[Long] = file.flatMap { p =>
      scala.util.Try {
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try Some(new String(
            org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toLong)
          finally in.close()
        }
      }.toOption.flatten
    }
    persisted.getOrElse {
      val latest = TxnLog.latestVersion(spark, root)
      val sv =
        if (raw.equalsIgnoreCase("latest")) latest + 1L
        else raw.toLong
      require(sv >= 0L && sv <= latest + 1L,
        s"graft stream: startingVersion $sv out of range [0, ${latest + 1}] at $root")
      file.foreach { p =>
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val out = fs.create(p, true)
        try out.write(sv.toString.getBytes("UTF-8")) finally out.close()
      }
      sv
    }
  }

  override val schema: StructType = TxnLog.read(spark, root).schema

  /** Where the rate limiter's high-water mark persists across
    * restarts: a tiny file in the source's own checkpoint metadata
    * dir (Spark hands every v1 source a private `metadataPath` inside
    * the checkpoint — the public DeltaSource technique for
    * source-private recovery state). Without it, a post-restart
    * `getOffset` (which Spark calls BEFORE any `getBatch`) would cap
    * from base = −1 and could offer an offset BELOW the checkpoint's
    * committed offset; v1 MicroBatchExecution only checks
    * `available != committed`, so the regressed offset would be
    * accepted, the commit log would move backwards, and later
    * triggers would re-serve committed versions as duplicates. */
  private val limiterFile: Option[Path] =
    metadataPath.map(p => new Path(p, "graft-limiter-base"))

  private def limiterFs: org.apache.hadoop.fs.FileSystem =
    limiterFile.get.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readPersistedBase(): Option[Long] = limiterFile.flatMap { p =>
    scala.util.Try {
      val fs = limiterFs
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toLong)
        finally in.close()
      }
    }.toOption.flatten
  }

  /** True only when this stream has never offered an offset before —
    * no persisted high-water mark existed at construction. Only then
    * is capping from base = −1 safe (there is no committed offset the
    * capped offer could fall below). */
  private val freshStart: Boolean = limiterFile.isEmpty || {
    // distinguish "marker absent" (fresh) from "marker unreadable"
    // (treat as restarted — never cap until re-seeded)
    scala.util.Try(!limiterFs.exists(limiterFile.get)).getOrElse(false)
  }

  /** The last version this source has offered or served — the base
    * the rate limiter advances from. Recovered from the persisted
    * high-water mark on restart (and re-seeded by the first getBatch,
    * whichever is higher); a startingVersion seeds it one below the
    * first version to serve. −1 = unknown. */
  private var base: Long =
    readPersistedBase().orElse(startingVersion.map(_ - 1L)).getOrElse(-1L)

  /** Advance + persist the high-water mark. Persist failures FAIL the
    * trigger: a lost mark is exactly the restart-regression bug, and
    * the mark lives on the checkpoint filesystem — the same
    * reliability domain as the offsets Spark itself writes. */
  private def advanceBase(to: Long): Unit = if (to > base) {
    base = to
    limiterFile.foreach { p =>
      val out = limiterFs.create(p, true)
      try out.write(to.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** BACKPRESSURE (`option("maxVersionsPerTrigger", n)`, 0 = off —
    * the Delta `maxFilesPerTrigger` knob at this format's commit
    * granularity): each trigger advances at most n versions, so a
    * stream catching up on a deep backlog processes it as bounded
    * micro-batches instead of one unbounded read. The FIRST offer of
    * a FRESH stream is capped too — the initial snapshot pins at
    * version n−1 and the rest arrives incrementally, which is what
    * bounds peak batch size on a 100 TB backfill. Across recovery the
    * persisted high-water mark re-seeds the limiter, so an offered
    * offset NEVER regresses below one previously offered (the
    * exactly-once invariant); if the mark is unreadable, the first
    * post-restart offer is simply uncapped — bounded-batch is
    * best-effort, exactly-once is not. */
  override def getOffset: Option[OffsetV1] = {
    val v = TxnLog.latestVersion(spark, root)
    if (v < 0) return None
    // nothing to serve yet: the table hasn't reached startingVersion
    if (startingVersion.exists(v < _)) return None
    val mayCap = maxVersionsPerTrigger > 0 && (base >= 0L || freshStart)
    val offered =
      if (mayCap) math.min(v, base + maxVersionsPerTrigger)
      else v
    advanceBase(offered)
    Some(LongOffset(offered))
  }

  private def versionOf(o: OffsetV1): Long = o.json.toLong

  /** Pin every batch frame to the stream's declared schema: a later
    * widening append must not change a running stream's shape
    * (Spark's streaming contract — restart to pick up new columns),
    * and pre-widening dirs read with typed NULL fill. */
  private def aligned(df: DataFrame): DataFrame =
    df.select(schema.fields.toIndexedSeq.map { f =>
      (if (df.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)
    }: _*)

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = versionOf(end)
    advanceBase(endV) // checkpoint recovery re-seeds the limiter
    val batch = start match {
      // first batch with startingVersion: exactly the commits in
      // [startingVersion, endV], served as appends — no snapshot
      case None if startingVersion.isDefined =>
        TxnLog.readAppendedBetween(spark, root, startingVersion.get - 1L,
            endV, ignoreChanges)
          .getOrElse(TxnLog.read(spark, root, asOf = Some(endV)).limit(0))
      // first batch: the full snapshot at the stream's start version
      // (the Delta-source initial-snapshot semantics)
      case None => TxnLog.read(spark, root, asOf = Some(endV))
      case Some(s) =>
        TxnLog.readAppendedBetween(spark, root, versionOf(s), endV, ignoreChanges)
          .getOrElse(TxnLog.read(spark, root, asOf = Some(endV)).limit(0))
    }
    val a = aligned(batch)
    GraftShims.streamingDataFrame(spark, a.queryExecution.toRdd, a.schema)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftStreamSource[$root]"
}

/** The table as a streaming SINK — `df.writeStream.format("graft")`:
  * each micro-batch appends under txnId `batch-<batchId>`, so a
  * checkpoint-recovery replay of the last batch is a manifest-level
  * no-op — exactly-once by the log's own idempotency, the same
  * contract as [[TxnLog.foreachBatchAppend]] without the caller
  * writing a foreachBatch. Append-only by construction. */
class GraftStreamSink(spark: SparkSession, root: String,
                      partitionColumns: Seq[String],
                      collectStats: Boolean) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the handed frame is streaming-tagged and refuses batch writes —
    // re-wrap its own rows/schema as a plain batch frame (DeltaSink's
    // public technique), then run the ordinary commit protocol
    val batch = GraftShims.batchDataFrame(spark,
      data.queryExecution.toRdd, data.schema)
    TxnLog.append(batch, root, Some(s"batch-$batchId"),
      partitionBy = partitionColumns, collectStats = collectStats)
    ()
  }

  override def toString: String = s"GraftStreamSink[$root]"
}
