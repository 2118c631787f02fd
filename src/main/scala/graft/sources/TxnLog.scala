package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, conv, count, date_format, lit, md5, not, pmod, struct, substring, when}

/** Minimal ACID-ish transaction log over plain parquet — the offline
  * stand-in for the Delta format gap (reference:
  * scripts/convert_to_delta.py:85-88; no delta jars exist in this
  * build env, see [[Sinks.deltaOrParquet]]).
  *
  * Layout (all under one table root):
  * {{{
  *   <root>/data/<uuid>/part-*.parquet   one directory per commit
  *   <root>/_graft_log/<%020d>.json      one manifest per version
  * }}}
  *
  * Protocol:
  *  - A commit first writes its parquet files to a fresh `data/<uuid>/`
  *    directory (invisible to readers — readers only trust the log),
  *    then publishes a manifest via create-exclusive (`O_EXCL`) on the
  *    next version number. The exclusive create is the commit point:
  *    two racing writers cannot both create `_graft_log/…N.json`, the
  *    loser re-reads the log and retries on N+1. Crash before the
  *    manifest lands = an orphan data directory that no reader ever
  *    sees (and `vacuum` eventually deletes).
  *  - `overwrite` resets the visible set to the new directory;
  *    `append` adds to it. Old directories stay on disk, so every
  *    earlier version remains readable (time travel) until `vacuum`.
  *  - Idempotent append: a caller-supplied `txnId` is recorded in the
  *    manifest; an append whose txnId already appears anywhere in the
  *    log is a no-op (safe re-runs; exactly-once `foreachBatch` sinks
  *    use `batch-<batchId>`).
  *
  * At 100 TB the log stays tiny (one small JSON per commit — file
  * listing is per commit directory, never a full-table scan), readers
  * plan directly on the manifest's directory list (partition pruning
  * and predicate pushdown inside each directory still apply), and the
  * commit point is one filesystem metadata operation. Manifests are
  * SELF-CONTAINED (each folds the full visible state, the carried
  * stats/vectors/checks, and the txnId map), so every snapshot
  * operation — read, readWhere, fastCount, the commit CAS loop —
  * resolves ONE manifest (the max-named file; [[latestCommit]]), and
  * incremental consumers ([[changesSince]], [[changeFeed]],
  * [[replicate]]) read exactly their delta's range: a streaming table
  * minting ~10k commits/day never pays an O(n-commits) log replay on
  * its hot paths. Full history replays are reserved for the history
  * consumers ([[versions]], [[vacuum]], [[readWithLineage]],
  * from-the-beginning baselines). Opt-in
  * column-level [min, max] stats per committed directory
  * (`collectStats`) feed [[readWhere]] dir skipping — the
  * Delta/Iceberg data-skipping shape, at commit-dir granularity.
  * Multi-table transactions live one level up in
  * [[TxnCatalog]]; what is deliberately NOT here: cross-table
  * atomicity of source writes (publish after the multi-table load).
  */
object TxnLog {

  private val LogDir = "_graft_log"
  private val MaxRetries = 10
  /** Manifest stats cover at most this many columns (schema order) —
    * keeps every manifest a few hundred bytes no matter how wide the
    * table is. */
  private val MaxStatCols = 8

  /** Resolve a manifest dir entry to the directory holding its bytes.
    * A plain entry is a uuid under this table's own `data/`; an
    * `ext:<absolute-path>` entry (written only by [[cloneTable]])
    * references a data directory inside ANOTHER table's root — the
    * Delta shallow-clone shape, where the clone's manifest points at
    * the source's files by path and never copies a byte. External
    * entries are read-only by construction: every WRITE path mints
    * fresh local uuids, and [[vacuum]] only ever deletes children of
    * this root's `data/` (an `ext:` entry can never name one), so a
    * clone's vacuum physically cannot reach the source's files. */
  private[graft] def dataPath(root: String, d: String): String =
    if (d.startsWith(ExtPrefix)) d.stripPrefix(ExtPrefix) else s"$root/data/$d"

  /** Marker prefix of an external (cloned-in) manifest dir entry. */
  private[graft] val ExtPrefix = "ext:"

  /** One manifest dir entry's raw parquet frame. A plain `spark.read
    * .parquet` runs one footer-inference job per call; a local dir's
    * schema is inferred once per process ([[graft.core.ParquetSchemas]],
    * keyed by qualified path alone: a `data/<uuid>` dir is write-once —
    * every write mints a fresh uuid, and vacuum only deletes) and later
    * reads pass it back, so they plan with no job. `ext:` entries
    * ([[convertFromParquet]], [[cloneTable]]) name directories a
    * foreign writer may still add files to, so they infer every time. */
  private def readDir(spark: SparkSession, root: String, d: String): DataFrame = {
    val path = dataPath(root, d)
    if (d.startsWith(ExtPrefix)) spark.read.parquet(path)
    else graft.core.ParquetSchemas.read(spark,
      fileSystem(spark, root).makeQualified(new Path(path)).toString, -1L, -1L)
  }

  /** Per-column [min, max] of one committed directory, as recorded in
    * the manifest. `tpe` is "long" or "string" — the two families the
    * pruner understands; everything else is simply not collected
    * (dirs stay readable, never skippable, on those columns). */
  private[graft] case class ColStat(tpe: String, min: String, max: String)

  /** One merge-on-read deletion vector: rows of the named commit
    * dirs matching `pred` (a SQL predicate string) are invisible to
    * readers. Scoped to the dirs that held a match when the delete
    * committed — dirs appended LATER are never filtered by an
    * earlier tombstone (deletion-vector semantics, not a standing
    * WHERE clause). */
  private[graft] case class Dv(pred: String, dirs: Seq[String])

  /** `txns` is the carried (txnId → version) map of every txn-stamped
    * commit still inside the retention window — the Delta
    * SetTransaction shape that makes the idempotency lookup O(1)
    * manifest reads instead of a full log replay. `txnsKnown = false`
    * marks a legacy manifest written before the map existed: readers
    * fall back to the full scan once, and the next commit rebuilds
    * the map into its own manifest.
    *
    * `colmap` (logical name → physical name) and `dropped` (retired
    * physical names) are the COLUMN-MAPPING metadata behind
    * [[renameColumn]]/[[dropColumn]] — the Delta column-mapping /
    * Iceberg schema-evolution shape where a rename or drop is one
    * metadata commit and ZERO data files move: bytes on disk keep
    * their physical (creation-time) names forever, writers translate
    * logical → physical before writing, and every read translates
    * back per its pinned manifest (so time travel serves each
    * version's own names). Both empty on tables that never evolved —
    * the identity fast path. */
  private[graft] case class Commit(version: Long, action: String,
                                   dirs: Seq[String], txnId: Option[String],
                                   stats: Map[String, Map[String, ColStat]] = Map.empty,
                                   dvs: Seq[Dv] = Seq.empty,
                                   checks: Map[String, String] = Map.empty,
                                   txns: Map[String, Long] = Map.empty,
                                   txnsKnown: Boolean = true,
                                   colmap: Map[String, String] = Map.empty,
                                   dropped: Seq[String] = Seq.empty,
                                   defaults: Map[String, String] = Map.empty,
                                   transforms: Map[String, String] = Map.empty)

  /** Overwrite the table with `df` as a new version. Returns the
    * committed version number. A `txnId` already in the log makes the
    * overwrite a no-op returning its version (idempotent retry —
    * the streaming materialized view depends on this: a replayed
    * micro-batch must not re-merge). */
  def overwrite(df: DataFrame, root: String, txnId: Option[String] = None,
                partitionBy: Seq[String] = Nil,
                collectStats: Boolean = false,
                bloomCols: Seq[String] = Nil): Long = {
    txnId.foreach { id =>
      txnVersionOf(df.sparkSession, root,
          latestCommit(df.sparkSession, root), id).foreach(return _)
    }
    commit(df, root, "overwrite", txnId, partitionBy = partitionBy,
      collectStats = collectStats, bloomCols = bloomCols)
  }

  /** Append `df` as a new version. If `txnId` is given and already
    * committed, the append is a no-op returning the existing version
    * that carried it (idempotent retry). `collectStats = true` records
    * per-column [min, max] of the new directory in the manifest for
    * [[readWhere]] dir skipping — one extra narrow agg job over the
    * JUST-WRITTEN directory (never the table), opt-in so stat-blind
    * tables pay zero extra barriers. */
  def append(df: DataFrame, root: String, txnId: Option[String] = None,
             partitionBy: Seq[String] = Nil,
             collectStats: Boolean = false,
             bloomCols: Seq[String] = Nil): Long = {
    txnId.foreach { id =>
      txnVersionOf(df.sparkSession, root,
          latestCommit(df.sparkSession, root), id).foreach(return _)
    }
    commit(df, root, "append", txnId, partitionBy = partitionBy,
      collectStats = collectStats, bloomCols = bloomCols)
  }

  /** Read the table at `asOf` (defaults to the latest version).
    * Only directories named by the log are read — orphans from
    * crashed writers are invisible. */
  def read(spark: SparkSession, root: String, asOf: Option[Long] = None): DataFrame = {
    val m = manifestAt(spark, root, asOf)
    val snap = m.map(_.dirs).getOrElse(Seq.empty)
    require(snap.nonEmpty, s"TxnLog table at $root has no data at version ${asOf.getOrElse("latest")}")
    // One read PER version dir, unioned by name — a single multi-path
    // read cannot infer Hive partition columns across several roots
    // (CONFLICTING_DIRECTORY_STRUCTURES); per-dir reads infer them per
    // root, and filters push into every branch's scan, so partition
    // pruning survives the union for partitioned commits.
    // allowMissingColumns = the SCHEMA-EVOLUTION contract: an append
    // may WIDEN the table (new columns), and a snapshot spanning the
    // widening reads older dirs with NULL in the new columns — while a
    // version pinned BEFORE the widening still serves exactly its own
    // narrower schema (it reads only pre-widening dirs). Type changes
    // on an existing column are NOT evolution and still fail loudly in
    // the union. Merge-on-read deletion vectors apply per covered dir
    // as codegen'd filters inside each branch; the manifest's column
    // mapping applies per dir too, so a pinned pre-rename version
    // serves its own (old) names.
    snap.map(d => dirFrame(spark, root, d, m))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** [[read]] with physical row provenance: every row carries the
    * version, action, and txnId of the commit that WROTE its
    * directory — the "which load introduced the bad rows" debugging
    * read (and the audit half of idempotent ingestion: each batch's
    * rows name their batch). Provenance is physical by design: a
    * copy-on-write rewrite (delete/merge/compact/cluster) re-stamps
    * the rows it moved with the rewrite's version, because the bytes
    * on disk ARE from that commit — time travel to a pre-rewrite
    * version recovers the original stamps. Zero extra I/O: the three
    * lineage columns are per-directory literals riding the same
    * per-dir scans as [[read]] (deletion vectors applied the same
    * way), so a filter on `_commit_version` prunes whole dirs at the
    * source. */
  def readWithLineage(spark: SparkSession, root: String,
                      asOf: Option[Long] = None): DataFrame = {
    val commits = history(spark, root)
    val m = manifestAt(spark, root, asOf)
    val snap = m.map(_.dirs).getOrElse(Seq.empty)
    require(snap.nonEmpty, s"TxnLog table at $root has no data at version ${asOf.getOrElse("latest")}")
    snap.map { d =>
      // the creating commit is the FIRST manifest naming the dir —
      // later manifests only re-reference it
      val creator = commits.find(_.dirs.contains(d)).getOrElse(
        throw new IllegalStateException(s"TxnLog: dir $d in snapshot but no creating commit at $root"))
      dirFrame(spark, root, d, m)
        .withColumn("_commit_version", lit(creator.version))
        .withColumn("_commit_action", lit(creator.action))
        .withColumn("_commit_txn", lit(creator.txnId.orNull))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** One snapshot dir's frame under the manifest's view of it: the
    * raw physical columns are first mapped to their LOGICAL names
    * ([[logicalFrame]] — identity and zero-cost when the table never
    * renamed/dropped), then every deletion vector covering the dir
    * applies. Survivors are `pred IS NOT TRUE` — the same SQL DELETE
    * null contract as [[delete]]. DV predicates are expressed in the
    * logical names current when the delete committed, and
    * [[renameColumn]]/[[dropColumn]] refuse while vectors are live,
    * so mapping-then-filter is always the consistent order. A
    * non-empty `files` reads only those files of the dir (file-stat
    * skipping, [[skipScan]]). */
  private def dirFrame(spark: SparkSession, root: String, d: String,
                       m: Option[Commit],
                       partFilters: Seq[(String, Column)] = Nil,
                       files: Seq[String] = Nil): DataFrame = {
    val paths = files.map(f => s"${dataPath(root, d)}/$f")
    // a local dir's files share its (cached) schema; an ext: dir's
    // subset infers from its own files, as a foreign writer may differ
    val raw =
      if (files.isEmpty) readDir(spark, root, d)
      else if (d.startsWith(ExtPrefix)) spark.read.parquet(paths: _*)
      else spark.read.schema(readDir(spark, root, d).schema).parquet(paths: _*)
    // hidden-partition pruning: the mapped predicate references the
    // derived Hive partition column, so Spark's partition pruning
    // skips files INSIDE this commit dir. Applied only when the dir
    // actually carries the column (pre-transform commits stay whole —
    // conservative, never wrong; the caller re-applies the raw
    // predicate either way).
    val pruned = partFilters.foldLeft(raw) { case (df, (pn, pred)) =>
      if (df.columns.contains(pn)) df.filter(pred) else df
    }
    val logical = logicalFrame(pruned,
      m.map(_.colmap).getOrElse(Map.empty), m.map(_.dropped).getOrElse(Seq.empty),
      m.map(_.defaults).getOrElse(Map.empty))
    m.map(_.dvs).getOrElse(Seq.empty).filter(_.dirs.contains(d))
      .foldLeft(logical) { (df, dv) =>
        df.filter(coalesce(not(org.apache.spark.sql.functions.expr(dv.pred)), lit(true)))
      }
  }

  /** Physical → logical projection of one raw dir frame: retired
    * physical columns drop, renamed physical columns surface under
    * their logical name, and ADD COLUMN defaults materialize on dirs
    * written before the column existed ([[addColumn]] — the Iceberg
    * initial-default shape: the expression is a constant, so it costs
    * a literal per row, zero I/O). Identity (and plan-free) for
    * never-evolved tables. */
  private def logicalFrame(df: DataFrame, colmap: Map[String, String],
                           dropped: Seq[String],
                           defaults: Map[String, String] = Map.empty): DataFrame = {
    if (colmap.isEmpty && dropped.isEmpty && defaults.isEmpty &&
      !df.columns.exists(_.startsWith("__p_"))) return df
    val inverse = colmap.map(_.swap) // physical -> logical
    // `__p_*` are DERIVED hidden-partition columns — table metadata,
    // never schema: they exist to be pruned on, not read
    val keep = df.columns.filterNot(dropped.contains)
      .filterNot(_.startsWith("__p_"))
    val mapped = df.select(
      keep.toIndexedSeq.map(c => col(c).as(inverse.getOrElse(c, c))): _*)
    defaults.toSeq.sortBy(_._1).foldLeft(mapped) { case (d, (n, sql)) =>
      if (d.columns.contains(n)) d
      else d.withColumn(n, org.apache.spark.sql.functions.expr(sql))
    }
  }

  /** The physical (on-disk) name behind a logical column under the
    * manifest's mapping — what stats/Bloom lookups key on. */
  private def physOf(m: Option[Commit], c: String): String =
    m.map(_.colmap).getOrElse(Map.empty).getOrElse(c, c)

  // ---- hidden partitioning (the Iceberg transform shape) -------------
  //
  // A `partitionBy` entry may be a TRANSFORM over a data column —
  // `days(ts)`, `bucket(16, user_id)`, `trunc(100, n)` — instead of a
  // plain column name. The writer derives a reserved `__p_<kind>_<col>`
  // column and lays it down as a Hive partition dir INSIDE the commit
  // dir; readers never see it (logicalFrame drops `__p_*`), and the
  // query keeps filtering the RAW column — readWhere/readPoint map the
  // raw predicate onto the derived column per the manifest's
  // registered transform, so Spark's partition pruning skips files
  // WITHIN each commit dir the way manifest stats skip whole dirs.
  // Nobody ever queries (or mis-queries) the derived column: that is
  // the point of HIDDEN partitioning — the transform is table
  // metadata, not schema.

  private val TransformRe = """^(days|bucket|trunc)\s*\((.*)\)$""".r

  /** One partitionBy entry: Right((column, spec)) for a transform,
    * Left(name) for a plain column. Specs serialize as "days",
    * "bucket:<n>", "trunc:<w>". */
  private def parsePartitionSpec(e: String): Either[String, (String, String)] =
    e.trim match {
      case TransformRe("days", c) => Right((c.trim, "days"))
      case TransformRe("bucket", args) =>
        val p = args.split(",").map(_.trim)
        require(p.length == 2 && p(0).nonEmpty && p(0).forall(_.isDigit) && p(0).toLong >= 2,
          s"TxnLog: bad partition transform '$e' — want bucket(<n >= 2>, <col>)")
        Right((p(1), s"bucket:${p(0)}"))
      case TransformRe("trunc", args) =>
        val p = args.split(",").map(_.trim)
        require(p.length == 2 && p(0).nonEmpty && p(0).forall(_.isDigit) && p(0).toLong >= 1,
          s"TxnLog: bad partition transform '$e' — want trunc(<w >= 1>, <col>)")
        Right((p(1), s"trunc:${p(0)}"))
      case plain => Left(plain)
    }

  private def partColName(phys: String, spec: String): String =
    s"__p_${spec.takeWhile(_ != ':')}_$phys"

  /** The derived partition value of `src` under `spec` — the SAME
    * engine expression on the write and the predicate-mapping side,
    * so pruning can never disagree with what the writer laid down.
    * days → 'yyyy-MM-dd' (lexicographic == chronological); bucket →
    * md5-derived hash bucket (engine-portable, the Bloom-probe md5
    * discipline); trunc → floor-aligned width multiple
    * (`x - pmod(x, w)` is a true floor for negatives too). NULLs
    * derive NULL (Hive's default partition) and are never admitted by
    * a range/point predicate — consistent with the raw filter. */
  private def partValueExpr(src: Column, spec: String): Column = spec match {
    case "days" => date_format(src, "yyyy-MM-dd")
    case b if b.startsWith("bucket:") =>
      val n = b.stripPrefix("bucket:").toLong
      pmod(conv(substring(md5(src.cast("string")), 1, 15), 16, 10).cast("long"), lit(n))
    case t if t.startsWith("trunc:") =>
      val w = t.stripPrefix("trunc:").toLong
      src.cast("long") - pmod(src.cast("long"), lit(w))
    case other => throw new IllegalStateException(s"TxnLog: unknown transform '$other'")
  }

  /** Partition-pruning predicate for a closed raw-column range, when
    * the manifest registers an ORDER-PRESERVING transform (days,
    * trunc) on it. Bucket is hash-ordered — no range mapping. */
  private def partitionRange(m: Option[Commit], phys: String,
                             lo: Any, hi: Any): Seq[(String, Column)] =
    m.flatMap(_.transforms.get(phys)).toSeq.flatMap { spec =>
      val pn = partColName(phys, spec)
      spec match {
        case "days" =>
          Seq((pn, col(pn) >= date_format(lit(lo), "yyyy-MM-dd") &&
            col(pn) <= date_format(lit(hi), "yyyy-MM-dd")))
        case t if t.startsWith("trunc:") =>
          val w = t.stripPrefix("trunc:").toLong
          def tr(v: Any) = lit(v).cast("long") - pmod(lit(v).cast("long"), lit(w))
          Seq((pn, col(pn) >= tr(lo) && col(pn) <= tr(hi)))
        case _ => Seq.empty
      }
    }

  /** Partition-pruning predicate for a raw-column point lookup —
    * every transform maps a point (bucket included: the whole reason
    * to bucket a high-cardinality key). */
  private def partitionPoint(m: Option[Commit], phys: String,
                             value: Any): Seq[(String, Column)] =
    if (value == null) Seq.empty
    else m.flatMap(_.transforms.get(phys)).toSeq.map { spec =>
      (partColName(phys, spec),
        col(partColName(phys, spec)) === partValueExpr(lit(value), spec))
    }

  /** The manifest visible at `asOf` (latest by default), with the
    * same pin validation as [[read]]: a vacuumed or never-written
    * version fails loudly. O(1) manifest reads either way — versions
    * are dense, so "the manifest at ≤ v" IS the manifest at exactly v
    * when v was ever committed (and the require proves it was). */
  private def manifestAt(spark: SparkSession, root: String,
                         asOf: Option[Long]): Option[Commit] = asOf match {
    case None => latestCommit(spark, root)
    case Some(v) =>
      val fs = fileSystem(spark, root)
      val m = manifestFileAt(fs, root, v)
      require(m.isDefined,
        s"TxnLog: version $v does not exist at $root (vacuumed or never written); " +
          s"available: ${listVersions(fs, root).mkString(",")}")
      m
  }

  /** (version, action, n_dirs, txn_id) per commit — the audit trail. */
  def versions(spark: SparkSession, root: String): Seq[(Long, String, Int, Option[String])] =
    history(spark, root).map(c => (c.version, c.action, c.dirs.size, c.txnId))

  /** Latest committed version, or -1 for an empty/absent table.
    * Names only — zero manifest reads, and O(1) listings via the
    * `_last_checkpoint` pointer. */
  def latestVersion(spark: SparkSession, root: String): Long =
    resolveLatest(fileSystem(spark, root), root)

  /** `DESCRIBE HISTORY` as a DataFrame — the ops audit surface every
    * lakehouse table ships: one row per commit with its wall-clock
    * time (manifest mtime — the commit point IS the manifest create),
    * action, dir/tombstone/constraint census, idempotency txn, and
    * how many dirs are external (clone references). A full log replay
    * by design — this is a HISTORY consumer, like [[versions]] and
    * [[vacuum]]; snapshot ops stay O(1). */
  def describeHistory(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val fs = fileSystem(spark, root)
    history(spark, root).map { c =>
      (c.version,
        new java.sql.Timestamp(
          fs.getFileStatus(logPath(root, c.version)).getModificationTime),
        c.action, c.dirs.size.toLong, c.txnId.orNull,
        c.dvs.size.toLong, c.checks.size.toLong,
        c.dirs.count(_.startsWith(ExtPrefix)).toLong)
    }.toDF("version", "committed_at", "action", "n_dirs", "txn_id",
      "n_dvs", "n_checks", "n_external_dirs")
  }

  /** Drop time travel older than `retainVersions` back from latest:
    * deletes data directories referenced ONLY by expired versions, and
    * the expired manifests themselves (so a read at an expired version
    * fails loudly instead of returning partial data).
    *
    * Orphan data directories — ones NO manifest has ever referenced —
    * are removed only once older than `orphanMinAgeMs` (modification
    * time). The age guard is load-bearing, not cosmetic: an in-flight
    * writer stages its data dir BEFORE publishing its manifest, so a
    * concurrent vacuum that swept every unreferenced dir would delete
    * the dir out from under the commit and the manifest would then
    * publish pointing at nothing — the exact race Delta's vacuum
    * retention window exists for. Directories referenced by expired
    * manifests delete regardless of age (their expiry is proven by the
    * log, not guessed from timestamps). */
  def vacuum(spark: SparkSession, root: String, retainVersions: Int = 1,
             orphanMinAgeMs: Long = 10L * 60 * 1000): Unit = {
    val fs = fileSystem(spark, root)
    val (commits, cutoff, classed) = vacuumClasses(spark, root, retainVersions, orphanMinAgeMs)
    classed.foreach { case (st, cls) =>
      if (cls.startsWith("delete")) { fs.delete(st.getPath, true); () }
    }
    commits.filter(_.version < cutoff).foreach { c =>
      fs.delete(logPath(root, c.version), false); ()
    }
  }

  /** The one vacuum classifier behind [[vacuum]] and [[vacuumAudit]]:
    * the log, the retention cutoff, and every data directory outside
    * the retained snapshots with its class. An `ext:` entry that
    * RESOLVES under this root's `data/` (a manifest written before the
    * convertFromParquet/cloneTable nesting guards) keeps its dir
    * whether it expired by name or looks like an orphan: a retained
    * version may still read it. */
  private def vacuumClasses(spark: SparkSession, root: String, retainVersions: Int,
                            orphanMinAgeMs: Long): (Seq[Commit], Long, Seq[(FileStatus, String)]) = {
    require(retainVersions >= 1, s"need retainVersions >= 1, got $retainVersions")
    require(orphanMinAgeMs >= 0, s"need orphanMinAgeMs >= 0, got $orphanMinAgeMs")
    val fs = fileSystem(spark, root)
    val commits = history(spark, root)
    if (commits.isEmpty) return (commits, 0L, Seq.empty)
    val cutoff = commits.last.version - (retainVersions - 1)
    val keepDirs = commits.filter(_.version >= cutoff).flatMap(_.dirs).toSet
    val referencedEver = commits.flatMap(_.dirs).toSet
    val extResolved = referencedEver.filter(_.startsWith(ExtPrefix))
      .map(d => new Path(d.stripPrefix(ExtPrefix)).toUri.getPath)
    val orphanCutoffMs = System.currentTimeMillis() - orphanMinAgeMs
    val dataRoot = new Path(s"$root/data")
    val classed =
      if (!fs.exists(dataRoot)) Seq.empty
      else fs.listStatus(dataRoot).toIndexedSeq.filter(_.isDirectory).flatMap { st =>
        val name = st.getPath.getName
        val cls =
          if (keepDirs.contains(name)) None // live — not a candidate
          else if (extResolved.contains(st.getPath.toUri.getPath)) Some("keep-ext-referenced")
          else if (referencedEver.contains(name)) Some("delete-expired")
          else if (st.getModificationTime < orphanCutoffMs) Some("delete-stale-orphan")
          else Some("keep-fresh-orphan")
        cls.map(st -> _)
      }
    (commits, cutoff, classed)
  }

  /** One-row TABLE HEALTH report — the at-a-glance composition of
    * every advisor a maintenance cadence consults ([[compactAdvice]]'s
    * file census, stats/Bloom coverage, deletion-vector debt,
    * [[vacuumAudit]]'s reclaimable bytes, history depth, CHECK and
    * schema-evolution state). Metadata-only: manifests plus one
    * filesystem listing — never a data read. The dashboard row every
    * lakehouse table ships with; act through [[maintain]]. */
  def health(spark: SparkSession, root: String,
             targetBytes: Long = 128L * 1024 * 1024): DataFrame = {
    import spark.implicits._
    val latest = latestCommit(spark, root)
    require(latest.nonEmpty, s"TxnLog: no table at $root")
    val c = latest.get
    val (nFiles, bytes, ideal) = fileCensus(spark, root, c.dirs, targetBytes)
    val statsOn = c.dirs.count(d => c.stats.get(d).exists(_.nonEmpty))
    val reclaimable = vacuumAudit(spark, root)
      .filter(col("action").startsWith("delete"))
      .agg(coalesce(org.apache.spark.sql.functions.sum(col("bytes")), lit(0L)))
      .head.getLong(0)
    Seq((c.version, c.dirs.size.toLong, nFiles, bytes, ideal,
      if (nFiles > 4L * ideal) 1 else 0,
      // exact bps: stats-covered dirs over snapshot dirs
      if (c.dirs.isEmpty) 0L else statsOn.toLong * 10000L / c.dirs.size,
      c.dvs.size.toLong, reclaimable, c.checks.size.toLong,
      c.colmap.size.toLong + c.dropped.size.toLong, c.transforms.size.toLong))
      .toDF("version", "n_dirs", "n_files", "total_bytes", "ideal_files",
        "compact_flag", "stats_coverage_bps", "dv_count",
        "reclaimable_bytes", "checks_n", "schema_evolutions", "transforms_n")
  }

  /** [[vacuum]]'s DRY RUN — what WOULD be deleted, without touching a
    * byte: one row per data directory outside the current snapshot,
    * classed `delete-expired` (referenced only by versions past the
    * retention window — deleted regardless of age), `delete-stale-
    * orphan` (never referenced, older than `orphanMinAgeMs`),
    * `keep-fresh-orphan` (a possibly in-flight writer's staging dir —
    * the age guard protects it), or `keep-ext-referenced` (see
    * [[vacuumClasses]]). The operator reviews reclaimable bytes and the
    * blast radius on time travel BEFORE destroying history — the audit
    * every production retention job runs first. Metadata-only (one
    * listing + one content summary per candidate); [[vacuum]] runs the
    * same classifier, so the audit names exactly what a same-parameter
    * vacuum then deletes. */
  def vacuumAudit(spark: SparkSession, root: String, retainVersions: Int = 1,
                  orphanMinAgeMs: Long = 10L * 60 * 1000): DataFrame = {
    import spark.implicits._
    val fs = fileSystem(spark, root)
    val (commits, _, classed) = vacuumClasses(spark, root, retainVersions, orphanMinAgeMs)
    val lastRef = commits.flatMap(c => c.dirs.map(_ -> c.version))
      .groupBy(_._1).map { case (d, vs) => d -> vs.map(_._2).max }
    classed.map { case (st, cls) =>
      val name = st.getPath.getName
      (name, cls, fs.getContentSummary(st.getPath).getLength, lastRef.getOrElse(name, -1L))
    }.sortBy(_._1).toDF("dir_name", "action", "bytes", "last_version")
  }

  /** Compaction: rewrite the CURRENT snapshot into ~`targetBytes`
    * files and publish it as a new overwrite version. Readers never
    * block (old versions stay readable; the commit point is the same
    * exclusive manifest create), so this is the online answer to the
    * small-file problem a long-lived append table accumulates —
    * thousands of micro-batch files become a handful of scan-sized
    * ones, and time travel to pre-compaction versions still works
    * until `vacuum`. Returns the new version. */
  def compact(spark: SparkSession, root: String,
              targetBytes: Long = 128L * 1024 * 1024,
              collectStats: Boolean = true): Long = {
    require(targetBytes > 0, s"need targetBytes > 0, got $targetBytes")
    val fs = fileSystem(spark, root)
    val snap = snapshotDirs(spark, root, None)
    require(snap.nonEmpty, s"TxnLog: nothing to compact at $root")
    val bytes = snap.map(d =>
      fs.getContentSummary(new Path(dataPath(root, d))).getLength).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val expected = latestVersion(spark, root)
    // pinned to `expected`: with append-rebase conflict resolution, an
    // append landing between an UNPINNED read and the publish would be
    // counted twice (inside the rewrite AND as the rebased dir)
    val current = read(spark, root, asOf = Some(expected))
    // a partitioned table keeps its physical layout through the
    // rewrite: Hive partition columns pass through as themselves, and
    // `__p_*` hidden-partition dirs re-derive from the manifest's
    // registered transform (commit's layoutOf-echo path) — compaction
    // must never silently flatten the layout pruning depends on
    val layout = layoutOf(spark, root, snap.toSet)
    // stats ON by default (the Delta OPTIMIZE discipline): the merged
    // dir is exactly where dir-level [min, max] widens to the union,
    // so the per-FILE stats dirStats records are what keep point and
    // range lookups prunable after compaction. coalesce preserves the
    // input dirs' ordering, so sorted-ingest tables keep tight
    // per-file ranges through the rewrite.
    commit(current.coalesce(nFiles), root, "overwrite", None,
      expectedLatest = Some(expected), partitionBy = layout,
      collectStats = collectStats)
  }

  /** PARTITION-SCOPED compaction — the Delta `OPTIMIZE ... WHERE`
    * shape: rewrite only the snapshot dirs whose manifest stats admit
    * rows in `[lo, hi]` of `column`, leaving every other dir in the
    * manifest BY REFERENCE. At 100 TB this is how compaction actually
    * runs — the hot recent partition gets optimized on a cadence, the
    * cold petabytes are never touched. Selection uses the same
    * conservative pruning laws as [[readWhere]] (stat-blind dirs are
    * selected — never wrongly excluded), the rewrite carries the
    * affected dirs' physical layout, and deletion vectors scoped to
    * rewritten dirs materialize away exactly as in [[compact]].
    *
    * Idempotent by construction: the scope must span at least TWO
    * dirs to mint a version (a freshly scoped-compacted range sits in
    * one dir, so a re-run no-ops and an advisory cadence never
    * flaps); single-dir small-FILE problems are [[compact]]/
    * [[maintain]]'s whole-table job. Returns the committed version
    * (or the current one when nothing minted). */
  def compactWhere(spark: SparkSession, root: String, column: String,
                   lo: Any, hi: Any,
                   targetBytes: Long = 128L * 1024 * 1024): Long = {
    require(targetBytes > 0, s"need targetBytes > 0, got $targetBytes")
    val expected = latestVersion(spark, root)
    val (affected, untouched, snap) =
      pruneDirs(spark, root, column, lo, hi, Some(expected))
    require(snap.nonEmpty, s"TxnLog: nothing to compact at $root")
    if (affected.size <= 1) return expected
    val m = manifestAt(spark, root, Some(expected))
    val current = affected.sorted
      .map(d => dirFrame(spark, root, d, m))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val fs = fileSystem(spark, root)
    val bytes = affected.map(d =>
      fs.getContentSummary(new Path(dataPath(root, d))).getLength).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    // stats on the rewrite are LOAD-BEARING here (unlike [[compact]],
    // whose whole-table rewrite is never re-selected): a stat-blind
    // merged dir would be conservatively re-admitted by EVERY later
    // scope and the cadence would rewrite it forever
    commit(current.coalesce(nFiles), root, "replace", None,
      expectedLatest = Some(expected),
      replaceBase = Some(untouched),
      partitionBy = layoutOf(spark, root, affected.toSet),
      collectStats = true)
  }

  /** Small-file compaction advisor — the monitoring→action half of
    * [[compact]], mirroring `IvfIndex.rebuildAdvice`: a long-lived
    * append table accumulates one small data dir per micro-batch
    * commit, and scan cost degrades with FILE COUNT long before bytes
    * matter. Reports the current snapshot's file census and a verdict:
    * compact when the snapshot holds more than `slack ×` the ideal
    * file count (`ceil(bytes / targetBytes)`, minimum 1) — a table at
    * its ideal layout never flaps, a micro-batch stream trips the
    * verdict as soon as its commit count outruns its data.
    *
    * Metadata-only: one FileSystem listing of the snapshot dirs, no
    * data read. Returns one row (n_files, total_bytes, ideal_files,
    * compact 0/1, reason). */
  def compactAdvice(spark: SparkSession, root: String,
                    targetBytes: Long = 128L * 1024 * 1024,
                    slack: Long = 4L): DataFrame = {
    require(targetBytes > 0 && slack >= 1,
      s"need targetBytes > 0 and slack >= 1, got $targetBytes, $slack")
    val (nFiles, bytes, ideal) =
      fileCensus(spark, root, snapshotDirs(spark, root, None), targetBytes)
    val doCompact = nFiles > slack * ideal
    import spark.implicits._
    Seq((nFiles, bytes, ideal, if (doCompact) 1 else 0,
      if (doCompact) s"files $nFiles > $slack x ideal $ideal" else "compacted-enough"))
      .toDF("n_files", "total_bytes", "ideal_files", "compact", "reason")
  }

  /** The snapshot file census [[health]] and [[compactAdvice]] share:
    * (data files, their bytes, the ideal file count
    * `ceil(bytes / targetBytes)`, minimum 1) — one listing per dir. */
  private def fileCensus(spark: SparkSession, root: String, dirs: Seq[String],
                         targetBytes: Long): (Long, Long, Long) = {
    val fs = fileSystem(spark, root)
    val files = dirs.flatMap { d =>
      fs.listStatus(new Path(dataPath(root, d))).toIndexedSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
    }
    val bytes = files.map(_.getLen).sum
    (files.size.toLong, bytes, math.max(1L, (bytes + targetBytes - 1) / targetBytes))
  }

  /** 2-D Hilbert index of bucket coordinates in [0, 2^bits)² — the
    * classic xy2d walk (Hamilton's compact form as popularized by
    * Warren, "Hacker's Delight"): per level s = 2^(bits−i),
    * accumulate s²·((3·rx) ⊕ ry) and rotate the frame. The curve
    * preserves locality strictly better than the z-interleave (no
    * diagonal jumps across quadrant seams), which is why Delta's
    * OPTIMIZE clusters by Hilbert — dirs cover tighter rectangles at
    * the same bit budget. One linear `aggregate` fold (the ilog2Fp16
    * discipline — an unrolled expression tree would grow 4^bits), all
    * integer, replayable step-for-step in SQL. */
  private[graft] def hilbertIndex(bx: Column, by: Column, bits: Int): Column = {
    import org.apache.spark.sql.functions.{aggregate, call_function, sequence, struct, when}
    val init = struct(bx.as("x"), by.as("y"), lit(0L).as("d"))
    aggregate(sequence(lit(1), lit(bits)), init, (st, i) => {
      val x = st.getField("x"); val y = st.getField("y"); val d = st.getField("d")
      val sC = call_function("shiftleft", lit(1L), (lit(bits) - i).cast("int"))
      val rx = when(x.bitwiseAND(sC) =!= 0L, lit(1L)).otherwise(lit(0L))
      val ry = when(y.bitwiseAND(sC) =!= 0L, lit(1L)).otherwise(lit(0L))
      val nd = d + sC * sC * (lit(3L) * rx).bitwiseXOR(ry)
      val nx = when(ry === 0L,
        when(rx === 1L, sC - 1L - y).otherwise(y)).otherwise(x)
      val ny = when(ry === 0L,
        when(rx === 1L, sC - 1L - x).otherwise(x)).otherwise(y)
      struct(nx.as("x"), ny.as("y"), nd.as("d"))
    }).getField("d")
  }

  /** Z-ORDER clustering rewrite — the Delta `OPTIMIZE ZORDER BY` /
    * Iceberg sort-order shape that makes the manifest's per-dir
    * [min, max] stats selective on SEVERAL columns at once. An append
    * table is physically ordered by arrival, so [[readWhere]] prunes
    * beautifully on the append key and not at all on anything else;
    * `cluster` rewrites the snapshot along a space-filling curve:
    * each row's cluster columns are bucketed into `2^bits` linear
    * buckets (integer width arithmetic — `ceil(range / 2^bits)` — no
    * doubles), the bucket bits are interleaved into a z-value, and
    * the z-domain is split into `nDirs` static ranges, one commit
    * directory each. Nearby (c1, c2) rows land in the same dir, so
    * every dir covers a small rectangle of the value space and a
    * range predicate on EITHER column (or both, via [[readWhereAll]])
    * proves most dirs away. Rows inside each dir are additionally
    * sorted by the cluster columns so parquet row-group stats prune
    * within surviving dirs.
    *
    * Scale shape: one pass over the snapshot (bounded one-row min/max
    * collect + one repartition shuffle on the dir key + the write) —
    * the same cost class as [[compact]], which this subsumes (vectors
    * are read away, small dirs merged). Default linear bucketing is
    * exact and deterministic but skew-blind; `quantileBuckets = true`
    * switches to equal-population KLL cutpoints (the `range_plan`
    * discipline) so a zipf-skewed column still fills every bucket —
    * dir SKEW never affects correctness, only pruning yield and dir
    * balance. Cluster columns may be integral (pass-through),
    * double/float (micro-unit quantized), or string (order-preserving
    * dictionary rank — the raw column's string [min, max] stats stay
    * tight, so pruning works on the string itself); nulls bucket
    * to 0. Same CAS +
    * idempotent-txnId protocol as [[compact]]/[[delete]]; checks and
    * time travel carry; the "overwrite" action re-baselines
    * [[changesSince]] consumers loudly, like compact. Returns the
    * committed version. */
  def cluster(spark: SparkSession, root: String, zorderBy: Seq[String],
              nDirs: Int = 8, bits: Int = 8,
              txnId: Option[String] = None,
              quantileBuckets: Boolean = false,
              curve: String = "zorder"): Long = {
    import org.apache.spark.sql.functions.{array, least, max => smax, min => smin, shiftleft, shiftright, size, filter => ffilter}
    require(zorderBy.size >= 2 && zorderBy.size <= 3,
      s"cluster: zorderBy wants 2-3 columns, got ${zorderBy.size} (one column needs no curve — sort and compact)")
    require(nDirs >= 2 && nDirs <= 4096, s"cluster: need 2 <= nDirs <= 4096, got $nDirs")
    require(bits >= 1 && bits * zorderBy.size <= 40,
      s"cluster: need bits >= 1 and bits * nCols <= 40, got $bits x ${zorderBy.size}")
    require(curve == "zorder" || curve == "hilbert",
      s"cluster: curve must be 'zorder' or 'hilbert', got '$curve'")
    require(curve == "zorder" || zorderBy.size == 2,
      s"cluster: the hilbert curve supports exactly 2 columns, got ${zorderBy.size}")
    val latest0 = latestCommit(spark, root)
    txnId.foreach { id =>
      txnVersionOf(spark, root, latest0, id).foreach(return _)
    }
    require(latest0.nonEmpty, s"TxnLog: cannot cluster empty table at $root")
    val expected = latest0.get.version
    // a Hive-partitioned table already has a physical layout strategy;
    // a z-order rewrite would silently flatten it — refuse loudly (the
    // two are ALTERNATIVE layouts: pick partition dirs for one
    // low-cardinality column, the z-curve for several range columns)
    require(layoutOf(spark, root, latest0.get.dirs.toSet).isEmpty,
      s"TxnLog: table at $root is Hive-partitioned — cluster would flatten its layout; " +
        "compact within partitions or rebuild the table unpartitioned first")
    // pinned to `expected` (the append-rebase double-count guard, see
    // compact); deletion vectors are read away here
    val current = read(spark, root, asOf = Some(expected))
    // Derive an INTEGRAL z-key per cluster column, in-house, so
    // `cluster(zorderBy = Seq("lang", "source"))` works directly:
    //  - integral columns pass through;
    //  - double/float quantize to micro-units (the house fixed-point
    //    convention) — order-preserving, so locality is real;
    //  - strings take their DICTIONARY RANK (one narrow distinct +
    //    single-partition rank window, broadcast back): rank order ==
    //    lexicographic order, so the written dirs' string [min, max]
    //    manifest stats stay TIGHT and range/point pruning on the RAW
    //    column keeps working post-cluster.
    // NULLs key to 0 (bucket 0 — the existing convention).
    val stringCols = {
      import org.apache.spark.sql.types._
      zorderBy.foreach { c =>
        val f = current.schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"cluster: no column '$c' at $root"))
        f.dataType match {
          case LongType | IntegerType | ShortType | ByteType
               | DoubleType | FloatType | StringType =>
          case other => throw new IllegalArgumentException(
            s"cluster: column '$c' is ${other.simpleString}; z-order supports " +
              "integral, double/float (micro-unit), and string (dictionary rank) columns")
        }
      }
      zorderBy.filter(c => current.schema(c).dataType == StringType)
    }
    val withDicts = stringCols.foldLeft(current) { (df, c) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.row_number
      val dict = current.select(col(c)).filter(col(c).isNotNull).distinct()
      val nDict = dict.count()
      require(nDict <= (1L << 21),
        s"cluster: string column '$c' has $nDict distinct values — too wide for " +
          "a broadcast dictionary rank; bucket it upstream")
      // single-partition window is fine: bounded by the dictionary,
      // never the table
      val ranked = dict.withColumn(s"__zk_$c",
        row_number().over(Window.orderBy(col(c))).cast("long"))
      df.join(org.apache.spark.sql.functions.broadcast(ranked), Seq(c), "left")
    }
    val keyed = zorderBy.foldLeft(withDicts) { (df, c) =>
      import org.apache.spark.sql.types._
      current.schema(c).dataType match {
        case DoubleType | FloatType => df.withColumn(s"__zk_$c",
          org.apache.spark.sql.functions.round(col(c).cast("double") * 1000000.0).cast("long"))
        case StringType => df // rank already joined
        case _ => df.withColumn(s"__zk_$c", col(c).cast("long"))
      }
    }
    def zk(c: String): Column = col(s"__zk_$c")
    val nb = 1L << bits
    // per-column buckets. Linear (default): equal-width from one
    // min/max row — exact, but skew-blind (a zipf column piles into
    // bucket 0 and the curve degenerates). Quantile: equal-POPULATION
    // cutpoints from one mergeable KLL sketch per column (the
    // range_plan discipline) — each bucket holds ~the same row count
    // no matter the distribution, so dirs stay balanced. Both are one
    // bounded one-row collect; bucketing quality never touches
    // correctness (the oracle is content identity either way).
    val buckets =
      if (quantileBuckets) {
        import graft.expressions.SketchAggregates.{quantileSketch, sketchQuantileDisc}
        val pcts = (1L until nb.min(100L)).map(i => ((i * 100 + nb / 2) / nb).toInt)
          .filter(p => p >= 1 && p <= 99).distinct
        val skAggs = zorderBy.map(c =>
          quantileSketch(zk(c).cast("double"), 32768).as(s"__sk_$c"))
        val cutRow = keyed.agg(skAggs.head, skAggs.tail: _*)
          .select(zorderBy.map(c => array(pcts.map(p =>
            sketchQuantileDisc(col(s"__sk_$c"), p)): _*).as(s"__cuts_$c")): _*)
          .head
        zorderBy.map { c =>
          val cuts = Option(cutRow.getAs[scala.collection.Seq[Double]](s"__cuts_$c"))
            .map(_.filter(v => !v.isNaN).distinct.sorted.toSeq).getOrElse(Seq.empty)
          if (cuts.isEmpty) lit(0L) // empty/all-null column
          else least(coalesce(
            size(ffilter(lit(cuts.toArray), v => zk(c).cast("double") > v)).cast("long"),
            lit(0L)), lit(nb - 1L))
        }
      } else {
        // bounded one-row collect: the per-column domain the buckets split
        val aggs = zorderBy.flatMap(c =>
          Seq(smin(zk(c)).cast("long").as(s"__mn_$c"), smax(zk(c)).cast("long").as(s"__mx_$c")))
        val row = keyed.agg(aggs.head, aggs.tail: _*).head
        zorderBy.map { c =>
          val mnAny = row.get(row.fieldIndex(s"__mn_$c"))
          if (mnAny == null) lit(0L) // all-null column: everything in bucket 0
          else {
            val mn = mnAny.asInstanceOf[Long]
            val mx = row.getAs[Long](s"__mx_$c")
            // integer ceil((mx - mn + 1) / nb): exact, overflow-free width
            val w = math.max(1L, (mx - mn + nb) / nb)
            least(coalesce(org.apache.spark.sql.functions.expr(
              s"(`__zk_$c` - ${mn}L) div ${w}L"), lit(0L)), lit(nb - 1L))
          }
        }
      }
    val totalBits = bits * zorderBy.size
    // bit-interleave: z = sum_j sum_i ((b_i >> j) & 1) << (j*k + i)
    val k = zorderBy.size
    val zInterleave = (0 until bits).foldLeft(lit(0L)) { (accJ, j) =>
      buckets.zipWithIndex.foldLeft(accJ) { case (acc, (b, i)) =>
        acc.bitwiseOR(shiftleft(shiftright(b, j).bitwiseAND(lit(1L)), j * k + i))
      }
    }
    // Hilbert index (2-D, the classic xy2d walk — Hamilton's compact
    // form as popularized by Warren, "Hacker's Delight"): per level s
    // = 2^(bits-i), accumulate s²·((3·rx) ⊕ ry) and rotate the frame.
    // The curve preserves LOCALITY strictly better than z-order (no
    // long diagonal jumps between quadrant boundaries), which is why
    // Delta's OPTIMIZE clusters by Hilbert — dirs cover tighter
    // rectangles at the same bit budget. One linear `aggregate` fold
    // (the ilog2Fp16 discipline — an unrolled expression tree would
    // grow 4^bits), all integer, replayed step-for-step in SQL. */
    val z = if (curve == "hilbert") hilbertIndex(buckets(0), buckets(1), bits)
            else zInterleave
    // static split of the z-domain into nDirs ranges (deterministic —
    // a sampled range partitioner would not be)
    val zdir = shiftright(z * lit(nDirs.toLong), totalBits)
    val fs = fileSystem(spark, root)
    val stageUuid = java.util.UUID.randomUUID.toString
    val staging = s"$root/data/.staging-$stageUuid"
    // the derived __zk_* keys route rows, then drop — dirs carry the
    // table's own columns only, written under their PHYSICAL names
    // (the column-mapping invariant: bytes on disk always carry
    // creation-time names; a projection after the sort reorders no
    // rows)
    val physCols = current.columns.toIndexedSeq.map(c =>
      col(c).as(latest0.get.colmap.getOrElse(c, c)))
    keyed.withColumn("__zdir", zdir)
      .select((current.columns.map(col) :+ col("__zdir")).toIndexedSeq: _*)
      .repartition(nDirs, col("__zdir"))
      .sortWithinPartitions(zorderBy.map(col): _*)
      .select(physCols :+ col("__zdir"): _*)
      .write.partitionBy("__zdir").parquet(staging)
    // promote each non-empty z-range to a first-class commit dir
    val parts = fs.listStatus(new Path(staging)).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__zdir="))
      .sortBy(_.getPath.getName.stripPrefix("__zdir=").toLong)
    require(parts.nonEmpty, s"TxnLog: cluster rewrite of $root produced no data")
    val newDirs = parts.map { p =>
      val d = s"$stageUuid-z${p.getPath.getName.stripPrefix("__zdir=")}"
      require(fs.rename(p.getPath, new Path(s"$root/data/$d")),
        s"TxnLog: failed to promote ${p.getPath} to data/$d")
      d
    }
    fs.delete(new Path(staging), true) // _SUCCESS leftovers
    // stats are the POINT of clustering — always collected, read back
    // from the promoted dirs (manifest certifies disk)
    val statsMap = newDirs.map(d => d -> dirStats(spark, root, d)).toMap
    // data content is the already-gated snapshot verbatim — CHECK
    // constraints hold by construction, no re-validation scan. Same
    // optimistic resolution as [[commit]]: interleaved plain appends
    // rebase by reference (their dirs stay un-clustered until the next
    // pass — pruning yield, never correctness) and keep their own
    // manifest stats (DVs cannot cover them: appends add none)
    publish(spark, root, txnId, Some(expected), rebase = true, "cluster", newDirs) {
      (version, last, rebased) =>
        val c = last.get
        c.copy(version = version, action = "overwrite", dirs = newDirs ++ rebased,
          stats = statsMap ++ c.stats.filter { case (d, _) => rebased.contains(d) },
          dvs = Seq.empty)
    }
  }

  /** Clustering advisor — the monitoring half of [[cluster]],
    * completing the advise→act triad ([[compactAdvice]]→[[compact]],
    * `IvfIndex.rebuildAdvice`→`rebuild`): for every long-family
    * column with full stats coverage, how USELESS are the per-dir
    * [min, max] stats for range pruning? The signal is the AVERAGE
    * KEEP FRACTION `Σ_dirs dir_width / (table_width · n_dirs)` in
    * exact bps — what share of the table's dirs a random point
    * predicate on that column must open. Scale-invariant in the dir
    * count: a range-partitioned column scores ~10000/n_dirs (each dir
    * owns a slice), a scattered column ~10000 (every dir spans the
    * whole domain — stats prune nothing). Columns at or above
    * `scatterBps` are flagged; two or more flags = the table wants
    * `cluster` on them. Metadata-only — one manifest read, zero data
    * files opened. One row per eligible column: (col_name, n_dirs,
    * table_width, sum_dir_width, overlap_bps, scattered). Columns
    * with any stat-blind dir are skipped (no honest verdict), string
    * stats have no width, and a one-dir table is trivially
    * well-clustered. Complements [[prunePoint]]'s Blooms: a column
    * flagged here either gets clustered or gets a Bloom, depending on
    * whether its queries are ranges or point probes. */
  def clusterAdvice(spark: SparkSession, root: String,
                    scatterBps: Long = 5000L,
                    asOf: Option[Long] = None): DataFrame = {
    require(scatterBps > 0L && scatterBps <= 10000L,
      s"need scatterBps in (0, 10000], got $scatterBps")
    val manifest = manifestAt(spark, root, asOf)
    val snap = manifest.map(_.dirs).getOrElse(Seq.empty)
    require(snap.nonEmpty, s"TxnLog table at $root has no data at version ${asOf.getOrElse("latest")}")
    val stats = manifest.map(_.stats).getOrElse(Map.empty)
    // stats key on PHYSICAL names; the report speaks logical (dropped
    // physical columns carry no advice — they are not readable)
    val inverse = manifest.map(_.colmap).getOrElse(Map.empty).map(_.swap)
    val retired = manifest.map(_.dropped).getOrElse(Seq.empty).toSet
    val cols = snap.flatMap(d => stats.getOrElse(d, Map.empty).keys)
      .distinct.filterNot(_.startsWith("__")).filterNot(retired).sorted
    val rows = cols.flatMap { c0 =>
      val c = inverse.getOrElse(c0, c0)
      val per = snap.map(d => stats.get(d).flatMap(_.get(c0)))
      // a verdict needs FULL long or double coverage (strings have no
      // width; any stat-blind dir forfeits honesty)
      val allLong = per.forall(_.exists(_.tpe == "long"))
      val allDouble = per.forall(_.exists(_.tpe == "double"))
      if (!allLong && !allDouble) None
      else {
        // doubles quantize to micro-units (the cluster() z-key
        // convention), so width arithmetic stays exact integers
        def endp(s: String): Long =
          if (allLong) s.toLong else math.round(s.toDouble * 1e6)
        val ranges = per.flatten.map(s => (endp(s.min), endp(s.max)))
        val tableW = ranges.map(_._2).max - ranges.map(_._1).min + 1L
        val sumW = ranges.map(r => r._2 - r._1 + 1L).sum
        // BigInt keeps the cross-multiplication exact on wide domains
        val bps = (BigInt(sumW) * 10000 /
          (BigInt(math.max(tableW, 1L)) * snap.size)).toLong
        Some((c, snap.size.toLong, tableW, sumW, bps,
          if (snap.size > 1 && bps >= scatterBps) 1 else 0))
      }
    }
    import spark.implicits._
    rows.toDF("col_name", "n_dirs", "table_width", "sum_dir_width",
      "overlap_bps", "scattered")
  }

  /** Unified table maintenance — the auto-OPTIMIZE loop a lakehouse
    * scheduler runs on a cadence, closing the advise→act triads
    * ([[compactAdvice]]→[[compact]], [[clusterAdvice]]→[[cluster]],
    * [[vacuum]]) behind ONE idempotent entry point: consult the
    * advisors, execute ONLY what they flag, and mint NO version on a
    * healthy table (the no-op law — a cadence job must not churn
    * history). Order:
    *
    *  1. CLUSTER, when `zorderBy` is given and [[clusterAdvice]]
    *     flags at least two of the requested columns scattered —
    *     the z-curve rewrite SUBSUMES compaction (small dirs merge,
    *     deletion vectors materialize). A non-empty `zorderBy` means
    *     the z-curve OWNS the physical layout: the plain compactor
    *     never runs (it would flatten the curve and the next cadence
    *     would re-cluster — churn, not maintenance; the Delta
    *     OPTIMIZE vs OPTIMIZE ZORDER split).
    *  2. COMPACT, when `zorderBy` is EMPTY and [[compactAdvice]]
    *     flags the file census.
    *  3. VACUUM, when `retainVersions` is given — destroys expired
    *     versions and stale orphans; metadata + deletes only, never
    *     a version mint.
    *
    * Idempotency is ADVISORY, not just txnId: a crashed-and-retried
    * run re-reads the advice, and whatever already landed has cleared
    * its own flag — the retry executes only the remainder (the txnId,
    * threaded into the cluster step, additionally short-circuits an
    * exact replay). Cost: the advisors are metadata-only; work is
    * only done when flagged. Returns the executed (action, version)
    * pairs, empty for a healthy table. */
  def maintain(spark: SparkSession, root: String,
               zorderBy: Seq[String] = Nil,
               targetBytes: Long = 128L * 1024 * 1024,
               slack: Long = 4L,
               scatterBps: Long = 5000L,
               retainVersions: Option[Int] = None,
               txnId: Option[String] = None): Seq[(String, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    if (zorderBy.nonEmpty) {
      // bounded: one row per stats-covered column
      val scattered = clusterAdvice(spark, root, scatterBps)
        .filter(col("scattered") === 1)
        .select("col_name").collect().map(_.getString(0)).toSet
      if (zorderBy.count(scattered) >= 2)
        out += (("cluster",
          cluster(spark, root, zorderBy, txnId = txnId.map(_ + "-cluster"))))
    } else {
      val c = compactAdvice(spark, root, targetBytes, slack).head // one row
      if (c.getAs[Int]("compact") == 1)
        out += (("compact", compact(spark, root, targetBytes)))
    }
    retainVersions.foreach { r =>
      vacuum(spark, root, r)
      out += (("vacuum", latestVersion(spark, root)))
    }
    out.toSeq
  }

  /** Data-skipping read: `read(...).filter(column BETWEEN lo AND hi)`,
    * but commit directories whose manifest stats PROVE no row can
    * match are never opened — no footer reads, no file listings. The
    * manifest is the index (the Delta/Iceberg shape): on a 100 TB
    * append table written in time order, a time-range query opens only
    * the matching commits' directories. Conservative on every gap: a
    * dir committed without `collectStats`, a column outside the
    * stats set, or a type mismatch keeps the dir; the exact predicate
    * is always re-applied, so stats can cost time, never correctness.
    * `lo`/`hi` are a Long (for integral stat columns) or String pair.
    * Zero surviving dirs still returns the table's schema (one dir is
    * opened under an always-false filter). */
  def readWhere(spark: SparkSession, root: String, column: String,
                lo: Any, hi: Any, asOf: Option[Long] = None): DataFrame =
    readWhereAll(spark, root, Seq((column, lo, hi)), asOf)

  /** The pruning census behind [[readWhere]]: (survivors, skipped,
    * full snapshot). Exposed for specs and skipping reports. */
  private[graft] def pruneDirs(spark: SparkSession, root: String, column: String,
                               lo: Any, hi: Any,
                               asOf: Option[Long] = None): (Seq[String], Seq[String], Seq[String]) = {
    val m = manifestAt(spark, root, asOf)
    census(m, rangeTest(m, Seq((column, Some(lo), Some(hi)))))
  }

  /** Conjunctive data-skipping read — [[readWhere]] for several range
    * predicates at once, the consumer a [[cluster]]ed table is built
    * for: a dir (and a file inside it) survives only if its stats admit
    * EVERY predicate, and every predicate is re-applied exactly. The
    * raw ranges also map onto a registered order-preserving hidden
    * partition, pruning partition dirs inside each surviving dir. */
  def readWhereAll(spark: SparkSession, root: String,
                   preds: Seq[(String, Any, Any)],
                   asOf: Option[Long] = None): DataFrame = {
    require(preds.nonEmpty, "readWhereAll: no predicates")
    val m = manifestAt(spark, root, asOf)
    val test = rangeTest(m, preds.map { case (c, lo, hi) => (c, Some(lo), Some(hi)) })
    skipScan(spark, root, m, asOf, test, Some(test),
      preds.flatMap { case (c, lo, hi) => partitionRange(m, physOf(m, c), lo, hi) },
      Some(preds.map { case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi) }
        .reduce(_ && _)))._1
  }

  /** The relation-scan read behind `format("graft")`
    * ([[GraftDataSource]], [[graft.plans.GraftScanSubstitution]]) with
    * its pruning census: (frame, dirs kept, dirs skipped, files kept,
    * files skipped). Ranges have OPTIONAL bounds — Catalyst hands a
    * relation strict/one-sided predicates (`>`, `<=`, …) that
    * [[readWhereAll]]'s closed intervals cannot express. NOTHING is
    * re-applied here: the relation reports every filter unhandled, so
    * Spark keeps the exact predicates above the scan and pruning is
    * pure I/O avoidance, never semantics. No ranges means nothing to
    * prune, so no file census is taken. */
  private[graft] def readRangesCensusFiles(spark: SparkSession, root: String,
                                           ranges: Seq[(String, Option[Any], Option[Any])],
                                           asOf: Option[Long] = None): (DataFrame, Int, Int, Int, Int) = {
    val m = manifestAt(spark, root, asOf)
    val test = rangeTest(m, ranges)
    val (frame, kept, skipped, filesKept, filesSkipped) =
      skipScan(spark, root, m, asOf, test, Option.when(ranges.nonEmpty)(test), Nil, None)
    (frame, kept.size, skipped.size, filesKept, filesSkipped)
  }

  /** A test over one dir's (or one file's) manifest stats: may it hold
    * a matching row? A missing stat always admits. */
  private type StatTest = Map[String, ColStat] => Boolean

  /** Every range of a conjunction admits (see [[mayContain]]). */
  private def rangeTest(m: Option[Commit],
                        ranges: Seq[(String, Option[Any], Option[Any])]): StatTest =
    st => ranges.forall { case (c, lo, hi) => mayContain(st.get(physOf(m, c)), lo, hi) }

  /** The one pruning census: the snapshot's dirs split by `admits`
    * over each dir's stats — (kept, skipped, snapshot). */
  private def census(m: Option[Commit],
                     admits: StatTest): (Seq[String], Seq[String], Seq[String]) = {
    val snap = m.map(_.dirs).getOrElse(Seq.empty)
    val stats = m.map(_.stats).getOrElse(Map.empty)
    val (keep, skip) = snap.partition(d => admits(stats.getOrElse(d, Map.empty)))
    (keep, skip, snap)
  }

  /** The one data-skipping scan behind every reader. Dirs failing
    * `dirAdmits` are never opened ([[census]]). Inside a kept dir that
    * records per-file stats ([[FileKeyPrefix]]), files failing
    * `fileAdmits` are not opened either — the Delta add-file skipping
    * shape, which matters most AFTER compaction, when one dir holds
    * many scan-sized files and its [min, max] has widened to the
    * union. A dir without file stats (stat-blind, partitioned, or past
    * [[FileStatsCap]] files) reads whole, with `partFilters` pruning
    * its hidden-partition dirs. Deletion vectors apply inside every
    * kept dir (stats pruning stays valid: a DV only removes rows).
    * `exact` is re-applied above the union; zero kept dirs or files
    * still returns the table's schema (one dir is opened under an
    * always-false filter). Returns (frame, dirs kept, dirs skipped,
    * files kept, files skipped); the file counts cover only dirs with
    * file stats, and stay 0 without a `fileAdmits`. */
  private def skipScan(spark: SparkSession, root: String, m: Option[Commit],
                       asOf: Option[Long], dirAdmits: StatTest,
                       fileAdmits: Option[StatTest], partFilters: Seq[(String, Column)],
                       exact: Option[Column]): (DataFrame, Seq[String], Seq[String], Int, Int) = {
    val (keep, skip, snap) = census(m, dirAdmits)
    require(snap.nonEmpty, s"TxnLog table at $root has no data at version ${asOf.getOrElse("latest")}")
    var filesKept = 0
    var filesSkipped = 0
    val frames = keep.flatMap { d =>
      val fstats = fileStatsOf(m.flatMap(_.stats.get(d)).getOrElse(Map.empty))
      fileAdmits.filter(_ => fstats.nonEmpty) match {
        case None => Some(dirFrame(spark, root, d, m, partFilters))
        case Some(admits) =>
          val (fk, fs) = fstats.keys.toSeq.sorted.partition(f => admits(fstats(f)))
          filesKept += fk.size
          filesSkipped += fs.size
          if (fk.isEmpty) None // every file provably clean
          else Some(dirFrame(spark, root, d, m, partFilters, if (fs.isEmpty) Nil else fk))
      }
    }
    val frame =
      if (frames.isEmpty) dirFrame(spark, root, snap.head, m).filter(lit(false))
      else {
        val union = frames.reduce(_.unionByName(_, allowMissingColumns = true))
        exact.fold(union)(union.filter)
      }
    (frame, keep, skip, filesKept, filesSkipped)
  }

  /** Can a dir (or file) with these stats hold a value in [lo, hi]?
    * An absent bound is unconstrained; strict bounds prune with their
    * inclusive envelope (a dir whose max equals a `>` literal
    * survives; the exact filter discards its rows). Missing stats, or
    * a present bound whose type does not match the stat → yes
    * (conservative). NaN endpoints never prune (every comparison
    * involving one fails the skip test, keeping the dir). */
  private def mayContain(st: Option[ColStat], lo: Option[Any], hi: Option[Any]): Boolean = {
    val bounds = lo.toSeq ++ hi.toSeq
    def num(b: Any): Number = b.asInstanceOf[Number]
    st match {
      case Some(ColStat("long", mn, mx)) if bounds.forall(_.isInstanceOf[Number]) =>
        lo.forall(l => mx.toLong >= num(l).longValue) && hi.forall(h => mn.toLong <= num(h).longValue)
      case Some(ColStat("double", mn, mx)) if bounds.forall(_.isInstanceOf[Number]) =>
        lo.forall(l => !(mx.toDouble < num(l).doubleValue)) &&
          hi.forall(h => !(mn.toDouble > num(h).doubleValue))
      case Some(ColStat("string", mn, mx)) if bounds.forall(_.isInstanceOf[String]) =>
        lo.forall(l => mx >= l.toString) && hi.forall(h => mn <= h.toString)
      case _ => true
    }
  }

  /** file → (col → stat) decoded from a dir's reserved
    * [[FileKeyPrefix]] entries. */
  private def fileStatsOf(stats: Map[String, ColStat]): Map[String, Map[String, ColStat]] =
    stats.collect { case (k, cs) if k.startsWith(FileKeyPrefix) =>
      val body = k.stripPrefix(FileKeyPrefix)
      val i = body.lastIndexOf('|')
      (body.substring(0, i), body.substring(i + 1), cs)
    }.groupBy(_._1).map { case (f, xs) =>
      f -> xs.map(t => (t._2, t._3)).toMap
    }

  /** On-disk bytes of the visible snapshot — metadata-only (one
    * listing per snapshot dir, never a file open). Feeds the
    * relation's `sizeInBytes` so Catalyst can broadcast a small
    * graft table. An overestimate for DV'd tables (tombstoned rows
    * still occupy their bytes) — safe: size only gates BROADCAST
    * eligibility, and overestimating never broadcasts a big side. */
  private[graft] def snapshotBytes(spark: SparkSession, root: String,
                                   asOf: Option[Long] = None): Long = {
    val fs = fileSystem(spark, root)
    snapshotDirs(spark, root, asOf)
      .map(d => fs.getContentSummary(new Path(dataPath(root, d))).getLength)
      .sum
  }

  /** Data directories APPENDED in `(sinceVersion, untilVersion]` —
    * the micro-batch planner behind the `format("graft")` streaming
    * source. Each append commit's new dirs come from the exact
    * manifest pair diff (O(delta) manifest reads, the [[changesSince]]
    * discipline), so interleaved rewrites never smear the attribution.
    * Non-append, non-metadata commits in the range REFUSE loudly by
    * default (the visible set was rewritten — an additive delta does
    * not exist); `ignoreChanges = true` skips them and serves appends
    * only (the Delta `ignoreChanges` contract: rewritten rows are NOT
    * re-delivered). */
  private[graft] def appendedDirsBetween(spark: SparkSession, root: String,
                                         sinceVersion: Long, untilVersion: Long,
                                         ignoreChanges: Boolean): Seq[String] = {
    require(sinceVersion <= untilVersion,
      s"TxnLog stream: since $sinceVersion > until $untilVersion at $root")
    if (sinceVersion == untilVersion) return Seq.empty
    val fs = fileSystem(spark, root)
    // startingVersion=0 arrives as since=-1: no manifest -1 exists, so
    // synthesize the empty predecessor. Version 0's commit is then a
    // pure addition from empty whatever its action word (it's always
    // the table-creating write), matching Delta's startingVersion=0.
    val commits =
      if (sinceVersion >= 0L) commitsInRange(fs, root, sinceVersion, untilVersion)
      else Commit(-1L, "append", Seq.empty, None) +:
        commitsInRange(fs, root, 0L, untilVersion)
    // add_column is stream-safe metadata: the pinned schema simply
    // never selects the new column (same as a widening append)
    val metadataOnly = Set("set_check", "drop_check", "add_column")
    val schemaChange = Set("rename_column", "drop_column")
    commits.sliding(2).flatMap {
      case Seq(prev, cur) =>
        // the table-creating commit (against the synthetic empty
        // predecessor) is additive regardless of its action word
        if (prev.version == -1L) cur.dirs
        else if (cur.action == "append") cur.dirs.filterNot(prev.dirs.toSet)
        else if (metadataOnly(cur.action)) Nil
        // a schema change refuses EVEN under ignoreChanges: the
        // stream's schema was pinned at start, and silently
        // null-filling a renamed column would be data loss — restart
        // the stream (the Delta contract for mid-stream evolution)
        else if (schemaChange(cur.action)) throw new IllegalStateException(
          s"TxnLog stream: schema commit v${cur.version}:${cur.action} at $root — " +
            "the streaming schema was pinned at start; restart the stream from a " +
            "fresh checkpoint to pick up the new schema")
        else if (ignoreChanges) Nil
        else throw new IllegalStateException(
          s"TxnLog stream: non-append commit v${cur.version}:${cur.action} at $root — " +
            "the visible set was rewritten, so an additive delta does not exist; " +
            "restart from a fresh checkpoint (full re-baseline) or set " +
            "ignoreChanges=true to skip rewrite commits")
      case _ => Nil
    }.toSeq
  }

  /** The logical frame of the dirs [[appendedDirsBetween]] returns —
    * what the `format("graft")` streaming source serves per batch.
    * None when the range appended nothing. The mapping is the UNTIL
    * manifest's (constant across the range — a schema change in
    * range refuses above). */
  private[graft] def readAppendedBetween(spark: SparkSession, root: String,
                                         sinceVersion: Long, untilVersion: Long,
                                         ignoreChanges: Boolean): Option[DataFrame] = {
    val dirs = appendedDirsBetween(spark, root, sinceVersion, untilVersion,
      ignoreChanges)
    if (dirs.isEmpty) None
    else {
      val m = manifestFileAt(fileSystem(spark, root), root, untilVersion)
      Some(logicalFrame(
        spark.read.parquet(dirs.map(d => dataPath(root, d)): _*),
        m.map(_.colmap).getOrElse(Map.empty),
        m.map(_.dropped).getOrElse(Seq.empty),
        m.map(_.defaults).getOrElse(Map.empty)))
    }
  }

  /** Reserved stats-key prefix carrying a column's per-dir Bloom
    * filter (the key namespace trick [[RowCountKey]] uses: the range
    * pruner looks up plain column names, so bloom entries can never
    * collide with [min, max] stats on the same column). */
  private val BloomKeyPrefix = "__bloom_"
  private[graft] val BloomBits = 1 << 15
  private[graft] val BloomK = 4

  /** One column's per-dir Bloom, built from the freshly WRITTEN
    * directory (manifest certifies disk, like [[dirStats]]): every
    * distinct value's k md5 probe positions
    * ([[graft.functions.TextFunctions.bloomPositions]] — the same
    * Kirsch-Mitzenmacher family the decontamination screen uses, so
    * positions are reproducible in any engine) set bits in a
    * [[BloomBits]]-wide bitset, hex-packed into the manifest
    * (~8 KB/col/dir). The distinct-position collect is bounded by
    * BloomBits, never row count. NULLs set no bits (a point lookup is
    * never a null probe — use a scan for IS NULL). */
  private def dirBloom(spark: SparkSession, root: String, d: String, column: String): ColStat = {
    import org.apache.spark.sql.functions.explode
    val df = readDir(spark, root, d)
    require(df.columns.contains(column), s"TxnLog: no bloom column '$column' in ${dataPath(root, d)}")
    val words = new Array[Long](BloomBits / 64)
    df.select(explode(graft.functions.TextFunctions.bloomPositions(
        col(column).cast("string"), BloomBits, BloomK)).as("p"))
      .distinct().collect()
      .foreach { r =>
        val p = r.getLong(0)
        words((p >>> 6).toInt) |= 1L << (p & 63)
      }
    ColStat("bloom", words.map(w => f"$w%016x").mkString, s"$BloomBits:$BloomK")
  }

  /** The k probe positions of one point-lookup value, derived by the
    * SAME engine expression the writer used ([[dirBloom]]'s
    * `bloomPositions(CAST(col AS STRING), …)`, evaluated over a 1-row
    * frame): a driver-side `String.valueOf` re-rendering would diverge
    * from Spark's CAST for timestamp/date/decimal/float values, and a
    * Bloom probing the WRONG string wrongly proves absence — the
    * one-sided-error guarantee only holds when writer and reader hash
    * identical bytes. NULL probes nothing (the writer set no bits for
    * NULLs). */
  private[graft] def bloomProbes(spark: SparkSession, value: Any): Option[Seq[Long]] =
    if (value == null) None else probesOf(spark, Seq(value)).head

  /** [[bloomProbes]] of several non-null values at once, from ONE
    * one-row local relation ([[driverEval]]), so a lookup runs no job
    * for its probes however many values it carries. */
  private def probesOf(spark: SparkSession, values: Seq[Any]): Seq[Option[Seq[Long]]] =
    if (values.isEmpty) Seq.empty
    else {
      val row = driverEval(spark, org.apache.spark.sql.functions.array(values.map(v =>
        graft.functions.TextFunctions.bloomPositions(lit(v).cast("string"), BloomBits, BloomK)): _*))
      Option(row.getAs[scala.collection.Seq[scala.collection.Seq[Long]]](0))
        .map(_.map(ps => Option(ps).map(_.toSeq)).toSeq)
        .getOrElse(values.map(_ => None))
    }

  /** One column expression evaluated over a one-row local relation —
    * folded on the driver by `ConvertToLocalRelation`, so no job. */
  private def driverEval(spark: SparkSession, c: Column): org.apache.spark.sql.Row = {
    import spark.implicits._
    Seq(1).toDF("one").select(c).head
  }

  /** Point-lookup read with Bloom dir skipping — the data-skipping
    * complement of [[readWhere]] for the regime range stats cannot
    * help: a HIGH-CARDINALITY key written hash-scattered (every dir's
    * [min, max] spans the whole domain, so range pruning keeps
    * everything) still skips almost every dir on a point probe,
    * because a dir's Bloom proves absence with certainty (false
    * POSITIVES only — a kept dir may be empty of the key, a skipped
    * dir never held it; the decontamination screen's one-sided-error
    * discipline, deterministic cross-engine by the md5 probes).
    * Consults BOTH indexes when present (a dir must pass its bloom
    * AND its range stats to be opened; a file, its range stats);
    * conservative on every gap. The exact equality predicate is always
    * re-applied. */
  def readPoint(spark: SparkSession, root: String, column: String,
                value: Any, asOf: Option[Long] = None): DataFrame = {
    val m = manifestAt(spark, root, asOf)
    val (dirTest, fileTest) = pointTests(spark, m, column, value)
    skipScan(spark, root, m, asOf, dirTest, Some(fileTest),
      partitionPoint(m, physOf(m, column), value), Some(col(column) === lit(value)))._1
  }

  /** Census behind [[readPoint]]: (survivors, skipped, snapshot). */
  private[graft] def prunePoint(spark: SparkSession, root: String, column: String,
                                value: Any,
                                asOf: Option[Long] = None): (Seq[String], Seq[String], Seq[String]) = {
    val m = manifestAt(spark, root, asOf)
    census(m, pointTests(spark, m, column, value)._1)
  }

  /** [[pointsTests]] of one value, except that a NULL probe keeps every
    * dir and file: the writer set no Bloom bits for NULLs, and the
    * exact predicate decides. */
  private def pointTests(spark: SparkSession, m: Option[Commit], column: String,
                         value: Any): (StatTest, StatTest) =
    if (value == null) (_ => true, _ => true)
    else pointsTests(spark, m, column, Seq(value))

  /** The (dir, file) tests of a lookup on ANY of `values` (IN
    * semantics: a NULL matches nothing, so it keeps nothing). A dir is
    * kept when some value passes both its Bloom ([[bloomAdmits]]) and
    * its range stats; a file carries no Bloom, so range stats alone
    * decide. */
  private def pointsTests(spark: SparkSession, m: Option[Commit], column: String,
                          values: Seq[Any]): (StatTest, StatTest) = {
    val phys = physOf(m, column)
    val nonNull = values.filterNot(_ == null)
    val probes = probesOf(spark, nonNull)
    def ranged(v: Any): StatTest = st => mayContain(st.get(phys), Some(v), Some(v))
    (st => nonNull.zip(probes).exists { case (v, ps) => bloomAdmits(st, phys, ps) && ranged(v)(st) },
      st => nonNull.exists(v => ranged(v)(st)))
  }

  /** Does the dir's Bloom (if any) admit a value with these probe
    * positions? No bloom / unreadable bloom / no probes → true
    * (conservative, never skip). */
  private def bloomAdmits(ds: Map[String, ColStat], column: String,
                          probes: Option[Seq[Long]]): Boolean =
    (probes, ds.get(s"$BloomKeyPrefix$column")) match {
      case (Some(ps), Some(ColStat("bloom", hexWords, meta)))
        if meta == s"$BloomBits:$BloomK" && hexWords.length == BloomBits / 4 =>
        ps.forall { p =>
          val w = java.lang.Long.parseUnsignedLong(
            hexWords.substring((p >>> 6).toInt * 16, (p >>> 6).toInt * 16 + 16), 16)
          (w & (1L << (p & 63))) != 0L
        }
      case _ => true
    }

  /** Multi-key point lookup — [[readPoint]] for a VALUE LIST, the
    * "fetch these K ids" serving read: a dir is opened if ANY of the
    * values may be present there ([[pointsTests]]), and the exact IN
    * predicate always re-applies. All probe positions come from ONE
    * local relation ([[probesOf]]), so on a hash-scattered 100 TB
    * table with Blooms a K-id fetch opens ~K dirs, not the snapshot. */
  def readPoints(spark: SparkSession, root: String, column: String,
                 values: Seq[Any], asOf: Option[Long] = None): DataFrame = {
    require(values.nonEmpty, "readPoints: no values")
    val m = manifestAt(spark, root, asOf)
    val (dirTest, fileTest) = pointsTests(spark, m, column, values)
    // one OR of the per-value partition points — a K-id fetch opens
    // only the K derived partitions inside each admitted dir
    val per = values.flatMap(v => partitionPoint(m, physOf(m, column), v))
    val pfs = if (per.isEmpty) Nil else Seq((per.head._1, per.map(_._2).reduce(_ || _)))
    skipScan(spark, root, m, asOf, dirTest, Some(fileTest), pfs,
      Some(col(column).isin(values: _*)))._1
  }

  /** Census behind [[readPoints]]: (survivors, skipped, snapshot). */
  private[graft] def prunePoints(spark: SparkSession, root: String, column: String,
                                 values: Seq[Any],
                                 asOf: Option[Long] = None): (Seq[String], Seq[String], Seq[String]) = {
    val m = manifestAt(spark, root, asOf)
    census(m, pointsTests(spark, m, column, values)._1)
  }

  /** Row-level DELETE by copy-on-write at commit-dir granularity —
    * the lakehouse DELETE the reference's Delta conversion implies
    * (scripts/convert_to_delta.py:85-88) and the primitive a
    * right-to-be-forgotten pipeline needs: rows matching `predicate`
    * disappear from the new snapshot, every version before it still
    * serves them (time travel — run `vacuum` to actually destroy the
    * bytes), and the rewrite touches ONLY the commit directories that
    * contain a matching row; all other directories carry into the new
    * manifest by reference, zero bytes moved.
    *
    * SQL DELETE semantics for three-valued logic: a row whose
    * predicate evaluates NULL is NOT deleted (survivors are
    * `predicate IS NOT TRUE`, not `NOT predicate`).
    *
    * Detection is one snapshot scan with `predicate` pushed into every
    * directory's parquet scan (row-group stats prune non-matching
    * files; a partition-scoped predicate prunes whole partition dirs),
    * projecting only a per-directory tag — the collected result is
    * bounded by the COMMIT count, never row count. The rewrite reads
    * and rewrites only affected directories, and the commit point is
    * the same create-exclusive manifest CAS'd against the snapshot the
    * delete was derived from (`expectedLatest` — an interleaved plain
    * append REBASES in by reference, serializing as
    * delete-then-append; any other concurrent commit aborts the
    * delete rather than silently dropping its rows).
    *
    * A `txnId` already in the log makes the delete a no-op returning
    * its version (idempotent retry — a re-run GDPR job must not
    * rewrite again). A predicate matching nothing is a no-op returning
    * the current version (no empty commit).
    *
    * The "replace" action breaks [[changesSince]]'s append-only
    * lineage BY DESIGN: deleted rows cannot be expressed as an
    * additive delta, so incremental consumers fail loudly and
    * re-baseline. Returns the committed version. */
  def delete(spark: SparkSession, root: String, predicate: Column,
             txnId: Option[String] = None): Long = {
    val latest = latestCommit(spark, root)
    txnId.foreach { id =>
      txnVersionOf(spark, root, latest, id).foreach(return _)
    }
    require(latest.nonEmpty, s"TxnLog: cannot delete from empty table at $root")
    val expected = latest.get.version
    val snap = latest.get.dirs
    require(snap.nonEmpty, s"TxnLog: nothing to delete at $root (empty snapshot)")
    val affected = affectedDirs(spark, root, snap, latest, _.filter(predicate))
    if (affected.isEmpty) return expected
    val survivors = affected.toSeq.sorted
      .map(d => dirFrame(spark, root, d, latest))
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .filter(coalesce(not(predicate), lit(true)))
    commit(survivors, root, "replace", txnId, expectedLatest = Some(expected),
      replaceBase = Some(snap.filterNot(affected)),
      partitionBy = layoutOf(spark, root, affected))
  }

  /** Row-level UPDATE by copy-on-write — SQL `UPDATE t SET c = e
    * [WHERE p]` semantics: rows where the predicate IS TRUE are
    * rewritten with the assignments applied (each assignment
    * expression evaluates against the PRE-update row — the SQL
    * contract, so `SET a = b, b = a` swaps); a NULL/false predicate
    * keeps the row unchanged. Only the affected directories rewrite
    * (same bounded pushdown detection as [[delete]]); assignments
    * cast to the column's existing type (UPDATE never evolves
    * schema); unknown columns refuse loudly. Same CAS +
    * idempotent-txnId protocol; a no-match predicate is a version
    * no-op. Returns the committed (or no-op latest) version. */
  def update(spark: SparkSession, root: String,
             assignments: Seq[(String, Column)], predicate: Column,
             txnId: Option[String] = None): Long = {
    require(assignments.nonEmpty, "TxnLog.update: need at least one assignment")
    require(assignments.map(_._1).distinct.size == assignments.size,
      "TxnLog.update: duplicate assignment targets")
    val latest = latestCommit(spark, root)
    txnId.foreach { id =>
      txnVersionOf(spark, root, latest, id).foreach(return _)
    }
    require(latest.nonEmpty, s"TxnLog: cannot update empty table at $root")
    val expected = latest.get.version
    val snap = latest.get.dirs
    require(snap.nonEmpty, s"TxnLog: nothing to update at $root (empty snapshot)")
    val affected = affectedDirs(spark, root, snap, latest, _.filter(predicate))
    if (affected.isEmpty) return expected
    val current = affected.toSeq.sorted
      .map(d => dirFrame(spark, root, d, latest))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val assigned = assignments.toMap
    val unknown = assigned.keySet -- current.columns.toSet
    require(unknown.isEmpty,
      s"TxnLog.update: unknown column(s) ${unknown.toSeq.sorted.mkString(",")} at $root")
    val hit = predicate === lit(true) // NULL predicate keeps the old row
    val rewritten = current.select(current.columns.toIndexedSeq.map { c =>
      assigned.get(c)
        .map(e => when(hit, e.cast(current.schema(c).dataType)).otherwise(col(c)).as(c))
        .getOrElse(col(c))
    }: _*)
    commit(rewritten, root, "replace", txnId, expectedLatest = Some(expected),
      replaceBase = Some(snap.filterNot(affected)),
      partitionBy = layoutOf(spark, root, affected))
  }

  /** Row-level DELETE by MERGE-ON-READ: the complement of [[delete]]
    * for the frequent-small-delete regime (a daily right-to-be-
    * forgotten trickle) where copy-on-write would rewrite the
    * biggest commit directories over and over. The commit writes
    * ZERO data files — it publishes a deletion-vector entry
    * `(predicate SQL, affected dirs)` in the manifest, and readers
    * apply it as a codegen'd filter inside each covered directory's
    * scan. Semantics are identical to [[delete]]: survivors are
    * `predicate IS NOT TRUE`, time travel before the commit still
    * serves the rows, and a no-match predicate is a version no-op.
    *
    * The vector is SCOPED to the directories holding a match at
    * commit time (detected by the same bounded pushdown scan as
    * [[delete]]), so later appends are never filtered by an earlier
    * tombstone, and uncovered directories keep their plain scans.
    * [[compact]] materializes all vectors away (its rewrite reads
    * through them); [[fastCount]] honestly refuses a vectored
    * snapshot (manifest row counts pre-date the erasure). The
    * predicate must be SQL-expressible and deterministic — it is
    * serialized by its SQL text and re-parsed at read.
    *
    * Read-cost shape at 100 TB: each delete adds one predicate
    * evaluation per covered dir's scan — O(vectors) plan nodes, zero
    * extra I/O — and the debt is bounded by compaction cadence, the
    * Delta deletion-vector / Iceberg merge-on-read trade. Same CAS +
    * idempotent-txnId protocol as [[delete]]; breaks [[changesSince]]
    * lineage loudly (a deletion is not an additive delta). Returns
    * the committed version. */
  def deleteMor(spark: SparkSession, root: String, predicate: Column,
                txnId: Option[String] = None): Long = {
    val latest0 = latestCommit(spark, root)
    txnId.foreach { id =>
      txnVersionOf(spark, root, latest0, id).foreach(return _)
    }
    require(latest0.nonEmpty, s"TxnLog: cannot delete from empty table at $root")
    val expected = latest0.get.version
    val snap = latest0.get.dirs
    require(snap.nonEmpty, s"TxnLog: nothing to delete at $root (empty snapshot)")
    val predSql = org.apache.spark.sql.graftinterop.ColumnInterop
      .catalystExpression(predicate).sql
    // the serialized predicate must survive the round trip readers do
    org.apache.spark.sql.functions.expr(predSql)
    val affected = affectedDirs(spark, root, snap, latest0, _.filter(predicate))
    if (affected.isEmpty) return expected
    // the vector's dir scope was derived from `expected`'s snapshot, so
    // interleaved plain appends rebase and ride in UNCOVERED (a DELETE
    // applies to its own snapshot; appended rows survive, serializing
    // as delete-then-append); anything else aborts
    publish(spark, root, txnId, Some(expected), rebase = true, "merge-on-read delete") {
      (version, last, rebased) =>
        val c = last.get
        val snapPub = snap ++ rebased
        c.copy(version = version, action = "delete_mor", dirs = snapPub,
          dvs = c.dvs.map(dv => dv.copy(dirs = dv.dirs.filter(snapPub.contains)))
            .filter(_.dirs.nonEmpty) :+ Dv(predSql, affected.toSeq.sorted))
    }
  }

  /** Hive partition columns (outermost first) of the affected commit
    * dirs, detected from the `col=value` directory names the writer
    * laid down — copy-on-write rewrites pass this through so a
    * DELETE/MERGE on a partitioned table (IVF cells, BM25 postings)
    * writes its replacement dir in the SAME physical layout instead
    * of the mixed partitioned/flat state `commit`'s doc calls an
    * error. Metadata-only (one listing per nesting level of one dir);
    * all affected dirs must agree — a homogeneous layout is already
    * the table contract. */
  private def layoutOf(spark: SparkSession, root: String,
                       affected: Set[String]): Seq[String] = {
    val fs = fileSystem(spark, root)
    def colsOf(d: String): Seq[String] = {
      def loop(p: Path, acc: Vector[String]): Vector[String] =
        fs.listStatus(p).find(s =>
          s.isDirectory && s.getPath.getName.contains("=")) match {
          case Some(s) =>
            loop(s.getPath, acc :+ s.getPath.getName.takeWhile(_ != '='))
          case None => acc
        }
      loop(new Path(dataPath(root, d)), Vector.empty)
    }
    val layouts = affected.toSeq.sorted.map(colsOf).distinct
    require(layouts.size <= 1,
      s"TxnLog: affected commit dirs disagree on partition layout at $root: " +
        layouts.map(_.mkString("/")).mkString(" vs "))
    layouts.headOption.getOrElse(Nil)
  }

  /** MERGE (upsert) by copy-on-write at commit-dir granularity: every
    * target row whose `keys` match a source row is replaced by that
    * source row, every source row matching nothing is inserted —
    * Delta's `whenMatched update all / whenNotMatched insert all`
    * shape, the standard CDC-apply and dimension-refresh primitive.
    *
    * Contract: `source` carries exactly the table's columns — the
    * UNION schema across the snapshot when an earlier append widened
    * the table (no widening through merge — use a plain [[append]]
    * for that; a source still on the pre-widening schema is rejected
    * loudly rather than silently nulling the widened column) — and
    * its keys identify at most one row each (several source rows
    * matching one target row is ambiguous — checked, loud failure,
    * same as Delta's MULTIPLE_MATCHES). A source row with a NULL key
    * can match nothing (equality join) and becomes an insert.
    *
    * Cost shape at scale: one snapshot scan semi-joined against the
    * source keys finds the affected directories (collected result
    * bounded by commit count); only those directories are rewritten
    * (matched rows anti-joined out, source unioned in); everything
    * else rides into the new manifest by reference. A merge whose
    * keys match NOTHING degrades to a plain [[append]] — the manifest
    * records "append", so incremental [[changesSince]] consumers keep
    * their lineage across pure-insert merges; only a merge that
    * actually rewrote rows breaks it (loudly, by design).
    *
    * `notMatchedBySourceDelete` adds the third Delta clause — `WHEN
    * NOT MATCHED BY SOURCE THEN DELETE` gated on a predicate: target
    * rows whose key matches NO source row AND whose columns satisfy
    * the predicate are removed in the same commit. Pass `lit(true)`
    * for the unconditional form. This is the snapshot-sync primitive
    * ("make this partition equal the source"): one merge call lands
    * updates, inserts, and disappearances atomically, where
    * upsert-then-separate-delete would expose an inconsistent
    * intermediate version. NULL predicate results keep the row (SQL
    * DELETE semantics, same as [[delete]]). Dirs containing clause
    * matches join the affected (rewritten) set; dirs with none still
    * carry by reference.
    *
    * Same CAS + idempotent-txnId protocol as [[delete]]. Returns the
    * committed version. */
  def merge(source: DataFrame, root: String, keys: Seq[String],
            txnId: Option[String] = None,
            notMatchedBySourceDelete: Option[Column] = None): Long = {
    require(keys.nonEmpty, "TxnLog.merge: need at least one key column")
    val spark = source.sparkSession
    val latest = latestCommit(spark, root)
    txnId.foreach { id =>
      txnVersionOf(spark, root, latest, id).foreach(return _)
    }
    require(latest.nonEmpty, s"TxnLog: cannot merge into empty table at $root")
    val expected = latest.get.version
    val snap = latest.get.dirs
    require(snap.nonEmpty, s"TxnLog: nothing to merge into at $root (empty snapshot)")
    // the UNION schema across the snapshot, first-seen column order —
    // snap.head alone would be the pre-widening schema after a
    // schema-evolution append, wrongly rejecting a full-wide source
    // and silently dropping widened values from rewritten survivors.
    // Schema-only reads, bounded by the commit-dir count; LOGICAL
    // names (the source speaks logical, like every caller).
    val tableCols: IndexedSeq[String] = {
      val inverse = latest.get.colmap.map(_.swap)
      val retired = latest.get.dropped.toSet
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      snap.foreach(d =>
        readDir(spark, root, d).schema.fieldNames
          .filterNot(retired).foreach(p => seen += inverse.getOrElse(p, p)))
      seen.toIndexedSeq
    }
    require(source.columns.sorted.sameElements(tableCols.sorted),
      s"TxnLog.merge: source columns ${source.columns.sorted.mkString(",")} != " +
        s"table columns ${tableCols.sorted.mkString(",")} — merge does not evolve schema")
    val dups = source.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).collect()
    require(dups.isEmpty,
      s"TxnLog.merge: source has multiple rows for key ${dups.head.toSeq.init.mkString(",")} — " +
        "which one replaces the target row is ambiguous; de-duplicate the source first")
    val srcKeys = source.select(keys.map(col): _*).distinct()
    // a dir is affected when it holds a MATCHED row (to be replaced)
    // or — under the third clause — an unmatched row the delete
    // predicate erases; one probe job covers both
    val affected = affectedDirs(spark, root, snap, latest, df =>
      notMatchedBySourceDelete match {
        case None => df.join(srcKeys, keys, "left_semi")
        case Some(pred) =>
          df.join(srcKeys, keys, "left_semi").unionByName(
            df.join(srcKeys, keys, "left_anti")
              .filter(pred === lit(true)), allowMissingColumns = true)
      })
    if (affected.isEmpty)
      return commit(source.select(tableCols.map(col): _*), root, "append", txnId,
        expectedLatest = Some(expected))
    val survivors0 = affected.toSeq.sorted
      .map(d => dirFrame(spark, root, d, latest))
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .join(srcKeys, keys, "left_anti")
    // third clause: unmatched rows failing the delete predicate
    // survive; NULL keeps the row (SQL DELETE null contract)
    val survivors = notMatchedBySourceDelete match {
      case None => survivors0
      case Some(pred) => survivors0.filter(coalesce(not(pred), lit(true)))
    }
    // survivors from all-narrow affected dirs lack widened columns:
    // null-fill them (allowMissingColumns semantics), typed from the
    // source's (checked full-union) schema
    val survCols = survivors.columns.toSet
    val aligned = survivors.select(tableCols.map(c =>
      if (survCols(c)) col(c)
      else lit(null).cast(source.schema(c).dataType).as(c)): _*)
    val merged = aligned.unionByName(source.select(tableCols.map(col): _*))
    commit(merged, root, "replace", txnId, expectedLatest = Some(expected),
      replaceBase = Some(snap.filterNot(affected)),
      partitionBy = layoutOf(spark, root, affected))
  }

  /** The full Delta MERGE clause surface, first-match-wins per row
    * class. Clause conditions and assignment values are opaque
    * Columns; inside MATCHED clauses, source columns are addressed as
    * `__graft_src_<col>` (the SQL layer rewrites `s.x` to that), bare
    * names bind to the TARGET; NOT MATCHED clause expressions bind to
    * the SOURCE (Delta's scoping rules); NOT MATCHED BY SOURCE
    * expressions bind to the TARGET. */
  sealed trait MatchedClause { def cond: Option[Column] }
  /** `WHEN MATCHED [AND cond] THEN UPDATE SET …` — `assigns = None`
    * is `SET *` (requires source schema ≡ table schema). */
  case class MatchedUpdate(cond: Option[Column],
                           assigns: Option[Seq[(String, Column)]]) extends MatchedClause
  case class MatchedDelete(cond: Option[Column]) extends MatchedClause
  /** `WHEN NOT MATCHED [AND cond] THEN INSERT …` — `assigns = None`
    * is `INSERT *`; explicit columns NULL-fill the rest. */
  case class NotMatchedInsert(cond: Option[Column],
                              assigns: Option[Seq[(String, Column)]])
  sealed trait NmbsClause { def cond: Option[Column] }
  case class NmbsUpdate(cond: Option[Column],
                        assigns: Seq[(String, Column)]) extends NmbsClause
  case class NmbsDelete(cond: Option[Column]) extends NmbsClause

  private[graft] val SrcPrefix = "__graft_src_"

  /** Generalized MERGE — conditional and multi-clause WHEN MATCHED
    * (UPDATE SET col = expr / DELETE), WHEN NOT MATCHED (conditional,
    * explicit-column INSERT), WHEN NOT MATCHED BY SOURCE (UPDATE /
    * DELETE) — per Delta semantics: within each row class the FIRST
    * clause whose condition holds applies; a row no clause claims is
    * untouched. [[merge]] stays the fast path for the classic
    * `UPDATE SET * / INSERT * / NMBS DELETE` shape (whole-row
    * replacement skips the per-column CASE projections).
    *
    * Cost shape at scale — same copy-on-write discipline as [[merge]]:
    * one probe job finds commit dirs holding a matched row (when any
    * MATCHED clause exists) or an NMBS-condition row (when any NMBS
    * clause exists); only those dirs are rewritten through the clause
    * projections, every other dir rides into the new manifest by
    * reference. Inserts are computed by one anti-join of the source
    * against the snapshot's keys. Same CAS + idempotent-txnId
    * protocol; returns the committed version. */
  def mergeClauses(source: DataFrame, root: String, keys: Seq[String],
                   matched: Seq[MatchedClause] = Nil,
                   notMatched: Seq[NotMatchedInsert] = Nil,
                   nmbs: Seq[NmbsClause] = Nil,
                   txnId: Option[String] = None): Long = {
    require(keys.nonEmpty, "TxnLog.mergeClauses: need at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty || nmbs.nonEmpty,
      "TxnLog.mergeClauses: need at least one WHEN clause")
    val spark = source.sparkSession
    val latest = latestCommit(spark, root)
    txnId.foreach { id =>
      txnVersionOf(spark, root, latest, id).foreach(return _)
    }
    require(latest.nonEmpty, s"TxnLog: cannot merge into empty table at $root")
    val expected = latest.get.version
    val snap = latest.get.dirs
    require(snap.nonEmpty, s"TxnLog: nothing to merge into at $root (empty snapshot)")
    // the table's logical union frame at the pinned version supplies
    // column order and target types for the clause projections
    val tableFrame = read(spark, root, asOf = Some(expected))
    val tableCols = tableFrame.columns.toIndexedSeq
    def targetType(c: String) = tableFrame.schema(c).dataType
    require(keys.forall(source.columns.contains),
      s"TxnLog.mergeClauses: key columns ${keys.mkString(",")} must exist in the source")
    require(keys.forall(tableCols.contains),
      s"TxnLog.mergeClauses: key columns ${keys.mkString(",")} must exist in the table")
    require(tableCols.forall(!_.startsWith(SrcPrefix)),
      s"TxnLog.mergeClauses: table columns may not start with the reserved $SrcPrefix")
    val hasStar = matched.exists {
      case MatchedUpdate(_, None) => true; case _ => false
    } || notMatched.exists(_.assigns.isEmpty)
    if (hasStar) require(source.columns.sorted.sameElements(tableCols.sorted),
      s"TxnLog.mergeClauses: star clauses (SET * / INSERT *) require source " +
        s"columns ${source.columns.sorted.mkString(",")} == table columns " +
        s"${tableCols.sorted.mkString(",")}")
    // several source rows per key make MATCHED outcomes ambiguous
    // (and would duplicate rewritten target rows through the join)
    if (matched.nonEmpty || nmbs.nonEmpty) {
      val dups = source.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).collect()
      require(dups.isEmpty,
        s"TxnLog.mergeClauses: source has multiple rows for key " +
          s"${dups.headOption.map(_.toSeq.init.mkString(",")).getOrElse("")} — ambiguous; " +
          "de-duplicate the source first")
    }
    val srcKeys = source.select(keys.map(col): _*).distinct()
    // conservative dir probe: matched rows when any MATCHED clause
    // could fire; unmatched rows passing any NMBS condition
    val nmbsAny: Option[Column] =
      if (nmbs.isEmpty) None
      else Some(nmbs.map(_.cond.getOrElse(lit(true))).reduce(_ || _))
    val affected: Set[String] =
      if (matched.isEmpty && nmbs.isEmpty) Set.empty
      else affectedDirs(spark, root, snap, latest, df => {
        val m = if (matched.nonEmpty) Seq(df.join(srcKeys, keys, "left_semi")) else Nil
        val n = nmbsAny.toSeq.map(pred =>
          df.join(srcKeys, keys, "left_anti").filter(pred === lit(true)))
        (m ++ n).reduce(_.unionByName(_, allowMissingColumns = true))
      })
    // the join marker lives OUTSIDE the SrcPrefix namespace: a source
    // column literally named "matched" prefixes to __graft_src_matched
    // and must not collide with the marker
    val matchedMark = "__graft_row_matched"
    require(!tableCols.contains(matchedMark) &&
      !source.columns.contains(matchedMark),
      s"TxnLog.mergeClauses: column name $matchedMark is reserved")
    // first-applicable clause index (1-based; 0 = no clause fires)
    def appliedIdx(conds: Seq[Option[Column]], gate: Column): Column =
      conds.zipWithIndex.foldRight(lit(0)) { case ((condOpt, i), rest) =>
        when(gate && coalesce(condOpt.getOrElse(lit(true)) === lit(true), lit(false)),
          lit(i + 1)).otherwise(rest)
      }
    val survivorsOut: Option[DataFrame] =
      if (affected.isEmpty) None
      else {
        val tgt0 = affected.toSeq.sorted.map(d => dirFrame(spark, root, d, latest))
          .reduce(_.unionByName(_, allowMissingColumns = true))
        val tgtCols = tgt0.columns.toSet
        val tgt = tgt0.select(tableCols.map(c =>
          if (tgtCols(c)) col(c) else lit(null).cast(targetType(c)).as(c)): _*)
        // with MATCHED clauses the full (dup-checked) source rides in
        // for assignment values; otherwise just the distinct key mark
        val right =
          if (matched.nonEmpty)
            source.select(source.columns.map(c => col(c).as(SrcPrefix + c)).toIndexedSeq
              :+ lit(true).as(matchedMark): _*)
          else
            srcKeys.select(keys.map(k => col(k).as(SrcPrefix + k))
              :+ lit(true).as(matchedMark): _*)
        val joined = tgt.join(right,
          keys.map(k => col(k) === col(SrcPrefix + k)).reduce(_ && _), "left")
        val isMatched = coalesce(col(matchedMark), lit(false))
        val mIdx = appliedIdx(matched.map(_.cond), isMatched)
        val nIdx = appliedIdx(nmbs.map(_.cond), !isMatched)
        val dropRow =
          matched.zipWithIndex.collect { case (_: MatchedDelete, i) => mIdx === lit(i + 1) }
            .foldLeft(lit(false))(_ || _) ||
          nmbs.zipWithIndex.collect { case (_: NmbsDelete, i) => nIdx === lit(i + 1) }
            .foldLeft(lit(false))(_ || _)
        val projected = tableCols.map { c =>
          val nmbsChain = nmbs.zipWithIndex.foldRight(col(c)) {
            case ((NmbsUpdate(_, assigns), i), rest) =>
              assigns.find(_._1 == c).map(_._2) match {
                case Some(v) => when(nIdx === lit(i + 1), v.cast(targetType(c))).otherwise(rest)
                case None => rest
              }
            case (_, rest) => rest
          }
          val full = matched.zipWithIndex.foldRight(nmbsChain) {
            case ((MatchedUpdate(_, assigns), i), rest) =>
              val v = assigns match {
                case None => col(SrcPrefix + c)
                case Some(as) => as.find(_._1 == c).map(_._2).getOrElse(col(c))
              }
              when(mIdx === lit(i + 1), v.cast(targetType(c))).otherwise(rest)
            case (_, rest) => rest
          }
          full.as(c)
        }
        Some(joined.filter(!dropRow).select(projected: _*))
      }
    val insertedOut: Option[DataFrame] =
      if (notMatched.isEmpty) None
      else {
        val allKeys = tableFrame.select(keys.map(col): _*).distinct()
        val unmatchedSrc = source.join(allKeys, keys, "left_anti")
        val iIdx = appliedIdx(notMatched.map(_.cond), lit(true))
        val rows = unmatchedSrc.withColumn(SrcPrefix + "ins", iIdx)
          .filter(col(SrcPrefix + "ins") > 0)
        val projected = tableCols.map { c =>
          val chain = notMatched.zipWithIndex.foldRight(
              lit(null).cast(targetType(c))) { case ((cl, i), rest) =>
            val v = cl.assigns match {
              case None => col(c) // INSERT * (schema equality checked)
              case Some(as) => as.find(_._1 == c).map(_._2)
                .getOrElse(lit(null))
            }
            when(col(SrcPrefix + "ins") === lit(i + 1), v.cast(targetType(c)))
              .otherwise(rest)
          }
          chain.as(c)
        }
        Some(rows.select(projected: _*))
      }
    (survivorsOut, insertedOut) match {
      case (None, None) => expected // no clause can touch anything
      case (None, Some(ins)) =>
        // nothing rewritten — a pure (possibly conditional) insert.
        // An all-filtered insert set is a no-op, not an empty commit.
        if (ins.limit(1).collect().isEmpty) expected
        else commit(ins, root, "append", txnId, expectedLatest = Some(expected))
      case (Some(sv), insOpt) =>
        val merged = insOpt.map(sv.unionByName(_)).getOrElse(sv)
        commit(merged, root, "replace", txnId, expectedLatest = Some(expected),
          replaceBase = Some(snap.filterNot(affected)),
          partitionBy = layoutOf(spark, root, affected))
    }
  }

  /** Commit directories whose rows survive `probe` — ONE job over the
    * snapshot with each directory's rows tagged by a literal, so the
    * predicate/semi-join pushes into every branch's scan and the
    * collected output is bounded by the commit count. */
  private def affectedDirs(spark: SparkSession, root: String, snap: Seq[String],
                           m: Option[Commit],
                           probe: DataFrame => DataFrame): Set[String] = {
    val tag = "_graft_commit_dir"
    // DV-aware: a row already erased by a deletion vector can neither
    // mark a dir affected nor re-enter a copy-on-write rewrite
    val tagged = snap
      .map(d => dirFrame(spark, root, d, m).withColumn(tag, lit(d)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    probe(tagged).select(tag).distinct()
      .collect().map(_.getString(0)).toSet
  }

  /** Exactly-once streaming sink body: use from `foreachBatch`. The
    * batchId-derived txnId makes micro-batch replays (checkpoint
    * recovery re-delivers the last batch) no-ops instead of dups. */
  def foreachBatchAppend(root: String): (DataFrame, Long) => Unit =
    (df, batchId) => { append(df, root, Some(s"batch-$batchId")); () }

  /** Exactly-once streaming UPSERT sink body: each micro-batch is
    * collapsed to its latest row per key (by `ordinalCol` — a batch
    * can carry several updates to one key) and [[merge]]d
    * copy-on-write, so per-batch cost is proportional to the batch
    * plus the commit dirs it touches — never a full-snapshot rewrite
    * (the scale successor to `Streams.foreachBatchMerge`'s
    * window-over-union snapshot swap; that variant keeps DELETE
    * tombstones, this one is upsert-only — apply deletes with
    * [[delete]] on a maintenance cadence). The first batch bootstraps
    * the table via [[overwrite]]. The batchId-derived txnId makes
    * checkpoint-recovery re-deliveries no-ops. */
  def foreachBatchUpsert(root: String, keys: Seq[String],
                         ordinalCol: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.row_number
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(col(ordinalCol).desc)
      val latest = batch.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val txn = Some(s"batch-$batchId")
      if (latestVersion(batch.sparkSession, root) < 0L)
        overwrite(latest, root, txn)
      else merge(latest, root, keys, txn)
      ()
    }

  /** Register a CHECK constraint on the table — Delta's
    * `ALTER TABLE ... ADD CONSTRAINT` twin, the quality gate at the
    * TABLE boundary (where the ingest-side quarantine gate cannot
    * reach writers that bypass it): every FUTURE commit that writes
    * data validates its freshly written directory against every
    * registered predicate and REFUSES to publish on a violation (the
    * orphan dir is deleted; the table never moves). SQL CHECK
    * semantics: a row violates only when the predicate evaluates
    * FALSE — NULL passes.
    *
    * Existing data is validated first (one snapshot scan with the
    * predicate pushed down) — a constraint the current table already
    * violates is refused, so a registered check is an invariant over
    * the whole visible table, not just new commits. The registration
    * itself is a metadata-only commit (action "set_check", dirs
    * unchanged) that [[changesSince]] consumers skip over — it adds
    * no rows. Constraints carry across append/overwrite/compact/
    * restore until [[dropCheck]].
    *
    * Cost shape at 100 TB: one extra narrow aggregate over each NEW
    * commit directory (never the table) per commit — the same
    * read-back-the-written-dir discipline as `collectStats`. Returns
    * the registration's version. */
  def addCheck(spark: SparkSession, root: String, name: String,
               predicateSql: String, txnId: Option[String] = None): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"TxnLog.addCheck: constraint name must be [A-Za-z0-9_]+, got '$name'")
    val latest = latestCommit(spark, root)
    txnId.foreach { id =>
      txnVersionOf(spark, root, latest, id).foreach(return _)
    }
    require(latest.nonEmpty, s"TxnLog: cannot add a check to an empty table at $root")
    // parse early (loud on malformed SQL) and validate EXISTING data
    val pred = org.apache.spark.sql.functions.expr(predicateSql)
    val existing = read(spark, root)
      .filter(coalesce(not(pred), lit(false)))
      .limit(1).collect()
    require(existing.isEmpty,
      s"TxnLog.addCheck: existing data at $root already violates '$name' " +
        s"($predicateSql) — e.g. ${existing.headOption.map(_.toString).getOrElse("")}")
    val expected = latest.get.version
    publishMeta(spark, root, expected, txnId, "set_check",
      last => last.copy(checks = last.checks + (name -> predicateSql)))
  }

  /** Remove a registered CHECK constraint (metadata-only commit).
    * Unknown names fail loudly. Returns the commit's version. */
  def dropCheck(spark: SparkSession, root: String, name: String,
                txnId: Option[String] = None): Long = {
    val latest = latestCommit(spark, root)
    txnId.foreach { id =>
      txnVersionOf(spark, root, latest, id).foreach(return _)
    }
    require(latest.nonEmpty, s"TxnLog: no table at $root")
    require(latest.get.checks.contains(name),
      s"TxnLog.dropCheck: no constraint '$name' at $root " +
        s"(registered: ${latest.get.checks.keys.toSeq.sorted.mkString(",")})")
    publishMeta(spark, root, latest.get.version, txnId, "drop_check",
      last => last.copy(checks = last.checks - name))
  }

  /** Registered CHECK constraints of the current table state. */
  def checks(spark: SparkSession, root: String): Map[String, String] =
    latestCommit(spark, root).map(_.checks).getOrElse(Map.empty)

  /** ALTER TABLE ... RENAME COLUMN, as ONE metadata commit and zero
    * data movement — the Delta column-mapping / Iceberg rename shape.
    * Bytes on disk keep the column's creation-time (physical) name
    * forever; this commit only re-points the logical name: every
    * subsequent read serves `to`, every subsequent write must speak
    * `to` (writing the old name fails loudly — it is a stale-schema
    * bug, not a new column), manifest-stats/Bloom pruning keeps
    * working through the mapping, and TIME TRAVEL to a pre-rename
    * version serves that version's own names. At 100 TB this is the
    * only acceptable rename: a rewrite would move the whole table to
    * change a string.
    *
    * Refused while the snapshot carries live deletion vectors or a
    * CHECK constraint mentioning the column (their predicate texts
    * are written in the current names and cannot be rewritten safely
    * — `compact` materializes vectors away, `dropCheck` + re-add
    * handles checks), and when `to` collides with any current
    * logical or on-disk physical name. Incremental consumers
    * ([[changesSince]], [[changeFeed]], the `format("graft")`
    * stream) refuse a range spanning the rename and re-baseline —
    * rows cannot be additive across two schemas. */
  def renameColumn(spark: SparkSession, root: String, from: String, to: String,
                   txnId: Option[String] = None): Long = {
    require(from.nonEmpty && to.nonEmpty && from != to,
      s"TxnLog.renameColumn: bad rename '$from' -> '$to'")
    val latest = latestCommit(spark, root)
    txnId.foreach { id =>
      txnVersionOf(spark, root, latest, id).foreach(return _)
    }
    require(latest.nonEmpty, s"TxnLog: no table at $root")
    val c = latest.get
    requireNoDvsOrChecksOn(c, root, from, "renameColumn")
    val logicalCols = read(spark, root).schema.fieldNames.toSet
    require(logicalCols.contains(from),
      s"TxnLog.renameColumn: no column '$from' at $root (have: ${logicalCols.toSeq.sorted.mkString(",")})")
    require(!logicalCols.contains(to),
      s"TxnLog.renameColumn: column '$to' already exists at $root")
    require(!c.dropped.contains(to),
      s"TxnLog.renameColumn: '$to' is a retired (dropped) physical name at $root")
    require(!(c.colmap.values.toSet - c.colmap.getOrElse(from, from)).contains(to),
      s"TxnLog.renameColumn: '$to' is another column's on-disk physical name at $root")
    publishMeta(spark, root, c.version, txnId, "rename_column", last =>
      last.copy(colmap =
        (last.colmap - from) + (to -> last.colmap.getOrElse(from, from)),
        defaults = last.defaults.get(from) match {
          case Some(sql) => (last.defaults - from) + (to -> sql)
          case None => last.defaults
        }))
  }

  /** ALTER TABLE ... DROP COLUMN, metadata-only — [[renameColumn]]'s
    * sibling: the physical column is RETIRED (excluded from every
    * subsequent read, refused on every subsequent write), its bytes
    * stay where they are until the dirs naturally rewrite, and time
    * travel before the drop still serves it. The retired name never
    * comes back (old dirs still hold its bytes — re-adding would be
    * ambiguous); use a fresh name. Same DV/CHECK refusals as
    * [[renameColumn]]; the last column cannot be dropped. */
  def dropColumn(spark: SparkSession, root: String, name: String,
                 txnId: Option[String] = None): Long = {
    val latest = latestCommit(spark, root)
    txnId.foreach { id =>
      txnVersionOf(spark, root, latest, id).foreach(return _)
    }
    require(latest.nonEmpty, s"TxnLog: no table at $root")
    val c = latest.get
    requireNoDvsOrChecksOn(c, root, name, "dropColumn")
    val logicalCols = read(spark, root).schema.fieldNames.toSet
    require(logicalCols.contains(name),
      s"TxnLog.dropColumn: no column '$name' at $root (have: ${logicalCols.toSeq.sorted.mkString(",")})")
    require(logicalCols.size >= 2,
      s"TxnLog.dropColumn: '$name' is the last column at $root — a table cannot be empty-schema")
    publishMeta(spark, root, c.version, txnId, "drop_column", last =>
      last.copy(colmap = last.colmap - name,
        dropped = last.dropped :+ last.colmap.getOrElse(name, name),
        defaults = last.defaults - name))
  }

  /** ALTER TABLE ... ADD COLUMN with an INITIAL DEFAULT, metadata-only
    * — the Iceberg initial-default / Delta `ALTER TABLE ADD COLUMN`
    * shape: directories written BEFORE the column existed serve the
    * (constant, foldable) default expression at read — a literal per
    * row, zero I/O, zero rewrite — while every directory written
    * after carries real values (an append missing the column keeps
    * serving the default: it is the column's write-default too).
    * Plain widening appends (NULL-filled history) need no DDL at all;
    * this is for the "backfill a constant without rewriting 100 TB"
    * case. The default must be a deterministic constant expression
    * (validated by evaluating it once); it freezes at add time. */
  def addColumn(spark: SparkSession, root: String, name: String,
                defaultSql: String, txnId: Option[String] = None): Long = {
    require(name.nonEmpty, "TxnLog.addColumn: empty column name")
    val latest = latestCommit(spark, root)
    txnId.foreach { id =>
      txnVersionOf(spark, root, latest, id).foreach(return _)
    }
    require(latest.nonEmpty, s"TxnLog: no table at $root")
    val c = latest.get
    val logicalCols = read(spark, root).schema.fieldNames.toSet
    require(!logicalCols.contains(name),
      s"TxnLog.addColumn: column '$name' already exists at $root")
    require(!c.dropped.contains(name),
      s"TxnLog.addColumn: '$name' is a retired (dropped) physical name at $root")
    require(!(c.colmap.values.toSet -- c.colmap.keySet).contains(name),
      s"TxnLog.addColumn: '$name' is another column's on-disk physical name at $root")
    // the default must evaluate as a constant — one local 1-row job,
    // loud on malformed or non-foldable SQL
    spark.range(1).select(org.apache.spark.sql.functions.expr(defaultSql)).head
    publishMeta(spark, root, c.version, txnId, "add_column", last =>
      last.copy(defaults = last.defaults + (name -> defaultSql)))
  }

  /** Shared schema-evolution refusals: live deletion vectors (their
    * predicate SQL is frozen text in current names) and CHECK
    * constraints mentioning the column (conservative word-boundary
    * test — over-matching refuses, never corrupts). */
  private def requireNoDvsOrChecksOn(c: Commit, root: String,
                                     column: String, op: String): Unit = {
    require(c.dvs.isEmpty,
      s"TxnLog.$op: table at $root carries ${c.dvs.size} live deletion vector(s) whose " +
        "predicate text is frozen in the current names — run compact(root) first " +
        "(it materializes vectors away), then retry")
    val word = ("\\b" + java.util.regex.Pattern.quote(column) + "\\b").r
    val referencing = c.checks.filter { case (_, p) => word.findFirstIn(p).isDefined }
    require(referencing.isEmpty,
      s"TxnLog.$op: CHECK constraint(s) ${referencing.keys.toSeq.sorted.mkString(",")} at $root " +
        s"mention '$column' — dropCheck them first and re-add under the new schema")
  }

  /** Shared CAS'd metadata-only publish (set_check/drop_check,
    * rename_column/drop_column): dirs and stats carry unchanged;
    * `mutate` transforms only the metadata its action owns. */
  private def publishMeta(spark: SparkSession, root: String, expected: Long,
                          txnId: Option[String], action: String,
                          mutate: Commit => Commit): Long =
    publish(spark, root, txnId, Some(expected), rebase = false, action) { (version, last, _) =>
      mutate(last.get).copy(version = version, action = action)
    }

  /** RESTORE: make version `toVersion`'s snapshot the CURRENT table
    * state again as a NEW commit — the incident-recovery primitive
    * (bad load, wrong merge, fat-fingered delete) and the Delta
    * `RESTORE TABLE ... TO VERSION AS OF` twin. Metadata-only: the
    * new manifest references the old version's directories (and its
    * deletion vectors and stats) BY REFERENCE — zero data files
    * written, constant cost at any table size. History is preserved,
    * not rewritten: every version between `toVersion` and the
    * restore stays readable (auditable) until `vacuum`, and the
    * restore itself is one more CAS'd create-exclusive commit, so a
    * concurrent writer cannot be silently overwritten.
    *
    * The restored version must still be readable (not vacuumed) —
    * checked loudly. Restoring to the current version is a no-op
    * returning it (no empty commit). A `txnId` makes retries
    * idempotent. Breaks [[changesSince]] lineage loudly (the visible
    * set was rewritten — action "restore"). Returns the new
    * version. */
  def restore(spark: SparkSession, root: String, toVersion: Long,
              txnId: Option[String] = None): Long = {
    val fs = fileSystem(spark, root)
    val latest = latestCommit(spark, root)
    txnId.foreach { id =>
      txnVersionOf(spark, root, latest, id).foreach(return _)
    }
    require(latest.nonEmpty, s"TxnLog: cannot restore an empty table at $root")
    val target = manifestFileAt(fs, root, toVersion).getOrElse(
      throw new IllegalArgumentException(
        s"TxnLog: version $toVersion does not exist at $root (vacuumed or never " +
          s"written); available: ${listVersions(fs, root).mkString(",")}"))
    val expected = latest.get.version
    if (toVersion == expected) return expected
    // the TARGET's data/stats/vectors come back — and its COLUMN
    // MAPPING with them (a restore across a rename serves the restored
    // version's own names: full-fidelity rollback); CHECK constraints
    // are table metadata and stay at the TIP's state
    publish(spark, root, txnId, Some(expected), rebase = false, "restore") { (version, last, _) =>
      target.copy(version = version, action = "restore", checks = last.get.checks)
    }
  }

  /** ZERO-COPY SHALLOW CLONE — the Delta `CREATE TABLE ... SHALLOW
    * CLONE` shape (reference operates tables the same way a lakehouse
    * does; at 100 TB a dev/test/experiment copy must be a metadata
    * operation, not a 100 TB rewrite). The clone is a brand-new table
    * whose version-0 manifest references the SOURCE's data
    * directories by absolute path (`ext:` entries, resolved by
    * [[dataPath]]); carried with them come the source's column stats
    * and Blooms (the clone prunes exactly as well as the source from
    * commit zero), deletion vectors, CHECK constraints, column
    * mapping, defaults, and partition transforms — the full table
    * state, not just the bytes.
    *
    * Divergence is copy-on-write by construction: every subsequent
    * commit on the clone (append/delete/merge/compact/cluster) writes
    * fresh LOCAL directories under the clone's own root, replacing
    * `ext:` references as rewrites touch them, while the source never
    * observes anything. The clone's [[vacuum]] can never delete
    * source bytes (it only deletes children of its own `data/`, which
    * an `ext:` entry can never name). The one shared-fate contract —
    * same as Delta's — is the source's OWN vacuum: dropping source
    * history that the clone still references breaks the clone's
    * reads; pin what clones depend on (`retainVersions`, or
    * [[tag]] + [[replicate]] for a deep copy).
    *
    * `asOf` clones a pinned historical version (time travel into a
    * new table). The target must not already be a table. Returns the
    * clone's version (always 0). */
  def cloneTable(spark: SparkSession, sourceRoot: String, targetRoot: String,
                 asOf: Option[Long] = None): Long = {
    require(sourceRoot != targetRoot,
      s"TxnLog.cloneTable: source and target are the same root ($sourceRoot)")
    require(latestVersion(spark, targetRoot) == -1L,
      s"TxnLog.cloneTable: target $targetRoot is already a table — clone into a fresh root")
    val src = manifestAt(spark, sourceRoot, asOf)
    require(src.isDefined && src.get.dirs.nonEmpty,
      s"TxnLog.cloneTable: nothing to clone at $sourceRoot (version ${asOf.getOrElse("latest")})")
    val c = src.get
    // re-point: local source entries become absolute ext: references;
    // an already-external entry (clone of a clone) passes through —
    // it already names the ORIGINAL table's bytes, so chained clones
    // never build path chains
    def ext(d: String): String =
      if (d.startsWith(ExtPrefix)) d else s"$ExtPrefix$sourceRoot/data/$d"
    val fs = fileSystem(spark, targetRoot)
    val published = tryPublish(fs, targetRoot, Commit(0L, "clone",
      c.dirs.map(ext), txnId = None,
      stats = c.stats.map { case (d, st) => ext(d) -> st },
      dvs = c.dvs.map(dv => dv.copy(dirs = dv.dirs.map(ext))),
      checks = c.checks,
      txns = Map.empty, // fresh idempotency lineage — the clone is a new table
      colmap = c.colmap, dropped = c.dropped, defaults = c.defaults,
      transforms = c.transforms))
    require(published,
      s"TxnLog.cloneTable: lost the version-0 race at $targetRoot — another writer created the table")
    0L
  }

  /** CONVERT an EXISTING parquet directory into a TxnLog table — the
    * reference's convert-to-lakehouse adoption path
    * (`scripts/convert_to_delta.py:85-88`) without moving a byte: the
    * new table root holds ONLY the log; its version-0 manifest
    * references the parquet directory via `ext:` (the [[cloneTable]]
    * by-reference machinery), optionally with column stats read back
    * from the existing files so [[readWhere]] skipping works from day
    * one. The original directory stays a perfectly valid plain
    * parquet dataset for every non-graft reader. Later appends and
    * rewrites land under `<root>/data/` like any table — which is WHY
    * the log lives in a separate root: a dir-granular manifest that
    * referenced its own enclosing directory would nest future data
    * dirs inside its own ext reference and double-read them.
    * Conversion cost at 100 TB: one manifest write (plus the optional
    * stats scan), never a rewrite. Returns the committed version (0). */
  def convertFromParquet(spark: SparkSession, parquetDir: String, root: String,
                         collectStats: Boolean = false): Long = {
    require(latestVersion(spark, root) == -1L,
      s"TxnLog.convertFromParquet: $root is already a graft table")
    val pdir = new Path(parquetDir).toUri.getPath
    val rdir = new Path(root).toUri.getPath
    require(rdir != pdir && !(rdir + "/").startsWith(pdir + "/"),
      s"TxnLog.convertFromParquet: table root $root must live OUTSIDE the " +
        s"converted directory $parquetDir (its data/ dirs would nest inside " +
        "the ext reference and double-read)")
    // ...and the converse: an adopted directory INSIDE the root would
    // sit among <root>/data children under its plain name while the
    // manifest references it as ext:<abs>, so vacuum's orphan sweep
    // (which matches plain child names) would class the original
    // dataset a stale orphan and delete it
    require(!(pdir + "/").startsWith(rdir + "/"),
      s"TxnLog.convertFromParquet: converted directory $parquetDir must live " +
        s"OUTSIDE the table root $root (an ext-referenced dir under the root " +
        "reads as an unreferenced orphan to vacuum)")
    // prove the directory is readable parquet BEFORE publishing — a
    // manifest over unreadable bytes would brick every later read
    require(spark.read.parquet(parquetDir).schema.fields.nonEmpty,
      s"TxnLog.convertFromParquet: no readable parquet schema at $parquetDir")
    val d = s"$ExtPrefix$parquetDir"
    val stats =
      if (collectStats) Map(d -> dirStats(spark, root, d))
      else Map.empty[String, Map[String, ColStat]]
    val fs = fileSystem(spark, root)
    val published = tryPublish(fs, root,
      Commit(0L, "convert", Seq(d), txnId = None, stats = stats))
    require(published,
      s"TxnLog.convertFromParquet: lost the version-0 race at $root")
    0L
  }

  /** Time travel BY TIMESTAMP — the version whose commit landed at or
    * before `tsMillis` (Delta's `timestampAsOf` contract, resolved
    * the same way: from the log files' own modification times — the
    * commit point IS the manifest create, so its mtime is the commit
    * time). Fails loudly on a timestamp before the first commit.
    * One log listing + one `getFileStatus` per manifest — metadata
    * only, a history-consumer-class operation by design (pin the
    * returned VERSION for repeated reads). */
  def versionAtTimestamp(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val fs = fileSystem(spark, root)
    val vs = listVersions(fs, root)
    require(vs.nonEmpty, s"TxnLog: no table at $root")
    val at = vs.map(v => v -> fs.getFileStatus(logPath(root, v)).getModificationTime)
      .filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"TxnLog: timestamp $tsMillis predates the first commit at $root " +
        s"(earliest ${fs.getFileStatus(logPath(root, vs.head)).getModificationTime})")
    at.maxBy(_._1)._1
  }

  /** [[read]] pinned by wall clock instead of version number. */
  def readAsOfTimestamp(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    read(spark, root, Some(versionAtTimestamp(spark, root, tsMillis)))

  /** Incremental consumption: the rows committed strictly AFTER
    * `sinceVersion`, read from ONLY the data directories those commits
    * added — cost is O(delta), never a snapshot scan, which is what
    * lets a downstream job poll a 100 TB append table per cycle
    * ("process what changed since my last checkpoint") for the price
    * of the new batches. Pass `sinceVersion = -1` to consume from the
    * beginning.
    *
    * Append-only lineage is REQUIRED and checked: an `overwrite`
    * (including [[compact]]) anywhere in `(sinceVersion, latest]`
    * rewrites the visible set, so "directories added" no longer means
    * "rows added" — the call fails loudly and the consumer must
    * re-baseline from a full [[read]]. A vacuumed `sinceVersion`
    * fails the same way (the delta's base is gone). */
  def changesSince(spark: SparkSession, root: String, sinceVersion: Long): DataFrame = {
    val fs = fileSystem(spark, root)
    val latestOpt = latestCommit(spark, root)
    require(latestOpt.nonEmpty, s"TxnLog table at $root is empty")
    val latest = latestOpt.get.version
    require(sinceVersion <= latest,
      s"TxnLog: sinceVersion $sinceVersion is ahead of latest $latest at $root")
    require(sinceVersion == -1L || fs.exists(logPath(root, sinceVersion)),
      s"TxnLog: version $sinceVersion does not exist at $root (vacuumed?) — " +
        "re-baseline from a full read of the current snapshot")
    // O(delta) manifest reads — the per-cycle poll of an incremental
    // consumer never replays the log; only the from-the-beginning
    // baseline (-1) walks the full history (it reads everything anyway)
    val commits =
      if (sinceVersion == -1L) history(spark, root)
      else commitsInRange(fs, root, sinceVersion, latest)
    val delta = commits.filter(_.version > sinceVersion)
    // set_check/drop_check/add_column are metadata-only (dirs
    // unchanged, zero rows added — add_column widens like any
    // schema-evolution append, which this feed already tolerates);
    // an incremental consumer skips straight over them. rename/drop
    // REFUSE below: existing rows changed names, no additive delta
    val broken = delta.filter(c => c.action != "append" &&
      c.action != "set_check" && c.action != "drop_check" &&
      c.action != "add_column" &&
      !(sinceVersion == -1L && c.version == commits.head.version))
    require(broken.isEmpty,
      s"TxnLog: non-append commit(s) ${broken.map(c => s"v${c.version}:${c.action}").mkString(", ")} " +
        s"after version $sinceVersion at $root — the visible set was rewritten, " +
        "so an additive delta does not exist; re-baseline from a full read")
    val baseDirs =
      if (sinceVersion == -1L) Set.empty[String]
      else commits.head.dirs.toSet // range head IS the since manifest
    val snapshot = commits.last.dirs
    val newDirs = snapshot.filterNot(baseDirs)
    // the range is append-only (proven above), so the column mapping
    // is CONSTANT across it — serve the logical view of it
    val tip = commits.last
    if (newDirs.isEmpty)
      // caught up — the COMMON poll outcome must stay cheap: an empty
      // frame with the table's schema from ONE visible directory, not
      // a re-read of the log plus a plan over the full snapshot
      snapshot.headOption match {
        case Some(one) => logicalFrame(
          readDir(spark, root, one),
          tip.colmap, tip.dropped, tip.defaults).limit(0)
        case None => read(spark, root).limit(0)
      }
    else logicalFrame(
      spark.read.parquet(newDirs.map(d => dataPath(root, d)): _*),
      tip.colmap, tip.dropped, tip.defaults)
  }

  /** Row-level CHANGE DATA FEED — the Delta CDF / Iceberg changelog
    * shape, extending [[changesSince]] (inserts only, refuses on any
    * rewrite) to the row-changing commits: every commit strictly
    * after `sinceVersion` contributes rows tagged `_change_type` and
    * `_commit_version`:
    *
    *  - `append` → its added directory's rows as `insert` (O(delta) —
    *    no old data touched);
    *  - `delete_mor` → the covered dirs' rows matching the new
    *    tombstone predicate, AT THE PRIOR VERSION, as `delete`
    *    (reads only covered dirs);
    *  - `replace` (copy-on-write delete/merge) → the affected old
    *    dirs diffed against the rewrite dir as ONE signed multiset
    *    diff ([[replaceFeed]]: old rows −1, new rows +1, one
    *    aggregate — a single exchange, multiset-exact): without
    *    `keyCols`, as `delete` + `insert`; with `keyCols`, rows
    *    sharing a non-null key on both sides pair into
    *    `update_preimage`/`update_postimage` and only unpaired
    *    residue stays delete/insert;
    *  - `set_check`/`drop_check` → skipped (metadata-only);
    *  - `overwrite`/`restore` → REFUSED loudly, like
    *    [[changesSince]]: the visible set was wholesale re-pointed,
    *    so a row-level delta would be a full-table delete+insert
    *    that says nothing — re-baseline.
    *
    * Cost is bounded by the AFFECTED directories of each commit in
    * the range, never the snapshot — the property that makes a CDC
    * downstream (cache invalidation, search-index maintenance,
    * audit) affordable on a 100 TB table. Deterministic: the same
    * range always yields the same multiset. */
  def changeFeed(spark: SparkSession, root: String, sinceVersion: Long,
                 keyCols: Seq[String] = Nil,
                 untilVersion: Option[Long] = None): DataFrame = {
    val fs = fileSystem(spark, root)
    val latestOpt = latestCommit(spark, root)
    require(latestOpt.nonEmpty, s"TxnLog table at $root is empty")
    val latest = untilVersion.getOrElse(latestOpt.get.version)
    require(untilVersion.forall(v => fs.exists(logPath(root, v))),
      s"TxnLog: untilVersion $untilVersion does not exist at $root")
    require(sinceVersion <= latest,
      s"TxnLog: sinceVersion $sinceVersion is ahead of $latest at $root")
    require(sinceVersion == -1L || fs.exists(logPath(root, sinceVersion)),
      s"TxnLog: version $sinceVersion does not exist at $root (vacuumed?) — re-baseline")
    // O(range) manifest reads, like [[changesSince]] — a CDC poller's
    // cycle cost is the commits it consumes, never the log length
    val commits =
      if (sinceVersion == -1L) history(spark, root)
      else commitsInRange(fs, root, sinceVersion, latest)
    val delta = commits.filter(c => c.version > sinceVersion && c.version <= latest)
    val refused = delta.filter(c => c.action == "overwrite" || c.action == "restore"
        || c.action == "clone"
        || c.action == "rename_column" || c.action == "drop_column")
      .filterNot(c => sinceVersion == -1L && c.version == commits.head.version)
    require(refused.isEmpty,
      s"TxnLog: rewrite/schema commit(s) ${refused.map(c => s"v${c.version}:${c.action}").mkString(", ")} " +
        s"after version $sinceVersion at $root — no row-level delta exists under one schema; " +
        "re-baseline from read()")
    def tag(df: DataFrame, tpe: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(tpe)).withColumn("_commit_version", lit(v))
    val feeds = delta.flatMap { c =>
      val prior = snapshotAt(commits, c.version - 1)
      val priorCommit = commits.filter(_.version < c.version).lastOption
      c.action match {
        case "append" | "overwrite" | "restore" | "clone" => // rewrites only as the -1 baseline
          val added = c.dirs.filterNot(prior.toSet)
          if (added.isEmpty) None
          else Some(tag(added.map(d => dirFrame(spark, root, d, Some(c)))
            .reduce(_.unionByName(_, allowMissingColumns = true)), "insert", c.version))
        case "delete_mor" =>
          val dv = c.dvs.last // the commit's own new tombstone
          val covered = dv.dirs.map(d => dirFrame(spark, root, d, priorCommit))
            .reduce(_.unionByName(_, allowMissingColumns = true))
          Some(tag(covered.filter(
            org.apache.spark.sql.functions.expr(dv.pred) === lit(true)),
            "delete", c.version))
        case "replace" =>
          val affected = prior.filterNot(c.dirs.toSet)
          val newDirs = c.dirs.filterNot(prior.toSet)
          val old0 = affected.map(d => dirFrame(spark, root, d, priorCommit))
            .reduce(_.unionByName(_, allowMissingColumns = true))
          val neu0 =
            if (newDirs.isEmpty) old0.limit(0)
            else newDirs.map(d => dirFrame(spark, root, d, Some(c)))
              .reduce(_.unionByName(_, allowMissingColumns = true))
          // after a widening schema-evolution append, one side may be
          // all-narrow (the affected dirs predate the widening, or the
          // rewrite dropped rows carrying the wide column): align BOTH
          // sides to the union schema with typed null-fill — the same
          // allowMissingColumns semantics read() gives a snapshot —
          // so the signed diff groups both sides by the same columns
          val unionCols = (old0.columns ++ neu0.columns.filterNot(
            old0.columns.contains(_: String))).toIndexedSeq
          val colType = (old0.schema ++ neu0.schema)
            .map(f => f.name -> f.dataType).toMap
          def aligned(df: DataFrame): DataFrame = {
            val have = df.columns.toSet
            df.select(unionCols.map(cn =>
              if (have(cn)) col(cn) else lit(null).cast(colType(cn)).as(cn)): _*)
          }
          Some(replaceFeed(aligned(old0), aligned(neu0), keyCols, c.version))
        case _ => None // set_check / drop_check / add_column: metadata-only
      }
    }
    require(feeds.nonEmpty || delta.forall(c =>
      c.action == "set_check" || c.action == "drop_check" ||
        c.action == "add_column"),
      s"TxnLog: no change feed in ($sinceVersion, $latest] at $root")
    feeds.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(tag(read(spark, root).limit(0), "insert", latest))
  }

  /** The `replace` arm of [[changeFeed]]: the affected old rows
    * diffed against the rewrite's rows, both already aligned to one
    * column list, as ONE signed multiset diff. Old rows count −1 and
    * new rows +1; grouping by every column leaves `n = #new − #old`
    * per distinct row, and each row with `n ≠ 0` is emitted `|n|`
    * times — `exceptAll` both ways in one aggregate. Without
    * `keyCols`, `n < 0` rows are `delete` and `n > 0` rows `insert`.
    * With `keyCols` the signed union is hash-partitioned on the key,
    * so the aggregate and the per-key window that finds a key's
    * negative and positive rows share that one exchange: a key
    * holding both pairs into `update_preimage`/`update_postimage`,
    * unless a key part is NULL (SQL equality never matches NULL, so
    * such rows stay `delete`/`insert`). Output columns: the aligned
    * columns, then `_change_type`, `_commit_version`. */
  private[graft] def replaceFeed(old: DataFrame, neu: DataFrame, keyCols: Seq[String],
                                 version: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{abs, explode, max => smax, min => smin, sequence, sum}
    val cols = old.columns.toIndexedSeq.map(col)
    val signed = old.withColumn("__graft_sign", lit(-1))
      .unionByName(neu.withColumn("__graft_sign", lit(1)))
    val n = col("__graft_n")
    val diff = (if (keyCols.isEmpty) signed else signed.repartition(keyCols.map(col): _*))
      .groupBy(cols: _*).agg(sum("__graft_sign").as("__graft_n"))
      .filter(n =!= 0)
    val unpaired = when(n < 0, "delete").otherwise("insert")
    val changeType =
      if (keyCols.isEmpty) unpaired
      else {
        val byKey = Window.partitionBy(keyCols.map(col): _*)
        val paired = keyCols.map(col(_).isNotNull).reduce(_ && _) &&
          smin(n).over(byKey) < 0 && smax(n).over(byKey) > 0
        when(paired, when(n < 0, "update_preimage").otherwise("update_postimage"))
          .otherwise(unpaired)
      }
    diff.withColumn("_change_type", changeType)
      .withColumn("__graft_copy", explode(sequence(lit(1L), abs(n)))) // |n| copies
      .select(cols :+ col("_change_type") :+ lit(version).as("_commit_version"): _*)
  }

  /** Incremental cross-table replication — [[changeFeed]]'s consumer
    * half, closing produce→apply the way `foreachBatchUpsert` closes
    * streaming CDC: apply every change in `(sinceVersion, latest]` of
    * `sourceRoot` to the replica at `targetRoot`, one source commit at
    * a time so the replica's history mirrors the source's semantics
    * (appends apply as appends — lineage-preserving for the replica's
    * OWN downstream consumers; deletes as key deletes; updates as
    * keyed merges). Each applied commit carries txnId
    * `repl-<source fingerprint>-v<version>`, so a crashed-and-retried
    * replication run re-applies nothing — exactly-once per source
    * commit by construction.
    *
    * Returns the new high-water mark (the source version the replica
    * now reflects); feed it back as the next call's `sinceVersion`.
    * Cost per cycle is the source's affected dirs plus the replica's
    * rewritten dirs — never either snapshot. The replica must be
    * seeded (e.g. a full copy at `sinceVersion`); key columns must
    * identify rows uniquely on both sides, and a source rewrite
    * (overwrite/restore) fails the feed loudly — re-seed the replica,
    * exactly the [[changesSince]] re-baseline contract. */
  def replicate(spark: SparkSession, sourceRoot: String, targetRoot: String,
                sinceVersion: Long, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "replicate: need key columns")
    val fs = fileSystem(spark, sourceRoot)
    val latestOpt = latestCommit(spark, sourceRoot)
    require(latestOpt.nonEmpty, s"TxnLog table at $sourceRoot is empty")
    val latest = latestOpt.get.version
    val srcTag = Integer.toHexString(sourceRoot.hashCode)
    // O(delta) manifest reads per cycle (the changesSince discipline);
    // only a from-scratch seed (-1) reads the whole log
    val pending =
      if (sinceVersion < 0L) history(spark, sourceRoot)
      else if (latest > sinceVersion) commitsInRange(fs, sourceRoot, sinceVersion + 1, latest)
      else Seq.empty[Commit]
    pending.filter(_.version > sinceVersion).foreach { c =>
      val txn = Some(s"repl-$srcTag-v${c.version}")
      c.action match {
        case "set_check" | "drop_check" => // metadata-only: nothing to apply
        case _ =>
          val feed = changeFeed(spark, sourceRoot,
            math.max(c.version - 1, -1L), keyCols, untilVersion = Some(c.version))
          val payload = feed.drop("_change_type", "_commit_version")
          c.action match {
            case "overwrite" | "clone" =>
              // reachable only as the feed's since=-1 baseline (any
              // later rewrite was refused by changeFeed above): the
              // replica seeds itself from the baseline inserts — a
              // clone seeds as a DEEP copy (replicate is exactly the
              // deep-copy escape hatch the shallow-clone doc names)
              overwrite(payload, targetRoot, txn); ()
            case "append" =>
              append(payload, targetRoot, txn); ()
            case "delete_mor" =>
              // replay the SOURCE's own tombstone predicate — the
              // replica's content equals the source's pre-commit
              // snapshot, so the same predicate erases the same rows;
              // no key collect, no predicate-size blowup, and the
              // replica's manifest carries the same compact SQL
              deleteMor(spark, targetRoot,
                org.apache.spark.sql.functions.expr(c.dvs.last.pred), txn); ()
            case "replace" =>
              val dels = feed.filter(col("_change_type") === "delete")
                .select(keyCols.map(col): _*).distinct()
                .collect() // bounded by the rewrite's deleted-key count
              if (dels.nonEmpty) {
                // a flat IN list, never an OR chain — 10^4-key lists
                // stay parseable where nested ors hit the parser's
                // complexity limit (FAILED_TO_PARSE_TOO_COMPLEX)
                val pred =
                  if (keyCols.size == 1)
                    col(keyCols.head).isin(dels.map(_.get(0)).toIndexedSeq: _*)
                  else
                    struct(keyCols.map(col): _*).isin(dels.map(r =>
                      struct(keyCols.indices.map(i => lit(r.get(i))): _*)).toIndexedSeq: _*)
                delete(spark, targetRoot, pred, txn.map(_ + "-d")); ()
              }
              val ups = feed.filter(col("_change_type").isin("update_postimage", "insert"))
                .drop("_change_type", "_commit_version")
              if (!ups.isEmpty) { merge(ups, targetRoot, keyCols, txn.map(_ + "-u")); () }
            case other =>
              throw new IllegalStateException(
                s"TxnLog.replicate: unexpected action '$other' at v${c.version} of $sourceRoot")
          }
      }
    }
    latest
  }

  // ----------------------------------------------------------------
  // internals
  // ----------------------------------------------------------------

  private[graft] def commit(df: DataFrame, root: String, action: String,
                            txnId: Option[String],
                            expectedLatest: Option[Long] = None,
                            partitionBy: Seq[String] = Nil,
                            replaceBase: Option[Seq[String]] = None,
                            collectStats: Boolean = false,
                            bloomCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val fs = fileSystem(spark, root)
    val dir = java.util.UUID.randomUUID.toString
    // COLUMN-MAPPING write half: callers speak logical names, bytes
    // on disk carry physical (creation-time) names — translate before
    // writing so every dir in the table stays uniformly physical.
    // Retired names never come back (ambiguous against the dropped
    // dirs' bytes) and a renamed column's OLD name is a caller bug,
    // not a new column — both refuse loudly.
    val mapAt = latestCommit(spark, root)
    val colmap0 = mapAt.map(_.colmap).getOrElse(Map.empty)
    val dropped0 = mapAt.map(_.dropped).getOrElse(Seq.empty)
    val defaults0 = mapAt.map(_.defaults).getOrElse(Map.empty)
    val retired = df.columns.toSet.intersect(dropped0.toSet)
    require(retired.isEmpty,
      s"TxnLog: column(s) ${retired.toSeq.sorted.mkString(",")} were DROPPED from $root — " +
        "a retired name cannot be re-added (old directories still hold its bytes); " +
        "use a fresh name or rebuild the table")
    val stale = (colmap0.values.toSet -- colmap0.keySet).intersect(df.columns.toSet)
    require(stale.isEmpty,
      s"TxnLog: column(s) ${stale.toSeq.sorted.mkString(",")} were RENAMED at $root " +
        s"(${colmap0.filter(e => stale(e._2)).map(e => s"${e._2} -> ${e._1}").mkString(", ")}) — " +
        "write the current (logical) names")
    val physDf = colmap0.foldLeft(df) { case (d, (lg, ph)) =>
      if (d.columns.contains(lg)) d.withColumnRenamed(lg, ph) else d }
    // Resolve partition entries: plain logical columns map to
    // physical; transform specs (`days(ts)`, `bucket(16, id)`,
    // `trunc(100, n)`) derive a reserved `__p_*` column; a bare
    // `__p_*` name (a copy-on-write rewrite echoing layoutOf's
    // physical layout) recovers its spec from the carried manifest.
    val carriedTransforms = mapAt.map(_.transforms).getOrElse(Map.empty)
    val resolvedParts: Seq[(String, Option[String])] = partitionBy.map { e =>
      parsePartitionSpec(e) match {
        case Right((c0, spec)) => (colmap0.getOrElse(c0, c0), Some(spec))
        case Left(p) if p.startsWith("__p_") =>
          val under = p.stripPrefix("__p_").dropWhile(_ != '_').drop(1)
          val spec = carriedTransforms.getOrElse(under,
            throw new IllegalArgumentException(
              s"TxnLog: partition dir '$p' has no registered transform at $root"))
          (under, Some(spec))
        case Left(plain) => (colmap0.getOrElse(plain, plain), None)
      }
    }
    val withDerived = resolvedParts.foldLeft(physDf) {
      case (d, (c, Some(spec))) =>
        require(d.columns.contains(c),
          s"TxnLog: partition transform on missing column '$c' at $root")
        d.withColumn(partColName(c, spec), partValueExpr(col(c), spec))
      case (d, (_, None)) => d
    }
    val physPartitionBy = resolvedParts.map {
      case (c, Some(spec)) => partColName(c, spec)
      case (c, None) => c
    }
    val newTransforms = carriedTransforms ++
      resolvedParts.collect { case (c, Some(spec)) => c -> spec }
    // Hive-style partition dirs INSIDE the version directory: readers
    // get directory-level partition pruning per snapshot dir (the
    // version dirs are the read's base paths, so discovery sees the
    // partition column under each), while the commit point stays the
    // manifest — a partitioned append is exactly as atomic as a flat
    // one. Mixing partitioned and unpartitioned commits in one table
    // is the caller's error (the read would see a schema mismatch).
    val w = withDerived.write
    (if (physPartitionBy.nonEmpty) w.partitionBy(physPartitionBy: _*) else w)
      .parquet(s"$root/data/$dir")
    // CHECK-constraint gate: validate the freshly WRITTEN directory
    // against every registered predicate BEFORE any publish attempt —
    // a violating commit deletes its orphan dir and fails loudly, the
    // table never moves. SQL CHECK semantics: only FALSE violates,
    // NULL passes. One narrow aggregate over the new dir only.
    def validateChecks(checks: Map[String, String]): Unit = if (checks.nonEmpty) {
      val verdicts =
        try {
          // checks are written in LOGICAL names — evaluate them over
          // the dir's logical view
          val dirDf = logicalFrame(
            readDir(spark, root, dir), colmap0, dropped0, defaults0)
          val aggs = checks.toSeq.sortBy(_._1).map { case (n, p) =>
            count(when(coalesce(not(
              org.apache.spark.sql.functions.expr(p)), lit(false)), 1)).as(n)
          }
          val row = dirDf.agg(aggs.head, aggs.tail: _*).head
          checks.keys.toSeq.sorted.map(n => n -> row.getAs[Long](n))
        } catch { case scala.util.control.NonFatal(e) =>
          // e.g. the commit's schema dropped a checked column — the
          // constraint cannot be proven, so the commit is refused
          fs.delete(new Path(s"$root/data/$dir"), true)
          throw new IllegalArgumentException(
            s"TxnLog: CHECK constraint(s) ${checks.keys.toSeq.sorted.mkString(",")} " +
              s"could not be evaluated against the new commit at $root — refused", e)
        }
      val bad = verdicts.filter(_._2 > 0)
      if (bad.nonEmpty) {
        fs.delete(new Path(s"$root/data/$dir"), true)
        throw new IllegalArgumentException(
          s"TxnLog: commit to $root violates CHECK constraint(s) " +
            bad.map { case (n, c) => s"'$n' ($c rows)" }.mkString(", ") +
            " — commit refused, no version published")
      }
    }
    var validatedChecks = latestCommit(spark, root)
      .map(_.checks).getOrElse(Map.empty)
    validateChecks(validatedChecks)
    // stats are read back from the WRITTEN directory, not the input
    // frame — the manifest certifies what is on disk (the LayoutCache
    // discipline), and the read-back picks up partition columns too
    val newStats = {
      val rangeStats =
        if (collectStats) dirStats(spark, root, dir) else Map.empty[String, ColStat]
      // bloom columns arrive logical; the written dir (and the stats
      // key the pruners resolve through physOf) are physical
      rangeStats ++ bloomCols.map(c => colmap0.getOrElse(c, c)).map(p =>
        s"$BloomKeyPrefix$p" -> dirBloom(spark, root, dir, p))
    }
    // CAS writers (compaction, CoW delete/merge) derived the rewrite
    // FROM a specific snapshot; interleaved PLAIN APPENDS rebase (they
    // touch no dir the rewrite read, add no deletion vectors, change no
    // checks — the outcome serializes as rewrite-then-append), anything
    // else aborts and the caller re-derives ([[publish]])
    publish(spark, root, txnId, expectedLatest, rebase = true, "rewrite", Seq(dir)) {
      (version, last, rebasedDirs) =>
        val dirs = action match {
          case "overwrite" => Seq(dir) ++ rebasedDirs
          case "append"    => last.map(_.dirs).getOrElse(Seq.empty) :+ dir
          // copy-on-write rewrite: unaffected directories carry by
          // reference, the freshly written dir replaces the affected set
          case "replace"   => (replaceBase.get :+ dir) ++ rebasedDirs
        }
        // manifests stay self-contained: carry forward the retained
        // dirs' stats from the previous manifest, add the new dir's
        val carried = last.map(_.stats).getOrElse(Map.empty)
          .filter { case (d, _) => dirs.contains(d) }
        val stats =
          if (newStats.nonEmpty) carried + (dir -> newStats) else carried
        // deletion vectors carry forward pruned to the still-visible
        // dirs: an overwrite (incl. compact) drops them all — the
        // rewrite read them away; a replace drops exactly the entries
        // scoped to dirs it rewrote (materialized); the new dir is
        // never covered (nothing was deleted from it yet)
        val dvs = last.map(_.dvs).getOrElse(Seq.empty)
          .map(dv => dv.copy(dirs = dv.dirs.filter(dirs.contains)))
          .filter(_.dirs.nonEmpty)
        // CHECK constraints are table metadata, not snapshot data: they
        // carry across every action (incl. overwrite) until dropCheck.
        // A check registered CONCURRENTLY (between our pre-loop
        // validation and this publish attempt) must not ride into the
        // new manifest unvalidated — re-validate the new dir against
        // the loop-time set whenever it differs from what we last proved
        val carriedChecks = last.map(_.checks).getOrElse(Map.empty)
        if (carriedChecks != validatedChecks) {
          validateChecks(carriedChecks)
          validatedChecks = carriedChecks
        }
        // the dir was WRITTEN under mapAt's mapping — a rename/drop that
        // landed since would make its physical names wrong; abort loudly
        // (the caller re-runs under the new mapping)
        if (last.map(_.colmap).getOrElse(Map.empty) != colmap0 ||
            last.map(_.dropped).getOrElse(Seq.empty) != dropped0 ||
            last.map(_.defaults).getOrElse(Map.empty) != defaults0) {
          fs.delete(new Path(s"$root/data/$dir"), true)
          throw new java.util.ConcurrentModificationException(
            s"TxnLog: column mapping at $root changed while a commit was in flight — " +
              "commit aborted; re-run (the data dir was written under the old mapping)")
        }
        Commit(version, action, dirs, txnId, stats, dvs, carriedChecks,
          colmap = colmap0, dropped = dropped0, defaults = defaults0,
          transforms = newTransforms)
    }
  }

  /** The one optimistic commit loop every writer publishes through:
    * read the latest manifest, take the next version, and claim it with
    * a create-exclusive manifest ([[tryPublish]]); a lost race retries
    * on the next version, up to [[MaxRetries]] times. A writer that
    * derived its commit from version `expected` meets any interleaved
    * commits here: with `rebase`, interleaved plain appends ride into
    * `build` by reference (their dirs, as the third argument) and
    * anything else aborts; without it, any interleaving aborts. Aborts
    * raise a `ConcurrentModificationException` naming `op`. A `txnId`
    * the latest log already carries makes the call a no-op returning
    * that version. On an abort or a no-op, the caller's `written` data
    * dirs are deleted. `build` gets the version, the latest manifest
    * and the rebased dirs; the loop stamps the txnId and the carried
    * txn map. */
  private def publish(spark: SparkSession, root: String, txnId: Option[String],
                      expected: Option[Long], rebase: Boolean, op: String,
                      written: Seq[String] = Nil)
                     (build: (Long, Option[Commit], Seq[String]) => Commit): Long = {
    val fs = fileSystem(spark, root)
    def discard(): Unit = written.foreach(d => fs.delete(new Path(s"$root/data/$d"), true))
    var attempt = 0
    while (attempt < MaxRetries) {
      val last = latestCommit(spark, root)
      val version = last.map(_.version + 1).getOrElse(0L)
      val rebased = expected.filter(_ != version - 1).fold(Seq.empty[String]) { exp =>
        def abort(why: String): Nothing = {
          discard()
          throw new java.util.ConcurrentModificationException(
            s"TxnLog: table at $root moved (expected latest $exp, found ${version - 1}) — $why")
        }
        if (!rebase) abort(s"$op aborted; re-run against the new state")
        interleavedAppendDirs(fs, root, exp, version - 1).fold(
          actions => abort(s"non-append commits interleaved (${actions.mkString(",")}); $op aborted"),
          identity)
      }
      // idempotency re-check under the latest log (a racing retry of
      // the same txn may have won a version since the caller's look)
      txnId.foreach { id =>
        txnVersionOf(spark, root, last, id).foreach { v => discard(); return v }
      }
      val txns = capTxns(carriedTxns(spark, root, last) ++ txnId.map(_ -> version))
      if (tryPublish(fs, root, build(version, last, rebased).copy(txnId = txnId, txns = txns)))
        return version
      attempt += 1 // lost the race: someone else took this version
    }
    throw new IllegalStateException(
      s"TxnLog: lost $MaxRetries consecutive commit races on $root — giving up")
  }

  /** Per-column [min, max] of one freshly committed directory — the
    * column-level manifest stats Delta/Iceberg carry, collected for up
    * to [[MaxStatCols]] integral/string columns (schema order; other
    * types are not collected — conservative, never wrong). All-null
    * columns are omitted (no usable range). One narrow agg over the
    * new directory only. */
  private def dirStats(spark: SparkSession, root: String, d: String): Map[String, ColStat] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.{max => smax, min => smin, input_file_name}
    val path = dataPath(root, d)
    val df = readDir(spark, root, d)
    val statCols = df.schema.fields.filter(f => f.dataType match {
      case LongType | IntegerType | ShortType | ByteType | StringType
           | DoubleType | FloatType => true
      case _ => false
    }).take(MaxStatCols)
    // ONE job, grouped by file: per-file [min, max] (the Delta
    // add-file stats shape) fold to the dir-level stats on the
    // driver, so file-granular pruning costs no extra scan. The row
    // count is collected even when no column qualifies for min/max —
    // a stats-on commit always enables fastCount.
    val aggs = statCols.toSeq.flatMap(f => Seq(
      smin(df.col(f.name)).cast("string").as(s"__mn_${f.name}"),
      smax(df.col(f.name)).cast("string").as(s"__mx_${f.name}"))) :+
      count(lit(1)).as("__nrows")
    val rows = df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*).collect() // bounded: files per commit dir
    def tpeOf(f: StructField): String = f.dataType match {
      case StringType => "string"
      case DoubleType | FloatType => "double"
      case _ => "long"
    }
    def statsOf(row: org.apache.spark.sql.Row): Map[String, ColStat] =
      statCols.flatMap { f =>
        val mn = row.getAs[String](s"__mn_${f.name}")
        val mx = row.getAs[String](s"__mx_${f.name}")
        // Spark renders doubles shortest-roundtrip, so toDouble
        // recovers the exact binary64 at read — comparisons stay exact
        if (mn == null || mx == null) None
        else Some(f.name -> ColStat(tpeOf(f), mn, mx))
      }.toMap
    // dir-level fold: min of file minimums / max of file maximums —
    // exact because the renderings order correctly within a type
    def fold(a: ColStat, b: ColStat): ColStat = a.tpe match {
      case "long" => ColStat("long",
        math.min(a.min.toLong, b.min.toLong).toString,
        math.max(a.max.toLong, b.max.toLong).toString)
      case "double" => ColStat("double",
        math.min(a.min.toDouble, b.min.toDouble).toString,
        math.max(a.max.toDouble, b.max.toDouble).toString)
      case _ => ColStat(a.tpe,
        if (a.min <= b.min) a.min else b.min,
        if (a.max >= b.max) a.max else b.max)
    }
    val perFile = rows.map(r => (r.getAs[String]("__file"),
      statsOf(r), r.getAs[Long]("__nrows")))
    val dirLevel = perFile.map(_._2).reduceOption((x, y) =>
      (x.keySet ++ y.keySet).flatMap { k =>
        (x.get(k), y.get(k)) match {
          case (Some(a), Some(b)) => Some(k -> fold(a, b))
          // an all-NULL file contributes no range: NULLs never widen
          // min/max (they can't satisfy a range predicate either)
          case (Some(a), None) => Some(k -> a)
          case (None, Some(b)) => Some(k -> b)
          case _ => None
        }
      }.toMap).getOrElse(Map.empty)
    val n = perFile.map(_._3).sum.toString
    // per-file entries (reserved "__f:<name>|<col>" keys — the
    // [[RowCountKey]]/[[BloomKeyPrefix]] namespace trick, invisible
    // to dir-level lookups) are recorded only when every data file
    // sits DIRECTLY under the dir (a Hive-partitioned layout prunes
    // via partition values instead) and the file count is modest —
    // a 10k-file dir would bloat every later self-contained manifest
    val dirUri = new Path(path).toUri.getPath
    val fileEntries: Map[String, ColStat] =
      if (perFile.length > FileStatsCap) Map.empty
      else {
        val named = perFile.map { case (uri, st, _) =>
          val p = new Path(uri).toUri.getPath
          val rel =
            if (p.startsWith(dirUri + "/")) p.stripPrefix(dirUri + "/") else p
          (rel, st)
        }
        if (named.exists { case (rel, _) => rel.contains("/") || rel.contains("|") })
          Map.empty // partitioned (or unencodable) layout: dir-level only
        else named.flatMap { case (rel, st) =>
          st.map { case (c, cs) => s"$FileKeyPrefix$rel|$c" -> cs }
        }.toMap
      }
    dirLevel ++ fileEntries + (RowCountKey -> ColStat("count", n, n))
  }

  /** Reserved stats key carrying a directory's row count. */
  private val RowCountKey = "__rows"

  /** Reserved stats-key prefix for per-FILE column stats:
    * `__f:<file>|<col>` (see [[dirStats]]). */
  private[graft] val FileKeyPrefix = "__f:"
  /** Per-file stats are recorded only for dirs of at most this many
    * files — beyond it (a pre-compaction micro-batch pile-up), the
    * dir-level range still prunes and the manifest stays small. */
  private val FileStatsCap = 128

  /** Metadata-only COUNT(*): when every directory in the snapshot was
    * committed with `collectStats`, the table's row count is the sum
    * of the manifest-recorded per-dir counts — zero files opened, the
    * Delta/Iceberg fast-count shape. Returns None when any dir is
    * stat-blind (fall back to `read(...).count()`); a copy-on-write
    * DELETE/MERGE rewrite dir is stat-blind unless its writer opted
    * in, which keeps the fast path honest by construction. */
  def fastCount(spark: SparkSession, root: String,
                asOf: Option[Long] = None): Option[Long] = {
    // manifestAt carries the pin validation: a vacuumed or
    // never-written asOf fails loudly, not silently counting the
    // nearest older manifest (a count for a DIFFERENT version)
    val manifest = manifestAt(spark, root, asOf)
    val snap = manifest.map(_.dirs).getOrElse(Seq.empty)
    if (snap.isEmpty) return Some(0L)
    // a merge-on-read deletion vector erases rows the manifest counts
    // still include — the fast path must refuse, not over-count
    if (manifest.exists(_.dvs.nonEmpty)) return None
    val stats = manifest.map(_.stats).getOrElse(Map.empty)
    val counts = snap.map(d =>
      stats.get(d).flatMap(_.get(RowCountKey)).map(_.min.toLong))
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** Metadata-only MIN/MAX — [[fastCount]]'s sibling for range
    * endpoints: when every snapshot directory carries stats for
    * `column`, the table's min/max are the extrema of the per-dir
    * [min, max] — zero files opened. Honest by construction: any
    * stat-blind dir returns None (scan instead), and ANY deletion
    * vector returns None too — a tombstone may have erased exactly
    * the extremal row, so the manifest's bounds are no longer tight.
    * Returns (min, max) as the stats' string rendering with the
    * column's recorded type ("long" values parse with `.toLong`). */
  def fastMinMax(spark: SparkSession, root: String, column: String,
                 asOf: Option[Long] = None): Option[(String, String)] = {
    val manifest = manifestAt(spark, root, asOf)
    val snap = manifest.map(_.dirs).getOrElse(Seq.empty)
    if (snap.isEmpty) return None
    if (manifest.exists(_.dvs.nonEmpty)) return None
    val stats = manifest.map(_.stats).getOrElse(Map.empty)
    val per = snap.map(d => stats.get(d).flatMap(_.get(physOf(manifest, column))))
    if (per.exists(_.isEmpty)) return None
    val cs = per.flatten
    val tpe = cs.head.tpe
    if (!cs.forall(_.tpe == tpe) ||
      (tpe != "long" && tpe != "string" && tpe != "double")) return None
    if (tpe == "long")
      Some((cs.map(_.min.toLong).min.toString, cs.map(_.max.toLong).max.toString))
    else if (tpe == "double")
      // return the STORED rendering of the extremal dir (never
      // re-render driver-side — the engine's shortest-roundtrip
      // string is the contract)
      Some((cs.minBy(_.min.toDouble).min, cs.maxBy(_.max.toDouble).max))
    else
      Some((cs.map(_.min).min, cs.map(_.max).max))
  }

  /** Named, immutable version refs — the Delta "version aliases" /
    * Iceberg tags shape: `tag` pins a human name ("v2024-q3",
    * "training-cut-7") to a version via one create-exclusive file
    * under `_graft_tags/` (atomic; a second tag of the same name
    * fails loudly — tags are immutable by design, delete-and-retag is
    * an explicit two-step), and `readTag` resolves it through the
    * same pin validation as `read(asOf)`, so a tag whose version was
    * vacuumed fails loudly instead of serving different data. Tags
    * are REFS only — they do not protect their version from `vacuum`
    * (pin audit lives in `TxnCatalog.verifyRelease` for the
    * cross-table case); `tags` lists (name, version). */
  def tag(spark: SparkSession, root: String, name: String, version: Long): Unit = {
    require(name.nonEmpty && !name.contains("/") && !name.contains(".."),
      s"bad tag name '$name'")
    val fs = fileSystem(spark, root)
    require(fs.exists(logPath(root, version)),
      s"TxnLog: cannot tag version $version at $root (vacuumed or never written); " +
        s"available: ${listVersions(fs, root).mkString(",")}")
    val p = new Path(s"$root/_graft_tags/$name")
    fs.mkdirs(p.getParent)
    val out = try fs.create(p, false)
    catch { case _: java.io.IOException =>
      throw new IllegalArgumentException(
        s"TxnLog: tag '$name' already exists at $root — tags are immutable " +
          "(untag first if the re-point is deliberate)")
    }
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Read the snapshot a tag names; fails loudly on unknown tags and
    * on tags whose version has been vacuumed. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame =
    read(spark, root, Some(tagVersion(spark, root, name)))

  /** Delete a tag (the explicit first half of a deliberate re-point). */
  def untag(spark: SparkSession, root: String, name: String): Unit = {
    val fs = fileSystem(spark, root)
    require(fs.delete(new Path(s"$root/_graft_tags/$name"), false),
      s"TxnLog: no tag '$name' at $root")
  }

  /** All tags as (name, version), name-sorted. */
  def tags(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val fs = fileSystem(spark, root)
    val dir = new Path(s"$root/_graft_tags")
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toIndexedSeq.filter(_.isFile)
      .map(st => st.getPath.getName -> readTagFile(fs, st.getPath))
      .sortBy(_._1)
  }

  private def tagVersion(spark: SparkSession, root: String, name: String): Long = {
    val fs = fileSystem(spark, root)
    val p = new Path(s"$root/_graft_tags/$name")
    require(fs.exists(p), s"TxnLog: no tag '$name' at $root; " +
      s"tags: ${tags(spark, root).map(_._1).mkString(",")}")
    readTagFile(fs, p)
  }

  private def readTagFile(fs: FileSystem, p: Path): Long = readUtf8(fs, p).trim.toLong

  /** One small log file's whole content (manifest, checkpoint pointer,
    * tag) as UTF-8 text. */
  private def readUtf8(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
      buf.toString("UTF-8")
    } finally in.close()
  }

  /** The commit point: a GENUINELY atomic create-exclusive on the
    * manifest path. `FileSystem.create(path, overwrite = false)` is
    * NOT that on the local filesystem — RawLocalFileSystem probes
    * existence client-side then opens with O_CREAT|O_TRUNC, so two
    * racers can both pass the probe, both be acknowledged, and the
    * later close silently replaces the earlier manifest: a LOST
    * acknowledged commit (caught by the racing-check spec). Per
    * scheme:
    *  - `file:` — write the full body to a uniquely-named temp file
    *    in the log dir, then hard-LINK it onto the manifest name
    *    ([[java.nio.file.Files.createLink]]: one atomic kernel
    *    `link(2)`, which fails with EEXIST when the name is taken).
    *    Exactly one racer's link lands, and the manifest name only
    *    ever appears bearing its COMPLETE content (the torn-read
    *    window is gone too). Mounts without hard links fall back to
    *    `O_CREAT|O_EXCL` via NIO `CREATE_NEW` — still an atomic
    *    claim; content lands right after (readers already tolerate
    *    the brief empty window).
    *  - everything else — create-exclusive (atomic in the HDFS
    *    NameNode, best-effort elsewhere) with a per-attempt writer
    *    token embedded in the manifest, then RE-READ and verify
    *    ownership before acknowledging (the object-store LogStore
    *    discipline: full-object PUTs never interleave, so at most
    *    one writer sees its own token back; everyone else reports a
    *    lost race and retries on the next version).
    */
  private[graft] def tryPublish(fs: FileSystem, root: String, c: Commit): Boolean = {
    val path = logPath(root, c.version)
    fs.mkdirs(path.getParent)
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    val won =
      if (scheme == "file") publishLocalAtomic(fs, path, render(c))
      else publishVerifyOwnership(fs, path, c)
    if (won) writeCheckpoint(fs, root, c.version) // advisory listing shortcut
    won
  }

  /** `file:` publish: temp-write then atomic hard link (see
    * [[tryPublish]]). The temp file lives in the log dir itself so
    * the link never crosses a filesystem boundary. */
  private def publishLocalAtomic(fs: FileSystem, path: Path, body: String): Boolean = {
    import java.nio.file.{Files, Paths, FileAlreadyExistsException, StandardOpenOption}
    val target = Paths.get(fs.makeQualified(path).toUri.getPath)
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    try {
      try { Files.createLink(target, tmp); true }
      catch {
        case _: FileAlreadyExistsException => false // lost the race
        case _: UnsupportedOperationException =>
          // no hard links on this mount: O_CREAT|O_EXCL is still an
          // atomic claim (only the content-landing is non-atomic,
          // which readManifest's bounded empty-content wait covers)
          try {
            val ch = Files.newByteChannel(target,
              StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
            try ch.write(java.nio.ByteBuffer.wrap(body.getBytes("UTF-8")))
            finally ch.close()
            true
          } catch { case _: FileAlreadyExistsException => false }
      }
    } finally Files.deleteIfExists(tmp)
  }

  /** Non-`file:` publish: create-exclusive, then read-back ownership
    * verification via an embedded writer token (see [[tryPublish]]).
    * An UNREADABLE manifest after our own successful close is
    * indeterminate — the commit may have landed, so silently retrying
    * the next version could double-apply it; fail loudly instead. */
  private def publishVerifyOwnership(fs: FileSystem, path: Path, c: Commit): Boolean = {
    val token = java.util.UUID.randomUUID().toString
    val body = render(c, writerToken = Some(token))
    val out = try fs.create(path, false)
    catch { case _: java.io.IOException => return false } // version taken
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val deadline = System.nanoTime() + 2L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline) {
      val onDisk =
        try Some(readUtf8(fs, path))
        catch { case scala.util.control.NonFatal(_) => None }
      onDisk match {
        case Some(b) if b == body      => return true  // our bytes survived
        case Some(b) if b.nonEmpty     => return false // replaced by a racer
        case _                         => Thread.sleep(10) // not visible yet
      }
    }
    throw new IllegalStateException(
      s"TxnLog: manifest $path unreadable after our own publish — commit " +
        "outcome indeterminate; verify the log manually before retrying " +
        "(a blind retry could double-apply this commit)")
  }

  /** Visible data directories at `asOf` (names under `<root>/data/`). */
  private def snapshotDirs(spark: SparkSession, root: String,
                           asOf: Option[Long]): Seq[String] =
    manifestAt(spark, root, asOf).map(_.dirs).getOrElse(Seq.empty)

  /** Fold the log up to and including `v`. Manifests are
    * self-contained (each carries its full visible set), so this is
    * just "the manifest at v" — kept as a fold point for clarity. */
  private def snapshotAt(commits: Seq[Commit], v: Long): Seq[String] =
    commits.filter(_.version <= v).lastOption.map(_.dirs).getOrElse(Seq.empty)

  /** Full log replay — O(n-commits) manifest reads. Reserved for the
    * HISTORY consumers ([[versions]], [[vacuum]], [[readWithLineage]],
    * the from-the-beginning feed baselines) and the legacy-manifest
    * txn fallback; every snapshot operation resolves through
    * [[latestCommit]]/[[manifestFileAt]] instead (O(1) manifests), so
    * a micro-batch table with thousands of commits never pays a log
    * replay on its hot read/commit path. */
  private def history(spark: SparkSession, root: String): Seq[Commit] = {
    val fs = fileSystem(spark, root)
    val dir = new Path(s"$root/$LogDir")
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".json"))
      .sortBy(_.getPath.getName)
      .map(st => readManifest(fs, st.getPath))
  }

  /** Committed version numbers, names only — one directory listing,
    * zero manifest reads. O(n-commits) filesystem METADATA, so the
    * hot paths resolve through [[resolveLatest]] (pointer + probe)
    * instead; this stays the audit/history/fallback surface. */
  private def listVersions(fs: FileSystem, root: String): Seq[Long] = {
    logListings.incrementAndGet()
    val dir = new Path(s"$root/$LogDir")
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toIndexedSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong).sorted
  }

  /** Full log-directory listings since JVM start — the spec
    * instrument (the [[manifestReads]] convention) proving hot-path
    * version resolution stays O(1) as the log grows. */
  private[graft] val logListings = new java.util.concurrent.atomic.AtomicLong

  /** Advisory `_last_checkpoint` pointer — the Delta-style listing
    * shortcut. The file holds one version number KNOWN to have
    * committed; resolution reads it and probes FORWARD one
    * create-exclusive manifest name at a time, so `read`/`commit`/
    * `fastCount` on a 10k-commit table pay one tiny read plus
    * O(commits-since-pointer) `exists` probes (usually 1) instead of
    * listing 10k names. Versions are DENSE at the tip (claimed
    * sequentially; only vacuum removes OLD manifests), so the first
    * missing name IS the frontier. Purely advisory: manifests remain
    * the commit point and the CAS arbiter; a missing, unreadable,
    * torn, or vacuumed-away pointer falls back to the full listing
    * and can never change an answer. A torn concurrent read can only
    * surface a PREFIX of the written digits — numerically ≤ the true
    * version, which probe-forward absorbs. */
  private val CheckpointName = "_last_checkpoint"

  private def checkpointPath(root: String): Path =
    new Path(s"$root/$LogDir/$CheckpointName")

  /** Best-effort (advisory) pointer update after a successful publish. */
  private def writeCheckpoint(fs: FileSystem, root: String, v: Long): Unit =
    try {
      val out = fs.create(checkpointPath(root), true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  private def readCheckpoint(fs: FileSystem, root: String): Option[Long] =
    try {
      val p = checkpointPath(root)
      if (!fs.exists(p)) None else readUtf8(fs, p).trim.toLongOption
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Latest committed version without a log listing: pointer +
    * forward probe, falling back to [[listVersions]] when the pointer
    * is absent or its manifest is gone. */
  private def resolveLatest(fs: FileSystem, root: String): Long =
    readCheckpoint(fs, root) match {
      case Some(v) if v >= 0L && fs.exists(logPath(root, v)) =>
        var cur = v
        while (fs.exists(logPath(root, cur + 1))) cur += 1
        cur
      case _ => listVersions(fs, root).lastOption.getOrElse(-1L)
    }

  /** The manifest of exactly version `v`, or None if never written or
    * vacuumed — ONE manifest read, no listing. Manifests are
    * self-contained (each folds the table's full visible state), so
    * this IS the snapshot at `v`. */
  private def manifestFileAt(fs: FileSystem, root: String, v: Long): Option[Commit] = {
    val p = logPath(root, v)
    if (!fs.exists(p)) None else Some(readManifest(fs, p))
  }

  /** The latest manifest — pointer-resolved version plus ONE manifest
    * read. This is the snapshot-op resolution path: the advisory
    * `_last_checkpoint` pointer saves the O(n-commits) name listing
    * (see [[resolveLatest]] — a lagging/torn pointer only means a few
    * extra forward probes or the listing fallback, never a wrong
    * version, because create-exclusive manifests stay the truth). */
  private def latestCommit(spark: SparkSession, root: String): Option[Commit] = {
    val fs = fileSystem(spark, root)
    val v = resolveLatest(fs, root)
    if (v < 0L) None else manifestFileAt(fs, root, v)
  }

  /** Consecutive manifests `fromVersion..toVersion` inclusive, by
    * direct per-version reads — O(range), the rewrite-rebase and
    * incremental-consumer cost shape. A hole means a concurrent
    * vacuum destroyed part of the range mid-operation: fail loudly. */
  private def commitsInRange(fs: FileSystem, root: String,
                             fromVersion: Long, toVersion: Long): Seq[Commit] =
    (fromVersion to toVersion).map(v => manifestFileAt(fs, root, v).getOrElse(
      throw new IllegalStateException(
        s"TxnLog: manifest $v missing at $root (vacuumed while an operation " +
          s"spanning $fromVersion..$toVersion was in flight)")))

  /** Rewrite-rebase resolution by direct range reads: the dirs each
    * interleaved commit in `(expected, current]` added (its manifest
    * minus its predecessor's), provided every interleaved action is a
    * PLAIN APPEND — otherwise Left of the action list (the caller
    * aborts: a conflicting rewrite may have read or moved what we
    * rewrote). O(interleaved) manifest reads, never a log replay. */
  private def interleavedAppendDirs(fs: FileSystem, root: String,
                                    expected: Long, current: Long): Either[Seq[String], Seq[String]] = {
    // expected = -1 (writer derived from an EMPTY table, racer created
    // it since): synthesize the empty predecessor — version 0 then
    // counts as interleaved like any other commit
    val range =
      if (expected >= 0L) commitsInRange(fs, root, expected, current)
      else Commit(-1L, "append", Seq.empty, None) +:
        commitsInRange(fs, root, 0L, current)
    val interleaved = range.tail
    if (!interleaved.forall(_.action == "append")) Left(interleaved.map(_.action))
    else Right(range.sliding(2).collect { case Seq(prev, c) =>
      c.dirs.filterNot(prev.dirs.toSet) }.flatten.toSeq)
  }

  /** Carried txn map cap: beyond this many remembered txnIds the
    * LOWEST-version entries are evicted — a replay older than 100k
    * txn-stamped commits is no longer detected (Delta's
    * setTransactionRetention trade; streaming replays only ever
    * re-deliver the last batch). */
  private val TxnRetention = 100000
  private def capTxns(m: Map[String, Long]): Map[String, Long] =
    if (m.size <= TxnRetention) m
    else m.toSeq.sortBy(-_._2).take(TxnRetention).toMap

  /** The txn map the NEXT manifest carries forward. Legacy last
    * manifests (pre-txns format) rebuild it from the full log once —
    * after which every lookup is O(1) again. */
  private def carriedTxns(spark: SparkSession, root: String,
                          last: Option[Commit]): Map[String, Long] = last match {
    case None => Map.empty
    case Some(c) if c.txnsKnown => c.txns
    case Some(_) =>
      history(spark, root).flatMap(c => c.txnId.map(_ -> c.version)).toMap
  }

  /** Version that already committed `id`, if any — O(1) via the
    * latest manifest's carried map; a legacy manifest falls back to
    * the full scan (once — the next commit writes the map). */
  private def txnVersionOf(spark: SparkSession, root: String,
                           last: Option[Commit], id: String): Option[Long] =
    last.flatMap { c =>
      if (c.txnsKnown) c.txns.get(id)
      else history(spark, root).find(_.txnId.contains(id)).map(_.version)
    }

  /** Read+parse one manifest, retrying briefly on empty/partial
    * content: the create-exclusive call is the commit point, so a
    * concurrent reader can list the manifest in the microseconds
    * between its creation and the content write+close landing. The
    * version is already claimed by exactly one writer — the content
    * WILL appear — so a bounded wait is correct, and a manifest still
    * unreadable after it means a writer crashed mid-publish (fail
    * loudly; recover by deleting the torn manifest, which un-claims
    * the version). Found by the racing-writers spec. */
  /** Manifest parses since JVM start — the spec instrument proving
    * snapshot ops open O(1) manifests however long the log grows. */
  private[graft] val manifestReads = new java.util.concurrent.atomic.AtomicLong

  private def readManifest(fs: FileSystem, path: Path): Commit = {
    manifestReads.incrementAndGet()
    val deadline = System.nanoTime() + 2L * 1000 * 1000 * 1000
    var last: Throwable = null
    while (System.nanoTime() < deadline) {
      // The OPEN and READ are inside the retry too: local FS surfaces
      // the in-flight window as EMPTY content, HDFS/object stores as
      // an IOException from open or the block read — both mean the
      // version is claimed but its content hasn't landed, which a
      // bounded wait resolves. A NON-EMPTY body that fails to parse is
      // a different failure (corruption, manifest-format drift): the
      // content DID land, waiting cannot fix it, and "delete to
      // un-claim" would destroy a published commit — fail immediately
      // with the right diagnosis.
      val body =
        try readUtf8(fs, path)
        catch { case scala.util.control.NonFatal(e) => last = e; Thread.sleep(10); null }
      if (body != null) {
        if (body.isEmpty) { Thread.sleep(10) }
        else
          try return parse(body)
          catch {
            case scala.util.control.NonFatal(e) => throw new IllegalStateException(
              s"TxnLog: manifest $path is non-empty but unparseable — corrupt " +
                "or written by an incompatible version; restore it from a " +
                "backup (do NOT delete it: its version was published)", e)
          }
      }
    }
    throw new IllegalStateException(
      s"TxnLog: manifest $path unreadable after 2s — a writer crashed between " +
        "claiming the version and publishing its content; delete the torn " +
        "manifest to un-claim the version", last)
  }

  private def logPath(root: String, version: Long): Path =
    new Path(f"$root/$LogDir/$version%020d.json")

  private def render(c: Commit, writerToken: Option[String] = None): String = {
    import org.json4s._
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    // "writer" is publish-plumbing (ownership verification on stores
    // without atomic create-exclusive), not table state — parse()
    // ignores it, so manifests with and without it interoperate
    val base = ("version" -> c.version) ~ ("action" -> c.action) ~
      ("dirs" -> c.dirs) ~ ("txn_id" -> c.txnId) ~ ("writer" -> writerToken)
    val withStats =
      if (c.stats.isEmpty) base
      else base ~ ("stats" -> JObject(c.stats.toList.sortBy(_._1).map {
        case (d, cols) => d -> (JObject(cols.toList.sortBy(_._1).map {
          case (cn, s) =>
            cn -> (("t" -> s.tpe) ~ ("min" -> s.min) ~ ("max" -> s.max) : JValue)
        }) : JValue)
      }))
    val withDvs =
      if (c.dvs.isEmpty) withStats
      else withStats ~ ("dv" -> c.dvs.toList.map(dv =>
        ("pred" -> dv.pred) ~ ("dirs" -> dv.dirs)))
    val withChecks =
      if (c.checks.isEmpty) withDvs
      else withDvs ~ ("checks" -> JObject(
        c.checks.toList.sortBy(_._1).map { case (n, p) => n -> (JString(p) : JValue) }))
    val withColmap =
      if (c.colmap.isEmpty) withChecks
      else withChecks ~ ("colmap" -> JObject(
        c.colmap.toList.sortBy(_._1).map { case (lg, ph) => lg -> (JString(ph) : JValue) }))
    val withDropped =
      if (c.dropped.isEmpty) withColmap
      else withColmap ~ ("dropped" -> c.dropped.toList)
    val withDefaults =
      if (c.defaults.isEmpty) withDropped
      else withDropped ~ ("defaults" -> JObject(
        c.defaults.toList.sortBy(_._1).map { case (n, sql) => n -> (JString(sql) : JValue) }))
    val withTransforms =
      if (c.transforms.isEmpty) withDefaults
      else withDefaults ~ ("transforms" -> JObject(
        c.transforms.toList.sortBy(_._1).map { case (n, t) => n -> (JString(t) : JValue) }))
    // "txns" is ALWAYS rendered (even empty): its absence is what
    // marks a legacy manifest, sending readers to the full-scan
    // idempotency fallback
    val j = withTransforms ~ ("txns" -> JObject(
      c.txns.toList.sortBy(_._1).map { case (t, v) => t -> (JLong(v) : JValue) }))
    JsonMethods.compact(JsonMethods.render(j))
  }

  private def parse(body: String): Commit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(body)
    def str(f: JValue): String = f match { case JString(s) => s; case _ => "" }
    val version = j \ "version" match {
      case JInt(v) => v.toLong; case JLong(v) => v
      case other => throw new IllegalStateException(s"TxnLog: bad manifest version: $other")
    }
    val dirs = j \ "dirs" match {
      case JArray(xs) => xs.map(str); case _ => Seq.empty
    }
    val txn = j \ "txn_id" match { case JString(s) => Some(s); case _ => None }
    // absent in pre-stats manifests: readers stay conservative
    val stats = j \ "stats" match {
      case JObject(ds) => ds.map { case (d, cols) =>
        d -> (cols match {
          case JObject(cs) => cs.flatMap { case (cn, sv) =>
            (sv \ "t", sv \ "min", sv \ "max") match {
              case (JString(t), JString(mn), JString(mx)) =>
                Some(cn -> ColStat(t, mn, mx))
              case _ => None
            }
          }.toMap
          case _ => Map.empty[String, ColStat]
        })
      }.toMap
      case _ => Map.empty[String, Map[String, ColStat]]
    }
    // absent in pre-DV manifests: no vectors
    val dvs = j \ "dv" match {
      case JArray(xs) => xs.flatMap { d =>
        (d \ "pred", d \ "dirs") match {
          case (JString(p), JArray(ds)) => Some(Dv(p, ds.map(str)))
          case _ => None
        }
      }
      case _ => Seq.empty[Dv]
    }
    // absent in pre-constraint manifests: no checks
    val checks = j \ "checks" match {
      case JObject(cs) => cs.collect { case (n, JString(p)) => n -> p }.toMap
      case _ => Map.empty[String, String]
    }
    // absent in pre-evolution manifests: identity mapping
    val colmap = j \ "colmap" match {
      case JObject(cs) => cs.collect { case (lg, JString(ph)) => lg -> ph }.toMap
      case _ => Map.empty[String, String]
    }
    val dropped = j \ "dropped" match {
      case JArray(xs) => xs.map(str); case _ => Seq.empty[String]
    }
    val defaults = j \ "defaults" match {
      case JObject(ds) => ds.collect { case (n, JString(sql)) => n -> sql }.toMap
      case _ => Map.empty[String, String]
    }
    val transforms = j \ "transforms" match {
      case JObject(ts) => ts.collect { case (n, JString(t)) => n -> t }.toMap
      case _ => Map.empty[String, String]
    }
    // absent only in legacy manifests: flags the full-scan fallback
    val (txns, txnsKnown) = j \ "txns" match {
      case JObject(ts) => (ts.collect {
        case (t, JInt(v)) => t -> v.toLong
        case (t, JLong(v)) => t -> v
      }.toMap, true)
      case _ => (Map.empty[String, Long], false)
    }
    Commit(version, str(j \ "action"), dirs, txn, stats, dvs, checks, txns,
      txnsKnown, colmap, dropped, defaults, transforms)
  }

  private def fileSystem(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
