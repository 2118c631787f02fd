package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import Fragments._

/** The TxnLog table format and the layers built on it: DML, time
  * travel, change feeds, clustering, skipping, releases and materialized
  * views. */
object LakehouseQueries {

  /** Build-and-register the shared documents (lang, source) view —
    * used by `mv_rewrite` (exact-dims serve) and `mv_rollup` (coarser
    * re-aggregation); re-registration is an idempotent put. */
  private def ensureMvView(spark: SparkSession, dir: String): (String, String) = {
    import graft.plans.MvCatalog
    val src = s"$dir/documents.parquet"
    val mvPath = tmpArtifactRoot("mvrw", dir) + "/mv"
    if (!new java.io.File(s"$mvPath/_SUCCESS").exists()) {
      spark.read.parquet(src).groupBy("lang", "source")
        .agg(sum(col("n_chars")).as("sum_chars"), count(lit(1)).as("n_docs"))
        .write.mode("overwrite").parquet(mvPath)
    }
    MvCatalog.register(src, Seq("lang", "source"),
      Seq(("sum", Some("n_chars"), "sum_chars"), ("count", None, "n_docs")), mvPath)
    (src, mvPath)
  }

  /** Transparent MV serving under the oracle
    * ([[graft.plans.MvAggregateRewrite]]): the builder materializes
    * `GROUP BY lang, source` aggregates of documents, registers the
    * view, then issues the NATURAL base-table aggregate — and
    * REQUIREs that the optimizer served it from the view (the
    * optimized plan scans the MV parquet and keeps no Aggregate).
    * The oracle is the plain aggregate over documents: the rewrite
    * must change the plan, never the answer. */
  private def mvRewrite(spark: SparkSession, dir: String): DataFrame = {
    val (src, mvPath) = ensureMvView(spark, dir)
    val q = spark.read.parquet(src).groupBy("lang", "source")
      .agg(sum(col("n_chars")).as("sum_chars"), count(lit(1)).as("n_docs"))
    val opt = q.queryExecution.optimizedPlan
    val leafPaths = opt.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    require(leafPaths.exists(_.contains(mvPath)),
      s"mv_rewrite: optimizer did not serve the registered view (scans: $leafPaths):\n$opt")
    require(!opt.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
      s"mv_rewrite: Aggregate survived the rewrite:\n$opt")
    q
  }

  /** ROLLUP serving under the oracle: a coarser GROUP BY lang over
    * documents is answered by RE-AGGREGATING the registered
    * (lang, source) view — SUM of sums, SUM of counts — never
    * scanning the base table. The builder REQUIREs the optimized plan
    * aggregates over the view scan and touches no documents path;
    * the oracle is the natural per-lang aggregate. */
  private def mvRollup(spark: SparkSession, dir: String): DataFrame = {
    val (src, mvPath) = ensureMvView(spark, dir)
    val q = spark.read.parquet(src).groupBy("lang")
      .agg(sum(col("n_chars")).as("sum_chars"), count(lit(1)).as("n_docs"))
    val opt = q.queryExecution.optimizedPlan
    val leafPaths = opt.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    require(leafPaths.exists(_.contains(mvPath)) &&
        !leafPaths.exists(_.contains("documents.parquet")),
      s"mv_rollup: rollup not served from the view (scans: $leafPaths):\n$opt")
    require(opt.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
      s"mv_rollup: expected a re-aggregation over the view:\n$opt")
    q
  }

  /** Transparent MV serving over a TxnLog table
    * ([[graft.plans.MvCatalog.registerGraft]]): same contract as
    * `mv_rewrite`, but the base table is `format("graft")` and the
    * staleness pin is the committed VERSION — the rewrite-time guard
    * is one O(1) manifest-name listing, the shape the check must take
    * at 100 TB. The builder proves the serve the same way (view
    * scanned, no Aggregate). */
  private def mvRewriteGraft(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.MvCatalog
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("mvrwg", dir)
    val mvPath = tmpArtifactRoot("mvrwgv", dir) + "/mv"
    if (TxnLog.latestVersion(spark, root) < 0L) {
      TxnLog.overwrite(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        root, Some("mv0"))
      ()
    }
    def baseAgg = spark.read.format("graft").load(root).groupBy("lang", "source")
      .agg(sum(col("n_chars")).as("sum_chars"), count(lit(1)).as("n_docs"))
    if (!new java.io.File(s"$mvPath/_SUCCESS").exists()) {
      baseAgg.write.mode("overwrite").parquet(mvPath)
    }
    MvCatalog.registerGraft(spark, root, Seq("lang", "source"),
      Seq(("sum", Some("n_chars"), "sum_chars"), ("count", None, "n_docs")), mvPath)
    val q = baseAgg
    val opt = q.queryExecution.optimizedPlan
    val leafPaths = opt.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    require(leafPaths.exists(_.contains(mvPath)),
      s"mv_rewrite_graft: optimizer did not serve the view (scans: $leafPaths):\n$opt")
    require(!opt.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
      s"mv_rewrite_graft: Aggregate survived the rewrite:\n$opt")
    q
  }

  /** Incrementally MAINTAINED distinct counts — the sketch-IVM shape
    * that keeps "distinct users per segment" current on a 100 TB
    * stream: each batch commits its own 2^8-register HLL partial to a
    * TxnLog table (one narrow row per group per batch — never a
    * corpus re-scan), and the read side folds the stored partials by
    * pointwise max. Register max is EXACTLY the whole-data sketch
    * (merge is lossless and order-free), so the maintained state
    * answers with the one-shot statement — which is what the shared
    * `distinct_hll_union` oracle replays. */
  private def mvDistinctHll(spark: SparkSession, dir: String): DataFrame = {
    import graft.expressions.SketchAggregates
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("hllmv", dir)
    val ev = Tables.events(spark, dir).filter(col("user_id").isNotNull)
    buildLock(root) {
      if (TxnLog.latestVersion(spark, root) < 3L) {
        (0 until 4).foreach { i =>
          val batch = ev.filter(pmod(col("event_id"), lit(4)) === i)
            .groupBy(col("event_type"))
            .agg(SketchAggregates.hllDistinct(col("user_id"), 8).as("hll"))
            .select(col("event_type"), col("hll.regs").as("regs"))
          if (i == 0) { TxnLog.overwrite(batch, root, Some("h0")); () }
          else { TxnLog.append(batch, root, Some(s"h$i")); () }
        }
      }
    }
    val zeros = array_repeat(lit(0), 256)
    val merged = TxnLog.read(spark, root)
      .groupBy("event_type")
      .agg(aggregate(collect_list(col("regs")), zeros,
        (acc, r) => zip_with(acc, r, (x, y) => greatest(x, y))).as("mregs"))
    merged.select(col("event_type"),
        SketchAggregates.hllUnion(col("mregs"), zeros, 8).as("u"))
      .select(col("event_type"), col("u.n_zero").as("n_zero"),
        col("u.pow_sum").as("pow_sum"), array_join(col("u.regs"), ",").as("regs"))
  }

  /** TxnLog end-to-end under the oracle: the documents table is
    * committed in three id-sliced batches (overwrite + two appends)
    * into a manifest-log table, and the query returns
    * [[graft.sources.TxnLog.changesSince]] of version 0 — the rows a
    * downstream incremental consumer would process, which must be
    * EXACTLY the two appended slices (never the base slice, never a
    * duplicate). The table root is fingerprint-keyed and the build
    * idempotent (txnIds make re-runs no-ops), so bench re-runs time
    * the read path against a stable table. */
  private def txnlogChanges(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnlog", dir)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    if (TxnLog.latestVersion(spark, root) < 2L) {
      TxnLog.overwrite(docs.filter(col("doc_id") < 100), root, Some("base"))
      TxnLog.append(docs.filter(col("doc_id") >= 100 && col("doc_id") < 300),
        root, Some("batch-a"))
      TxnLog.append(docs.filter(col("doc_id") >= 300), root, Some("batch-b"))
    }
    TxnLog.changesSince(spark, root, 0L).select(col("doc_id"), col("source"))
  }

  /** Schema evolution under the oracle ([[graft.sources.TxnLog.read]]'s
    * widening contract): the base commit carries (doc_id, source), a
    * later append widens with `lang`; the snapshot read returns the
    * base rows with NULL lang and the appended rows with theirs — the
    * lakehouse mergeSchema read, replayed as a UNION with a typed NULL
    * in DuckDB. */
  private def txnlogEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnevo", dir)
    val docs = Tables.documents(spark, dir)
    if (TxnLog.latestVersion(spark, root) < 1L) {
      TxnLog.overwrite(docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source")), root, Some("base"))
      TxnLog.append(docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("lang")), root, Some("widen"))
      ()
    }
    TxnLog.read(spark, root).select("doc_id", "source", "lang")
  }

  /** Copy-on-write row-level DELETE under the oracle
    * ([[graft.sources.TxnLog.delete]]): three range-sliced commits,
    * then a right-to-be-forgotten delete whose predicate only touches
    * the first commit's range — the other directories carry into the
    * new manifest by reference (TxnLogSpec proves WHICH dirs moved;
    * this query proves the surviving CONTENT, including the SQL-DELETE
    * null contract: a NULL-evaluating predicate row is kept, which the
    * oracle replays as `IS NOT TRUE` — a plain `WHERE NOT(p)` would
    * wrongly drop it). */
  private def txnlogDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txndel", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    if (TxnLog.latestVersion(spark, root) < 3L) {
      TxnLog.overwrite(docs.filter(col("doc_id") < 150), root, Some("s0"))
      TxnLog.append(docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), root, Some("s1"))
      TxnLog.append(docs.filter(col("doc_id") >= 300), root, Some("s2"))
      // the erasure runs through the SQL surface — storage of the
      // statement changes, never the answer: the command lowers onto
      // the same TxnLog.delete (null contract included)
      spark.sql(
        s"DELETE FROM graft.`$root` WHERE doc_id < 150 AND lang = 'en'")
      ()
    }
    TxnLog.read(spark, root).select("doc_id", "source", "lang", "n_chars")
  }

  /** Row-level UPDATE under the oracle ([[graft.sources.TxnLog.update]]
    * through the SQL surface): two range-sliced commits, then an
    * `UPDATE … SET … WHERE` whose predicate touches one residue class
    * — assignments evaluate against the pre-update row, untouched
    * dirs carry by reference, and the oracle replays the whole
    * statement as CASE projections over the source table. */
  private def txnlogUpdate(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnupd", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    if (TxnLog.latestVersion(spark, root) < 2L) {
      TxnLog.overwrite(docs.filter(col("doc_id") < 250), root, Some("u0"))
      TxnLog.append(docs.filter(col("doc_id") >= 250), root, Some("u1"))
      spark.sql(s"UPDATE graft.`$root` SET n_chars = n_chars + 1000, " +
        "source = upper(source) WHERE doc_id % 10 = 3")
      ()
    }
    TxnLog.read(spark, root).select("doc_id", "source", "n_chars")
  }

  /** CONVERT-adoption chain under the oracle
    * ([[graft.sources.TxnLog.convertFromParquet]] through the SQL
    * surface): a plain parquet directory is adopted by reference
    * (zero bytes moved), the table then diverges — an append and a
    * SQL DELETE whose rewrite reads THROUGH the ext reference — and
    * the final snapshot must be hash-exact with the source recomputed
    * relationally. The adopted dir itself must stay byte-identical (a
    * plain reader still sees exactly the original rows). */
  private def txnlogConvert(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val base = tmpArtifactRoot("txncnv", dir)
    val pdir = s"$base/plain"
    val root = s"$base/t"
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    if (TxnLog.latestVersion(spark, root) < 2L) {
      if (!new java.io.File(pdir).exists())
        docs.filter(col("doc_id") < 250).write.parquet(pdir)
      spark.sql(s"CONVERT TO GRAFT parquet.`$pdir` AS graft.`$root`")
      TxnLog.append(docs.filter(col("doc_id") >= 250), root, Some("cnv1"))
      spark.sql(s"DELETE FROM graft.`$root` WHERE doc_id % 10 = 7")
      // the adopted dir is untouched: the delete rewrote BY REFERENCE
      require(spark.read.parquet(pdir).count() ==
        docs.filter(col("doc_id") < 250).count(),
        "txnlog_convert: the rewrite mutated the adopted parquet dir")
      ()
    }
    TxnLog.read(spark, root).select("doc_id", "source", "n_chars")
  }

  /** Merge-on-read DELETE under the oracle
    * ([[graft.sources.TxnLog.deleteMor]]): the same three-commit
    * fixture and predicate as `txnlog_delete`, erased via a
    * deletion-vector commit that writes ZERO data files — the oracle
    * is byte-for-byte the copy-on-write twin's statement, proving
    * both paths serve identical survivors (`predicate IS NOT TRUE`
    * null contract included). The zero-file-write, dir-scoping,
    * compact-materialization, and fastCount-refusal laws are
    * TxnLogSpec rows; this is the content gate at data scale. */
  private def txnlogDeleteMor(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnmor", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    if (TxnLog.latestVersion(spark, root) < 3L) {
      TxnLog.overwrite(docs.filter(col("doc_id") < 150), root, Some("s0"))
      TxnLog.append(docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), root, Some("s1"))
      TxnLog.append(docs.filter(col("doc_id") >= 300), root, Some("s2"))
      TxnLog.deleteMor(spark, root,
        col("doc_id") < 150 && col("lang") === "en", Some("gdpr-mor-1"))
      ()
    }
    TxnLog.read(spark, root).select("doc_id", "source", "lang", "n_chars")
  }

  /** CHECK-gated ingest under the oracle
    * ([[graft.sources.TxnLog.addCheck]]): the table registers a
    * constraint after its first load, a clean second load passes the
    * gate, and a poisoned batch is refused WITHOUT moving the table —
    * the final snapshot must be hash-exact with the untouched source,
    * proving the gate admits exactly the clean data. Refusal
    * mechanics (no version, no orphan dir, NULL-passes, schema-blind
    * refusal, dropCheck) are TxnLogSpec rows. */
  private def txnlogChecked(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnchk", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    // 0-based versions: overwrite(0) + set_check(1) + append(2)
    if (TxnLog.latestVersion(spark, root) < 2L) {
      TxnLog.overwrite(docs.filter(col("doc_id") < 100), root, Some("g0"))
      TxnLog.addCheck(spark, root, "chars_nonneg", "n_chars >= 0", Some("g-ck"))
      TxnLog.append(docs.filter(col("doc_id") >= 100), root, Some("g1"))
      val before = TxnLog.latestVersion(spark, root)
      val refused =
        try { TxnLog.append(docs.filter(col("doc_id") < 50)
          .withColumn("n_chars", lit(-1L)), root, Some("g-bad")); false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "poisoned batch was admitted through the CHECK gate")
      require(TxnLog.latestVersion(spark, root) == before,
        "table moved on a refused commit")
    }
    TxnLog.read(spark, root).select("doc_id", "source", "n_chars")
  }

  /** RESTORE under the oracle ([[graft.sources.TxnLog.restore]]):
    * the three-commit corpus takes a BAD delete (every even doc), and
    * a metadata-only restore rolls the table back to the pre-delete
    * version — the final snapshot must be hash-exact with the
    * untouched source, proving the rollback re-references the old
    * directories without moving a byte (the zero-data-write,
    * history-preservation, and vacuum-refusal laws are TxnLogSpec
    * rows). */
  private def txnlogRestore(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnrst", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    if (TxnLog.latestVersion(spark, root) < 4L) {
      TxnLog.overwrite(docs.filter(col("doc_id") < 150), root, Some("r0"))
      TxnLog.append(docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), root, Some("r1"))
      TxnLog.append(docs.filter(col("doc_id") >= 300), root, Some("r2"))
      TxnLog.delete(spark, root, col("doc_id") % 2 === 0, Some("oops-1"))
      TxnLog.restore(spark, root, 2L, Some("undo-1"))
      ()
    }
    TxnLog.read(spark, root).select("doc_id", "source", "n_chars")
  }

  /** Partition-scoped compaction under the oracle
    * ([[graft.sources.TxnLog.compactWhere]] — the `OPTIMIZE ...
    * WHERE` shape): six range-disjoint micro-appends with stats, a
    * merge-on-read delete inside the hot range, then a compact
    * SCOPED to that range — cold dirs must carry by reference, the
    * scoped rewrite materializes the tombstone, collects stats (so
    * re-runs no-op — asserted on every execution), and the final
    * snapshot is content-identical to the source minus the deleted
    * residue. */
  private def txnlogCompactWhere(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txncw", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    if (TxnLog.latestVersion(spark, root) < 7L) {
      (0 until 5).foreach { i =>
        TxnLog.append(docs.filter(col("doc_id") >= i * 50L &&
          col("doc_id") < (i + 1) * 50L), root, Some(s"cw$i"),
          collectStats = true); ()
      }
      TxnLog.append(docs.filter(col("doc_id") >= 250L), root, Some("cw5"),
        collectStats = true)
      TxnLog.deleteMor(spark, root,
        col("doc_id") % 10 === 3 && col("doc_id") < 140L, Some("cw-del"))
      // the scoped rewrite runs through the SQL surface (OPTIMIZE ...
      // WHERE lowers onto the same TxnLog.compactWhere)
      val v = spark.sql(
        s"OPTIMIZE graft.`$root` WHERE doc_id BETWEEN 0 AND 140").head.getLong(0)
      require(v == 7L, s"txnlog_compact_where: expected version 7, got $v")
      ()
    }
    // idempotence is part of the contract: a re-run of the same scope
    // must mint nothing (the rewrite carried stats)
    val latest = TxnLog.latestVersion(spark, root)
    require(spark.sql(
      s"OPTIMIZE graft.`$root` WHERE doc_id BETWEEN 0 AND 140").head.getLong(0) == latest,
      "txnlog_compact_where: scoped re-run minted a version")
    TxnLog.read(spark, root).select("doc_id", "source", "n_chars")
  }

  /** ZERO-COPY SHALLOW CLONE under the oracle
    * ([[graft.sources.TxnLog.cloneTable]]): a two-commit source table
    * is cloned (one metadata write, zero data bytes), then the clone
    * DIVERGES — an append of re-keyed rows and a copy-on-write delete
    * — while the source must not move (the builder requires its
    * version pin). The query reads the diverged clone; the oracle
    * replays source ∪ appends minus the deleted residue. At 100 TB
    * this is the dev/experiment-table primitive: the clone costs one
    * manifest, prunes with the source's carried stats, and rewrites
    * only what it touches. */
  private def txnlogClone(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val src = tmpArtifactRoot("txnclnsrc", dir)
    val cln = tmpArtifactRoot("txncln", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    if (TxnLog.latestVersion(spark, src) < 1L) {
      TxnLog.overwrite(docs.filter(col("doc_id") % 2 === 0), src, Some("c0"),
        collectStats = true)
      TxnLog.append(docs.filter(col("doc_id") % 2 === 1), src, Some("c1"),
        collectStats = true)
      ()
    }
    if (TxnLog.latestVersion(spark, cln) < 2L) {
      if (TxnLog.latestVersion(spark, cln) == -1L) {
        TxnLog.cloneTable(spark, src, cln); ()
      }
      TxnLog.append(docs.filter(col("doc_id") % 10 === 4)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          lit("cloned").as("source"), col("n_chars")), cln, Some("cl-a"))
      TxnLog.delete(spark, cln, col("doc_id") % 10 === 7, Some("cl-d"))
      // the zero-copy contract: all that divergence minted NOTHING on
      // the source
      require(TxnLog.latestVersion(spark, src) == 1L,
        "txnlog_clone: the clone's writes leaked into the source")
      ()
    }
    TxnLog.read(spark, cln).select("doc_id", "source", "n_chars")
  }

  /** Copy-on-write MERGE (upsert) under the oracle
    * ([[graft.sources.TxnLog.merge]]): a two-commit base table takes
    * one merge carrying updates (every doc_id % 10 == 0 gets its
    * n_chars bumped) and inserts (fresh ids above the base range) —
    * the CDC-apply shape. The oracle replays it as anti-join ∪
    * source. */
  private def txnlogMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnmrg", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    if (TxnLog.latestVersion(spark, root) < 2L) {
      TxnLog.overwrite(docs.filter(col("doc_id") < 250), root, Some("b0"))
      TxnLog.append(docs.filter(col("doc_id") >= 250), root, Some("b1"))
      val updates = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
      val inserts = docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          lit("merged").as("source"), lit(42L).as("n_chars"))
      TxnLog.merge(updates.unionByName(inserts), root, Seq("doc_id"), Some("cdc-1"))
      ()
    }
    TxnLog.read(spark, root).select("doc_id", "source", "n_chars")
  }

  /** Tri-clause MERGE under the oracle ([[graft.sources.TxnLog.merge]]
    * with `notMatchedBySourceDelete` — Delta's full `WHEN MATCHED
    * UPDATE / WHEN NOT MATCHED INSERT / WHEN NOT MATCHED BY SOURCE
    * DELETE` surface): one commit lands updates, inserts, AND the
    * disappearance of unmatched rows the clause predicate names — the
    * snapshot-sync primitive where upsert-then-delete would expose an
    * inconsistent intermediate version. The oracle replays all three
    * clauses relationally. */
  private def txnlogMergeFull(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnmrgf", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    if (TxnLog.latestVersion(spark, root) < 2L) {
      TxnLog.overwrite(docs.filter(col("doc_id") < 250), root, Some("f0"))
      TxnLog.append(docs.filter(col("doc_id") >= 250), root, Some("f1"))
      val updates = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
      val inserts = docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          lit("merged").as("source"), lit(42L).as("n_chars"))
      // the tri-clause upsert runs through the SQL surface — the full
      // Delta MERGE statement shape, lowered onto the same TxnLog.merge
      updates.unionByName(inserts).createOrReplaceTempView("txnmrgf_src")
      spark.sql(
        s"""MERGE INTO graft.`$root` AS t USING txnmrgf_src AS s ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE AND t.doc_id % 7 = 3 THEN DELETE""".stripMargin)
      ()
    }
    TxnLog.read(spark, root).select("doc_id", "source", "n_chars")
  }

  /** The FULL Delta MERGE clause surface under the oracle
    * ([[graft.sources.TxnLog.mergeClauses]] through the SQL statement):
    * conditional matched DELETE, explicit-assignment matched UPDATE
    * referencing BOTH sides (first-match-wins across the two),
    * conditional explicit-column INSERT (unnamed columns NULL-fill),
    * and a conditional NOT MATCHED BY SOURCE UPDATE — all in one
    * statement, one commit. The oracle replays every clause as CASE
    * projections over a LEFT JOIN in DuckDB, so the whole
    * first-match-wins semantics is checked row-for-row. */
  private def txnlogMergeClauses(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnmrgc", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    if (TxnLog.latestVersion(spark, root) < 2L) {
      TxnLog.overwrite(docs.filter(col("doc_id") < 250), root, Some("c0"))
      TxnLog.append(docs.filter(col("doc_id") >= 250), root, Some("c1"))
      val updates = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 500L)
      val inserts = docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("source"), col("n_chars"))
      updates.unionByName(inserts).createOrReplaceTempView("txnmrgc_src")
      spark.sql(
        s"""MERGE INTO graft.`$root` AS t USING txnmrgc_src AS s ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s.n_chars % 3 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + s.n_chars,
           |  source = concat(t.source, '|m')
           |WHEN NOT MATCHED AND s.doc_id % 2 = 0
           |  THEN INSERT (doc_id, source) VALUES (s.doc_id, upper(s.source))
           |WHEN NOT MATCHED BY SOURCE AND t.doc_id % 13 = 7
           |  THEN UPDATE SET source = 'aged'""".stripMargin)
      ()
    }
    TxnLog.read(spark, root).select("doc_id", "source", "n_chars")
  }

  /** Query-position time travel under the oracle: `SELECT … FROM
    * graft.`/t` VERSION AS OF n` must serve the PINNED snapshot —
    * bit-identical to the reader-option form — even after a later
    * destructive commit. The builder proves SQL-form ≡ option-form
    * in-process; the oracle proves both equal the recomputed v1. */
  private def txnlogTimetravelSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnttsql", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    if (TxnLog.latestVersion(spark, root) < 2L) {
      TxnLog.overwrite(docs.filter(col("doc_id") < 250), root, Some("t0"))
      TxnLog.append(docs.filter(col("doc_id") >= 250), root, Some("t1"))
      spark.sql(s"DELETE FROM graft.`$root` WHERE doc_id % 2 = 0") // v2 mutilates
      ()
    }
    val viaSql = spark.sql(
      s"SELECT doc_id, source, n_chars FROM graft.`$root` VERSION AS OF 1")
    val viaOpt = spark.read.format("graft").option("versionAsOf", 1).load(root)
      .select("doc_id", "source", "n_chars")
    require(viaSql.exceptAll(viaOpt).isEmpty && viaOpt.exceptAll(viaSql).isEmpty,
      "txnlog_timetravel_sql: SQL form diverged from the option form")
    viaSql
  }

  /** Named-table lakehouse SQL under the oracle: the same DML chain
    * users run on Delta — UPDATE, DELETE, MERGE — addressed through a
    * session-catalog table name (`CREATE TABLE … USING graft
    * LOCATION`), never a path literal. Proves name resolution routes
    * to the identical TxnLog operations (the final snapshot is
    * hash-exact with the relational replay). */
  private def txnlogNamedSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnnamed", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    if (TxnLog.latestVersion(spark, root) < 2L) {
      TxnLog.overwrite(docs.filter(col("doc_id") < 250), root, Some("n0"))
      TxnLog.append(docs.filter(col("doc_id") >= 250), root, Some("n1"))
      spark.sql("DROP TABLE IF EXISTS graft_named_oracle")
      spark.sql(s"CREATE TABLE graft_named_oracle USING graft LOCATION '$root'")
      spark.sql(
        "UPDATE graft_named_oracle SET n_chars = n_chars + 7 WHERE doc_id % 5 = 2")
      spark.sql("DELETE FROM graft_named_oracle WHERE doc_id % 11 = 3")
      docs.filter(col("doc_id") % 10 === 4)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          lit("named").as("source"), lit(7L).as("n_chars"))
        .createOrReplaceTempView("txnnamed_src")
      spark.sql(
        """MERGE INTO graft_named_oracle AS t USING txnnamed_src AS s
          |ON t.doc_id = s.doc_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.sql("DROP TABLE IF EXISTS graft_named_oracle")
      ()
    }
    TxnLog.read(spark, root).select("doc_id", "source", "n_chars")
  }

  /** Small-file compaction under the oracle ([[graft.sources.TxnLog.compact]]
    * plus its [[graft.sources.TxnLog.compactAdvice]] advisor, wired
    * advice→action the way production would run them): eight
    * micro-batch appends accumulate the small-file problem, a
    * row-level DELETE leaves copy-on-write remnant directories, the
    * advisor must flag the layout, compaction rewrites the snapshot,
    * and the advisor must then clear. The query returns the
    * post-compaction snapshot — every surviving row, hash-exact
    * against the source minus the deleted residue, proving the
    * rewrite moved bytes without changing one row. File-count
    * mechanics, CAS abort, and time travel are TxnLogSpec's rows;
    * this is the content gate at data scale. */
  private def txnlogCompact(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txncpt", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    // Versions are 0-based: overwrite(0) + 7 appends(1..7) + delete(8)
    // + compact(9) — a completed root sits at version 9 and must skip
    // the build branch (every write below is an idempotent-txn no-op
    // on re-entry, but the pre-compaction advisor require would fire
    // against the post-compaction snapshot).
    if (TxnLog.latestVersion(spark, root) < 9L) {
      TxnLog.overwrite(docs.filter(col("doc_id") % 8 === 0), root, Some("m0"))
      (1 to 7).foreach { i =>
        TxnLog.append(docs.filter(col("doc_id") % 8 === i), root, Some(s"m$i")); ()
      }
      TxnLog.delete(spark, root, col("doc_id") % 10 === 3, Some("gdpr-cpt"))
      val before = TxnLog.compactAdvice(spark, root).head
      require(before.getAs[Int]("compact") == 1,
        s"advisor should flag 9+ micro-commit dirs: $before")
      TxnLog.compact(spark, root)
      val after = TxnLog.compactAdvice(spark, root).head
      require(after.getAs[Int]("compact") == 0,
        s"advisor should clear post-compaction: $after")
    }
    TxnLog.read(spark, root).select("doc_id", "source", "n_chars")
  }

  /** Shared four-quartile stats-on table for the data-skipping and
    * fast-count gates (idempotent txnIds + CAS commits make racing
    * builders from concurrent Verify threads safe). Returns (root,
    * quartile width). */
  private def ensureTxnskipTable(spark: SparkSession, dir: String): (String, Long) = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnskip", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    // quartile width from the data (one bounded single-row collect so
    // the commit ranges scale with the SF), floor division both engines
    val q = (docs.agg(max("doc_id")).head.getLong(0) + 1) / 4
    buildLock(root) {
      if (TxnLog.latestVersion(spark, root) < 3L) {
        TxnLog.overwrite(docs.filter(col("doc_id") < q), root,
          Some("q0"), collectStats = true)
        (1 to 3).foreach { i =>
          val hiB = if (i == 3) Long.MaxValue else (i + 1) * q
          TxnLog.append(docs.filter(col("doc_id") >= i * q && col("doc_id") < hiB),
            root, Some(s"q$i"), collectStats = true); ()
        }
      }
    }
    (root, q)
  }

  /** Metadata-only schema evolution under the oracle
    * ([[graft.sources.TxnLog.renameColumn]] / `dropColumn`): the lower
    * doc_id half loads under the original names, `n_chars` renames to
    * `len` (one metadata commit, zero data movement), the upper half
    * appends SPEAKING the new name (bytes on disk stay physical —
    * uniform), and `source` drops. The final read serves exactly
    * (doc_id, len) over both halves — which the oracle states as a
    * plain aliased projection of `documents`. A pruning `require`
    * proves manifest stats keep skipping THROUGH the mapping. */
  private def txnlogRename(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnrename", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val q = (docs.agg(max("doc_id")).head.getLong(0) + 1) / 2
    buildLock(root) {
      if (TxnLog.latestVersion(spark, root) < 3L) {
        TxnLog.overwrite(docs.filter(col("doc_id") < q), root,
          Some("rn0"), collectStats = true)
        TxnLog.renameColumn(spark, root, "n_chars", "len", Some("rn1"))
        TxnLog.append(docs.filter(col("doc_id") >= q)
          .withColumnRenamed("n_chars", "len"), root,
          Some("rn2"), collectStats = true)
        TxnLog.dropColumn(spark, root, "source", Some("rn3")); ()
      }
    }
    // stats written before AND after the rename both prune on the
    // LOGICAL name (the physOf mapping): a lower-half band must skip
    // the upper-half dir
    val (_, skip, snap) = TxnLog.pruneDirs(spark, root, "doc_id", 0L, q - 1)
    require(snap.size == 2 && skip.size == 1,
      s"rename must not break stats pruning: snap=$snap skip=$skip")
    TxnLog.read(spark, root).select("doc_id", "len")
  }

  /** ADD COLUMN with an initial default under the oracle
    * ([[graft.sources.TxnLog.addColumn]]): the lower half loads
    * WITHOUT `lang`, one metadata commit adds it with default 'und'
    * (zero rewrites — the 100 TB constant backfill), and the upper
    * half appends carrying real values. The read serves default for
    * old rows and data for new — a plain CASE on the source. */
  private def txnlogAddcol(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnaddcol", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), col("lang"))
    val q = (docs.agg(max("doc_id")).head.getLong(0) + 1) / 2
    buildLock(root) {
      if (TxnLog.latestVersion(spark, root) < 2L) {
        TxnLog.overwrite(docs.filter(col("doc_id") < q).drop("lang"), root,
          Some("ac0"))
        TxnLog.addColumn(spark, root, "lang", "'und'", Some("ac1"))
        TxnLog.append(docs.filter(col("doc_id") >= q), root, Some("ac2")); ()
      }
    }
    TxnLog.read(spark, root).select("doc_id", "n_chars", "lang")
  }

  /** Hidden partitioning under the oracle
    * ([[graft.sources.TxnLog]] `days(ts)` transform): the events
    * table commits once partitioned by the DERIVED day column (Hive
    * dirs the reader never sees), and a raw-ts range read must map
    * onto the derived column (partition pruning inside the commit
    * dir — the `require` proves the plan carries it) while returning
    * rows hash-exact with the plain BETWEEN. */
  private def txnlogHidden(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnhidden", dir)
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    buildLock(root) {
      if (TxnLog.latestVersion(spark, root) < 0L) {
        TxnLog.overwrite(ev, root, Some("hp0"), partitionBy = Seq("days(ts)")); ()
      }
    }
    // day-aligned bounds derived from the data (one bounded 1-row
    // collect) so the window scales with any SF's date span
    // date_trunc returns a tz-aware timestamp — pin back to NTZ (the
    // house timestamp domain) before collecting
    val base = ev.agg(date_trunc("DAY", min(col("ts")))
        .cast("timestamp_ntz").as("b"))
      .head.getAs[java.time.LocalDateTime]("b")
    val (lo, hi) = (base.plusDays(2), base.plusDays(5))
    val q = TxnLog.readWhere(spark, root, "ts", lo, hi)
    require(q.queryExecution.executedPlan.toString.contains("__p_days_ts"),
      "the raw-ts range must map onto the hidden day partition")
    q.select("event_id", "ts", "user_id", "event_type")
  }

  /** Manifest data-skipping under the oracle
    * ([[graft.sources.TxnLog.readWhere]] over stats collected by
    * `collectStats` appends): four disjoint doc_id-quartile commits
    * model the time-ordered append table; a mid-range read must prove
    * via `pruneDirs` that exactly the two non-overlapping commit
    * directories are never opened, then return rows hash-exact with
    * the plain BETWEEN filter. The conservative laws (stat-blind dirs
    * and unknown columns never skip) are TxnLogSpec's rows. */
  private def txnlogSkipping(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val (root, q) = ensureTxnskipTable(spark, dir)
    val (lo, hi) = (q + q / 2, 2 * q + q / 2) // overlaps quartiles 1 and 2 only
    val (_, skip, snap) = TxnLog.pruneDirs(spark, root, "doc_id", lo, hi)
    require(snap.size == 4 && skip.size == 2,
      s"stats should prune exactly the 2 disjoint quartiles: snap=$snap skip=$skip")
    TxnLog.readWhere(spark, root, "doc_id", lo, hi)
      .select("doc_id", "source", "n_chars")
  }

  /** Clustering advisor under the oracle
    * ([[graft.sources.TxnLog.clusterAdvice]]): over the shared
    * four-quartile table, doc_id is range-partitioned by construction
    * (average keep fraction ≈ 10000/4 bps — healthy) while n_chars
    * scatters across every commit (≈ 10000 bps — stats prune nothing,
    * the z-order signal). The oracle recomputes each quartile's
    * [min, max] from the data and replays the keep-fraction
    * arithmetic in integers. */
  private def clusterAdviceQ(spark: SparkSession, dir: String): DataFrame = {
    val (root, _) = ensureTxnskipTable(spark, dir)
    graft.sources.TxnLog.clusterAdvice(spark, root)
  }

  /** Change data feed under the oracle
    * ([[graft.sources.TxnLog.changeFeed]]): a baseline load, an
    * append, a merge-on-read erasure, and a keyed MERGE — the feed
    * since the baseline must replay every row-level change with its
    * type and version: the append's inserts, the tombstone's deletes
    * (at the pre-delete image), and the merge's update pre/post
    * pairs. Cost per commit is its affected dirs, never the
    * snapshot. */
  private def ensureTxnCdfTable(spark: SparkSession, dir: String): String = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txncdf", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val q = (docs.agg(max("doc_id")).head.getLong(0) + 1) / 2
    buildLock(root) {
      if (TxnLog.latestVersion(spark, root) < 3L) {
        TxnLog.overwrite(docs.filter(col("doc_id") < q), root, Some("c0"))
        TxnLog.append(docs.filter(col("doc_id") >= q), root, Some("c1"))
        TxnLog.deleteMor(spark, root, col("doc_id") % 10 === 4, Some("c2"))
        TxnLog.merge(docs.filter(col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L),
          root, Seq("doc_id"), Some("c3")); ()
      }
    }
    root
  }

  private def txnlogCdf(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TxnLog.changeFeed(spark, ensureTxnCdfTable(spark, dir), 0L,
        keyCols = Seq("doc_id"))
      .select("_commit_version", "_change_type", "doc_id", "source", "n_chars")

  /** Incremental view maintenance under deletes and updates
    * ([[graft.operators.Incremental.applyChangeFeed]]): the per-source
    * (count, total chars) rollup is seeded from the CDF fixture's
    * BASELINE version only, then maintained purely from the change
    * feed's signed deltas — through the append, the merge-on-read
    * erasure, and the keyed merge — and must equal the direct
    * aggregate over the final state, which the oracle states on
    * `documents`. History is never recomputed: the maintained view's
    * cost is the feed, not the table. */
  private def mvIncrementalCdf(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = ensureTxnCdfTable(spark, dir)
    val base = TxnLog.read(spark, root, asOf = Some(0L))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    val feed = TxnLog.changeFeed(spark, root, 0L, keyCols = Seq("doc_id"))
    graft.operators.Incremental.applyChangeFeed(base, feed, Seq("source"),
      "n_docs", Map("sum_chars" -> "n_chars"))
  }

  /** CDC replication under the oracle
    * ([[graft.sources.TxnLog.replicate]]): a replica follows the CDF
    * fixture's full history — seed, append, merge-on-read erasure,
    * keyed merge — through the change feed alone (never a source
    * snapshot copy), and must then READ identical to the source's
    * final state, which the oracle states directly on `documents`.
    * Re-runs no-op via per-source-commit txnIds, so the racing
    * Verify-thread discipline holds by the same protocol. */
  private def txnlogReplica(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val src = ensureTxnCdfTable(spark, dir)
    val dst = tmpArtifactRoot("txnreplica", dir)
    buildLock(dst) {
      TxnLog.replicate(spark, src, dst, -1L, Seq("doc_id")); ()
    }
    TxnLog.read(spark, dst).select("doc_id", "source", "n_chars")
  }

  /** Row provenance under the oracle
    * ([[graft.sources.TxnLog.readWithLineage]]): over the shared
    * four-quartile table, every row must name the commit that loaded
    * it — version, action, txnId — and the per-commit census must
    * replay as the quartile slices. The lineage columns are per-dir
    * literals (zero extra I/O), so the census is one narrow
    * aggregate. */
  private def txnlogLineage(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val (root, _) = ensureTxnskipTable(spark, dir)
    TxnLog.readWithLineage(spark, root)
      .groupBy("_commit_version", "_commit_action", "_commit_txn")
      .agg(count(lit(1)).as("n_rows"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .select(col("_commit_version").as("commit_version"),
        col("_commit_action").as("commit_action"),
        col("_commit_txn").as("commit_txn"),
        col("n_rows"), col("min_id"), col("max_id"))
  }

  /** Z-order clustering under the oracle
    * ([[graft.sources.TxnLog.cluster]]): the four append-ordered
    * doc_id slices are rewritten along the (doc_id, n_chars)
    * z-curve into 8 stats-on directories, and a RECTANGLE query (a
    * doc_id band AND an n_chars band) runs through
    * [[graft.sources.TxnLog.readWhereAll]] — the rewrite must prove
    * pruning on the non-append column (impossible pre-cluster, the
    * `require`) while returning rows hash-exact with the plain
    * two-predicate filter: clustering moves bytes, never answers. */
  private def txnlogZorder(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnzorder", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val q = (docs.agg(max("doc_id")).head.getLong(0) + 1) / 4
    buildLock(root) {
      if (TxnLog.latestVersion(spark, root) < 4L) {
        TxnLog.overwrite(docs.filter(col("doc_id") < q), root,
          Some("z0"), collectStats = true)
        (1 to 3).foreach { i =>
          val hiB = if (i == 3) Long.MaxValue else (i + 1) * q
          TxnLog.append(docs.filter(col("doc_id") >= i * q && col("doc_id") < hiB),
            root, Some(s"z$i"), collectStats = true); ()
        }
        TxnLog.cluster(spark, root, Seq("doc_id", "n_chars"),
          nDirs = 8, bits = 4, txnId = Some("zcluster")); ()
      }
    }
    // the payoff claim: the non-append column prunes post-cluster
    val (_, skipN, snapZ) = TxnLog.pruneDirs(spark, root, "n_chars", 100L, 300L)
    require(skipN.nonEmpty && snapZ.size >= 4,
      s"z-order should prune on n_chars: skipped ${skipN.size} of ${snapZ.size}")
    TxnLog.readWhereAll(spark, root,
      Seq(("doc_id", q / 2, 2 * q + q / 2), ("n_chars", 100L, 300L)))
      .select("doc_id", "source", "n_chars")
  }

  /** Hilbert-curve clustering under the oracle
    * ([[graft.sources.TxnLog.cluster]] with `curve = "hilbert"`): the
    * same four arrival-ordered appends as `txnlog_zorder`, rewritten
    * along the Hilbert walk instead of the z-interleave — strictly
    * better locality at the same bit budget (no diagonal quadrant
    * jumps), which is why Delta's OPTIMIZE clusters by Hilbert. The
    * builder REQUIREs the non-append column prunes post-cluster; the
    * oracle is the plain two-band filter — the curve moves bytes,
    * never answers. */
  private def txnlogHilbert(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnhil", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val q = (docs.agg(max("doc_id")).head.getLong(0) + 1) / 4
    buildLock(root) {
      if (TxnLog.latestVersion(spark, root) < 4L) {
        TxnLog.overwrite(docs.filter(col("doc_id") < q), root,
          Some("h0"), collectStats = true)
        (1 to 3).foreach { i =>
          val hiB = if (i == 3) Long.MaxValue else (i + 1) * q
          TxnLog.append(docs.filter(col("doc_id") >= i * q && col("doc_id") < hiB),
            root, Some(s"h$i"), collectStats = true); ()
        }
        TxnLog.cluster(spark, root, Seq("doc_id", "n_chars"),
          nDirs = 8, bits = 4, txnId = Some("hcluster"), curve = "hilbert"); ()
      }
    }
    val (_, skipN, snapZ) = TxnLog.pruneDirs(spark, root, "n_chars", 100L, 300L)
    require(skipN.nonEmpty && snapZ.size >= 4,
      s"hilbert should prune on n_chars: skipped ${skipN.size} of ${snapZ.size}")
    TxnLog.readWhereAll(spark, root,
      Seq(("doc_id", q / 2, 2 * q + q / 2), ("n_chars", 100L, 300L)))
      .select("doc_id", "source", "n_chars")
  }

  /** Z-order over STRING columns under the oracle
    * ([[graft.sources.TxnLog.cluster]] deriving dictionary-rank
    * integral keys in-house): four residue-class slices scatter both
    * lang and source across every dir, the (lang, source) z-curve
    * rewrite co-locates them, and the rank's order-preservation keeps
    * the RAW string [min, max] manifest stats tight — so a
    * lang = 'en' probe provably skips dirs (the `require`) and the
    * rectangle read equals the plain two-predicate filter: clustering
    * moves bytes, never answers. */
  private def txnlogZorderStr(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnzstr", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    buildLock(root) {
      if (TxnLog.latestVersion(spark, root) < 4L) {
        (0 until 4).foreach { i =>
          val slice = docs.filter(col("doc_id") % 4 === i)
          if (i == 0) TxnLog.overwrite(slice, root, Some("s0"), collectStats = true)
          else { TxnLog.append(slice, root, Some(s"s$i"), collectStats = true); () }
        }
        TxnLog.cluster(spark, root, Seq("lang", "source"), nDirs = 8, bits = 2,
          txnId = Some("zstr")); ()
      }
    }
    // the payoff claim: pruning fires on the STRING column itself
    val (_, skipL, snapL) = TxnLog.pruneDirs(spark, root, "lang", "en", "en")
    require(skipL.nonEmpty && snapL.size >= 4,
      s"string z-order should prune on lang: skipped ${skipL.size} of ${snapL.size}")
    TxnLog.readWhereAll(spark, root,
      Seq(("lang", "en", "en"), ("source", "src0", "src12")))
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Unified maintenance under the oracle
    * ([[graft.sources.TxnLog.maintain]]): eight residue-class
    * micro-appends scatter doc_id AND n_chars and pile up small dirs,
    * so the first maintain run trips the cluster advisor (which
    * subsumes compaction); every later run must be the healthy no-op
    * — the cadence-job law, asserted on EVERY execution. Content is
    * identical before/after: maintenance moves bytes, never
    * answers. */
  private def txnlogMaintain(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnmaintain", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    buildLock(root) {
      if (TxnLog.latestVersion(spark, root) < 7L) {
        (0 until 8).foreach { i =>
          val slice = docs.filter(col("doc_id") % 8 === i)
          if (i == 0) TxnLog.overwrite(slice, root, Some("m0"), collectStats = true)
          else { TxnLog.append(slice, root, Some(s"m$i"), collectStats = true); () }
        }
      }
      val fresh = TxnLog.latestVersion(spark, root) == 7L
      val actions = TxnLog.maintain(spark, root,
        zorderBy = Seq("doc_id", "n_chars"), txnId = Some("maint"))
      if (fresh) require(actions.map(_._1) == Seq("cluster"),
        s"maintain should cluster the scattered 8-dir table, got $actions")
      else require(actions.isEmpty,
        s"maintain on a maintained table must mint nothing, got $actions")
    }
    TxnLog.read(spark, root).select("doc_id", "source", "n_chars")
  }

  /** Shared residue-scattered bloom fixture: 8 hash-scattered commits
    * over documents with per-dir doc_id Blooms; returns (root, probe =
    * (max+1)/2). Range stats are provably blind on this layout. */
  private def ensureTxnBloomTable(spark: SparkSession, dir: String): (String, Long) = {
    import graft.sources.TxnLog
    val root = tmpArtifactRoot("txnbloom", dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val probe = (docs.agg(max("doc_id")).head.getLong(0) + 1) / 2
    buildLock(root) {
      if (TxnLog.latestVersion(spark, root) < 7L) {
        (0 to 7).foreach { i =>
          val slice = docs.filter(col("doc_id") % 8 === i)
          if (i == 0) TxnLog.overwrite(slice, root, Some("b0"),
            collectStats = true, bloomCols = Seq("doc_id"))
          else TxnLog.append(slice, root, Some(s"b$i"),
            collectStats = true, bloomCols = Seq("doc_id")); ()
        }
      }
    }
    (root, probe)
  }

  /** Bloom point-lookup skipping under the oracle
    * ([[graft.sources.TxnLog.readPoint]]): eight residue-class
    * commits scatter doc_id so every dir's [min, max] spans the whole
    * domain — range stats prune NOTHING (the `require` proves it) —
    * yet the per-dir Blooms prove most dirs never held the probed key.
    * The skipped read must return the key's rows hash-exact with the
    * plain equality filter: Bloom false positives can open an extra
    * dir, never change the answer. */
  private def txnlogBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val (root, probe) = ensureTxnBloomTable(spark, dir)
    val (_, skipRange, _) = TxnLog.pruneDirs(spark, root, "doc_id", probe, probe)
    require(skipRange.isEmpty, "scattered layout: range stats must be blind")
    val (_, skipB, snapB) = TxnLog.prunePoint(spark, root, "doc_id", probe)
    require(skipB.size >= 6,
      s"bloom should prune most dirs: skipped ${skipB.size} of ${snapB.size}")
    TxnLog.readPoint(spark, root, "doc_id", probe)
      .select("doc_id", "source", "n_chars")
  }

  /** Multi-key point fetch under the oracle
    * ([[graft.sources.TxnLog.readPoints]]): three ids spanning at
    * most three residue classes fetched in ONE read — the Blooms must
    * still prune dirs holding none of them (the `require`), and the
    * result is hash-exact with the plain IN filter. */
  private def txnlogPoints(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val (root, probe) = ensureTxnBloomTable(spark, dir)
    val ids = Seq(probe, probe + 1, 17L)
    val (keep, skip, snap) = TxnLog.prunePoints(spark, root, "doc_id", ids)
    require(skip.nonEmpty && keep.size <= snap.size - skip.size + 3,
      s"multi-key bloom should prune: keep=${keep.size} skip=${skip.size}")
    TxnLog.readPoints(spark, root, "doc_id", ids)
      .select("doc_id", "source", "n_chars")
  }

  /** Right-to-be-forgotten propagation under the oracle
    * ([[graft.operators.Forget.forget]]): an erasure request for ten
    * ids runs against three txn-log tables — the two-commit corpus,
    * a one-commit derived feature table, and a derived table that
    * never held the subject's data — and the AUDIT is the query
    * result: matched counts re-scanned post-delete (always 0), and
    * version movement proving the no-match table took no commit. The
    * audit is written once and memoized (re-running forget would be
    * an idempotent no-op whose re-scan could no longer observe
    * matched_before). */
  private def forgetDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnLog
    val base = tmpArtifactRoot("forget", dir)
    val auditPath = s"$base/audit"
    if (!new java.io.File(auditPath, "_SUCCESS").isFile) {
      val docs = Tables.documents(spark, dir)
      val corpus = s"$base/corpus"; val sigs = s"$base/sigs"; val scores = s"$base/scores"
      TxnLog.overwrite(docs.filter(col("doc_id") < 250)
        .select(col("doc_id"), col("source"), col("n_chars")), corpus, Some("c0"))
      TxnLog.append(docs.filter(col("doc_id") >= 250)
        .select(col("doc_id"), col("source"), col("n_chars")), corpus, Some("c1"))
      TxnLog.overwrite(docs.select(col("doc_id"),
        (col("n_chars") * 2L).as("feat")), sigs, Some("s0"))
      // a derived table the subject never appears in (ids are ≡7 mod 50)
      TxnLog.overwrite(docs.filter(col("doc_id") % 50 === 8)
        .select(col("doc_id"), col("n_chars")), scores, Some("z0"))
      val ids = (7L until 500L by 50L).toSeq
      graft.operators.Forget.forget(spark, ids,
        Map("corpus" -> corpus, "sigs" -> sigs, "scores" -> scores))
        .coalesce(1).write.mode("overwrite").parquet(auditPath)
    }
    spark.read.parquet(auditPath)
      .select("artifact", "matched_before", "remaining_after",
        "version_before", "version_after", "vacuumed")
  }

  /** In-process serialization of shared test-artifact builders: two
    * queries sharing one txn-log root (release_diff + dataset_release;
    * txnlog_skipping + txnlog_fastcount) may run on concurrent Verify
    * threads. The CAS/txnId protocol keeps racing builders CORRECT,
    * but a concurrent build stretches the window between a manifest's
    * create-exclusive claim and its content landing past readManifest's
    * bounded patience under load — so same-JVM builders take a per-root
    * lock and the second one finds the table already built. Cross-JVM
    * racing (not a shape Verify produces) still rests on the CAS. */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def buildLock[A](root: String)(body: => A): A =
    buildLocks.computeIfAbsent(root, _ => new Object).synchronized(body)

  /** Shared two-release catalog for the release-pinning and
    * release-diff gates. Returns the catalog root. */
  private def ensureReleaseTables(spark: SparkSession, dir: String): String = {
    import graft.sources.{TxnCatalog, TxnLog}
    val base = tmpArtifactRoot("release", dir)
    val docsRoot = s"$base/docs"; val embRoot = s"$base/emb"
    val cat = s"$base/catalog"
    buildLock(base) {
    if (TxnLog.latestVersion(spark, cat) < 1L) {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      val emb = Tables.embeddings(spark, dir).select(col("vec_id"))
      TxnLog.overwrite(docs.filter(col("doc_id") < 250), docsRoot, Some("d0"))
      TxnLog.overwrite(emb.filter(col("vec_id") < 300), embRoot, Some("e0"))
      TxnCatalog.publish(spark, cat,
        Map("docs" -> docsRoot, "emb" -> embRoot), Some("r0"))
      TxnLog.append(docs.filter(col("doc_id") >= 250), docsRoot, Some("d1"))
      TxnLog.append(emb.filter(col("vec_id") >= 300), embRoot, Some("e1"))
      TxnCatalog.publish(spark, cat,
        Map("docs" -> docsRoot, "emb" -> embRoot), Some("r1"))
      ()
    }
    }
    cat
  }

  /** Cross-table dataset releases under the oracle
    * ([[graft.sources.TxnCatalog]]): release 0 pins (docs < 250,
    * embeddings < 300); both tables then GROW and release 1 pins the
    * full state. The query reads every release's view of every member
    * through the catalog and reports per-(release, table) row counts —
    * release 0 must keep reporting the pre-growth counts forever
    * (that's the reproducibility claim), which the oracle replays as
    * the four known slices. */
  private def datasetRelease(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxnCatalog
    val cat = ensureReleaseTables(spark, dir)
    val perRelease = for {
      rel <- Seq(0L, 1L)
      table <- Seq("docs", "emb")
    } yield TxnCatalog.readTable(spark, cat, table, Some(rel))
      .agg(count(lit(1)).as("n_rows"))
      .select(lit(rel).as("release"), lit(table).as("table_name"), col("n_rows"))
    perRelease.reduce(_.unionByName(_))
  }

  /** Incremental materialized view under the oracle: two id-sliced
    * event batches merge through [[graft.streaming.MaterializedView
    * .mergeBatch]] (sum/min/max measure algebra + TxnLog txnId
    * idempotence) and the final view must equal the one-shot grouped
    * aggregate over all events — the IVM correctness claim, checked
    * against DuckDB instead of only a spec. Integer measures keep the
    * merge bit-exact. */
  private def mvMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.MaterializedView
    val root = tmpArtifactRoot("mv", dir)
    val ev = Tables.events(spark, dir)
    // the two predicates TOTALLY partition the table (null event_ids
    // land in the second slice) — the IVM claim must be tested against
    // the oracle's unfiltered aggregate, never a silently narrowed input
    def slice(pred: Column) = ev.filter(pred)
      .groupBy("event_type").agg(
        count(lit(1)).as("n"),
        min(col("user_id")).as("min_user"),
        max(col("user_id")).as("max_user"))
    val measures = Map("n" -> "sum", "min_user" -> "min", "max_user" -> "max")
    if (graft.sources.TxnLog.latestVersion(spark, root) < 1L) {
      MaterializedView.mergeBatch(root, Seq("event_type"), measures)(
        slice(coalesce(col("event_id") < 500L, lit(false))), 0L)
      MaterializedView.mergeBatch(root, Seq("event_type"), measures)(
        slice(coalesce(col("event_id") >= 500L, lit(true))), 1L)
    }
    MaterializedView.read(spark, root)
      .select(col("event_type"), col("n"), col("min_user"), col("max_user"))
  }

  val specs: Seq[QuerySpec] = Seq(
    // the incrementally MAINTAINED sketch answers with the one-shot
    // statement: register max is lossless, storage changes the plan
    QuerySpec("mv_distinct_hll", mvDistinctHll, hllUnionOracleSql),
    // the TxnLog table was built from id-sliced commits of documents;
    // changesSince(0) must be exactly the two appended slices
    QuerySpec("txnlog_changes", txnlogChanges,
      "SELECT doc_id, source FROM documents WHERE doc_id >= 100"),
    // widening append: base rows read back with NULL in the new column
    QuerySpec("txnlog_evolution", txnlogEvolution,
      """SELECT doc_id, source, CAST(NULL AS VARCHAR) AS lang
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, source, lang FROM documents WHERE doc_id % 2 = 1""".stripMargin),
    // copy-on-write DELETE: survivors are `predicate IS NOT TRUE`
    // (NULL-lang rows in the deleted id range must SURVIVE)
    QuerySpec("txnlog_delete", txnlogDelete,
      """SELECT doc_id, source, lang, n_chars FROM documents
        |WHERE NOT COALESCE(doc_id < 150 AND lang = 'en', FALSE)""".stripMargin),
    // tri-clause MERGE replay: matched rows replaced, unmatched
    // source inserted, and unmatched TARGET rows the third clause
    // names (doc_id % 7 = 3) removed — all in one commit
    QuerySpec("txnlog_update", txnlogUpdate,
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 3 THEN upper(source) ELSE source END AS source,
        |  CASE WHEN doc_id % 10 = 3 THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |FROM documents""".stripMargin),
    QuerySpec("txnlog_convert", txnlogConvert,
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id % 10 <> 7""".stripMargin),
    // merge-on-read DELETE: a zero-data-write deletion-vector commit
    // must serve survivors identical to the copy-on-write twin
    QuerySpec("txnlog_delete_mor", txnlogDeleteMor,
      """SELECT doc_id, source, lang, n_chars FROM documents
        |WHERE NOT COALESCE(doc_id < 150 AND lang = 'en', FALSE)""".stripMargin),
    // copy-on-write MERGE replay: target anti-join source ∪ source
    QuerySpec("txnlog_merge", txnlogMerge,
      """WITH src AS (
        |  SELECT doc_id, source, n_chars + 1000 AS n_chars
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, 'merged' AS source,
        |    CAST(42 AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 10 = 5)
        |SELECT d.doc_id, d.source, d.n_chars FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM src)
        |UNION ALL
        |SELECT doc_id, source, n_chars FROM src""".stripMargin),
    QuerySpec("txnlog_merge_full", txnlogMergeFull,
      """WITH src AS (
        |  SELECT doc_id, source, n_chars + 1000 AS n_chars
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, 'merged' AS source,
        |    CAST(42 AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 10 = 5)
        |SELECT d.doc_id, d.source, d.n_chars FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM src)
        |  AND NOT (d.doc_id % 7 = 3)
        |UNION ALL
        |SELECT doc_id, source, n_chars FROM src""".stripMargin),
    // full clause-surface MERGE: conditional matched DELETE beats the
    // unconditional UPDATE (first-match-wins), conditional explicit-
    // column INSERT NULL-fills n_chars, NMBS conditional UPDATE ages
    // the untouched remainder — replayed clause-for-clause as CASE
    // projections over a LEFT JOIN
    QuerySpec("txnlog_merge_clauses", txnlogMergeClauses,
      """WITH src AS (
        |  SELECT doc_id, source, n_chars + 500 AS n_chars
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, source, n_chars
        |  FROM documents WHERE doc_id % 10 = 5)
        |SELECT t.doc_id,
        |  CASE WHEN s.doc_id IS NOT NULL THEN t.source || '|m'
        |       WHEN t.doc_id % 13 = 7 THEN 'aged'
        |       ELSE t.source END AS source,
        |  CASE WHEN s.doc_id IS NOT NULL THEN t.n_chars + s.n_chars
        |       ELSE t.n_chars END AS n_chars
        |FROM documents t LEFT JOIN src s USING (doc_id)
        |WHERE NOT (s.doc_id IS NOT NULL AND s.n_chars % 3 = 0)
        |UNION ALL
        |SELECT doc_id, upper(source) AS source, CAST(NULL AS BIGINT) AS n_chars
        |FROM src WHERE doc_id >= 1000000 AND doc_id % 2 = 0""".stripMargin),
    // VERSION AS OF 1 pins the pre-delete snapshot = the whole source
    QuerySpec("txnlog_timetravel_sql", txnlogTimetravelSql,
      "SELECT doc_id, source, n_chars FROM documents"),
    // the named-table DML chain replayed relationally: UPDATE %5=2,
    // DELETE %11=3, then an insert-only MERGE of re-keyed rows
    QuerySpec("txnlog_named_sql", txnlogNamedSql,
      """WITH afterupd AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 5 = 2 THEN n_chars + 7 ELSE n_chars END AS n_chars
        |  FROM documents),
        |afterdel AS (SELECT * FROM afterupd WHERE NOT (doc_id % 11 = 3))
        |SELECT doc_id, source, n_chars FROM afterdel
        |UNION ALL
        |SELECT doc_id + 3000000 AS doc_id, 'named' AS source,
        |  CAST(7 AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 10 = 4""".stripMargin),
    // the CHECK gate admits exactly the clean loads; the poisoned
    // batch never lands — final snapshot = the untouched source
    QuerySpec("txnlog_checked", txnlogChecked,
      "SELECT doc_id, source, n_chars FROM documents"),
    // a metadata-only RESTORE undoes the bad delete: final snapshot =
    // the untouched source
    QuerySpec("txnlog_restore", txnlogRestore,
      "SELECT doc_id, source, n_chars FROM documents"),
    // the diverged shallow clone = source ∪ re-keyed appends, minus
    // the clone-side delete; the builder separately REQUIRES the
    // source never minted a version (the zero-copy contract)
    QuerySpec("txnlog_clone", txnlogClone,
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, 'cloned', n_chars FROM documents
        |  WHERE doc_id % 10 = 4
        |) WHERE doc_id % 10 <> 7""".stripMargin),
    // scoped compaction: identical law, scoped to the hot range — the
    // cold dirs ride by reference and only the in-scope tombstone
    // materializes
    QuerySpec("txnlog_compact_where", txnlogCompactWhere,
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE NOT (doc_id % 10 = 3 AND doc_id < 140)""".stripMargin),
    // compaction is a pure rewrite: post-compact snapshot = source
    // minus the deleted residue, not one row moved or duplicated
    QuerySpec("txnlog_compact", txnlogCompact,
      "SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 10 <> 3"),
    // data skipping never changes the answer: the pruned read equals
    // the plain BETWEEN over the same quartile arithmetic
    QuerySpec("txnlog_skipping", txnlogSkipping,
      """WITH m AS (SELECT (MAX(doc_id) + 1) // 4 AS q FROM documents)
        |SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id BETWEEN (SELECT q + q // 2 FROM m)
        |                 AND (SELECT 2 * q + q // 2 FROM m)""".stripMargin),
    // schema evolution moves METADATA, never answers: rename + drop +
    // a post-rename append read back as a plain aliased projection
    QuerySpec("txnlog_rename", txnlogRename,
      "SELECT doc_id, n_chars AS len FROM documents"),
    // ADD COLUMN's initial default serves for pre-DDL rows, real
    // values after — one CASE on the append boundary
    QuerySpec("txnlog_addcol", txnlogAddcol,
      """WITH m AS (SELECT (MAX(doc_id) + 1) // 2 AS q FROM documents)
        |SELECT doc_id, n_chars,
        |  CASE WHEN doc_id < (SELECT q FROM m) THEN 'und' ELSE lang END AS lang
        |FROM documents""".stripMargin),
    // hidden partitioning moves FILES, never answers: the raw-ts
    // range over the day-partitioned layout equals the plain BETWEEN
    QuerySpec("txnlog_hidden", txnlogHidden,
      """WITH m AS (SELECT date_trunc('day', MIN(ts)) AS base FROM events)
        |SELECT event_id, ts, user_id, event_type FROM events
        |WHERE ts >= (SELECT base + INTERVAL 2 DAY FROM m)
        |  AND ts <= (SELECT base + INTERVAL 5 DAY FROM m)""".stripMargin),
    // the same mid-range read through `format("graft")` — Catalyst
    // pushes the BETWEEN to the relation, the relation prunes the two
    // disjoint quartile dirs off the manifest stats, and the rows are
    // hash-exact with the native readWhere path (shared oracle shape)
    // the DataSource connector moves plans, never answers: the pruned
    // format("graft") read equals the same plain BETWEEN
    QuerySpec("txnlog_connector", (s, d) => {
      val (root, q) = ensureTxnskipTable(s, d)
      val (lo, hi) = (q + q / 2, 2 * q + q / 2)
      s.read.format("graft").load(root)
        .filter(col("doc_id") >= lo && col("doc_id") <= hi)
        .select("doc_id", "source", "n_chars")
    },
      """WITH m AS (SELECT (MAX(doc_id) + 1) // 4 AS q FROM documents)
        |SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id BETWEEN (SELECT q + q // 2 FROM m)
        |                 AND (SELECT 2 * q + q // 2 FROM m)""".stripMargin),
    // z-order clustering moves bytes, never answers: the rectangle
    // read over the clustered layout equals the plain two-band filter
    QuerySpec("txnlog_zorder", txnlogZorder,
      """WITH m AS (SELECT (MAX(doc_id) + 1) // 4 AS q FROM documents)
        |SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id BETWEEN (SELECT q // 2 FROM m)
        |                 AND (SELECT 2 * q + q // 2 FROM m)
        |  AND n_chars BETWEEN 100 AND 300""".stripMargin),
    // the hilbert rewrite obeys the same law: layout, never answers
    QuerySpec("txnlog_hilbert", txnlogHilbert,
      """WITH m AS (SELECT (MAX(doc_id) + 1) // 4 AS q FROM documents)
        |SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id BETWEEN (SELECT q // 2 FROM m)
        |                 AND (SELECT 2 * q + q // 2 FROM m)
        |  AND n_chars BETWEEN 100 AND 300""".stripMargin),
    // string z-order: the dictionary-rank rewrite never changes
    // answers — the rectangle over (lang, source) is a plain filter
    QuerySpec("txnlog_zorder_str", txnlogZorderStr,
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang = 'en' AND source >= 'src0' AND source <= 'src12'""".stripMargin),
    // unified maintenance (advise -> cluster/compact/vacuum) moves
    // bytes, never answers: content identity with the source
    QuerySpec("txnlog_maintain", txnlogMaintain,
      "SELECT doc_id, source, n_chars FROM documents"),
    // bloom skipping opens fewer dirs, never changes the answer: the
    // point read equals the plain equality filter
    QuerySpec("txnlog_bloom", txnlogBloom,
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id = (SELECT (MAX(doc_id) + 1) // 2 FROM documents)""".stripMargin),
    // multi-key fetch: bloom-pruned dirs, plain IN semantics
    QuerySpec("txnlog_points", txnlogPoints,
      """WITH m AS (SELECT (MAX(doc_id) + 1) // 2 AS q FROM documents)
        |SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id IN ((SELECT q FROM m), (SELECT q + 1 FROM m), 17)""".stripMargin),
    // per-commit provenance census replays as the quartile slices the
    // fixture loaded (txnIds q0..q3, v0 an overwrite)
    QuerySpec("txnlog_lineage", txnlogLineage,
      """WITH m AS (SELECT (MAX(doc_id) + 1) // 4 AS q FROM documents),
        |sl AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id < (SELECT q FROM m) THEN 0
        |         WHEN doc_id < (SELECT 2 * q FROM m) THEN 1
        |         WHEN doc_id < (SELECT 3 * q FROM m) THEN 2
        |         ELSE 3 END AS v
        |  FROM documents)
        |SELECT CAST(v AS BIGINT) AS commit_version,
        |  CASE WHEN v = 0 THEN 'overwrite' ELSE 'append' END AS commit_action,
        |  'q' || CAST(v AS VARCHAR) AS commit_txn,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM sl GROUP BY v""".stripMargin),
    // the advisor's keep-fraction arithmetic replayed from the
    // quartile slicing: doc_id healthy, n_chars scattered
    QuerySpec("cluster_advice", clusterAdviceQ,
      """WITH m AS (SELECT (MAX(doc_id) + 1) // 4 AS q FROM documents),
        |sl AS (SELECT doc_id, n_chars,
        |  CASE WHEN doc_id < (SELECT q FROM m) THEN 0
        |       WHEN doc_id < (SELECT 2 * q FROM m) THEN 1
        |       WHEN doc_id < (SELECT 3 * q FROM m) THEN 2 ELSE 3 END AS d
        |  FROM documents),
        |pr AS (SELECT d, min(doc_id) AS mn_i, max(doc_id) AS mx_i,
        |              min(n_chars) AS mn_c, max(n_chars) AS mx_c
        |       FROM sl GROUP BY d),
        |a AS (SELECT
        |  CAST(max(mx_i) - min(mn_i) + 1 AS BIGINT) AS wi,
        |  CAST(SUM(mx_i - mn_i + 1) AS BIGINT) AS si,
        |  CAST(max(mx_c) - min(mn_c) + 1 AS BIGINT) AS wc,
        |  CAST(SUM(mx_c - mn_c + 1) AS BIGINT) AS sc,
        |  CAST(count(*) AS BIGINT) AS nd FROM pr)
        |SELECT 'doc_id' AS col_name, nd AS n_dirs, wi AS table_width,
        |  si AS sum_dir_width,
        |  CAST(si * 10000 // (wi * nd) AS BIGINT) AS overlap_bps,
        |  CAST(CASE WHEN si * 10000 // (wi * nd) >= 5000 THEN 1 ELSE 0 END AS INT) AS scattered
        |FROM a
        |UNION ALL
        |SELECT 'n_chars', nd, wc, sc,
        |  CAST(sc * 10000 // (wc * nd) AS BIGINT),
        |  CAST(CASE WHEN sc * 10000 // (wc * nd) >= 5000 THEN 1 ELSE 0 END AS INT)
        |FROM a""".stripMargin),
    // the change feed replays as its known slices: append inserts,
    // tombstone deletes (pre-delete image), merge update pairs
    QuerySpec("txnlog_cdf", txnlogCdf,
      """WITH m AS (SELECT (MAX(doc_id) + 1) // 2 AS q FROM documents)
        |SELECT CAST(1 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
        |  doc_id, source, n_chars
        |FROM documents WHERE doc_id >= (SELECT q FROM m)
        |UNION ALL
        |SELECT 2, 'delete', doc_id, source, n_chars
        |FROM documents WHERE doc_id % 10 = 4
        |UNION ALL
        |SELECT 3, 'update_preimage', doc_id, source, n_chars
        |FROM documents WHERE doc_id % 10 = 0
        |UNION ALL
        |SELECT 3, 'update_postimage', doc_id, source, n_chars + 1000
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin),
    // the same change feed served through the Delta-CDF read surface
    // (format("graft") + readChangeFeed/startingVersion options) —
    // the connector moves plans, never answers
    // the CDF relation serves the identical feed (shared statement)
    QuerySpec("txnlog_cdf_connector", (s, d) => {
      val root = ensureTxnCdfTable(s, d)
      s.read.format("graft").option("readChangeFeed", "true")
        .option("startingVersion", "1").option("keyCols", "doc_id")
        .load(root)
        .select("_commit_version", "_change_type", "doc_id", "source", "n_chars")
    },
      """WITH m AS (SELECT (MAX(doc_id) + 1) // 2 AS q FROM documents)
        |SELECT CAST(1 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
        |  doc_id, source, n_chars
        |FROM documents WHERE doc_id >= (SELECT q FROM m)
        |UNION ALL
        |SELECT 2, 'delete', doc_id, source, n_chars
        |FROM documents WHERE doc_id % 10 = 4
        |UNION ALL
        |SELECT 3, 'update_preimage', doc_id, source, n_chars
        |FROM documents WHERE doc_id % 10 = 0
        |UNION ALL
        |SELECT 3, 'update_postimage', doc_id, source, n_chars + 1000
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin),
    // the same feed through the table_changes(...) SQL TVF (Delta's
    // CDF function shape). No keyCols in the function form, so the
    // keyed MERGE commit serves as unkeyed delete+insert pairs
    // the TVF form has no keyCols, so the keyed MERGE commit replays
    // as unkeyed delete+insert pairs at the same version
    QuerySpec("txnlog_cdf_sql", (s, d) => {
      val root = ensureTxnCdfTable(s, d)
      s.sql(s"SELECT _commit_version, _change_type, doc_id, source, n_chars " +
        s"FROM table_changes('$root', 1)")
    },
      """WITH m AS (SELECT (MAX(doc_id) + 1) // 2 AS q FROM documents)
        |SELECT CAST(1 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
        |  doc_id, source, n_chars
        |FROM documents WHERE doc_id >= (SELECT q FROM m)
        |UNION ALL
        |SELECT 2, 'delete', doc_id, source, n_chars
        |FROM documents WHERE doc_id % 10 = 4
        |UNION ALL
        |SELECT 3, 'delete', doc_id, source, n_chars
        |FROM documents WHERE doc_id % 10 = 0
        |UNION ALL
        |SELECT 3, 'insert', doc_id, source, n_chars + 1000
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin),
    // a replica maintained purely from the change feed reads
    // identical to the source's final state
    QuerySpec("txnlog_replica", txnlogReplica,
      """SELECT doc_id, source,
        |  CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |FROM documents WHERE doc_id % 10 <> 4""".stripMargin),
    // a rollup maintained purely from signed feed deltas equals the
    // recompute over the final state
    QuerySpec("mv_incremental_cdf", mvIncrementalCdf,
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000
        |                ELSE n_chars END) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 10 <> 4
        |GROUP BY source""".stripMargin),
    // metadata-only COUNT from the manifest row counts vs the scan:
    // zero files opened on the fast path, require proves it fired
    // the fast path and the scan must agree: both are count(documents)
    QuerySpec("txnlog_fastcount", (s, d) => {
      import graft.sources.TxnLog
      val (root, _) = ensureTxnskipTable(s, d)
      val meta = TxnLog.fastCount(s, root).getOrElse(sys.error(
        "every dir was committed with stats — fastCount must take the metadata path"))
      val scanned = TxnLog.read(s, root).count()
      import s.implicits._
      Seq((meta, scanned)).toDF("n_rows_meta", "n_rows_scan")
    },
      "SELECT count(*) AS n_rows_meta, count(*) AS n_rows_scan FROM documents"),
    // erasure-propagation audit replay: matched counts from the
    // documents table, version movement from the known commit plan
    // (corpus 2 commits + delete, sigs 1 + delete, scores untouched)
    QuerySpec("forget_docs", forgetDocs,
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
        |  WHERE doc_id IN (7,57,107,157,207,257,307,357,407,457))
        |SELECT 'corpus' AS artifact, m.n AS matched_before,
        |  CAST(0 AS BIGINT) AS remaining_after,
        |  CAST(1 AS BIGINT) AS version_before,
        |  CAST(2 AS BIGINT) AS version_after, CAST(0 AS INT) AS vacuumed
        |FROM m
        |UNION ALL
        |SELECT 'sigs', m.n, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(1 AS BIGINT), CAST(0 AS INT) FROM m
        |UNION ALL
        |SELECT 'scores', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS INT) FROM m""".stripMargin),
    // release 0 keeps reporting the pre-growth cut forever — the
    // reproducibility claim, replayed as the four known slices
    QuerySpec("dataset_release", datasetRelease,
      """SELECT CAST(0 AS BIGINT) AS release, 'docs' AS table_name,
        |  CAST(count(*) AS BIGINT) AS n_rows FROM documents WHERE doc_id < 250
        |UNION ALL
        |SELECT CAST(0 AS BIGINT), 'emb', CAST(count(*) AS BIGINT)
        |FROM embeddings WHERE vec_id < 300
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), 'docs', CAST(count(*) AS BIGINT) FROM documents
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), 'emb', CAST(count(*) AS BIGINT) FROM embeddings""".stripMargin),
    // what changed between two pinned releases, per member table:
    // added/removed row counts from exceptAll over the reproducible
    // pinned reads — the changelog a dataset card cites
    // the appends-only history means removed = 0; added = the post-r0
    // slices
    QuerySpec("release_diff", (s, d) => {
      import graft.sources.TxnCatalog
      val cat = ensureReleaseTables(s, d)
      Seq("docs", "emb").map { t =>
        val r0 = TxnCatalog.readTable(s, cat, t, Some(0L))
        val r1 = TxnCatalog.readTable(s, cat, t, Some(1L))
        r0.agg(count(lit(1)).as("n_release0"))
          .crossJoin(r1.agg(count(lit(1)).as("n_release1")))
          .crossJoin(r1.exceptAll(r0).agg(count(lit(1)).as("n_added")))
          .crossJoin(r0.exceptAll(r1).agg(count(lit(1)).as("n_removed")))
          .select(lit(t).as("table_name"), col("n_release0"),
            col("n_release1"), col("n_added"), col("n_removed"))
      }.reduce(_.unionByName(_)).orderBy("table_name")
    },
      """SELECT 'docs' AS table_name,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id < 250) AS n_release0,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_release1,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id >= 250) AS n_added,
        |  CAST(0 AS BIGINT) AS n_removed
        |UNION ALL
        |SELECT 'emb',
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id < 300),
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings),
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id >= 300),
        |  CAST(0 AS BIGINT)
        |ORDER BY table_name""".stripMargin),
    // the incrementally-merged view must equal the one-shot aggregate
    QuerySpec("mv_merge", mvMerge,
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  min(user_id) AS min_user, max(user_id) AS max_user
        |FROM events GROUP BY 1""".stripMargin),
    // the rewrite must change the plan, never the answer: the oracle
    // is the natural base-table aggregate
    QuerySpec("mv_rewrite", mvRewrite,
      """SELECT lang, source,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1, 2""".stripMargin),
    // rollup: the per-lang aggregate re-aggregated from the
    // (lang, source) view still equals the natural statement
    QuerySpec("mv_rollup", mvRollup,
      """SELECT lang,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin),
    // same law over the TxnLog-backed base table: the O(1)-guarded
    // view serve changes the plan, never the answer
    QuerySpec("mv_rewrite_graft", mvRewriteGraft,
      """SELECT lang, source,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1, 2""".stripMargin),
  )
}
