package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{GraftDataSource, TxnLog}

/** `format("graft")` — the TxnLog table format behind Spark's
  * DataSource API: batch read (with manifest-stats dir pruning driven
  * by Catalyst's pushed filters), batch write (SaveMode → commit
  * protocol), and the micro-batch streaming source whose offsets are
  * commit versions. */
class GraftConnectorSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_dsv1").toString + "/t"

  test("batch write + read roundtrip through format(\"graft\"); SaveMode semantics") {
    val root = freshRoot()
    val a = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    a.write.format("graft").save(root) // default ErrorIfExists creates
    assert(spark.read.format("graft").load(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (2L, "b")))
    // ErrorIfExists refuses a second create
    intercept[IllegalStateException] {
      a.write.format("graft").save(root)
    }
    // Ignore is a no-op on an existing table
    Seq((9L, "z")).toDF("id", "s").write.format("graft")
      .mode(SaveMode.Ignore).save(root)
    assert(spark.read.format("graft").load(root).count() == 2)
    // Append commits a new version; Overwrite resets
    Seq((3L, "c")).toDF("id", "s").write.format("graft")
      .mode(SaveMode.Append).save(root)
    assert(spark.read.format("graft").load(root).count() == 3)
    Seq((7L, "q")).toDF("id", "s").write.format("graft")
      .mode(SaveMode.Overwrite).save(root)
    assert(spark.read.format("graft").load(root).count() == 1)
    // the writes ran the real commit protocol: versions are dense
    assert(TxnLog.versions(spark, root).map(_._2) ==
      Seq("overwrite", "append", "overwrite"))
  }

  test("versionAsOf time travel and write options reach the log") {
    val root = freshRoot()
    Seq((1L, "a")).toDF("id", "s").write.format("graft")
      .option("txnId", "load-1").save(root)
    Seq((2L, "b")).toDF("id", "s").write.format("graft")
      .mode(SaveMode.Append).option("txnId", "load-2").save(root)
    // idempotent replay: same txnId appends nothing
    Seq((2L, "b")).toDF("id", "s").write.format("graft")
      .mode(SaveMode.Append).option("txnId", "load-2").save(root)
    assert(TxnLog.latestVersion(spark, root) == 1L)
    assert(spark.read.format("graft").option("versionAsOf", "0")
      .load(root).count() == 1)
    assert(spark.read.format("graft").load(root).count() == 2)
    // a vacuumed/never-written pin fails loudly through the connector
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "7").load(root).count()
    }
  }

  test("pushed filters prune stats-on dirs; answers stay exact") {
    val root = freshRoot()
    // four disjoint id-quartile commits, stats on
    (0 to 3).foreach { i =>
      val df = spark.range(i * 100L, i * 100L + 100L)
        .select(col("id"), (col("id") % 7).as("v"))
      df.write.format("graft").mode(if (i == 0) SaveMode.Overwrite else SaveMode.Append)
        .option("collectStats", "true").save(root)
    }
    val rel = spark.read.format("graft").load(root)
    // a point predicate must open exactly ONE dir (census instrument)
    val hit = rel.filter(col("id") === 250L).collect()
    assert(hit.map(_.getLong(0)).toSeq == Seq(250L))
    val (opened, skipped) = GraftDataSource.lastScanCensus
    assert(opened < opened + skipped, s"census empty: $opened/$skipped")
    assert(skipped >= 3 * opened, // 1 of 4 equal-sized dirs admitted
      s"point filter should skip 3 of 4 quartile dirs: opened=$opened skipped=$skipped")
    // a one-sided bound prunes too, and rows match the filter
    val upper = rel.filter(col("id") >= 300L)
    assert(upper.count() == 100L)
    val (o2, s2) = GraftDataSource.lastScanCensus
    assert(s2 >= 3 * o2, s"one-sided bound should keep 1 of 4 dirs: $o2/$s2")
    // a STRICT bound at a dir boundary keeps that dir (inclusive
    // envelope — conservative, never wrong) and the exact filter
    // above the scan still discards its rows
    assert(rel.filter(col("id") > 299L).count() == 100L)
    // projection narrows the inner scan but returns the asked columns
    assert(rel.select("v").columns.toSeq == Seq("v"))
    // count(*) works through the empty-projection path
    assert(rel.count() == 400L)
  }

  test("relation reads apply deletion vectors and union widened schemas") {
    val root = freshRoot()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.format("graft").save(root)
    Seq((3L, "c", 30L)).toDF("id", "s", "extra").write.format("graft")
      .mode(SaveMode.Append).save(root)
    TxnLog.deleteMor(spark, root, col("id") === 2L)
    val rows = spark.read.format("graft").load(root)
      .orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(rows(0).isNullAt(2) && rows(1).getLong(2) == 30L)
  }

  test("streaming source: initial snapshot, then exactly the appended versions") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft_dsv1_ckpt").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.format("graft").save(root)
    Seq((3L, "c")).toDF("id", "s").write.format("graft")
      .mode(SaveMode.Append).save(root)

    // foreachBatch sink — the memory sink refuses checkpoint
    // recovery, and recovery is exactly what this test proves
    def runOnce(): Seq[Long] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.format("graft").load(root)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => got.add(r.getLong(0))); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq.sorted
    }
    // first run: the full snapshot at the stream's start version
    assert(runOnce() == Seq(1L, 2L, 3L))
    // two more appends land between runs
    Seq((4L, "d")).toDF("id", "s").write.format("graft")
      .mode(SaveMode.Append).save(root)
    Seq((5L, "e")).toDF("id", "s").write.format("graft")
      .mode(SaveMode.Append).save(root)
    // recovery from the checkpoint delivers exactly the delta
    assert(runOnce() == Seq(4L, 5L))
    // caught up: another run delivers nothing
    assert(runOnce() == Seq.empty)
  }

  test("maxVersionsPerTrigger bounds every micro-batch, initial snapshot included; the stream still catches up exactly") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft_dsv1_ckpt").toString
    // seven single-row commits (v0..v6)
    Seq((0L, "r0")).toDF("id", "s").write.format("graft").save(root)
    (1 to 6).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("id", "s").write.format("graft")
        .mode(SaveMode.Append).save(root)
    }
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    // a running (processing-trigger) stream: the limiter advances 2
    // versions per trigger until caught up. (Under AvailableNow the
    // engine latches ONE offer per run, so each run advances at most
    // the cap — use a running trigger for in-run catch-up.)
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "2").load(root)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect()
        sizes.add(rows.length.toLong)
        rows.foreach(r => ids.add(r.getLong(0))); ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    // catch-up is EXACT: every row once
    assert(ids.asScala.toSeq.sorted == (0L to 6L), s"got ${ids.asScala.toSeq.sorted}")
    // and BOUNDED: the capped initial snapshot (versions 0..1) plus
    // 2-version increments — never more than 2 rows per batch here
    val bs = sizes.asScala.toSeq.filter(_ > 0)
    assert(bs.forall(_ <= 2L), s"a batch exceeded the cap: $bs")
    assert(bs.size >= 4, s"expected >= 4 bounded batches, got $bs")
    // uncapped control: one snapshot batch carries everything
    val ckpt2 = Files.createTempDirectory("graft_dsv1_ckpt").toString
    val sizes2 = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q2 = spark.readStream.format("graft").load(root)
      .writeStream.option("checkpointLocation", ckpt2)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes2.add(df.count()); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(sizes2.asScala.toSeq.filter(_ > 0) == Seq(7L))
  }

  test("maxVersionsPerTrigger: restart after full catch-up never regresses the offset or re-serves committed versions") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft_dsv1_ckpt").toString
    Seq((0L, "r0")).toDF("id", "s").write.format("graft").save(root)
    (1 to 4).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("id", "s").write.format("graft")
        .mode(SaveMode.Append).save(root)
    }
    import scala.jdk.CollectionConverters._
    def runOnce(): Seq[Long] = {
      val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", "2").load(root)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => ids.add(r.getLong(0))); ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
      ids.asScala.toSeq.sorted
    }
    // first run catches up fully under the cap
    assert(runOnce() == (0L to 4L))
    // restart with NO new commits: the pre-fix limiter capped from
    // base = −1 and offered an offset BELOW the committed one, moving
    // the commit log backwards and re-serving versions as duplicates —
    // a restarted caught-up stream must deliver NOTHING
    assert(runOnce() == Seq.empty, "restart re-served committed versions")
    // and a third run after fresh appends delivers exactly the delta
    (5 to 7).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("id", "s").write.format("graft")
        .mode(SaveMode.Append).save(root)
    }
    assert(runOnce() == (5L to 7L))
  }

  test("connector reads splice into native vectorized scans: pushed filters, no RDD hop; answers, census and fallback intact") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val root = freshRoot()
    (0 until 4).foreach { i =>
      val df = spark.range(i * 100L, (i + 1) * 100L).toDF("id")
        .select(col("id"), (col("id") % 7).as("v"))
      df.write.format("graft").mode(if (i == 0) SaveMode.Overwrite else SaveMode.Append)
        .option("collectStats", "true").save(root)
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o.children.flatMap(nodes)
    })
    val df = spark.read.format("graft").load(root)
      .filter(col("id") === 250L).select("id", "v")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(250L)) // answer first
    val all = nodes(df.queryExecution.executedPlan)
    // the 100 TB property: NO InternalRow->Row->InternalRow hop — the
    // read plans as a vectorized parquet FileScan with pushed filters
    assert(!all.exists(_.getClass.getSimpleName.contains("RowDataSourceScan")),
      s"connector read still materializes through the DSv1 RDD[Row] hop:\n${df.queryExecution.executedPlan}")
    val scans = all.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, "expected a native FileSourceScan")
    assert(scans.exists(s =>
      s.metadata.getOrElse("PushedFilters", "").contains("id")),
      s"filters not pushed: ${scans.map(_.metadata.getOrElse("PushedFilters", "?"))}")
    assert(scans.forall(_.supportsColumnar),
      "parquet scan lost the vectorized (columnar) path")
    // the manifest-stats dir census is still reported by the spliced path
    val (opened, skipped) = GraftDataSource.lastScanCensus
    assert(skipped >= 3 * opened, s"census lost pruning: $opened/$skipped")
    // time travel splices too, pinned to the right snapshot
    val v0 = spark.read.format("graft").option("versionAsOf", 0).load(root)
    assert(v0.count() == 100L)
    assert(!nodes(v0.queryExecution.executedPlan)
      .exists(_.getClass.getSimpleName.contains("RowDataSourceScan")))
    // CDF reads splice too, same answer as the native feed
    val cdf = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", "2").load(root)
    assert(cdf.count() == 200L)
    assert(!nodes(cdf.queryExecution.executedPlan)
      .exists(_.getClass.getSimpleName.contains("RowDataSourceScan")))
    // kill switch: the DSv1 relation path still serves, same rows
    spark.conf.set("spark.graft.connector.substituteScan", "false")
    try {
      val off = spark.read.format("graft").load(root).filter(col("id") === 250L)
      assert(nodes(off.queryExecution.executedPlan)
        .exists(_.getClass.getSimpleName.contains("RowDataSourceScan")),
        "expected the DSv1 fallback under the kill switch")
      assert(off.collect().map(_.getLong(0)).toSeq == Seq(250L))
    } finally spark.conf.unset("spark.graft.connector.substituteScan")
  }

  test("streaming startingVersion: serve FROM a version with no initial snapshot; 'latest' = only new commits") {
    val root = freshRoot()
    (0 to 2).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("id", "s").write.format("graft")
        .mode(if (i == 0) SaveMode.Overwrite else SaveMode.Append).save(root)
    }
    import scala.jdk.CollectionConverters._
    def runOnce(ckpt: String, opts: Map[String, String]): Seq[Long] = {
      val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = opts.foldLeft(spark.readStream.format("graft")) {
          case (r, (k, v)) => r.option(k, v)
        }.load(root)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => ids.add(r.getLong(0))); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      ids.asScala.toSeq.sorted
    }
    // startingVersion=1: the first batch is commits 1..2, NO snapshot
    val ckptA = Files.createTempDirectory("graft_sv_ckpt").toString
    assert(runOnce(ckptA, Map("startingVersion" -> "1")) == Seq(1L, 2L))
    // 'latest': nothing until a commit lands after the stream starts
    val ckptB = Files.createTempDirectory("graft_sv_ckpt").toString
    assert(runOnce(ckptB, Map("startingVersion" -> "latest")) == Seq.empty)
    Seq((9L, "new")).toDF("id", "s").write.format("graft")
      .mode(SaveMode.Append).save(root)
    assert(runOnce(ckptB, Map("startingVersion" -> "latest")) == Seq(9L))
    // and the checkpointed stream keeps exactly-once from there
    assert(runOnce(ckptB, Map("startingVersion" -> "latest")) == Seq.empty)
    // out-of-range refuses loudly
    val ckptC = Files.createTempDirectory("graft_sv_ckpt").toString
    val e = intercept[Exception] { runOnce(ckptC, Map("startingVersion" -> "99")) }
    assert(e.getMessage.contains("out of range"), e.getMessage)
    // startingVersion=0: the first batch serves EVERY commit from the
    // table-creating version 0 (round-15 advice: the -1 predecessor
    // used to demand a manifest that never exists)
    val ckptD = Files.createTempDirectory("graft_sv_ckpt").toString
    assert(runOnce(ckptD, Map("startingVersion" -> "0")) == Seq(0L, 1L, 2L, 9L))
    // and stays exactly-once on replay
    assert(runOnce(ckptD, Map("startingVersion" -> "0")) == Seq.empty)
  }

  test("streaming startingVersion: an unreadable persisted marker fails the restart and names the file") {
    val root = freshRoot()
    Seq((0L, "r0")).toDF("id", "s").write.format("graft").save(root)
    val ckpt = Files.createTempDirectory("graft_sv_ckpt").toString
    import scala.jdk.CollectionConverters._
    def runOnce(): Seq[Long] = {
      val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.format("graft").option("startingVersion", "latest").load(root)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => ids.add(r.getLong(0))); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      ids.asScala.toSeq.sorted
    }
    // 'latest' resolves to version 1 and persists it
    assert(runOnce() == Seq.empty)
    val marker = new java.io.File(s"$ckpt/sources/0/graft-starting-version")
    assert(marker.isFile, s"no persisted startingVersion marker under $ckpt")
    Seq((1L, "r1")).toDF("id", "s").write.format("graft").mode(SaveMode.Append).save(root)
    // a torn marker must not read as absent: re-resolving 'latest'
    // against the moved log would skip version 1 for good
    java.nio.file.Files.writeString(marker.toPath, "garbage")
    val e = intercept[Exception](runOnce())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(msgs.exists(m => m != null && m.contains("graft-starting-version")), msgs.mkString(" | "))
    // the marker is left as it was for the operator to inspect
    assert(java.nio.file.Files.readString(marker.toPath) == "garbage")
  }

  test("limiter restart matrix: crashes between offset WAL and commit replay exactly-once") {
    // the round-15 limiter fix persisted a high-water mark so a
    // post-restart getOffset can never regress below the committed
    // offset; this matrix drives the REAL recovery path — a crash
    // after the offset is WAL-logged but before the batch commits —
    // at each stage of a rate-limited catch-up, asserting the whole
    // table is served exactly once across every restart
    val root = freshRoot()
    (0 to 5).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("id", "s").write.format("graft")
        .mode(if (i == 0) SaveMode.Overwrite else SaveMode.Append).save(root)
    }
    import scala.jdk.CollectionConverters._
    def run(ckpt: String, crashOnBatch: Option[Long]): Seq[Long] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", 2).load(root)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          if (crashOnBatch.contains(bid))
            throw new RuntimeException(s"injected crash at batch $bid")
          df.collect().foreach(r => got.add(r.getLong(0))); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          // only the INJECTED crash may terminate a run
          assert(e.getMessage.contains("injected crash"), e.getMessage)
      }
      got.asScala.toSeq.sorted
    }
    // under the v1 Trigger-Once fallback a rate-limited run advances
    // one bounded batch; a clean catch-up is a drain loop of them
    def drain(ckpt: String): Seq[Long] = {
      var all = Seq.empty[Long]
      var last = run(ckpt, None)
      while (last.nonEmpty) { all ++= last; last = run(ckpt, None) }
      all.sorted
    }
    // crash at batch 0: the very first offset is logged, nothing
    // committed — restart must re-serve from the start, exactly once
    val ckptA = Files.createTempDirectory("graft_lim_ckpt").toString
    val a0 = run(ckptA, crashOnBatch = Some(0L))
    val a1 = drain(ckptA)
    assert(a0.isEmpty && a1 == (0L to 5L), s"a0=$a0 a1=$a1")
    // crash mid-catch-up at batch 1: batch 0 committed, batch 1's
    // offset logged but uncommitted — restart replays 1 then drains
    val ckptB = Files.createTempDirectory("graft_lim_ckpt").toString
    val b0 = run(ckptB, crashOnBatch = Some(1L))
    val b1 = drain(ckptB)
    assert((b0 ++ b1).sorted == (0L to 5L), s"b0=$b0 b1=$b1")
    assert(b0.toSet.intersect(b1.toSet).isEmpty, s"duplicates across restart: b0=$b0 b1=$b1")
    // double crash: batch 1 crashes twice in a row, then a clean drain
    val ckptC = Files.createTempDirectory("graft_lim_ckpt").toString
    val c0 = run(ckptC, crashOnBatch = Some(1L))
    val c1 = run(ckptC, crashOnBatch = Some(1L))
    val c2 = drain(ckptC)
    assert((c0 ++ c1 ++ c2).sorted == (0L to 5L), s"c0=$c0 c1=$c1 c2=$c2")
    assert(c0.toSet.intersect(c2.toSet).isEmpty && c1.toSet.intersect(c2.toSet).isEmpty,
      s"duplicates across double restart: c0=$c0 c1=$c1 c2=$c2")
    // post-recovery liveness: a fresh append still arrives, once
    Seq((9L, "new")).toDF("id", "s").write.format("graft")
      .mode(SaveMode.Append).save(root)
    assert(drain(ckptC) == Seq(9L))
  }

  test("scan substitution survives self-joins and mixed-version joins of the same table") {
    val root = freshRoot()
    spark.range(0L, 100L).toDF("id")
      .select(col("id"), (col("id") % 7).as("v"))
      .write.format("graft").option("collectStats", "true").save(root)
    spark.range(100L, 150L).toDF("id")
      .select(col("id"), (col("id") % 7).as("v"))
      .write.format("graft").mode(SaveMode.Append)
      .option("collectStats", "true").save(root)
    // same-instance self-join: the analyzer dedups attribute ids, the
    // substitution must splice each side independently
    val df = spark.read.format("graft").load(root)
    val selfJoined = df.as("a").join(df.as("b"),
      col("a.id") === col("b.id") + 100L)
    assert(selfJoined.count() == 50L)
    // join of two different snapshots (time travel vs latest) of the
    // same table — distinct relations, distinct splices
    val v0 = spark.read.format("graft").option("versionAsOf", 0).load(root)
    val both = df.as("cur").join(v0.as("old"), Seq("id"), "left_anti")
    assert(both.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (100L to 149L))
    // and through pure SQL, with a filter pushed into one leg
    df.createOrReplaceTempView("graft_subst_t")
    val viaSql = spark.sql(
      s"""SELECT a.id FROM graft.`$root` a JOIN graft_subst_t b
         |ON a.id = b.id + 100 WHERE b.v = 0""".stripMargin)
    assert(viaSql.count() == df.filter(col("v") === 0 && col("id") < 50).count())
  }

  test("timestampAsOf accepts the date-only form; an unparseable value names the accepted formats") {
    val root = freshRoot()
    Seq((1L, "a")).toDF("id", "s").write.format("graft").save(root)
    Seq((2L, "b")).toDF("id", "s").write.format("graft")
      .mode(SaveMode.Append).save(root)
    // tomorrow (local) is after both commits → resolves to the latest
    val tomorrow = java.time.LocalDate.now().plusDays(1).toString
    val got = spark.read.format("graft")
      .option("timestampAsOf", tomorrow).load(root)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L))
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft")
        .option("timestampAsOf", "not-a-time").load(root).collect()
    }
    assert(e.getMessage.contains("yyyy-MM-dd"), e.getMessage)
  }

  test("SQL surface: CREATE TABLE USING graft, SELECT with pushdown, INSERT INTO") {
    val root = freshRoot()
    Seq((1L, "a")).toDF("id", "s").write.format("graft").save(root)
    spark.sql(s"CREATE TABLE graft_sql_t USING graft OPTIONS (path '$root')")
    try {
      assert(spark.sql("SELECT * FROM graft_sql_t").count() == 1L)
      spark.sql("INSERT INTO graft_sql_t VALUES (2, 'b')")
      assert(spark.sql("SELECT count(*) FROM graft_sql_t").head.getLong(0) == 2L)
      assert(spark.sql("SELECT s FROM graft_sql_t WHERE id = 2").head.getString(0) == "b")
      // the SQL writes ran the real commit protocol
      assert(TxnLog.versions(spark, root).map(_._2) == Seq("overwrite", "append"))
    } finally { spark.sql("DROP TABLE graft_sql_t"); () }
  }

  test("writeStream.format(\"graft\") appends exactly-once per micro-batch") {
    implicit val sql = spark.sqlContext
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft_sink_ckpt").toString
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    in.addData(1L, 2L)
    val q = in.toDF().toDF("id").writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start(root)
    q.awaitTermination()
    in.addData(3L)
    val q2 = in.toDF().toDF("id").writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start(root)
    q2.awaitTermination()
    assert(spark.read.format("graft").load(root).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // every commit carries its batch txnId — the exactly-once handle
    assert(TxnLog.versions(spark, root).forall(_._4.exists(_.startsWith("batch-"))))
  }

  test("table-to-table streaming replication: graft source into graft sink") {
    val src = freshRoot()
    val dst = freshRoot()
    val ckpt = Files.createTempDirectory("graft_t2t_ckpt").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.format("graft").save(src)
    def pump(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dst)
      q.awaitTermination()
    }
    pump()
    assert(spark.read.format("graft").load(dst).count() == 2L)
    Seq((3L, "c")).toDF("id", "s").write.format("graft")
      .mode(SaveMode.Append).save(src)
    pump()
    assert(spark.read.format("graft").load(dst).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // an idle pump moves nothing (no empty commits, no duplicates)
    val vBefore = TxnLog.latestVersion(spark, dst)
    pump()
    assert(TxnLog.latestVersion(spark, dst) == vBefore)
    assert(spark.read.format("graft").load(dst).count() == 3L)
  }

  test("readChangeFeed serves the row-level CDF through the connector") {
    val root = freshRoot()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.format("graft").save(root)
    Seq((3L, "c")).toDF("id", "s").write.format("graft")
      .mode(SaveMode.Append).save(root)
    TxnLog.deleteMor(spark, root, col("id") === 1L)
    val feed = spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load(root)
      .select("_commit_version", "_change_type", "id")
      .orderBy("_commit_version", "id").collect()
    assert(feed.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      == Seq((1L, "insert", 3L), (2L, "delete", 1L)))
    // endingVersion bounds the range; a missing startingVersion refuses
    val bounded = spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .option("endingVersion", "1").load(root)
    assert(bounded.count() == 1L)
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("readChangeFeed", "true").load(root)
    }
  }

  test("streaming source refuses rewrites by default; ignoreChanges skips them") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft_dsv1_ckpt").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.format("graft").save(root)
    def runOnce(ignore: Boolean): Seq[Long] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val r = spark.readStream.format("graft")
      val q = (if (ignore) r.option("ignoreChanges", "true") else r).load(root)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => got.add(r.getLong(0))); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq.sorted
    }
    assert(runOnce(ignore = false) == Seq(1L, 2L))
    // a copy-on-write DELETE rewrites the visible set
    TxnLog.delete(spark, root, col("id") === 1L)
    Seq((3L, "c")).toDF("id", "s").write.format("graft")
      .mode(SaveMode.Append).save(root)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce(ignore = false)
    }
    assert(ex.getMessage.contains("non-append commit")
      || Option(ex.getCause).exists(_.getMessage.contains("non-append commit")))
    // ignoreChanges: the rewrite is skipped, the append still arrives
    assert(runOnce(ignore = true) == Seq(3L))
  }
}
