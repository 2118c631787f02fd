package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.sources.TxnLog

/** What every incremental TxnLog reader does with each action word:
  * `changesSince`, the `format("graft")` stream source (with and
  * without `ignoreChanges`), `changeFeed` and the append rebase of a
  * CAS writer each answer the one-commit range `(v-1, v]` right after
  * `v` commits. An answer is "serve" (rows), "skip" (nothing, no
  * error) or the raised exception's class plus a message keyword,
  * and every answer also pins the manifests the call parsed. */
class ChangeRangeSpec extends SparkSpec {
  import spark.implicits._

  /** (answer, manifests parsed) of one reader call. */
  private def outcome(body: => Boolean): (String, Long) = {
    val before = TxnLog.manifestReads.get()
    val answer =
      try { if (body) "serve" else "skip" }
      catch { case e: Exception => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    (answer, TxnLog.manifestReads.get() - before)
  }

  /** The five readers on `(since, until]`, `until` being the latest
    * version. The rebase probe runs last: a writer that derived a
    * one-row append from `since` meets the commits after it, and on
    * success publishes that append. */
  private def readers(root: String, since: Long, until: Long): Seq[(String, Long)] = Seq(
    outcome(!TxnLog.changesSince(spark, root, since).isEmpty),
    outcome(TxnLog.readAppendedBetween(spark, root, since, until,
      ignoreChanges = false).exists(!_.isEmpty)),
    outcome(TxnLog.readAppendedBetween(spark, root, since, until,
      ignoreChanges = true).exists(!_.isEmpty)),
    outcome(!TxnLog.changeFeed(spark, root, since, untilVersion = Some(until)).isEmpty),
    outcome {
      TxnLog.commit(TxnLog.read(spark, root).limit(1), root, "append", None,
        expectedLatest = Some(since))
      true
    })

  private val readerNames = Seq("changesSince", "stream", "stream+ignoreChanges",
    "changeFeed", "rebase")

  /** An expected answer: "serve", "skip", or "<Exception>: <keyword>"
    * (the message must contain the keyword). */
  private def agrees(expected: String, got: String): Boolean =
    if (expected == "serve" || expected == "skip") got == expected
    else {
      val (cls, keyword) = expected.splitAt(expected.indexOf(": "))
      got.startsWith(cls + ": ") && got.contains(keyword.drop(2))
    }

  /** Every cell of one table row that disagrees, named. */
  private def mismatches(step: String, expected: Seq[(String, Long)],
                         got: Seq[(String, Long)]): Seq[String] =
    readerNames.zip(expected.zip(got)).collect {
      case (reader, ((e, en), (g, gn))) if !agrees(e, g) || gn != en =>
        s"$step / $reader: expected '$e' parsing $en manifests, got '$g' parsing $gn"
    }

  private val NonAppend = "IllegalArgumentException: non-append commit"
  private val StreamRefuses = "IllegalStateException: non-append commit"
  private val StreamSchema = "IllegalStateException: schema commit"
  private val FeedRefuses = "IllegalArgumentException: rewrite/schema commit"
  private val Aborts = "ConcurrentModificationException: non-append commits interleaved"

  test("action x reader table: each incremental reader serves, skips or refuses every action word") {
    val root = Files.createTempDirectory("graft_range").toString + "/t"
    val bad = Seq.newBuilder[String]
    def row(step: String, v: Long, expected: (String, Long)*): Unit =
      bad ++= mismatches(step, expected, readers(root, v - 1L, v))
    // version 0 is the baseline against the empty predecessor: the
    // readers take it as additive whatever its action word, while a
    // writer that derived from the empty table still meets a racer's
    // overwrite and aborts
    row("overwrite (baseline)",
      TxnLog.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root),
      "serve" -> 2, "serve" -> 2, "serve" -> 2, "serve" -> 2, Aborts -> 5)
    row("append", TxnLog.append(Seq((3L, "c")).toDF("id", "s"), root),
      "serve" -> 3, "serve" -> 3, "serve" -> 3, "serve" -> 3, "serve" -> 6)
    row("set_check", TxnLog.addCheck(spark, root, "pos", "id > 0"),
      "skip" -> 3, "skip" -> 2, "skip" -> 2, "skip" -> 4, Aborts -> 6)
    row("drop_check", TxnLog.dropCheck(spark, root, "pos"),
      "skip" -> 3, "skip" -> 2, "skip" -> 2, "skip" -> 4, Aborts -> 6)
    row("add_column", TxnLog.addColumn(spark, root, "extra", "7"),
      "skip" -> 3, "skip" -> 2, "skip" -> 2, "skip" -> 4, Aborts -> 6)
    row("rename_column", TxnLog.renameColumn(spark, root, "s", "s2"),
      NonAppend -> 3, StreamSchema -> 2, StreamSchema -> 2, FeedRefuses -> 3, Aborts -> 6)
    row("drop_column", TxnLog.dropColumn(spark, root, "extra"),
      NonAppend -> 3, StreamSchema -> 2, StreamSchema -> 2, FeedRefuses -> 3, Aborts -> 6)
    row("replace", TxnLog.delete(spark, root, col("id") === 1L),
      NonAppend -> 3, StreamRefuses -> 2, "skip" -> 2, "serve" -> 3, Aborts -> 6)
    row("delete_mor", TxnLog.deleteMor(spark, root, col("id") === 2L),
      NonAppend -> 3, StreamRefuses -> 2, "skip" -> 2, "serve" -> 3, Aborts -> 6)
    row("overwrite", TxnLog.overwrite(Seq((4L, "d")).toDF("id", "s2"), root),
      NonAppend -> 3, StreamRefuses -> 2, "skip" -> 2, FeedRefuses -> 3, Aborts -> 6)
    row("restore", TxnLog.restore(spark, root, 1L),
      NonAppend -> 3, StreamRefuses -> 2, "skip" -> 2, FeedRefuses -> 3, Aborts -> 6)

    // clone and convert only ever commit a table's version 0, so they
    // meet the readers as the baseline
    val cloned = Files.createTempDirectory("graft_range").toString + "/c"
    bad ++= mismatches("clone (baseline)", Seq("serve" -> 2, "serve" -> 2, "serve" -> 2, "serve" -> 2,
      Aborts -> 5), readers(cloned, -1L, TxnLog.cloneTable(spark, root, cloned)))
    val pq = Files.createTempDirectory("graft_range").toString + "/pq"
    Seq((5L, "e"), (6L, "f")).toDF("id", "s").write.parquet(pq)
    val converted = Files.createTempDirectory("graft_range").toString + "/v"
    bad ++= mismatches("convert (baseline)", Seq("serve" -> 2, "serve" -> 2, "serve" -> 2, "serve" -> 2,
      Aborts -> 5), readers(converted, -1L, TxnLog.convertFromParquet(spark, pq, converted)))
    assert(bad.result().isEmpty, bad.result().mkString("\n", "\n", ""))
  }

  test("since = -1 after vacuum removed manifest 0: the history readers baseline on the oldest survivor, the range readers refuse") {
    val root = Files.createTempDirectory("graft_range").toString + "/t"
    TxnLog.overwrite(Seq((1L, "a")).toDF("id", "s"), root)
    (2L to 4L).foreach(i => TxnLog.append(Seq((i, s"s$i")).toDF("id", "s"), root))
    TxnLog.vacuum(spark, root, retainVersions = 2, orphanMinAgeMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_graft_log/00000000000000000000.json")) &&
      TxnLog.latestVersion(spark, root) == 3L)
    // changesSince and changeFeed take manifest 2 as the baseline and
    // serve the whole snapshot at 3
    assert(TxnLog.changesSince(spark, root, -1L).as[(Long, String)].collect().map(_._1).sorted
      .sameElements(Seq(1L, 2L, 3L, 4L)))
    assert(TxnLog.changeFeed(spark, root, -1L).select("id").as[Long].collect().sorted
      .sameElements(Seq(1L, 2L, 3L, 4L)))
    // the stream source and the rebase walk from manifest 0, which is gone
    val stream = intercept[IllegalStateException] {
      TxnLog.readAppendedBetween(spark, root, -1L, 3L, ignoreChanges = true)
    }
    assert(stream.getMessage.contains("manifest 0 missing"), stream.getMessage)
    val rebase = intercept[IllegalStateException] {
      TxnLog.commit(Seq((9L, "z")).toDF("id", "s"), root, "append", None,
        expectedLatest = Some(-1L))
    }
    assert(rebase.getMessage.contains("manifest 0 missing"), rebase.getMessage)
    // replicate walks the same history, but asks the feed for each
    // commit's own one-version range, whose predecessor is gone
    val replica = Files.createTempDirectory("graft_range").toString + "/r"
    val repl = intercept[IllegalArgumentException] {
      TxnLog.replicate(spark, root, replica, -1L, Seq("id"))
    }
    assert(repl.getMessage.contains("does not exist"), repl.getMessage)
  }
}
