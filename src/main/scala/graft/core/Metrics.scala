package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Post-execution plan metrics — the numbers that matter when a query
  * moves from local testing to a 1000-executor cluster: how much was
  * shuffled, whether anything spilled, how many files the scans
  * touched. Reads the executed plan's SQL metrics after driving the
  * query, descending through AQE stage wrappers.
  */
object Metrics {

  final case class PlanMetrics(
      rowsOut: Long,
      shuffleBytesWritten: Long,
      shuffleRecordsWritten: Long,
      spillBytesDisk: Long,
      spillBytesMemory: Long,
      filesRead: Long,
      scanRowsRead: Long) {
    def spilled: Boolean = spillBytesDisk > 0
  }

  /** Drive `df`'s own query execution to completion (full output
    * materialization) and sum its plan-tree metrics. */
  def measure(df: DataFrame): PlanMetrics = {
    val rows = df.queryExecution.toRdd.count()
    val nodes = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      nodes += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        // ReusedExchangeExec points back at an exchange subtree that is
        // already reachable from its own branch; counting it again would
        // inflate shuffle/scan sums (identity-dedup makes the revisit a
        // no-op even when the reuse target sits in a later sibling).
        case r: ReusedExchangeExec => walk(r.child)
        case other => other.children.foreach(walk)
      }
    }
    walk(df.queryExecution.executedPlan)
    def sumOf(keys: String*): Long = nodes.flatMap(_.metrics).collect {
      case (name, m) if keys.contains(name) && m.value > 0 => m.value
    }.sum
    PlanMetrics(
      rowsOut = rows,
      shuffleBytesWritten = sumOf("shuffleBytesWritten", "bytesWritten"),
      shuffleRecordsWritten = sumOf("shuffleRecordsWritten", "recordsWritten"),
      spillBytesDisk = sumOf("spillSize", "diskBytesSpilled"),
      spillBytesMemory = sumOf("memoryBytesSpilled"),
      filesRead = sumOf("numFiles"),
      scanRowsRead = nodes.collect {
        case s if s.nodeName.contains("Scan") =>
          s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum)
  }

  /** Totals of every job one metered body ran: counts plus task
    * volumes summed over completed stages. `inputRecords` is what the
    * scans read across all jobs (the plan walk in [[measure]] sees
    * only the final plan's scans). */
  final case class JobTotals(
      jobs: Long,
      stages: Long,
      tasks: Long,
      shuffleBytes: Long,
      shuffleRecords: Long,
      spillDisk: Long,
      spillMemory: Long,
      inputRecords: Long)

  /** Evaluate `body` under a job/stage listener and return its result
    * with the [[JobTotals]] of every job it ran. The one stage meter:
    * Bench wraps every timed run in it, Profile every profiled run.
    *
    * `body` is BY-NAME, and that is load-bearing: the eager fixpoint
    * operators (connected components, PageRank, the corpus pipeline)
    * run most of their jobs while the query CONSTRUCTOR evaluates, so
    * the listener must attach before the frame exists or those jobs
    * go uncounted. The listener bus is flushed before the listener
    * detaches (events are posted asynchronously); a failed flush is
    * logged and rethrown, never swallowed.
    *
    * Only this body may be running jobs on the session while metering
    * — a concurrent job's stages would be counted too. Requires an
    * active session. */
  def metered[A](body: => A): (A, JobTotals) = {
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val jobs, stages, tasks, shufB, shufR, spillD, spillM, inRecs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shufB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufR.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          spillD.addAndGet(m.diskBytesSpilled)
          spillM.addAndGet(m.memoryBytesSpilled)
          inRecs.addAndGet(m.inputMetrics.recordsRead)
        }
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      try org.apache.spark.GraftListenerAccess.waitUntilListenerBusEmpty(sc)
      catch { case e: Throwable =>
        System.err.println(s"[metrics] listener bus flush failed: $e")
        throw e
      }
      (result, JobTotals(jobs.get, stages.get, tasks.get, shufB.get, shufR.get,
        spillD.get, spillM.get, inRecs.get))
    } finally sc.removeSparkListener(listener)
  }
}
