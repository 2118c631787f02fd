package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a named interval on the benchmark's side of a layer
  * boundary. Spans of one op share `opId`; `parent` is the id of the
  * span that caused it (0 for a root). Times are ns since the run's
  * epoch. */
final case class Span(id: Long, parent: Long, opId: Long, name: String,
                      startNs: Long, endNs: Long)

/** Spark runtime counters of one op, filled by [[Meter]]'s listener
  * from the jobs the op's thread launched. */
final class OpCounters {
  var jobs = 0L; var constructJobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var execTaskRunMs = 0L; var taskCpuNs = 0L; var taskGcMs = 0L
  var scanRows = 0L; var scanBytes = 0L
  var shuffleBytes = 0L; var shuffleRecords = 0L; var fetchWaitMs = 0L
  var spillBytes = 0L
  /** [submit, complete] wall-clock ms of every stage run in the execute phase. */
  val execStageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Traced-run instrumentation: an in-memory span recorder plus a
  * SparkListener that attributes jobs, stages and tasks to the op whose
  * thread submitted them (through a thread-local Spark property), so a
  * streaming micro-batch and a concurrent reader are metered apart.
  * Untraced runs never construct one. */
final class Meter(sc: SparkContext) {
  private val epoch = System.nanoTime()
  /** Wall-clock ms at `epoch`, to place spans against listener times. */
  val epochMs: Long = System.currentTimeMillis()
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ops = new ConcurrentHashMap[Long, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, (Long, String)]()

  def now(): Long = System.nanoTime() - epoch
  def newId(): Long = nextId.getAndIncrement()

  /** Time `body` as a span named `name` under `parent` of op `opId`
    * and tag every job it submits with the op and the phase. */
  def span[A](opId: Long, parent: Long, name: String, phase: String = null)(body: Long => A): A = {
    val id = newId()
    val prevOp = sc.getLocalProperty(Meter.OpKey)
    val prevPhase = sc.getLocalProperty(Meter.PhaseKey)
    sc.setLocalProperty(Meter.OpKey, opId.toString)
    if (phase != null) sc.setLocalProperty(Meter.PhaseKey, phase)
    val t0 = now()
    try body(id)
    finally {
      spans.add(Span(id, parent, opId, name, t0, now()))
      sc.setLocalProperty(Meter.OpKey, prevOp)
      sc.setLocalProperty(Meter.PhaseKey, prevPhase)
    }
  }

  def counters(opId: Long): OpCounters = ops.computeIfAbsent(opId, _ => new OpCounters)

  /** Block until every listener event posted so far has been handled. */
  def flush(): Unit = org.apache.spark.GraftListenerAccess.waitUntilListenerBusEmpty(sc)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startNs, s.id))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(Meter.OpKey))).foreach { op =>
        val phase = props.flatMap(p => Option(p.getProperty(Meter.PhaseKey))).getOrElse("")
        val id = op.toLong
        e.stageIds.foreach(s => stageOp.put(s, (id, phase)))
        val c = counters(id)
        c.synchronized {
          c.jobs += 1
          if (phase == "construct") c.constructJobs += 1
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOp.get(e.stageInfo.stageId)).foreach { case (id, phase) =>
        val c = counters(id)
        c.synchronized {
          c.stages += 1
          if (phase == "execute")
            for (s <- e.stageInfo.submissionTime; t <- e.stageInfo.completionTime)
              c.execStageIntervals += ((s, t))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { case (id, phase) =>
        val c = counters(id)
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.taskRunMs += m.executorRunTime
            if (phase == "execute") c.execTaskRunMs += m.executorRunTime
            c.taskCpuNs += m.executorCpuTime
            c.taskGcMs += m.jvmGCTime
            c.scanRows += m.inputMetrics.recordsRead
            c.scanBytes += m.inputMetrics.bytesRead
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
            c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            c.spillBytes += m.diskBytesSpilled
          }
        }
      }
  }
  sc.addSparkListener(listener)

  def close(): Unit = { flush(); sc.removeSparkListener(listener) }
}

object Meter {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  /** Length of `[from, to]` (ms) not covered by any of `intervals`. */
  def uncoveredMs(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cursor = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cursor) { covered += b - math.max(a, cursor); cursor = b }
      }
    math.max(0L, (to - from) - covered)
  }
}
