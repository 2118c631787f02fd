package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal JSON rendering for the result file (Map, Seq, numbers,
  * strings, booleans, Option). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Seeds {
  /** A generator for one use (`salt`) of the run's seed. The seed goes
    * through SplitMix64 first: java.util.Random's first draws are
    * nearly the same for nearby seeds (101 to 110 all give the same
    * first `nextInt(2)`). */
  def random(seed: Long, salt: Long): scala.util.Random =
    new scala.util.Random(new java.util.SplittableRandom(seed * 1000003L + salt).nextLong())
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A seeded mix drawn in stratified rounds: each round draws one item
  * uniformly from every stratum and runs them in a shuffled order, so
  * every item is drawn with the same probability while each round
  * holds one op of every cost class. A closed loop stops at the first
  * round boundary after its window, so runs differ in which items
  * they draw, not in their mix of cheap and expensive ops. */
final class Rounds[A](strata: Seq[Seq[A]], rng: scala.util.Random) {
  private var round: List[A] = Nil
  def next(): A = {
    if (round.isEmpty) round = rng.shuffle(strata.map(s => s(rng.nextInt(s.size)))).toList
    val h = round.head
    round = round.tail
    h
  }
  def atBoundary: Boolean = round.isEmpty
}

/** One timed operation of a workload. `opId` ties it to its spans. */
final case class OpRecord(opId: Long, name: String, module: String,
                          seconds: Double, ok: Boolean, error: Option[String],
                          constructS: Double = 0.0, planS: Double = 0.0, execS: Double = 0.0,
                          outRows: Long = 0L, leftoverRdds: Int = 0, heapMb: Double = 0.0)

/** Everything a workload needs: parsed arguments, the run's private
  * directories, the session, and the (traced-run-only) meter. */
final class Ctx(val args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args.getOrElse("trace", "0") == "1"
  val cores: Int = args("cores").toInt
  val dataDir: String = args("data")
  val workDir: String = args("work")
  val spec: Spec = Spec.load(args("spec"))

  var spark: SparkSession = _
  var meter: Option[Meter] = None

  val conf: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  /** Extra numbers a workload reports besides the common ones. */
  val report: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  /** Per-layer metrics (traced run only). */
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val ops: mutable.ArrayBuffer[OpRecord] = mutable.ArrayBuffer.empty
  /** Failures found by the output checks after the timed loop. */
  val checkFailures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var retainedHeapMb = 0.0
  var gcMs = 0L
  private val born = System.nanoTime()

  /** Progress line on stderr (the run's jvm.log). */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.1fs $name")

  /** Start a fresh session whose temporary files stay inside this
    * run's work directory. */
  def startSession(): SparkSession = {
    val local = new File(workDir, "spark-local")
    local.mkdirs()
    val s = graft.core.GraftSession.builder(s"perfbench-$workload", cores)
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getPath)
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    spark = s
    s.conf.getAll.toSeq.sortBy(_._1)
      .filterNot { case (k, v) => Ctx.runSpecificConf(k) || v.contains(workDir) }
      .foreach { case (k, v) => conf(k) = v }
    s
  }

  def stopSession(): Unit = if (spark != null) {
    meter.foreach(_.close()); meter = None
    spark.stop(); spark = null
  }

  /** Attach the meter for a traced run. */
  def instrument(): Unit = if (traced) meter = Some(new Meter(spark.sparkContext))

  def warmUp(tables: Seq[String]): Unit = {
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count())
  }

  /** Time `once` (session start, warm-up, fixtures): the run's one set-up,
    * in a cold JVM, as setup_s. */
  def timedSetup(once: () => Unit): Unit = {
    phase("setup")
    val t0 = System.nanoTime()
    once()
    report("setup_s") = (System.nanoTime() - t0) / 1e9
  }

  def gcTotalMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Between-op hygiene, outside every timer: release the result's
    * checkpoints, count what is still persisted, free it, collect
    * garbage and sample the retained heap. */
  def afterOp(result: Option[DataFrame]): (Int, Double) = {
    result.foreach(df => try graft.core.Checkpoints.releaseAll(df) catch { case _: Throwable => () })
    val leftovers = spark.sparkContext.getPersistentRDDs
    val n = leftovers.size
    spark.catalog.clearCache()
    leftovers.values.foreach(_.unpersist(blocking = true))
    // the first collection queues the dead broadcasts and shuffles for
    // Spark's cleaner thread (it polls every 100 ms); the second one
    // measures the heap after the cleaner has freed their blocks
    System.gc()
    Thread.sleep(250)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    retainedHeapMb = math.max(retainedHeapMb, used)
    (n, used)
  }

  /** Build `name` with `fn`, plan it and materialize it in full, timing
    * the three phases; a traced run wraps each phase in a span.
    * `isolate = false` skips the between-op hygiene, for ops that share
    * the session with a concurrent writer. */
  def runQuery(name: String, module: String,
               fn: (SparkSession, String) => DataFrame,
               dir: String, prep: Option[(SparkSession, String) => Unit] = None,
               isolate: Boolean = true): OpRecord = {
    val m = meter
    val opId = m.map(_.newId()).getOrElse(0L)
    var df: DataFrame = null
    var phases = (0.0, 0.0, 0.0)
    var rows = 0L
    val gc0 = gcTotalMs()
    val t0 = System.nanoTime()
    val err: Option[String] =
      try {
        def construct(): Unit = { prep.foreach(_(spark, dir)); df = fn(spark, dir) }
        def plan(): Unit = { df.queryExecution.executedPlan; () }
        def execute(): Unit = { rows = df.queryExecution.toRdd.count() }
        m match {
          case None =>
            construct(); val t1 = System.nanoTime()
            plan(); val t2 = System.nanoTime()
            execute(); val t3 = System.nanoTime()
            phases = ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
          case Some(mt) =>
            mt.span(opId, 0L, s"op:$name") { root =>
              val a = mt.now(); mt.span(opId, root, "construct", "construct")(_ => construct())
              val b = mt.now(); mt.span(opId, root, "plan", "plan")(_ => plan())
              val c = mt.now(); mt.span(opId, root, "execute", "execute")(_ => execute())
              val d = mt.now()
              phases = ((b - a) / 1e9, (c - b) / 1e9, (d - c) / 1e9)
            }
        }
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val secs = (System.nanoTime() - t0) / 1e9
    gcMs += gcTotalMs() - gc0
    val (left, heap) = if (isolate) afterOp(Option(df)) else (0, 0.0)
    if (err.isDefined) System.err.println(s"[perfbench] op $name failed: ${err.get}")
    val r = OpRecord(opId, name, module, secs, err.isEmpty, err,
      phases._1, phases._2, phases._3, rows, left, heap)
    ops += r
    r
  }
}

object Ctx {
  /** Conf keys that differ between runs by construction (ids, ports,
    * start times); they and every value naming the run's own work
    * directory are left out of the recorded conf, and everything else
    * must match for two results to compare. */
  def runSpecificConf(k: String): Boolean =
    k == "spark.app.id" || k == "spark.app.startTime" || k == "spark.app.submitTime" ||
      k == "spark.driver.port" || k.startsWith("spark.driver.host") ||
      k == "spark.executor.id" || k.contains("extraJavaOptions")
}

/** The workload specification shared with the Python side
  * (`perfbench/spec.json`): query lists, cost strata and the
  * query-to-module map. */
final case class Spec(queries: Map[String, Seq[String]], strata: Map[String, Seq[Seq[String]]],
                      modules: Map[String, String]) {
  def moduleOf(q: String): String = modules.getOrElse(q, "other")
}

object Spec {
  def load(path: String): Spec = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    def strs(v: JValue): Seq[String] = v match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }
    val workloads = (root \ "workloads") match {
      case JObject(ws) => ws
      case _ => Nil
    }
    val queries = workloads.map { case (k, w) => k -> strs(w \ "queries") }.toMap
    val strata = workloads.map { case (k, w) => k -> ((w \ "strata") match {
      case JArray(ss) => ss.map(strs)
      case _ => Nil
    }) }.toMap
    val modules = (root \ "query_modules") match {
      case JObject(ms) => ms.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty[String, String]
    }
    Spec(queries, strata, modules)
  }
}
