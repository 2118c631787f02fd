package graft.perfbench

/** Per-layer metrics of a traced run, derived from the op records, the
  * spans and the listener counters. Every name is always reported so
  * all workloads print the same set; a layer a workload never enters
  * reads 0. Times and counts are means per op of the kind named in
  * the metric's description (see perfbench/README.md). */
object Layers {

  val modules: Seq[String] = Seq("core", "taxi", "staging", "warehouse", "validate", "clean",
    "operators", "streaming", "dedup", "functions", "similarity", "pipeline")

  val prepareStages: Seq[String] =
    Seq("filter_keeplist", "neardup_pairs", "decontaminate", "cc_fixpoint")

  val sourcesNames: Seq[String] = Seq("sources.upsert_s", "sources.compact_s",
    "sources.commit_bytes", "sources.commit_files", "sources.live_files", "sources.read_s",
    "sources.asof_read_s", "sources.change_feed_s", "sources.point_read_s",
    "sources.point_rows_scanned_per_hit")

  val streamingNames: Seq[String] = Seq("streaming.trigger_s", "streaming.add_batch_s",
    "streaming.planning_s", "streaming.wal_commit_s", "streaming.latest_offset_s",
    "streaming.batches", "streaming.backlog_files_max", "streaming.decode_rows")

  val names: Seq[String] =
    Seq("construct_s", "construct_jobs", "plans.plan_s", "exec_s",
      "spark.jobs", "spark.stages", "spark.tasks", "spark.sched_idle_s", "spark.busy_ratio",
      "spark.task_cpu_s", "spark.task_gc_s",
      "spark.scan_rows", "spark.scan_bytes", "spark.scan_rows_per_out_row",
      "spark.shuffle_bytes", "spark.shuffle_records", "spark.shuffle_fetch_wait_s",
      "spark.spill_bytes", "core.table_load_s", "core.leftover_rdds") ++
      modules.flatMap(m => Seq(s"$m.op_s", s"$m.jobs")) ++
      Seq("dedup.cc_rounds") ++ prepareStages.map(s => s"pipeline.prepare_${s}_s") ++
      Seq("operators.graph_jobs_per_round") ++ sourcesNames ++ streamingNames ++
      Seq("gen.late_s", "jvm.gc_s", "trace.spans")

  /** Fill the op-phase, Spark-runtime, scan/shuffle, core and module
    * layers from the query-shaped ops of `ctx`. */
  def fromOps(ctx: Ctx, m: Meter, graphRounds: Map[String, Int] = Map.empty): Unit = {
    m.flush()
    val L = ctx.layers
    val ops = ctx.ops.toSeq.filter(_.ok)
    def mean(f: OpRecord => Double): Double = Stats.mean(ops.map(f))
    val c = ops.map(o => o -> m.counters(o.opId)).toMap
    def cmean(f: OpCounters => Double): Double = Stats.mean(ops.map(o => f(c(o))))
    L("construct_s") = mean(_.constructS)
    L("construct_jobs") = cmean(_.constructJobs.toDouble)
    L("plans.plan_s") = mean(_.planS)
    L("exec_s") = mean(_.execS)
    L("spark.jobs") = cmean(_.jobs.toDouble)
    L("spark.stages") = cmean(_.stages.toDouble)
    L("spark.tasks") = cmean(_.tasks.toDouble)
    // exec-phase wall minus the part covered by a running stage
    val spans = m.allSpans
    val execSpans = spans.filter(_.name == "execute").groupBy(_.opId)
    L("spark.sched_idle_s") = Stats.mean(ops.map { o =>
      execSpans.get(o.opId).map { ss =>
        val s = ss.head
        val wallStart = m.epochMs + s.startNs / 1000000L
        val wallEnd = m.epochMs + s.endNs / 1000000L
        Meter.uncoveredMs(wallStart, wallEnd, c(o).execStageIntervals.toSeq) / 1000.0
      }.getOrElse(0.0)
    })
    L("spark.busy_ratio") = Stats.mean(ops.filter(_.execS > 0).map(o =>
      c(o).execTaskRunMs / 1000.0 / (ctx.cores * o.execS)))
    L("spark.task_cpu_s") = cmean(_.taskCpuNs / 1e9)
    L("spark.task_gc_s") = cmean(_.taskGcMs / 1000.0)
    L("spark.scan_rows") = cmean(_.scanRows.toDouble)
    L("spark.scan_bytes") = cmean(_.scanBytes.toDouble)
    L("spark.scan_rows_per_out_row") = Stats.mean(ops.map(o =>
      c(o).scanRows.toDouble / math.max(1L, o.outRows)))
    L("spark.shuffle_bytes") = cmean(_.shuffleBytes.toDouble)
    L("spark.shuffle_records") = cmean(_.shuffleRecords.toDouble)
    L("spark.shuffle_fetch_wait_s") = cmean(_.fetchWaitMs / 1000.0)
    L("spark.spill_bytes") = cmean(_.spillBytes.toDouble)
    L("core.leftover_rdds") = if (ops.isEmpty) 0.0 else ops.map(_.leftoverRdds).max.toDouble
    modules.foreach { mod =>
      val mine = ops.filter(_.module == mod)
      L(s"$mod.op_s") = Stats.mean(mine.map(_.seconds))
      L(s"$mod.jobs") = Stats.mean(mine.map(o => c(o).jobs.toDouble))
    }
    val graph = ops.filter(o => graphRounds.contains(o.name))
    L("operators.graph_jobs_per_round") =
      Stats.mean(graph.map(o => c(o).jobs.toDouble / graphRounds(o.name)))
    L("trace.spans") = spans.size.toDouble
  }

  /** Median seconds of one call of each source loader the library
    * wraps (`Tables.lineitem`/`documents`/`events`), summed. */
  def tableLoadS(ctx: Ctx): Double = {
    import graft.core.Tables
    val loaders: Seq[(org.apache.spark.sql.SparkSession, String) => Any] =
      Seq(Tables.lineitem, Tables.documents, Tables.events)
    loaders.map { f =>
      Stats.median((1 to 5).map { _ =>
        val t0 = System.nanoTime(); f(ctx.spark, ctx.dataDir); (System.nanoTime() - t0) / 1e9
      })
    }.sum
  }

  /** Write the spans of a traced run as JSON lines. */
  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.opId, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}
