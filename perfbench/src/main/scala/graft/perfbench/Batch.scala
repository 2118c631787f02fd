package graft.perfbench

import graft.SparkEntry

/** `olap_mix`: one closed-loop client drawing queries from the serving
  * surface in seeded stratified rounds (one query of every cost stratum
  * per round), each fully materialized, until the run's seconds are
  * spent and the round is complete. */
object OlapMix {
  def run(ctx: Ctx): Unit = {
    val strata = ctx.spec.strata("olap_mix")
    require(strata.flatten.sorted == ctx.spec.queries("olap_mix").sorted,
      "olap_mix strata must partition its query list")
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events")
    ctx.timedSetup { () =>
      ctx.startSession()
      ctx.warmUp(tables)
      // the join-then-aggregate and window paths under most of the mix,
      // three times, so the JVM serves warm, as a long-lived engine
      // would (after one pass the first ops of the mix still ran 1.3 to
      // 1.9 times their usual latency); per-query code generation stays
      // in the ops
      import org.apache.spark.sql.functions.{col, row_number, sum}
      (1 to 3).foreach { _ =>
        graft.taxi.TaxiShape.staging(ctx.spark, ctx.dataDir).groupBy("vendor_id")
          .agg(sum("fare_amount")).queryExecution.toRdd.count()
        graft.core.Tables.events(ctx.spark, ctx.dataDir)
          .withColumn("n", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("ts")))
          .groupBy("event_type").agg(sum(col("n"))).queryExecution.toRdd.count()
      }
    }
    // the between-op hygiene before the first op too: set-up garbage
    // is not collected inside it
    ctx.afterOp(None)
    ctx.instrument()
    ctx.phase("timed loop")
    val rounds = new Rounds(strata, Seeds.random(ctx.seed, 1))
    val all = SparkEntry.queries
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds || !rounds.atBoundary) {
      val q = rounds.next()
      ctx.runQuery(q, ctx.spec.moduleOf(q), all(q), ctx.dataDir)
    }
    ctx.report("window_s") = (System.nanoTime() - t0) / 1e9
    ctx.meter.foreach { m =>
      Layers.fromOps(ctx, m)
      ctx.layers("core.table_load_s") = Layers.tableLoadS(ctx)
    }
    Checks.dumpResults(ctx, ctx.ops.map(_.name).distinct.toSeq, ctx.dataDir)
  }
}

/** `curation_batch`: the curation jobs once each, in a seeded order,
  * over the perturbed-text expansion of the generated corpus. A job's
  * layout build runs inside its timed op. */
object CurationBatch {
  /** Fixed round counts of the graph loops (semantics, not tuning). */
  val graphRounds: Map[String, Int] = Map("pagerank_neardup" -> 5, "label_prop" -> 4)

  def run(ctx: Ctx): Unit = {
    val names = ctx.spec.queries("curation_batch")
    val dir = ctx.dataDir
    ctx.timedSetup { () => ctx.startSession(); ctx.warmUp(Seq("documents", "embeddings")) }
    ctx.instrument()
    val order = Seeds.random(ctx.seed, 2).shuffle(names)
    val all = SparkEntry.queries
    val stages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var ccRounds = 0
    val w0 = System.nanoTime()
    order.foreach { q =>
      ctx.runQuery(q, ctx.spec.moduleOf(q), all(q), dir, SparkEntry.layoutBuilds.get(q))
      if (q == "corpus_prepare") stages ++= graft.pipeline.CorpusPipeline.lastStageSeconds.get()
      if (q == "dedup_incremental_minhash" || q == "corpus_prepare")
        ccRounds = math.max(ccRounds, graft.dedup.Dedup.lastCcRounds.get())
    }
    ctx.report("wall_s") = ctx.ops.map(_.seconds).sum
    ctx.report("window_s") = (System.nanoTime() - w0) / 1e9
    ctx.report("order") = order
    ctx.meter.foreach { m =>
      Layers.fromOps(ctx, m, graphRounds)
      ctx.layers("core.table_load_s") = Layers.tableLoadS(ctx)
      ctx.layers("dedup.cc_rounds") = ccRounds.toDouble
      Layers.prepareStages.foreach(s =>
        ctx.layers(s"pipeline.prepare_${s}_s") = stages.getOrElse(s, 0.0))
    }
    Checks.dumpResults(ctx, order, dir)
  }
}

/** Output checks that need the engine: dump each distinct query's
  * result for the DuckDB oracle compare done by `perfbench/oracle.py`. */
object Checks {
  def dumpResults(ctx: Ctx, names: Seq[String], dir: String): Unit = {
    ctx.phase("output checks: dump results")
    val out = new java.io.File(ctx.workDir, "check")
    out.mkdirs()
    // four at a time, as graft.Verify dumps: independent jobs share the
    // local scheduler; a failed dump leaves no result, which the oracle
    // compare then reports as that query's mismatch
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try names.map { q =>
      pool.submit(new Runnable {
        def run(): Unit =
          try SparkEntry.queries(q)(ctx.spark, dir).coalesce(1).write.mode("overwrite")
            .parquet(s"$out/$q")
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] result dump of $q failed: ${e.getMessage}")
          }
      })
    }.foreach(_.get())
    finally pool.shutdown()
    val sql = names.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap
    java.nio.file.Files.writeString(new java.io.File(out, "oracle_sql.json").toPath, Json(sql))
    ctx.report("check_dir") = out.getPath
    ctx.report("check_data_dir") = dir
  }
}
