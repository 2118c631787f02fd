package graft

import graft.core.{Checkpoints, GraftSession, Metrics}

/** Per-query cost breakdown for optimization work: splits each query's
  * wall time into driver-side plan build (analysis + optimization +
  * physical planning) and execution, and counts the jobs/stages the
  * execution submits. High plan share → simplify the expression tree;
  * many jobs → eager fixpoint rounds dominate; else executor work.
  *
  * Also the block-hygiene diagnostic: `leftovers` is the most persisted
  * RDDs any run left registered after it finished (the
  * `leftover_persisted_rdds` number Bench records), and when it is not
  * zero each leftover RDD is printed with its creation callsite.
  * Usage: runMain graft.Profile <sfDir> [query ...]   (default: all)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder("graft-profile").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same warm-up discipline as Bench
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    Engine.lakeTables.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    def fmt(d: Double): String = f"$d%.3f"
    println(f"${"query"}%-40s ${"plan_s"}%8s ${"exec_s"}%8s ${"total_s"}%8s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"leftovers"}%9s")
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        SparkEntry.layoutBuilds.get(n).foreach { b =>
          try b(spark, sfDir) catch { case e: Throwable =>
            System.err.println(s"[profile] layout build $n failed: ${e.getMessage}") }
          Checkpoints.resetBlocks(spark)
        }
        var leftovers = Seq.empty[org.apache.spark.rdd.RDD[_]]
        val rows = (1 to 3).flatMap { _ =>
          val r = try {
            val ((plan, exec), jobs) = Metrics.metered {
              val t0 = System.nanoTime()
              val df = fn(spark, sfDir)
              // force analysis + optimization + physical planning only
              df.queryExecution.executedPlan
              val t1 = System.nanoTime()
              df.queryExecution.toRdd.count()
              ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
            }
            Some((plan, exec, jobs))
          } catch { case e: Throwable =>
            System.err.println(s"[profile] $n failed: ${e.getMessage}"); None
          }
          val left = Checkpoints.resetBlocks(spark)
          if (left.size > leftovers.size) leftovers = left
          r
        }
        if (rows.nonEmpty) {
          val (plan, exec, m) = rows.minBy(r => r._1 + r._2)
          println(f"$n%-40s ${fmt(plan)}%8s ${fmt(exec)}%8s ${fmt(plan + exec)}%8s ${m.jobs}%5d ${m.stages}%6d ${m.tasks}%6d ${leftovers.size}%9d")
        }
        // RDD.toString is "<name> <class>[<id>] at <creation callsite>"
        leftovers.foreach(r => println(s"  $r"))
      }
    }
    spark.stop()
  }
}
