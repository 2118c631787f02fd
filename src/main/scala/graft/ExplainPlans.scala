package graft

import graft.core.GraftSession

/** Plan-inspection utility: prints `explain("formatted")` for the named
  * queries (or all) against a testdata dir, on the same session config
  * (extensions included) Bench times them under. Usage:
  *   runMain graft.ExplainPlans <sfDir> [query ...]
  */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder("graft-explain").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      // pre-flight advisor: same rules the PlanSpec guards assert
      graft.plans.PlanLint.lint(df) match {
        case Seq() => println("[lint] clean")
        case fs => fs.foreach(f =>
          println(s"[lint] ${f.severity} ${f.rule}: ${f.detail}"))
      }
    }
    spark.stop()
  }
}
