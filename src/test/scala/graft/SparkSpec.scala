package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared local session for all suites (one JVM, forked by sbt). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", cores = 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
}
