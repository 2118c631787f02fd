package graft

/** End-to-end smoke over the driver contract at sf0.001. */
class EntrySpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs and returns rows at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("every oracle key has a matching query") {
    val queries = SparkEntry.queries.keySet
    val oracle = SparkEntry.oracleSql.keySet
    assert(oracle == queries, s"queries without oracle SQL: ${queries -- oracle}; " +
      s"oracle SQL without a query: ${oracle -- queries}")
    // every per-query side table is keyed by a registered query name
    def strays(keys: Iterable[String]): Set[String] = keys.toSet -- queries
    assert(strays(SparkEntry.layoutBuilds.keys).isEmpty, strays(SparkEntry.layoutBuilds.keys))
    assert(strays(Bench.lintExempt.keys).isEmpty, strays(Bench.lintExempt.keys))
    assert(strays(Bench.scalingExempt.keys).isEmpty, strays(Bench.scalingExempt.keys))
  }

  test("corpus lists layout carries the stage split of the build that made it") {
    // the split must describe the run the cached lists came from, even
    // in a JVM that served them from cache and never ran the pipeline
    val dir = "/root/testdata/sf0.001"
    val s1 = SparkEntry.corpusListsStages(spark, dir) // builds if absent
    assert(Set("filter_keeplist", "neardup_pairs", "cc_fixpoint")
      .subsetOf(s1.keySet), s1.keySet.toString)
    assert(s1.values.forall(_ >= 0.0))
    // second read = pure cache hit, same persisted split
    assert(SparkEntry.corpusListsStages(spark, dir) == s1)
  }

  test("variant schema inference merges heterogeneous payload schemas") {
    // Completes the VARIANT story json_variant starts (parse once,
    // extract typed): schema_of_variant_agg folds one MERGED schema
    // over heterogeneous payloads — how a 100 TB semi-structured
    // column gets a shredding schema without a second parse pass.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("""{"k": 1}""", """{"k": 2, "s": "x"}""", """{"k": 3, "s": null}""")
      .toDF("j").select(parse_json(col("j")).as("v"))
    val merged = df.agg(schema_of_variant_agg(col("v")).as("s")).head.getString(0)
    assert(merged.contains("k") && merged.contains("s"), merged)
    // and per-row inference sees only that row's fields
    val first = df.limit(1).select(schema_of_variant(col("v"))).head.getString(0)
    assert(first.contains("k") && !first.contains("s"), first)
  }
}
