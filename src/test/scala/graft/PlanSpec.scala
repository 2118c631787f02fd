package graft

/** Physical-plan regression guards: the scale-critical plan shapes
  * (broadcasts, pushdown, map-side window limits) must survive
  * refactors. String-level assertions on explain output are coarse but
  * catch the failure modes that matter (a broadcast silently becoming
  * a shuffle, a filter no longer reaching the scan).
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("runtime bloom filter injected on the probe side of a selective shuffle join") {
    // The automatic sibling of operators.BloomJoin: Catalyst's
    // InjectRuntimeFilter plants a bloom_filter_agg on the filtered
    // build side and a might_contain prefilter on the probe side, so
    // probe rows that cannot match die before the shuffle. Production
    // gates on a 10 GB probe scan; lower it so the sf0.001 fixture
    // exercises the same rule a 100 TB join depends on.
    import org.apache.spark.sql.functions.{col, count, lit}
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val l = spark.read.parquet(s"$dir/lineitem.parquet")
      val o = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"), p)
      assert(p.contains("bloom_filter_agg"), p)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("json_variant: VARIANT round-trip is a pure projection, zero planner exchanges") {
    val p = plan("json_variant")
    // the only exchange is the explicit parallelism bootstrap over the
    // single-row-group local events file (REPARTITION_BY_NUM origin);
    // the round-trip itself forces no distribution
    assert(!p.contains("ENSURE_REQUIREMENTS"), p)
    assert(p.contains("variant_get"), p)
  }

  test("fact_pruned: dim quarter filter prunes fact partitions at runtime (DPP)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    val df = SparkEntry.queries("fact_pruned")(spark, dir)
    assert(df.collect().nonEmpty)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // runtime proof, not just plan shape: the scan's own metrics say
    // how many partition directories were actually read after pruning
    val nodes = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    def walk(n: SparkPlan): Unit = {
      nodes += n
      n match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case other => other.children.foreach(walk)
      }
    }
    walk(df.queryExecution.executedPlan)
    val scan = nodes.collectFirst {
      case f: FileSourceScanExec if f.partitionFilters.nonEmpty => f
    }.getOrElse(fail(s"no partition-filtered scan in:\n$p"))
    val read = scan.metrics("numPartitions").value
    assert(read == 3, s"expected the 3 months of 1995-Q2 read, got $read")
  }

  test("zone_enrich: both lookup joins broadcast, no planner shuffle exchange") {
    val p = plan("zone_enrich")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    // the joins themselves force no distribution; the staging input's
    // lineitem bootstrap (REPARTITION origin) appears only when the file
    // reaches spark.sql.files.openCostInBytes, so at sf0.001 the plan
    // has no shuffle exchange at all
    assert(!p.contains("ENSURE_REQUIREMENTS"), p)
  }

  test("fact_trip: all three dim joins broadcast") {
    val p = plan("fact_trip")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
  }

  test("sim_pq: codes assign map-side off literal codebooks; the ADC join broadcasts") {
    val p = plan("sim_pq")
    assert(!p.contains("SortMergeJoin"), p)
    // round 16: the codebook join is GONE — corpus encode is a map-side
    // argmin over the inlined literal codebook (native long_sqdist); the
    // only join left is the per-query ADC distance table, broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p)
    assert(p.contains("long_sqdist"), p)
  }

  test("q1_agg: partial aggregation before the exchange") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("window_topk: rank filter bounded map-side by WindowGroupLimit") {
    val p = plan("window_topk")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("column pruning: q1_agg reads only the needed lineitem columns") {
    val p = plan("q1_agg")
    // lineitem has 16 columns; the query needs 4
    val readSchemas = "ReadSchema: [^\n]*lineitem[^\n]*".r.findAllIn(p).toList
    val scan = "struct<[^>]*l_orderkey[^>]*>".r.findFirstIn(p)
    assert(scan.exists(s => s.count(_ == ',') <= 4), s"unpruned scan: $scan")
  }

  test("q3_priority: top-10 runs as TakeOrderedAndProject, not a global sort") {
    val p = plan("q3_priority")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("tfidf_top_terms: no mandatory vocabulary broadcast; 1-row N folded in") {
    val p = plan("tfidf_top_terms")
    // the corpus-size side is one row and broadcast-nested-loop joined;
    // the tf<->df join strategy is left to Catalyst/AQE (a forced
    // broadcast of the full vocabulary would OOM at web scale)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"), p) // per-doc top-k bounded map-side
  }

  test("bloom_join: might_contain prefilter sits below the join, above the scan") {
    val p = plan("bloom_join")
    assert(p.contains("might_contain"), p)
    // the probe-side filter must be planned before the join, i.e. the
    // join node appears earlier (higher) in the tree printout than the
    // bloom predicate applied at the scan side
    val joinAt = p.indexOfSlice("HashJoin")
    val bloomAt = p.indexOf("might_contain")
    assert(joinAt >= 0 && bloomAt > joinAt,
      s"bloom filter should be on the probe branch below the join: $p")
  }

  test("distinct_sketch: KMV aggregate runs partial (map-side) before the exchange") {
    val p = plan("distinct_sketch")
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial mode pass — k longs per group cross the shuffle, not rows
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_kmv_distinct"), p)
  }

  private def shuffledColumns(name: String): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = SparkEntry.queries(name)(spark, dir)
    val nodes = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      nodes += p
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case other => other.children.foreach(walk)
      }
    }
    walk(df.queryExecution.executedPlan)
    // PLANNER-inserted exchanges only (the PlanLint wide-shuffle rule):
    // an explicit caller repartition (REPARTITION_BY_* origin) is the
    // parallelism bootstrap over an under-split local scan, or a shard
    // redistribution operator — moving the payload once is its point.
    nodes.collect {
      case s: ShuffleExchangeExec
          if s.shuffleOrigin == org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS =>
        s.output.map(_.name)
    }.flatten.toSeq
  }

  test("phrase_search: the match counter is pure scan->project, zero exchanges before the sort") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the only legal exchange is the final orderBy's range partitioning
    // over the narrow (doc_id, n_matches) result — no exchange may
    // carry text, and no exchange may sit below the counter
    val df = SparkEntry.queries("phrase_search")(spark, dir)
    val p = df.queryExecution.executedPlan
    def shuffles(n: SparkPlan): Seq[ShuffleExchangeExec] =
      (n +: n.children.flatMap(shuffles)).collect { case s: ShuffleExchangeExec => s }
    shuffles(p).foreach { s =>
      assert(!s.output.exists(_.name == "text"),
        s"phrase_search shuffles text: ${s.output.map(_.name)}")
    }
    assert(!p.toString.contains("Window"), "no window in the counter")
    assert(!p.toString.contains("Generate"), "no explode in the counter")
  }

  test("unimaxMix: budget frame broadcasts; no exchange carries the payload") {
    import graft.operators.Sampling
    import spark.implicits._
    val docs = (0 until 200).map(i =>
      (i.toLong, s"s${i % 3}", 5L + i % 7, "PAYLOAD-" * 10 + i)).toDF("id", "src", "w", "payload")
    val out = Sampling.unimaxMix(docs, "id", "w", "src", 300L, 500000L)
    val cols = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def walk(n: SparkPlan): Seq[String] =
        (n match {
          case s: ShuffleExchangeExec => s.output.map(_.name)
          case _ => Seq.empty
        }) ++ n.children.flatMap(walk)
      walk(out.queryExecution.executedPlan)
    }
    assert(!cols.contains("payload"), s"unimaxMix shuffles the payload: $cols")
    // the one-row-per-source budget frame joins by broadcast
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "budget frame should broadcast")
  }

  test("corpus operators never shuffle the document text") {
    // dedup/text pipelines shuffle hashes, signatures, ids — never the
    // raw document text column
    Seq("dedup_exact", "dedup_minhash", "dedup_containment", "decontaminate",
      "repetition", "corpus_filter", "doc_pack", "tfidf_top_terms",
      "span_dedup", "corpus_shuffle", "corpus_sample_tokens", "corpus_mix",
      "corpus_sample_per_source", "corpus_stats_by_source",
      "quality_gopher", "text_shingles", "keyword_search",
      "corpus_mix_tokens", "bm25_search", "lm_bigram_score",
      "span_dup_stats", "corpus_mix_temperature", "prefix_dup",
      "source_overlap", "bpe_encode", "corpus_ppl_sample",
      "blocklist_filter", "quality_score_linear", "domain_cap",
      "corpus_mix_unimax").foreach { q =>
      val cols = shuffledColumns(q)
      assert(!cols.contains("text"), s"$q shuffles text: $cols")
      // span_dedup additionally must not shuffle the token array
      if (q == "span_dedup")
        assert(!cols.contains("t"), s"$q shuffles token arrays: $cols")
    }
  }

  test("embedding-space operators never hash/range-shuffle the vectors") {
    // search/assignment consume embeddings map-side (broadcast query
    // sets, broadcast centroid argmin); rank and argmin exchanges
    // carry only (id, cell/score) tuples — the 100 TB contract. The
    // one exchange allowed to carry vectors is Parallelism.ensure's
    // ROUND-ROBIN repartition: the small-local-input guard, a no-op on
    // a real multi-split scan, and never keyed (no co-location cost).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    def keyedShuffleCols(name: String): Seq[String] = {
      val df = SparkEntry.queries(name)(spark, dir)
      val nodes = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
      def walk(p: SparkPlan): Unit = {
        nodes += p
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
          case other => other.children.foreach(walk)
        }
      }
      walk(df.queryExecution.executedPlan)
      nodes.collect {
        case s: ShuffleExchangeExec
            if !s.outputPartitioning.isInstanceOf[RoundRobinPartitioning] =>
          s.output.map(_.name)
      }.flatten.toSeq
    }
    Seq("sim_topk", "hard_negatives", "embed_cluster_sample",
      "semantic_dedup", "data_shapley_screened").foreach { q =>
      val cols = keyedShuffleCols(q)
      assert(!cols.contains("embedding") && !cols.contains("q_emb"),
        s"$q hash/range-shuffles embeddings: $cols")
    }
  }

  test("staging_agg_bucketed: re-aggregation over the bucketed layout plans NO exchange") {
    // the bucketed scan's hash partitioning (pickup_datetime ∈ group
    // keys) must satisfy the aggregation's distribution — the whole
    // point of the layout; a regression here silently reintroduces the
    // whole-table shuffle staging_agg pays
    val p = plan("staging_agg_bucketed")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("Bucketed: true"), p)
  }

  test("bucketed band catalog: the recurring screen join never re-shuffles the catalog side") {
    // the 100 TB re-ingest claim made concrete: the accepted-corpus
    // catalog (bucketed by band_hash ⊆ the screen join keys) must plan
    // exchange-free — only the ingest batch may shuffle. Broadcast is
    // disabled so the proof is about bucketing, not about the batch
    // side happening to be tiny at this SF. Asserted on the screen
    // join itself: the registered query's RETURNED frame is an eager
    // checkpoint (its executed plan is a bare RDD scan), so the join
    // plan must be rebuilt here the way incrementalNearDup builds it.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // materializes the fingerprint-keyed bucketed catalog table
      SparkEntry.queries("dedup_incremental_minhash_bucketed")(spark, dir)
      val table = spark.catalog.listTables().collect()
        .map(_.name).find(_.startsWith("graft_band_catalog_"))
        .getOrElse(fail("bucketed band catalog table was not created"))
      val docs = graft.core.Tables.documents(spark, dir)
      val batchBands = graft.dedup.Dedup.lshBands(
        graft.dedup.Dedup.minhashSignatures(docs.filter(col("doc_id") >= 250)))
      val screen = batchBands.join(
        spark.table(table).select(col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"), "left_semi")
      screen.queryExecution.toRdd.count() // AQE-final plan
      def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case o => o.children.flatMap(nodes)
      })
      val all = nodes(screen.queryExecution.executedPlan)
      def isCatalogScan(p: SparkPlan): Boolean = p match {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.toString.contains("graft_band_catalog_"))
        case _ => false
      }
      val catalogScans = all.collect { case s: FileSourceScanExec if isCatalogScan(s) => s }
      assert(catalogScans.nonEmpty, "expected a scan of the bucketed band catalog")
      assert(catalogScans.forall(_.relation.bucketSpec.isDefined),
        "catalog scan lost its bucket spec")
      val shuffledCatalog = all.collect {
        case e: ShuffleExchangeExec if nodes(e).exists(isCatalogScan) => e
      }
      assert(shuffledCatalog.isEmpty,
        s"catalog side re-shuffled:\n${shuffledCatalog.map(_.treeString).mkString}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed window-hash catalog screens exchange-free (broadcast off)") {
    // the substring-dedup twin of the band-catalog guard: with
    // broadcast disabled (the 100 TB regime — the accepted-corpus
    // catalog outgrows any broadcast threshold), the screen join must
    // read the whash-bucketed catalog WITHOUT re-shuffling it
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      SparkEntry.queries("substr_dedup_incremental_bucketed")(spark, dir)
      val table = spark.catalog.listTables().collect()
        .map(_.name).find(_.startsWith("graft_window_catalog_"))
        .getOrElse(fail("bucketed window catalog table was not created"))
      val docs = graft.core.Tables.documents(spark, dir)
      val screen = graft.dedup.Dedup.substrDedupIncremental(
        docs.filter(col("doc_id") >= 250), spark.table(table), w = 8)
      screen.queryExecution.toRdd.count()
      def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case o => o.children.flatMap(nodes)
      })
      val all = nodes(screen.queryExecution.executedPlan)
      def isCatalogScan(p: SparkPlan): Boolean = p match {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.toString.contains("graft_window_catalog_"))
        case _ => false
      }
      val catalogScans = all.collect { case s: FileSourceScanExec if isCatalogScan(s) => s }
      assert(catalogScans.nonEmpty, "expected a scan of the bucketed window catalog")
      assert(catalogScans.forall(_.relation.bucketSpec.isDefined),
        "catalog scan lost its bucket spec")
      // rebuilds/aggregations DOWNSTREAM of the screen join shuffle
      // post-join batch rows on other keys, legitimately — the claim
      // is about the join's CATALOG-SIDE input: between the bucketed
      // scan and the semi join there must be no exchange
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      // key on whash so the downstream doc_id rebuild join (whose
      // subtree transitively contains the scan) is not matched
      val screenJoins = all.collect {
        case j: SortMergeJoinExec
          if j.rightKeys.exists(_.sql.toLowerCase.contains("whash")) &&
            nodes(j.right).exists(isCatalogScan) => j
      }
      assert(screenJoins.nonEmpty, "expected a sort-merge screen join over the catalog")
      screenJoins.foreach { j =>
        val shuffled = nodes(j.right).collect { case e: ShuffleExchangeExec => e }
        assert(shuffled.isEmpty,
          s"catalog side re-shuffled below the screen join:\n${j.right.treeString}")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("filter pushdown reaches the parquet scan") {
    import org.apache.spark.sql.functions.col
    val df = graft.core.Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") && p.contains("GreaterThan(l_quantity"), p)
  }

  test("retention_cohorts: two user_id exchanges max, cohort side partially aggregated") {
    // The cohort derivation and the join back both cluster events by
    // user_id. Exchange REUSE is deliberately absent: the cohort side
    // partial-aggregates (partial_min per map partition) BELOW its
    // exchange, so it shuffles per-user rows while the join side
    // shuffles events — different payloads, and trading the partial
    // agg for a shared raw exchange would shuffle MORE bytes at 100 TB,
    // not fewer. The guard pins what actually matters: exactly the two
    // user_id exchanges (a third would mean the join re-shuffles one
    // side) and the map-side combine surviving on the cohort branch.
    // Broadcast disabled = the 100 TB regime (per-user cohorts are not
    // broadcastable at scale; at tiny SF AQE would broadcast and hide
    // the join's distribution requirements).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("retention_cohorts")(spark, dir)
      df.collect() // AQE-final plan
      // count in the FINAL plan only — AdaptiveSparkPlan.toString
      // appends the initial plan, which would double every match
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val userIdExchanges =
        "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
      assert(userIdExchanges <= 2, s"events shuffled $userIdExchanges times on user_id:\n$p")
      assert(p.contains("partial_min"),
        s"cohort branch lost its map-side partial aggregation:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("keyword_search runs the scan→explode→tf subtree once (AQE exchange reuse)") {
    val df = SparkEntry.queries("keyword_search")(spark, dir)
    df.collect() // AQE reuse materializes at runtime, not in the static plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"tf/df branches should share the exploded-corpus exchange:\n$p")
  }
}
