package graft.perfbench

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  *   --workload olap_mix|curation_batch|cdc_ingest --seed N --seconds S
  *   --trace 0|1 --cores K --data DIR --work DIR --spec FILE --out FILE
  *
  * Runs one workload in this process against the library's public
  * API and writes the raw result (per-op records, end-to-end numbers,
  * per-layer metrics of a traced run, check failures) to `--out`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val ctx = new Ctx(args)
    val started = System.nanoTime()
    try {
      ctx.workload match {
        case "olap_mix" => OlapMix.run(ctx)
        case "curation_batch" => CurationBatch.run(ctx)
        case "cdc_ingest" => CdcIngest.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val spansFile = ctx.meter.map { m =>
        val p = args("out").stripSuffix(".json") + ".spans.jsonl"
        Layers.writeSpans(p, m.allSpans)
        p
      }
      ctx.layers("jvm.gc_s") = ctx.gcMs / 1000.0
      // a layer the workload never enters reads 0
      if (ctx.traced) Layers.names.foreach(n => ctx.layers.getOrElseUpdate(n, 0.0))
      val ops = ctx.ops.toSeq
      val lat = ops.map(_.seconds)
      val result = Map(
        "workload" -> ctx.workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
        "trace" -> ctx.traced, "cores" -> ctx.cores, "conf" -> ctx.conf,
        "ops" -> ops.map(o => Map("op" -> o.opId, "name" -> o.name, "module" -> o.module,
          "s" -> o.seconds, "ok" -> o.ok, "error" -> o.error,
          "construct_s" -> o.constructS, "plan_s" -> o.planS, "exec_s" -> o.execS,
          "rows" -> o.outRows, "leftover_rdds" -> o.leftoverRdds, "heap_mb" -> o.heapMb)),
        "e2e" -> (Map(
          "op_p50_s" -> Stats.median(lat),
          "op_p90_s" -> Stats.quantile(lat, 0.9),
          "ops_per_s" -> (if (lat.sum > 0) ops.size / lat.sum else 0.0),
          "retained_heap_mb" -> ctx.retainedHeapMb,
          "ops" -> ops.size) ++ ctx.report),
        "layers" -> ctx.layers,
        "check_failures" -> ctx.checkFailures,
        "spans_file" -> spansFile,
        "process_s" -> (System.nanoTime() - started) / 1e9)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args("out")), Json(result))
    } finally ctx.stopSession()
  }
}
