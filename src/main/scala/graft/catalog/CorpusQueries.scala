package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions
import Fragments._

/** Training-corpus curation: quality scoring, sampling and mixing,
  * packing, export, privacy gates and the shared prepared snapshot. */
object CorpusQueries {

  /** Gopher-rules quality filter (Rae et al. 2021): integer measures +
    * cross-multiplied ratio flags, engine-exact. `minRequiredHits = 1`
    * because the synthetic corpus vocabulary carries only one of the
    * closed-class required words (the paper's web-text default is 2). */
  private def qualityGopher(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("m", TextFunctions.gopherMeasures(col("text")))
      .withColumn("f", TextFunctions.gopherFlags(col("m"), minRequiredHits = 1))
      .select(col("doc_id"),
        col("m.n_words"), col("m.word_len_sum"), col("m.n_alpha_words"),
        col("m.n_symbols"), col("m.n_lines"), col("m.n_bullet_lines"),
        col("m.n_ellipsis_lines"), col("m.req_stop_hits"),
        col("f.word_count_ok"), col("f.word_len_ok"), col("f.symbol_ok"),
        col("f.bullet_ok"), col("f.ellipsis_ok"), col("f.alpha_ok"),
        col("f.stopword_ok"), col("f.keep"))

  /** Per-source/per-language corpus report with ROLLUP subtotals —
    * the "what's in my training mix" dashboard query. One partial+final
    * hash aggregate; rollup adds no extra shuffle. */
  private def corpusStatsBySource(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", TextFunctions.wsTokenCount(col("text")))
      .rollup(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum("toks").as("sum_tokens"),
        sum("n_chars").as("sum_chars"),
        grouping_id().as("grp"))

  /** The cached lists are a SEMANTIC artifact: they encode the
    * pipeline's parameters and algorithm, not just the input bytes —
    * so the layout prefix carries a version tag that MUST be bumped
    * whenever the prepare() call below (params) or the pipeline's
    * algorithms change semantics. Without it, a cross-JVM cache hit
    * after a code change would replay stale decisions and the oracle
    * compare would catch it only as an unexplained hash mismatch. */
  private val CorpusListsVersion = "v2-wt256-ns8-mj0.8-meo0.1" // v2: +stages.json

  /** ONE eager pipeline run per source snapshot, shared by the three
    * corpus queries: [[graft.pipeline.CorpusPipeline.prepare]] runs
    * once (under [[graft.sources.LayoutCache]], keyed on a content
    * fingerprint of `documents.parquet` — the amortized layout-build
    * discipline, metered separately by Bench), its narrow decision
    * lists persist as parquet, and every consumer re-assembles the
    * SAME snapshot's lazy tail from them. This mirrors production —
    * the funnel report and the per-doc audit describe the run that
    * shipped, not three independent re-runs — and the oracles are
    * unchanged because the lists are deterministic. */
  private[graft] def corpusListsDir(spark: SparkSession, dir: String): String = {
    val fp = graft.sources.LayoutCache.contentFingerprint(
      Seq(new java.io.File(dir, "documents.parquet")))
    graft.sources.LayoutCache.ensure(s"graft_corpus_lists_$CorpusListsVersion",
      new java.io.File(dir).getName, fp) { tmp =>
      val docs = Tables.documents(spark, dir)
      val bucket = graft.operators.Sampling.hashBucket(col("doc_id"), "decon")
      val prep = graft.pipeline.CorpusPipeline.prepare(
        docs.filter(bucket < 80), evalDocs = Some(docs.filter(bucket >= 80)),
        windowTokens = 256, nShards = 8)
      try {
        prep.lists.keepIds.write.parquet(s"$tmp/keep_ids")
        prep.lists.dupOf.write.parquet(s"$tmp/dup_of")
        prep.lists.dirtyIds.get.write.parquet(s"$tmp/dirty_ids")
        // the eager stage split travels WITH the snapshot it describes:
        // a later JVM serving these lists from cache never ran
        // prepare(), so the bench reads the split from here instead of
        // reporting an empty one ([[corpusListsStages]])
        val stages = graft.pipeline.CorpusPipeline.lastStageSeconds.get()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(tmp, "stages.json"),
          stages.map { case (k, v) => s""""$k":$v""" }
            .mkString("{", ",", "}"))
        // the three Spark writes leave their own markers; LayoutCache's
        // completeness contract wants one at the layout root
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(tmp, "_SUCCESS"), "")
        ()
      } finally prep.release()
    }
  }

  private def corpusPreparedShared(spark: SparkSession,
                                   dir: String): graft.pipeline.CorpusPipeline.Prepared = {
    val p = corpusListsDir(spark, dir)
    val lists = graft.pipeline.CorpusPipeline.PreparedLists(
      spark.read.parquet(s"$p/keep_ids"),
      spark.read.parquet(s"$p/dup_of"),
      Some(spark.read.parquet(s"$p/dirty_ids")))
    val docs = Tables.documents(spark, dir)
    val bucket = graft.operators.Sampling.hashBucket(col("doc_id"), "decon")
    graft.pipeline.CorpusPipeline.assemble(
      docs.filter(bucket < 80), lists, windowTokens = 256, nShards = 8)
  }

  /** Flagship one-call corpus preparation
    * ([[graft.pipeline.CorpusPipeline.prepare]]): quality filter →
    * MinHash-LSH near-dup removal → benchmark decontamination against
    * the held-out 20% hash split → fixed-window sequence packing.
    * Output is the training-ready packed frame (placement + text),
    * re-assembled from the shared snapshot lists (see
    * [[corpusListsDir]]). */
  private def corpusPrepare(spark: SparkSession, dir: String): DataFrame =
    corpusPreparedShared(spark, dir).packed

  /** Sharded training export round-trip
    * ([[graft.sources.TrainingExport.export]]): documents packed into
    * 8 shards, exported one-file-per-shard with a content manifest,
    * read back — the oracle is the identity on the exported columns
    * (the manifest fingerprints are spec-tier:
    * `TrainingExportSpec`). */
  private def exportShards(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"),
      (col("doc_id") % 8).cast("int").as("shard"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
    // per-PROCESS path — same rationale as json_shred: the rewrite is
    // the operator, and cross-JVM sharing would race reader vs writer
    val out = graft.sources.TempDirs.perProcess(
      s"graft_export_${dirFingerprint(dir)}")
    graft.sources.TrainingExport.export(docs, out, "shard", "n_tokens",
      orderCols = Seq("doc_id"))
    spark.read.parquet(out)
      .select(col("doc_id"), col("shard").cast("int").as("shard"), col("n_tokens"))
  }

  /** JSONL twin of [[exportShards]]
    * ([[graft.sources.TrainingExport.exportJsonl]]): same
    * one-file-per-shard, declared-order, recomputed-manifest
    * discipline over the text format trainers stream; the oracle is
    * the same read-back identity (types pinned by the declared
    * schema, never inferred from the on-disk text). */
  private def exportShardsJsonl(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"),
      (col("doc_id") % 8).cast("int").as("shard"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
    val out = graft.sources.TempDirs.perProcess(
      s"graft_export_jsonl_${dirFingerprint(dir)}")
    graft.sources.TrainingExport.exportJsonl(docs, out, "shard", "n_tokens",
      orderCols = Seq("doc_id"))
    val dataSchema = org.apache.spark.sql.types.StructType(
      docs.schema.fields.filterNot(_.name == "shard"))
    spark.read.schema(dataSchema).json(out)
      .select(col("doc_id"), col("shard").cast("int").as("shard"), col("n_tokens"))
  }

  /** Seeded ε-DP count release ([[graft.validate.Privacy.dpCounts]]):
    * per-language document counts released at ε = 0.5 with Laplace
    * noise that is a pure function of (seed, group) — md5-derived
    * uniform bucket through the literal inverse-CDF table — so the
    * release is reproducible and the oracle inlines the SAME table
    * literals (generated by the same Scala function) and replays the
    * mechanism exactly. The symmetry/scaling/determinism laws are
    * PrivacySpec rows. */
  private def dpCountsQ(spark: SparkSession, dir: String): DataFrame =
    graft.validate.Privacy.dpCounts(
      Tables.documents(spark, dir).select("lang"), "lang",
      epsMicro = 500000L)

  /** Seeded ε-DP bounded-sum release
    * ([[graft.validate.Privacy.dpSum]]): per-event-type spend totals
    * with values clamped at \$80 (sensitivity = the cap) and
    * Laplace(cap/ε) noise at ε = 0.5 — the same seeded-LUT
    * discipline as `dp_counts`, with the clamp replayed in SQL. */
  private def dpSumQ(spark: SparkSession, dir: String): DataFrame =
    graft.validate.Privacy.dpSum(
      Tables.events(spark, dir).select("event_type", "value"),
      "event_type", "value", capMicro = 80000000L, epsMicro = 500000L)

  /** k-anonymity release gate ([[graft.validate.Privacy]]): events
    * under QI (event_type, day, value decile) — one aggregate keyed
    * by the QI tuple, one O(1) report row with exposure in exact
    * basis points. */
  private def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(
      col("event_type"),
      to_date(col("ts")).as("day"),
      floor(col("value") / 10).cast("long").as("value_decile"))
    graft.validate.Privacy.kAnonymityReport(
      e, Seq("event_type", "day", "value_decile"), k = 5)
  }

  /** l-diversity audit ([[graft.validate.Privacy.lDiversityGroups]]):
    * classes under QI (event_type, day) whose sensitive value-decile
    * takes < 3 distinct values — the leak k-anonymity misses (a
    * uniform class re-identifies its sensitive value at ANY k). */
  private def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(
      col("event_type"),
      to_date(col("ts")).as("day"),
      floor(col("value") / 10).cast("long").as("value_decile"))
    graft.validate.Privacy.lDiversityGroups(
      e, Seq("event_type", "day"), "value_decile", l = 3)
  }

  /** Pipeline capstone: the SHARED prepared snapshot's packed corpus
    * ([[corpusPreparedShared]]) exported as JSONL training shards with
    * a recomputed manifest ([[graft.sources.TrainingExport
    * .exportJsonl]]) and read back schema-pinned — curation → packing
    * → export → consumption in one oracle-checked chain (the oracle
    * is `corpus_prepare`'s staged CTE replay: export→read-back is the
    * identity). */
  private def corpusExport(spark: SparkSession, dir: String): DataFrame = {
    val packed = corpusPreparedShared(spark, dir).packed
    val out = graft.sources.TempDirs.perProcess(
      s"graft_corpus_export_${dirFingerprint(dir)}")
    graft.sources.TrainingExport.exportJsonl(packed, out, "shard", "n_tokens",
      orderCols = Seq("bin_id", "offset_in_bin", "doc_id"))
    val dataSchema = org.apache.spark.sql.types.StructType(
      packed.schema.fields.filterNot(_.name == "shard"))
    val back = spark.read.schema(dataSchema).json(out)
    // an empty packed corpus (every doc filtered) exports no partition
    // directories, so the shard column must be restored as typed null
    val withShard =
      if (back.columns.contains("shard")) back
      else back.withColumn("shard", lit(null).cast("int"))
    withShard
      .select(col("doc_id"), col("shard").cast("int").as("shard"),
        col("n_tokens"), col("start_tok"), col("bin_id"),
        col("offset_in_bin"), col("text"))
  }

  /** Packing fragmentation report: per shard, how many packed
    * documents CROSS a context-window boundary (a fragmented document
    * trains on a truncated prefix/suffix — the packing-quality metric
    * that decides window size and shard order policies), in exact
    * basis points. One narrow aggregate over the shared snapshot's
    * placement frame. */
  private def packFragmentation(spark: SparkSession, dir: String): DataFrame =
    corpusPreparedShared(spark, dir).packed
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(expr("start_tok div 256") =!=
          expr("(start_tok + n_tokens - 1) div 256"), 1L)
          .otherwise(0L)).as("n_crossing"))
      .select(col("shard"), col("n_docs"), col("n_crossing"),
        expr("(n_crossing * 10000) div greatest(n_docs, 1)").as("crossing_bps"))

  /** Batched model-inference plumbing
    * ([[graft.operators.Inference.batchScore]]): the deterministic
    * hash model scores every document through the real batching path
    * (64-doc batches, per-partition init, contract checks); the
    * oracle replays the fake model's formula row-wise. */
  private def modelScore(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Inference.batchScore(
      Tables.documents(spark, dir),
      graft.operators.Inference.hashScoreModel, batchSize = 64)

  /** Per-doc provenance of [[corpusPrepare]]
    * ([[graft.pipeline.CorpusPipeline.Prepared.disposition]]): why
    * each input document survived or died — quality gate, duplicate
    * (with the kept representative), contamination — in the
    * pipeline's own stage order, read from the SAME snapshot lists
    * the prepare query packs (audit the run that shipped). */
  private def corpusDisposition(spark: SparkSession, dir: String): DataFrame =
    corpusPreparedShared(spark, dir).disposition

  /** Curation funnel: disposition counts of [[corpusDisposition]] —
    * the one-row-per-stage survival report an ops dashboard tracks
    * across corpus snapshots (input → quality gate → dedup →
    * decontamination). */
  private def corpusFunnel(spark: SparkSession, dir: String): DataFrame =
    corpusDisposition(spark, dir)
      .groupBy(col("disposition"))
      .agg(count(lit(1)).as("n_docs"))

  /** The corpus_prepare oracle's staged CTE chain (quality gate,
    * near-dup pairs + recursive CC, decontamination) up to the
    * `clean` survivors — shared by the `corpus_prepare` packing tail
    * and the `corpus_disposition` provenance tail. */
  private lazy val corpusStagesCtesSql: String =
    s"""WITH RECURSIVE split AS (
       |  SELECT doc_id, text,
       |    CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), 'decon')), 1, 15)) AS BIGINT) % 100 AS bucket
       |  FROM documents),
       |corpus AS (SELECT doc_id, text FROM split WHERE bucket < 80),
       |ev AS (SELECT doc_id, text FROM split WHERE bucket >= 80),
       |flt AS (
       |  SELECT doc_id,
       |    len($toksSql) >= 20 AS len_ok,
       |    doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS not_dup
       |  FROM corpus),
       |grams AS (
       |  SELECT doc_id, CAST(concat('0x', substring(md5(gr), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(range(1, len($toksSql)),
       |            i -> $toksSql[i] || ' ' || $toksSql[i+1])) AS gr
       |        FROM corpus)),
       |per AS (SELECT doc_id, h, count(*) AS c FROM grams GROUP BY doc_id, h),
       |rep AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
       |          CAST(max(c) AS BIGINT) AS top_count
       |        FROM per GROUP BY doc_id),
       |repok AS (
       |  SELECT c.doc_id,
       |    CASE WHEN COALESCE(r.n_2grams, 0) = 0 THEN 0.0
       |         ELSE CAST(r.top_count AS DOUBLE) / CAST(r.n_2grams AS DOUBLE)
       |    END < 0.2 AS rep_ok
       |  FROM corpus c LEFT JOIN rep r ON c.doc_id = r.doc_id),
       |kept AS (
       |  SELECT c.doc_id, c.text
       |  FROM corpus c JOIN flt f ON c.doc_id = f.doc_id
       |    JOIN repok r ON c.doc_id = r.doc_id
       |  WHERE f.len_ok AND f.not_dup AND r.rep_ok),
       |docs2 AS (SELECT doc_id, $shinglesSql AS shingles FROM kept),
       |sigs AS (
       |  SELECT doc_id, shingles,
       |    list_transform(range(0, 12), j ->
       |      list_aggregate(list_transform(shingles,
       |        s -> (CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % 2147483648
       |              + j * (CAST(concat('0x', substring(md5(s), 16, 15)) AS BIGINT) % 2147483648))
       |             % 2147483648), 'min')) AS sig
       |  FROM docs2 WHERE len(shingles) > 0),
       |bands AS (
       |  SELECT doc_id, b AS band_idx,
       |    concat_ws(',', sig[b*3+1], sig[b*3+2], sig[b*3+3]) AS band_hash
       |  FROM sigs, range(0, 4) AS t(b)),
       |bsz AS (
       |  SELECT band_idx, band_hash FROM bands
       |  GROUP BY band_idx, band_hash HAVING count(*) <= 1000),
       |bands2 AS (
       |  SELECT b.doc_id, b.band_idx, b.band_hash
       |  FROM bands b JOIN bsz USING (band_idx, band_hash)),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands2 a JOIN bands2 b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |  WHERE a.doc_id < b.doc_id),
       |ver AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM cands c JOIN sigs a ON c.doc_a = a.doc_id
       |    JOIN sigs b ON c.doc_b = b.doc_id
       |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
       |    / CAST(len(a.shingles) + len(b.shingles)
       |           - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) >= 0.8),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM ver
       |      UNION SELECT doc_b, doc_a FROM ver),
       |reach(src, dst) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
       |dd AS (
       |  SELECT k.doc_id, k.text FROM kept k
       |  WHERE k.doc_id NOT IN (
       |    SELECT src FROM reach GROUP BY src HAVING min(dst) <> src)),
       |tsh AS (SELECT DISTINCT CAST(concat('0x', substring(md5(sh), 1, 15)) AS BIGINT) AS h
       |        FROM (SELECT unnest($shinglesSql) AS sh FROM ev)),
       |tesh AS (SELECT doc_id, CAST(concat('0x', substring(md5(sh), 1, 15)) AS BIGINT) AS h
       |         FROM (SELECT doc_id, unnest($shinglesSql) AS sh FROM dd)),
       |tot AS (SELECT doc_id, CAST(len($shinglesSql) AS BIGINT) AS n_shingles FROM dd),
       |m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched
       |      FROM tesh WHERE h IN (SELECT h FROM tsh) GROUP BY doc_id),
       |clean AS (
       |  SELECT t.doc_id FROM tot t LEFT JOIN m ON t.doc_id = m.doc_id
       |  WHERE CASE WHEN t.n_shingles = 0 THEN 0.0
       |        ELSE CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)
       |        END <= 0.1)""".stripMargin

  /** Deterministic shard + shuffle for training export
    * ([[graft.operators.Sampling.shardShuffle]]). */
  private def corpusShuffle(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.shardShuffle(
      Tables.documents(spark, dir).select("doc_id"), "doc_id", nShards = 8, salt = "r4")

  /** Domain-weighted mix ([[graft.pipeline.CorpusPipeline.mixSources]]):
    * per-source keep rates, reported as kept docs + whitespace tokens
    * (the budget currency). */
  private def corpusMix(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val weights = Map("src0" -> 80, "src1" -> 60, "src2" -> 40, "src3" -> 20)
    graft.pipeline.CorpusPipeline
      .mixSources(Tables.documents(spark, dir), weights, defaultPct = 10, salt = "mix")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextFunctions.tokens(col("text"))).cast("bigint")).as("n_tokens"))
  }

  /** Token-budget sampling ([[graft.operators.Sampling.weightedSample]]):
    * keep ~1 document per 2000 tokens of cumulative weight,
    * deterministic integer arithmetic, inclusion probability ∝ token
    * count. */
  private def corpusSampleTokens(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    // text rides through the sampler on purpose: weightedSample windows
    // over a narrow internal (key, weight, hash) projection and
    // semi-joins the kept keys back, so the payload column must cross
    // no exchange — PlanSpec asserts exactly that on this query
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.operators.Sampling.weightedSample(
      docs, "doc_id", "n_tokens", step = 2000L, nShards = 8, salt = "tb")
  }

  /** Fixed-size per-source sample
    * ([[graft.operators.Sampling.topKPerStratum]]): the 3 smallest-
    * hash docs per source — text rides through to prove the payload
    * stays out of the rank exchange. */
  private def corpusSamplePerSource(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.topKPerStratum(
      Tables.documents(spark, dir).select("doc_id", "source", "text"),
      "doc_id", "source", k = 3, salt = "ps")

  /** Deterministic synthetic crawl URLs over the documents table —
    * every normalization hazard in one construction: uppercase scheme/
    * host, explicit default ports, a tracking param, an out-of-order
    * query, optional trailing slash and fragment, and two TLD families
    * so the registered-domain cut is non-trivial. */
  private def syntheticUrls(spark: SparkSession, dir: String,
                            keep: Seq[String] = Nil): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id") +: keep.map(col) :+
      concat(
        when(col("doc_id") % 2 === 0, lit("HTTP://")).otherwise(lit("HTTPS://")),
        lit("WWW."), upper(col("source")),
        when(col("doc_id") % 2 === 0, lit(".Example.COM:80"))
          .otherwise(lit(".Sample.CO.UK:443")),
        lit("/Docs/"), (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=feed&b=2&a=1"),
        when(col("doc_id") % 5 === 0, lit("&fbclid=XYZ")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("#frag")).otherwise(lit(""))).as("url")
      : _*)

  val specs: Seq[QuerySpec] = Seq(
    // the deterministic fake model is a pure function of the text, so
    // the oracle replays it row-wise — what's actually being verified
    // is the batching plumbing (grouping, zip alignment, micro units)
    QuerySpec("model_score", modelScore,
      """SELECT doc_id,
        |  CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT) % 1000000 AS score_micros
        |FROM documents""".stripMargin),
    // class sizes replayed from the same QI grouping; exposure share
    // seeded Laplace release: the noise LUT literals are generated by
    // the SAME Scala function the engine uses, so they cannot drift;
    // bucket = md5-derived uniform over (group, seed)
    QuerySpec("dp_counts", dpCountsQ, {
      val lut = graft.validate.Privacy.laplaceLutMicro(500000L, 512)
        .mkString("[", ", ", "]")
      s"""WITH g AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |    CAST(CAST(concat('0x', substring(md5(concat(COALESCE(lang, ''), 'dp')), 1, 15)) AS BIGINT) % 512 AS INTEGER) AS bucket
         |  FROM documents GROUP BY 1)
         |SELECT lang,
         |  CAST(n * 1000000 + ($lut)[bucket + 1] AS BIGINT) AS noisy_count_micro,
         |  CAST(500000 AS BIGINT) AS epsilon_micro
         |FROM g""".stripMargin
    }),
    // bounded-sum DP release: clamp bounds the sensitivity at the cap;
    // the noise LUT is the dp_counts table scaled by cap/1
    QuerySpec("dp_sum", dpSumQ, {
      val lut = graft.validate.Privacy
        .laplaceLutMicro(500000L, 512, sensMicro = 80000000L)
        .mkString("[", ", ", "]")
      s"""WITH g AS (
         |  SELECT event_type,
         |    CAST(SUM(GREATEST(0, LEAST(80000000,
         |      CAST(round(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT)))) AS BIGINT) AS s,
         |    CAST(CAST(concat('0x', substring(md5(concat(COALESCE(event_type, ''), 'dp-sum')), 1, 15)) AS BIGINT) % 512 AS INTEGER) AS bucket
         |  FROM events GROUP BY 1)
         |SELECT event_type,
         |  CAST(s + ($lut)[bucket + 1] AS BIGINT) AS noisy_sum_micro,
         |  CAST(500000 AS BIGINT) AS epsilon_micro,
         |  CAST(80000000 AS BIGINT) AS cap_micro
         |FROM g""".stripMargin
    }),
    // is one integral division of non-negative longs (// == div)
    QuerySpec("k_anonymity", kAnonymity,
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(value / 10) AS BIGINT) AS value_decile
        |  FROM events),
        |c AS (
        |  SELECT event_type, day, value_decile, count(*) AS class_size
        |  FROM e GROUP BY 1, 2, 3)
        |SELECT CAST(SUM(class_size) AS BIGINT) AS n_rows,
        |  count(*) AS n_classes,
        |  CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT) AS violating_classes,
        |  CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT) AS exposed_rows,
        |  CAST((SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) * 10000)
        |       // SUM(class_size) AS BIGINT) AS exposed_bps,
        |  CAST(MIN(class_size) AS BIGINT) AS min_class_size,
        |  SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) = 0 AS k_anonymous
        |FROM c""".stripMargin),
    // export → read-back inverts, so the oracle is the identity on
    // the exported columns (manifest fingerprints are spec-tier)
    QuerySpec("export_shards", exportShards,
      """SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
        |  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin),
    // JSONL export → schema-pinned read-back inverts identically
    QuerySpec("export_shards_jsonl", exportShardsJsonl,
      """SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
        |  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin),
    QuerySpec("corpus_shuffle", corpusShuffle,
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), 'r4')), 1, 15)) AS BIGINT) AS hv
        |  FROM documents)
        |SELECT doc_id, CAST(hv % 8 AS INT) AS shard,
        |  row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS pos
        |FROM h""".stripMargin,
      lintExempt = Map("wide-shuffle" ->
        "shard-shuffle IS the operator: redistributing payload rows is the point")),
    QuerySpec("corpus_mix", corpusMix,
      """WITH b AS (
        |  SELECT source, text,
        |    CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), 'mix')), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(SUM(CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens
        |FROM b
        |WHERE bucket < (CASE source WHEN 'src0' THEN 80 WHEN 'src1' THEN 60
        |                WHEN 'src2' THEN 40 WHEN 'src3' THEN 20 ELSE 10 END)
        |GROUP BY source""".stripMargin),
    // Weighted systematic sampling replayed exactly: same salted hash
    // order, same per-shard integer cumsum, same floor-division test.
    QuerySpec("corpus_sample_tokens", corpusSampleTokens,
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), 'tb')), 1, 15)) AS BIGINT) AS hv
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT c.doc_id, c.source, t.text, c.n_tokens
        |FROM c JOIN documents t ON c.doc_id = t.doc_id
        |WHERE (cum // 2000) > ((cum - n_tokens) // 2000)""".stripMargin),
    // fixed-size per-stratum sample: same salted-hash rank, text joined
    // back by key exactly as the semi-join does
    QuerySpec("corpus_sample_per_source", corpusSamplePerSource,
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), 'ps')), 1, 15)) AS BIGINT) AS hv
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn
        |  FROM d)
        |SELECT r.doc_id, r.source, t.text
        |FROM r JOIN documents t ON r.doc_id = t.doc_id
        |WHERE r.rn <= 3""".stripMargin),
    QuerySpec("quality_gopher", qualityGopher,
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(toks, w -> CAST(length(w) AS BIGINT))) AS BIGINT) AS word_len_sum,
         |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha_words,
         |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS BIGINT) AS n_symbols,
         |    CAST(len(lines) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS BIGINT) AS n_bullet_lines,
         |    CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS BIGINT) AS n_ellipsis_lines,
         |    CAST(len(list_filter(${markersSqlList(TextFunctions.gopherRequiredStops)},
         |      w -> list_contains(toks, w))) AS BIGINT) AS req_stop_hits
         |  FROM (SELECT doc_id, text, $toksSql AS toks,
         |          string_split(text, chr(10)) AS lines FROM documents))
         |SELECT doc_id, n_words, word_len_sum, n_alpha_words, n_symbols,
         |  n_lines, n_bullet_lines, n_ellipsis_lines, req_stop_hits,
         |  n_words >= ${TextFunctions.gopherMinWords} AND n_words <= ${TextFunctions.gopherMaxWords} AS word_count_ok,
         |  word_len_sum >= n_words * ${TextFunctions.gopherMinMeanWordLen}
         |    AND word_len_sum <= n_words * ${TextFunctions.gopherMaxMeanWordLen} AS word_len_ok,
         |  n_symbols * 10 <= n_words AS symbol_ok,
         |  n_bullet_lines * 10 <= n_lines * 9 AS bullet_ok,
         |  n_ellipsis_lines * 10 <= n_lines * 3 AS ellipsis_ok,
         |  n_alpha_words * 10 >= n_words * 8 AS alpha_ok,
         |  (n_words >= ${TextFunctions.gopherMinWords} AND n_words <= ${TextFunctions.gopherMaxWords})
         |    AND (word_len_sum >= n_words * ${TextFunctions.gopherMinMeanWordLen}
         |         AND word_len_sum <= n_words * ${TextFunctions.gopherMaxMeanWordLen})
         |    AND n_symbols * 10 <= n_words
         |    AND n_bullet_lines * 10 <= n_lines * 9
         |    AND n_ellipsis_lines * 10 <= n_lines * 3
         |    AND n_alpha_words * 10 >= n_words * 8
         |    AND req_stop_hits >= 1 AS keep,
         |  req_stop_hits >= 1 AS stopword_ok
         |FROM m""".stripMargin),
    QuerySpec("corpus_stats_by_source", corpusStatsBySource,
      s"""SELECT source, lang,
         |  count(*) AS n_docs,
         |  CAST(SUM(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS sum_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(GROUPING(source, lang) AS BIGINT) AS grp
         |FROM documents GROUP BY ROLLUP(source, lang)""".stripMargin),
    // snapshot drift report ([[graft.operators.Profiler.corpusDrift]]):
    // per-source doc/token mass of two corpus versions (here: the
    // even-id half as the "previous" snapshot vs the full corpus),
    // token shares in millionths, |share delta| = the TV-distance term
    // snapshot drift: even-id half vs full corpus, shares in
    // millionths via floor division, zero-guarded like the engine
    QuerySpec("corpus_drift", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Profiler.corpusDrift(
        docs.filter(col("doc_id") % 2 === 0), docs)
    },
      s"""WITH sa AS (
         |  SELECT source, count(*) AS docs_a,
         |    CAST(SUM(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS tokens_a
         |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
         |sb AS (
         |  SELECT source, count(*) AS docs_b,
         |    CAST(SUM(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS tokens_b
         |  FROM documents GROUP BY 1),
         |j AS (
         |  SELECT coalesce(sa.source, sb.source) AS source,
         |    CAST(coalesce(docs_a, 0) AS BIGINT) AS docs_a,
         |    CAST(coalesce(docs_b, 0) AS BIGINT) AS docs_b,
         |    CAST(coalesce(tokens_a, 0) AS BIGINT) AS tokens_a,
         |    CAST(coalesce(tokens_b, 0) AS BIGINT) AS tokens_b
         |  FROM sa FULL OUTER JOIN sb ON sa.source = sb.source),
         |t AS (SELECT CAST(SUM(tokens_a) AS BIGINT) AS ta,
         |             CAST(SUM(tokens_b) AS BIGINT) AS tb FROM j)
         |SELECT source, docs_a, docs_b, tokens_a, tokens_b,
         |  CAST(CASE WHEN ta > 0 THEN (1000000 * tokens_a) // ta ELSE 0 END AS BIGINT) AS share_a_fp,
         |  CAST(CASE WHEN tb > 0 THEN (1000000 * tokens_b) // tb ELSE 0 END AS BIGINT) AS share_b_fp,
         |  CAST(abs(CASE WHEN ta > 0 THEN (1000000 * tokens_a) // ta ELSE 0 END
         |         - CASE WHEN tb > 0 THEN (1000000 * tokens_b) // tb ELSE 0 END) AS BIGINT) AS share_delta_fp
         |FROM j, t""".stripMargin),
    QuerySpec("corpus_curriculum", (s, d) =>
      graft.operators.Sampling.quantileBuckets(
          Tables.documents(s, d).select("doc_id", "n_chars"),
          scoreCol = "n_chars", nBuckets = 10),
      s"""WITH c AS (SELECT quantile_cont(n_chars,
         |    [${(1 until 10).map(i => i / 10.0).mkString(", ")}]) AS cuts
         |  FROM documents)
         |SELECT doc_id, n_chars,
         |  CAST(1 + len(list_filter(c.cuts, x -> x < CAST(n_chars AS DOUBLE))) AS BIGINT) AS bucket
         |FROM documents, c""".stripMargin),
    // per-source TOKEN-budget mixing (doc-percent mixing can't hit
    // token targets when lengths differ by source); text rides through
    // the semi-join, never an exchange
    QuerySpec("corpus_mix_tokens", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"),
          TextFunctions.wsTokenCount(col("text")).as("n_tokens"))
      graft.operators.Sampling.budgetPerStratum(docs, "doc_id", "n_tokens",
          "source", Map("src0" -> 800L, "src1" -> 400L, "src2" -> 0L),
          defaultBudget = 200L, salt = "mx")
        .select("doc_id", "source", "text", "n_tokens")
    },
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), 'mx')), 1, 15)) AS BIGINT) AS hv
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY hv, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT c.doc_id, c.source, t.text, c.n_tokens
        |FROM c JOIN documents t ON c.doc_id = t.doc_id
        |WHERE cum <= CASE c.source WHEN 'src0' THEN 800 WHEN 'src1' THEN 400
        |                           WHEN 'src2' THEN 0 ELSE 200 END""".stripMargin),
    // one-row corpus health dashboard: volume, token mass, exact dup
    // rate (fingerprint distinct), length extremes
    QuerySpec("corpus_health", (s, d) =>
      Tables.documents(s, d)
        .select(TextFunctions.wsTokenCount(col("text")).as("toks"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"),
          sum("toks").as("n_tokens"),
          countDistinct(col("fp")).as("n_distinct_docs"),
          min("toks").as("min_tokens"),
          max("toks").as("max_tokens"))
        .withColumn("dup_rate",
          (col("n_docs") - col("n_distinct_docs")).cast("double") /
            col("n_docs").cast("double")),
      s"""SELECT count(*) AS n_docs,
         |  CAST(SUM(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS n_tokens,
         |  count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS n_distinct_docs,
         |  CAST(MIN(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS min_tokens,
         |  CAST(MAX(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS max_tokens,
         |  CAST(count(*) - count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS dup_rate
         |FROM documents""".stripMargin),
    // deterministic epoch shuffle: a seed-salted md5 key orders every
    // doc into (shard, pos) — the reproducible global shuffle a
    // training run resumes from, with NO global sort (one exchange on
    // shard, a per-shard rank over narrow rows); re-runs and
    // repartitioned inputs give the identical plan
    // both engines md5 the same bytes; hex strings compare binary
    QuerySpec("epoch_shuffle", (s, d) => {
      val key = md5(concat(lit("epoch0:"), col("doc_id").cast("string")))
      Tables.documents(s, d).select(col("doc_id"))
        .withColumn("skey", key)
        .withColumn("shard", (ascii(substring(col("skey"), 1, 1)) % 8).cast("bigint"))
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
            .orderBy(col("skey"), col("doc_id"))).cast("bigint"))
        .select("doc_id", "shard", "pos")
    },
      """WITH k AS (
        |  SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(ascii(substr(skey, 1, 1)) % 8 AS BIGINT) AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY ascii(substr(skey, 1, 1)) % 8
        |    ORDER BY skey, doc_id) AS BIGINT) AS pos
        |FROM k""".stripMargin),
    // classifier-based quality filtering: fixed-weight linear model
    // over integer fixed-point ratio features (per-row projection)
    // fixed-weight linear quality model: integer fixed-point ratio
    // features, integer score — bit-exact in both engines
    QuerySpec("quality_score_linear", (s, d) =>
      TextFunctions.qualityLinear(Tables.documents(s, d)),
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter($toksSql, t -> list_contains($stopwordsSql, t))) AS BIGINT) AS n_stopwords,
         |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
         |    CAST(list_sum(list_transform($toksSql, t -> CAST(length(t) AS BIGINT))) AS BIGINT) AS token_len_sum,
         |    CAST(length(text) AS BIGINT) AS len_chars
         |  FROM documents),
         |r AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN n_tokens > 0 THEN (1000000 * n_stopwords) // n_tokens
         |      ELSE 0 END AS BIGINT) AS stop_fp,
         |    CAST(CASE WHEN len_chars > 0 THEN (1000000 * n_punct) // len_chars
         |      ELSE 0 END AS BIGINT) AS punct_fp,
         |    CAST(CASE WHEN n_tokens > 0
         |      THEN abs((1000000 * token_len_sum) // n_tokens - 5000000)
         |      ELSE 5000000 END AS BIGINT) AS len_dev_fp
         |  FROM f)
         |SELECT doc_id, stop_fp, punct_fp, len_dev_fp,
         |  CAST(400000 + 3 * stop_fp - 10 * punct_fp - len_dev_fp // 5 AS BIGINT) AS score_fp,
         |  (400000 + 3 * stop_fp - 10 * punct_fp - len_dev_fp // 5) > 0 AS keep
         |FROM r""".stripMargin),
    // reliability curve of the cheap linear scorer against the Gopher
    // rule gate: ONE scan computes both signals per doc, fixed
    // 0.2-unit score bins (shift-positive floor division — map-side,
    // no global rank window), per bin the gopher pass rate in bps
    // linear score + gopher keep recomputed per doc (the two queries'
    // own oracle bodies), joined on doc_id, binned with the same
    // shift-positive floor division
    QuerySpec("score_calibration", (s, d) => {
      val scored = TextFunctions
        .qualityLinear(Tables.documents(s, d), carryCols = Seq("text"))
        .withColumn("__m", TextFunctions.gopherMeasures(col("text")))
        .withColumn("__pass",
          TextFunctions.gopherFlags(col("__m"), minRequiredHits = 1)
            .getField("keep"))
      scored
        // +2e9 keeps the dividend positive so trunc == floor in both
        // engines (scores are bounded far above -2e9)
        .withColumn("bin",
          expr("((score_fp + 2000000000L) div 200000L) - 10000L"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__pass"), 1L).otherwise(0L)).as("n_pass"))
        .withColumn("pass_bps", expr("(n_pass * 10000L) div n_docs"))
        .orderBy("bin")
    },
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter($toksSql, t -> list_contains($stopwordsSql, t))) AS BIGINT) AS n_stopwords,
         |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
         |    CAST(list_sum(list_transform($toksSql, t -> CAST(length(t) AS BIGINT))) AS BIGINT) AS token_len_sum,
         |    CAST(length(text) AS BIGINT) AS len_chars
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id,
         |    400000 + 3 * (CASE WHEN n_tokens > 0 THEN (1000000 * n_stopwords) // n_tokens ELSE 0 END)
         |      - 10 * (CASE WHEN len_chars > 0 THEN (1000000 * n_punct) // len_chars ELSE 0 END)
         |      - (CASE WHEN n_tokens > 0
         |          THEN abs((1000000 * token_len_sum) // n_tokens - 5000000)
         |          ELSE 5000000 END) // 5 AS score_fp
         |  FROM f),
         |gm AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(toks, w -> CAST(length(w) AS BIGINT))) AS BIGINT) AS word_len_sum,
         |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha_words,
         |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS BIGINT) AS n_symbols,
         |    CAST(len(lines) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS BIGINT) AS n_bullet_lines,
         |    CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS BIGINT) AS n_ellipsis_lines,
         |    CAST(len(list_filter(${markersSqlList(TextFunctions.gopherRequiredStops)},
         |      w -> list_contains(toks, w))) AS BIGINT) AS req_stop_hits
         |  FROM (SELECT doc_id, text, $toksSql AS toks,
         |          string_split(text, chr(10)) AS lines FROM documents)),
         |gk AS (
         |  SELECT doc_id,
         |    (n_words >= ${TextFunctions.gopherMinWords} AND n_words <= ${TextFunctions.gopherMaxWords})
         |      AND (word_len_sum >= n_words * ${TextFunctions.gopherMinMeanWordLen}
         |           AND word_len_sum <= n_words * ${TextFunctions.gopherMaxMeanWordLen})
         |      AND n_symbols * 10 <= n_words
         |      AND n_bullet_lines * 10 <= n_lines * 9
         |      AND n_ellipsis_lines * 10 <= n_lines * 3
         |      AND n_alpha_words * 10 >= n_words * 8
         |      AND req_stop_hits >= 1 AS pass
         |  FROM gm)
         |SELECT ((sc.score_fp + 2000000000) // 200000) - 10000 AS bin,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (gk.pass) AS BIGINT) AS n_pass,
         |  CAST((count(*) FILTER (gk.pass) * 10000) // count(*) AS BIGINT) AS pass_bps
         |FROM sc JOIN gk USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // per-DOMAIN calibrated quality cut: each source keeps its own top
    // 30% by the linear score — a global threshold would skew the mix
    // against low-scoring domains ([[graft.operators.Robust.calibratedTopPct]])
    // the same linear score, then the per-source integer CEILING rank
    // cut (rank*100 <= n*30 + 99 ⇔ rank <= ceil(n*0.3): a small domain
    // keeps at least its best row) replayed with the same tie-break
    QuerySpec("quality_calibrated", (s, d) => {
      // source rides the scoring projection (carryCols) — one scan,
      // no corpus self-join to reattach it
      val scored = TextFunctions
        .qualityLinear(Tables.documents(s, d), carryCols = Seq("source"))
        .select("doc_id", "source", "score_fp")
      graft.operators.Robust.calibratedTopPct(
        scored, "score_fp", "source", keepPct = 30, idCol = "doc_id")
    },
      s"""WITH f AS (
         |  SELECT doc_id, source,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter($toksSql, t -> list_contains($stopwordsSql, t))) AS BIGINT) AS n_stopwords,
         |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
         |    CAST(list_sum(list_transform($toksSql, t -> CAST(length(t) AS BIGINT))) AS BIGINT) AS token_len_sum,
         |    CAST(length(text) AS BIGINT) AS len_chars
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, source,
         |    CAST(CASE WHEN n_tokens > 0 THEN (1000000 * n_stopwords) // n_tokens
         |      ELSE 0 END AS BIGINT) AS stop_fp,
         |    CAST(CASE WHEN len_chars > 0 THEN (1000000 * n_punct) // len_chars
         |      ELSE 0 END AS BIGINT) AS punct_fp,
         |    CAST(CASE WHEN n_tokens > 0
         |      THEN abs((1000000 * token_len_sum) // n_tokens - 5000000)
         |      ELSE 5000000 END AS BIGINT) AS len_dev_fp
         |  FROM f),
         |s AS (
         |  SELECT doc_id, source,
         |    CAST(400000 + 3 * stop_fp - 10 * punct_fp - len_dev_fp // 5 AS BIGINT) AS score_fp
         |  FROM r),
         |k AS (
         |  SELECT doc_id, source, score_fp,
         |    row_number() OVER (PARTITION BY source ORDER BY score_fp DESC, doc_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM s)
         |SELECT doc_id, source, score_fp FROM k WHERE rn * 100 <= n * 30 + 99""".stripMargin),
    // the sketch-cutoff twin ([[graft.operators.Robust
    // .calibratedTopPctSketch]]): per-source threshold from a
    // mergeable quantile sketch broadcast back, map-side filter — no
    // per-group rank window, so a dominant domain cannot serialize
    // into one task. Exact regime at this scale (250 docs/source <<
    // sketchK), so the oracle replays the order-statistic cutoff.
    // sketch-cutoff twin in the sketch's EXACT regime: the cutoff is
    // the smallest score the rank path would keep — the ascending
    // order statistic at n - ceil(n*30/100) + 1 — and every row at or
    // above it (ties included) survives: the score-threshold
    // semantics the scale path applies map-side
    QuerySpec("quality_calibrated_sketch", (s, d) => {
      val scored = TextFunctions
        .qualityLinear(Tables.documents(s, d), carryCols = Seq("source"))
        .select("doc_id", "source", "score_fp")
      graft.operators.Robust.calibratedTopPctSketch(
          scored, "score_fp", "source", keepPct = 30)
        .select("doc_id", "source", "score_fp")
    },
      s"""WITH f AS (
         |  SELECT doc_id, source,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter($toksSql, t -> list_contains($stopwordsSql, t))) AS BIGINT) AS n_stopwords,
         |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
         |    CAST(list_sum(list_transform($toksSql, t -> CAST(length(t) AS BIGINT))) AS BIGINT) AS token_len_sum,
         |    CAST(length(text) AS BIGINT) AS len_chars
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, source,
         |    CAST(CASE WHEN n_tokens > 0 THEN (1000000 * n_stopwords) // n_tokens
         |      ELSE 0 END AS BIGINT) AS stop_fp,
         |    CAST(CASE WHEN len_chars > 0 THEN (1000000 * n_punct) // len_chars
         |      ELSE 0 END AS BIGINT) AS punct_fp,
         |    CAST(CASE WHEN n_tokens > 0
         |      THEN abs((1000000 * token_len_sum) // n_tokens - 5000000)
         |      ELSE 5000000 END AS BIGINT) AS len_dev_fp
         |  FROM f),
         |s AS (
         |  SELECT doc_id, source,
         |    CAST(400000 + 3 * stop_fp - 10 * punct_fp - len_dev_fp // 5 AS BIGINT) AS score_fp
         |  FROM r),
         |k AS (
         |  SELECT doc_id, source, score_fp,
         |    row_number() OVER (PARTITION BY source ORDER BY score_fp ASC) AS rn,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM s),
         |c AS (
         |  SELECT source,
         |    max(CASE WHEN rn = n - (n * 30 + 99) // 100 + 1 THEN score_fp END) AS cut
         |  FROM k GROUP BY 1)
         |SELECT k.doc_id, k.source, k.score_fp
         |FROM k JOIN c USING (source) WHERE k.score_fp >= c.cut""".stripMargin),
    // CCNet head/middle/tail perplexity bucketing + per-bucket
    // deterministic sampling policy (keep head, sample middle/tail)
    // CCNet bucketing: the lm_bigram_score chain reduced to an integer
    // ranking key, exact-quantile cut points, hash-sampled keep policy
    QuerySpec("corpus_ppl_sample", (s, d) =>
      TextFunctions.pplSample(Tables.documents(s, d)), {
      val probs = (1 until 3).map(i => i.toDouble / 3).mkString(", ")
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |bg AS (SELECT doc_id, toks[u.i] || ' ' || toks[u.i+1] AS bigram,
         |         toks[u.i] AS prefix
         |       FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
         |c2 AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY 1),
         |c1 AS (SELECT prefix, count(*) AS c1 FROM bg GROUP BY 1),
         |pd AS (SELECT b.doc_id, count(*) AS n_bigrams,
         |    CAST(SUM((1000000 * c2.c2) // c1.c1) AS BIGINT) AS sum_p_fp
         |  FROM bg b JOIN c2 USING (bigram) JOIN c1 ON b.prefix = c1.prefix
         |  GROUP BY 1),
         |keyed AS (
         |  SELECT d.doc_id,
         |    CAST(CASE WHEN coalesce(pd.n_bigrams, 0) > 0
         |      THEN (1000000 * pd.sum_p_fp) // pd.n_bigrams
         |      ELSE -1 END AS BIGINT) AS avg_fp
         |  FROM (SELECT DISTINCT doc_id FROM documents) d
         |  LEFT JOIN pd USING (doc_id)),
         |c AS (SELECT quantile_cont(avg_fp, [$probs]) AS cuts FROM keyed),
         |b AS (
         |  SELECT doc_id, avg_fp,
         |    CAST(1 + len(list_filter(c.cuts, x -> x < CAST(avg_fp AS DOUBLE))) AS BIGINT) AS bucket
         |  FROM keyed, c)
         |SELECT doc_id, avg_fp, bucket,
         |  (CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100) <
         |    (CASE WHEN bucket = 3 THEN 100 WHEN bucket = 2 THEN 50 ELSE 10 END) AS keep
         |FROM b""".stripMargin
    }),
    // C4-style wordlist safety filter: per-doc blocklist hit counts +
    // verdict, pure codegen projection
    // wordlist filter: n_blocked counts token hits (multiplicity),
    // n_blocked_distinct counts blocklist terms present (iterate the
    // SMALL fixed list against the token set — multiset-semantics-proof
    // in both engines)
    QuerySpec("blocklist_filter", (s, d) =>
      TextFunctions.blocklistFilter(Tables.documents(s, d),
        Seq("slow", "dup"), maxHits = 2),
      s"""SELECT doc_id,
         |  CAST(len(list_filter($toksSql, t -> list_contains(['slow', 'dup'], t))) AS BIGINT) AS n_blocked,
         |  CAST(len(list_filter(['slow', 'dup'], w -> list_contains($toksSql, w))) AS BIGINT) AS n_blocked_distinct,
         |  len(list_filter($toksSql, t -> list_contains(['slow', 'dup'], t))) <= 2 AS keep
         |FROM documents""".stripMargin),
    // temperature (alpha=1/2) source mixing: budgets derived from
    // per-source token mass in pure integer arithmetic
    // temperature (alpha=1/2) mixing: integer-derived per-source
    // budgets (floor-sqrt weights), then the same greedy hash-order
    // cumulative fill as corpus_mix_tokens
    QuerySpec("corpus_mix_temperature", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextFunctions.wsTokenCount(col("text")).as("n_tokens"))
      graft.operators.Sampling.temperatureMix(docs, "doc_id", "n_tokens",
          "source", totalBudget = 2000L, salt = "tmx")
        .select("doc_id", "source", "n_tokens")
    },
      s"""WITH d AS (
         |  SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), 'tmx')), 1, 15)) AS BIGINT) AS hv
         |  FROM documents),
         |t AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS ws FROM d GROUP BY 1),
         |q AS (SELECT source, CAST(floor(sqrt(CAST(ws AS DOUBLE))) AS BIGINT) AS sq FROM t),
         |z AS (SELECT CAST(SUM(sq) AS BIGINT) AS z FROM q),
         |b AS (SELECT source, (2000 * sq) // z AS budget FROM q, z),
         |c AS (SELECT doc_id, source, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY hv, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d)
         |SELECT c.doc_id, c.source, c.n_tokens
         |FROM c JOIN b USING (source) WHERE c.cum <= b.budget""".stripMargin),
    // UniMax allocation (per-language epochs-capped water-filling):
    // budget = a fifth of the corpus token mass, repeat cap 1/4 epoch
    // per language — the dominant language lands uncapped on the
    // water level, low-resource languages contribute their full cap.
    // The corpus collapses to one row per lang in a map-side-
    // combinable agg before any window; the one-row total is the only
    // collect (bounded by construction).
    // UniMax water-filling replayed: capped iff prefix(cap) +
    // cap*(sources after) <= B — the division-free "water level >=
    // cap" test; uncapped split the rest evenly, remainder one token
    // apiece in (cap, lang) order
    QuerySpec("corpus_mix_unimax", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("lang"), TextFunctions.wsTokenCount(col("text")).as("n_tokens"))
      val total = docs.agg(sum("n_tokens")).head.getLong(0)
      graft.operators.Sampling.unimaxBudgets(docs, "n_tokens", "lang",
          totalBudget = total / 5, epochCapMillionths = 250000L)
        .orderBy("stratum")
    },
      s"""WITH t AS (
         |  SELECT lang AS stratum, CAST(SUM(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS weight
         |  FROM documents GROUP BY 1),
         |b AS (SELECT CAST(SUM(weight) // 5 AS BIGINT) AS total FROM t),
         |r AS (
         |  SELECT stratum, weight, (weight * 250000) // 1000000 AS cap,
         |    ROW_NUMBER() OVER (ORDER BY (weight * 250000) // 1000000, stratum) AS rn,
         |    SUM((weight * 250000) // 1000000) OVER (ORDER BY (weight * 250000) // 1000000, stratum
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
         |    COUNT(*) OVER () AS k
         |  FROM t),
         |f AS (SELECT r.*, b.total, (p + cap * (k - rn) <= b.total) AS capped FROM r, b),
         |g AS (SELECT f.*,
         |    MAX(CASE WHEN capped THEN rn ELSE 0 END) OVER () AS j,
         |    MAX(CASE WHEN capped THEN p ELSE 0 END) OVER () AS pj
         |  FROM f),
         |a AS (SELECT stratum, weight, cap,
         |    CAST(CASE WHEN capped THEN cap ELSE
         |      LEAST(cap, (total - pj) // (k - j) +
         |        CASE WHEN rn - j <= (total - pj) % (k - j) THEN 1 ELSE 0 END)
         |    END AS BIGINT) AS budget
         |  FROM g)
         |SELECT stratum, weight, cap, budget,
         |  CAST((budget * 1000000) // GREATEST(weight, 1) AS BIGINT) AS epochs_millionths
         |FROM a ORDER BY stratum""".stripMargin),
    // sequence-length bucketing: per power-of-two bucket, the padding
    // waste naive pad-to-top batching pays (exact tokens + bps)
    QuerySpec("length_buckets", (s, d) =>
      TextFunctions.lengthBuckets(Tables.documents(s, d)),
      s"""WITH d AS (
         |  SELECT CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         |b AS (
         |  SELECT CASE WHEN n <= 1 THEN n
         |              ELSE CAST(1 AS BIGINT) << length(bin(n - 1)) END AS bucket_top, n
         |  FROM d)
         |SELECT bucket_top, count(*) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS total_tokens,
         |  CAST(bucket_top * count(*) - SUM(n) AS BIGINT) AS padding_tokens,
         |  CAST((bucket_top * count(*) - SUM(n)) * 10000 // greatest(bucket_top * count(*), 1) AS BIGINT) AS waste_bps
         |FROM b GROUP BY bucket_top""".stripMargin),
    // streaming sequence packing: per-shard running token total → window cuts
    QuerySpec("doc_pack", (s, d) =>
      TextFunctions.packDocuments(Tables.documents(s, d),
        windowTokens = 256, nShards = 8),
      s"""WITH t AS (
         |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, shard, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
         |      - n_tokens AS BIGINT) AS start_tok
         |  FROM t)
         |SELECT doc_id, shard, n_tokens, start_tok,
         |  CAST(start_tok // 256 AS BIGINT) AS bin_id,
         |  CAST(start_tok % 256 AS BIGINT) AS offset_in_bin
         |FROM p""".stripMargin,
      lintExempt = Map("wide-shuffle" ->
        "sequence packing redistributes document text into shards by design")),
    // block-diagonal attention-mask map over the same packing
    // ([[graft.functions.TextFunctions.packAttentionSpans]]): one row
    // per (shard, window, doc) with the doc's in-window span
    // the same packing expanded to per-window segments: a doc spans
    // windows start//256 .. (end-1)//256, clipped to each window
    QuerySpec("pack_attention_spans", (s, d) =>
      TextFunctions.packAttentionSpans(Tables.documents(s, d),
        windowTokens = 256, nShards = 8),
      s"""WITH t AS (
         |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, shard, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
         |      - n_tokens AS BIGINT) AS start_tok
         |  FROM t),
         |x AS (
         |  SELECT doc_id, shard, n_tokens, start_tok,
         |    unnest(generate_series(start_tok // 256,
         |      (start_tok + n_tokens - 1) // 256)) AS bin_id
         |  FROM p WHERE n_tokens > 0)
         |SELECT shard, CAST(bin_id AS BIGINT) AS bin_id, doc_id,
         |  CAST(greatest(start_tok - bin_id * 256, 0) AS BIGINT) AS seg_start,
         |  CAST(least(start_tok + n_tokens - bin_id * 256, 256)
         |    - greatest(start_tok - bin_id * 256, 0) AS BIGINT) AS seg_len
         |FROM x""".stripMargin),
    // Gopher-style repetition metrics: non-distinct 2-grams hashed and
    // counted with two hash aggregates
    QuerySpec("repetition", (s, d) =>
      TextFunctions.repetition(Tables.documents(s, d)),
      s"""WITH g AS (
         |  SELECT doc_id, CAST(concat('0x', substring(md5(gr), 1, 15)) AS BIGINT) AS h
         |  FROM (SELECT doc_id,
         |          unnest(list_transform(range(1, len($toksSql)),
         |            i -> $toksSql[i] || ' ' || $toksSql[i+1])) AS gr
         |        FROM documents)),
         |per AS (SELECT doc_id, h, count(*) AS c FROM g GROUP BY doc_id, h),
         |rep AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
         |          CAST(count(*) AS BIGINT) AS n_distinct,
         |          CAST(max(c) AS BIGINT) AS top_count
         |        FROM per GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(r.n_2grams, 0) AS BIGINT) AS n_2grams,
         |  CAST(COALESCE(r.n_distinct, 0) AS BIGINT) AS n_distinct,
         |  CASE WHEN COALESCE(r.n_2grams, 0) = 0 THEN 0.0
         |       ELSE CAST(r.n_2grams - r.n_distinct AS DOUBLE) / CAST(r.n_2grams AS DOUBLE)
         |  END AS dup_2gram_frac,
         |  CASE WHEN COALESCE(r.n_2grams, 0) = 0 THEN 0.0
         |       ELSE CAST(r.top_count AS DOUBLE) / CAST(r.n_2grams AS DOUBLE)
         |  END AS top_2gram_frac
         |FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id""".stripMargin),
    // composite C4-style filter: length + exact-dup representative +
    // repetition dominance, with per-rule audit flags
    QuerySpec("corpus_filter", (s, d) =>
      TextFunctions.corpusFilter(Tables.documents(s, d)),
      s"""WITH f AS (
         |  SELECT doc_id,
         |    len($toksSql) >= 20 AS len_ok,
         |    doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS not_dup
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(concat('0x', substring(md5(gr), 1, 15)) AS BIGINT) AS h
         |  FROM (SELECT doc_id,
         |          unnest(list_transform(range(1, len($toksSql)),
         |            i -> $toksSql[i] || ' ' || $toksSql[i+1])) AS gr
         |        FROM documents)),
         |per AS (SELECT doc_id, h, count(*) AS c FROM g GROUP BY doc_id, h),
         |rep AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
         |          CAST(max(c) AS BIGINT) AS top_count
         |        FROM per GROUP BY doc_id),
         |r2 AS (
         |  SELECT d.doc_id,
         |    CASE WHEN COALESCE(r.n_2grams, 0) = 0 THEN 0.0
         |         ELSE CAST(r.top_count AS DOUBLE) / CAST(r.n_2grams AS DOUBLE)
         |    END < 0.2 AS rep_ok
         |  FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id)
         |SELECT f.doc_id, f.len_ok, f.not_dup, r2.rep_ok,
         |  f.len_ok AND f.not_dup AND r2.rep_ok AS keep
         |FROM f JOIN r2 ON f.doc_id = r2.doc_id""".stripMargin),
    // one-call corpus prep: the corpus_filter, dedup_clusters,
    // decontaminate and doc_pack oracle fragments chained into a
    // single CTE pipeline over the 80% hash-split corpus (eval = the
    // held-out 20%), mirroring CorpusPipeline.prepare stage for stage.
    // corpus_prepare/_disposition/_funnel share ONE prepared snapshot:
    // the eager pipeline is their (amortized, metered) layout build;
    // timed runs measure the lazy tail each consumer actually pays
    QuerySpec("corpus_prepare", corpusPrepare, (corpusStagesCtesSql + s""",
         |fin AS (SELECT d.doc_id, d.text FROM dd d JOIN clean USING (doc_id)),
         |tk AS (
         |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM fin),
         |pk AS (
         |  SELECT doc_id, shard, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
         |      - n_tokens AS BIGINT) AS start_tok
         |  FROM tk)
         |SELECT p.doc_id, p.shard, p.n_tokens, p.start_tok,
         |  CAST(p.start_tok // 256 AS BIGINT) AS bin_id,
         |  CAST(p.start_tok % 256 AS BIGINT) AS offset_in_bin,
         |  f.text
         |FROM pk p JOIN fin f ON p.doc_id = f.doc_id""".stripMargin),
      layout = Some(corpusListsDir(_, _))),
    QuerySpec("corpus_disposition", corpusDisposition, (corpusStagesCtesSql + """
         |SELECT c.doc_id,
         |  CASE WHEN NOT (f.len_ok AND f.not_dup AND r.rep_ok) THEN 'quality'
         |       WHEN dup.rep IS NOT NULL THEN 'duplicate'
         |       WHEN cl.doc_id IS NULL THEN 'contaminated'
         |       ELSE 'kept' END AS disposition,
         |  dup.rep AS dup_of
         |FROM corpus c
         |JOIN flt f ON c.doc_id = f.doc_id
         |JOIN repok r ON c.doc_id = r.doc_id
         |LEFT JOIN (SELECT src, CAST(min(dst) AS BIGINT) AS rep
         |           FROM reach GROUP BY src HAVING min(dst) <> src) dup
         |  ON c.doc_id = dup.src
         |LEFT JOIN clean cl ON c.doc_id = cl.doc_id""".stripMargin),
      layout = Some(corpusListsDir(_, _))),
    // per-doc provenance over the same staged CTEs: quality gate →
    // duplicate (with the representative kept instead) →
    // contamination, in the pipeline's own stage order
    // disposition counts — the funnel report, same staged CTEs
    QuerySpec("corpus_funnel", corpusFunnel, (corpusStagesCtesSql + """
         |, disp AS (
         |  SELECT CASE WHEN NOT (f.len_ok AND f.not_dup AND r.rep_ok) THEN 'quality'
         |       WHEN dup.rep IS NOT NULL THEN 'duplicate'
         |       WHEN cl.doc_id IS NULL THEN 'contaminated'
         |       ELSE 'kept' END AS disposition
         |  FROM corpus c
         |  JOIN flt f ON c.doc_id = f.doc_id
         |  JOIN repok r ON c.doc_id = r.doc_id
         |  LEFT JOIN (SELECT src, CAST(min(dst) AS BIGINT) AS rep
         |             FROM reach GROUP BY src HAVING min(dst) <> src) dup
         |    ON c.doc_id = dup.src
         |  LEFT JOIN clean cl ON c.doc_id = cl.doc_id)
         |SELECT disposition, count(*) AS n_docs FROM disp GROUP BY disposition""".stripMargin),
      layout = Some(corpusListsDir(_, _))),
    // the capstone chain prepare→pack→exportJsonl→read-back is the
    // identity on the packed frame, so the oracle IS corpus_prepare's
    // staged replay (export changes the medium, never the rows)
    QuerySpec("corpus_export", corpusExport, (corpusStagesCtesSql + s""",
         |fin AS (SELECT d.doc_id, d.text FROM dd d JOIN clean USING (doc_id)),
         |tk AS (
         |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM fin),
         |pk AS (
         |  SELECT doc_id, shard, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
         |      - n_tokens AS BIGINT) AS start_tok
         |  FROM tk)
         |SELECT p.doc_id, p.shard, p.n_tokens, p.start_tok,
         |  CAST(p.start_tok // 256 AS BIGINT) AS bin_id,
         |  CAST(p.start_tok % 256 AS BIGINT) AS offset_in_bin,
         |  f.text
         |FROM pk p JOIN fin f ON p.doc_id = f.doc_id""".stripMargin)),
    // fragmentation over the same packing CTEs: a doc crosses a window
    // iff its first and last tokens land in different 256-token bins
    QuerySpec("pack_fragmentation", packFragmentation, (corpusStagesCtesSql + s""",
         |fin AS (SELECT d.doc_id, d.text FROM dd d JOIN clean USING (doc_id)),
         |tk AS (
         |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM fin),
         |pk AS (
         |  SELECT doc_id, shard, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
         |      - n_tokens AS BIGINT) AS start_tok
         |  FROM tk)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(SUM(CASE WHEN start_tok // 256 <> (start_tok + n_tokens - 1) // 256
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing,
         |  CAST((SUM(CASE WHEN start_tok // 256 <> (start_tok + n_tokens - 1) // 256
         |       THEN 1 ELSE 0 END) * 10000) // greatest(count(*), 1) AS BIGINT) AS crossing_bps
         |FROM pk GROUP BY shard""".stripMargin)),
    // l-diversity classes replayed with the same QI grouping and
    // distinct count
    QuerySpec("l_diversity", lDiversity,
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(value / 10) AS BIGINT) AS value_decile
        |  FROM events),
        |c AS (
        |  SELECT event_type, day,
        |    count(*) AS class_size,
        |    CAST(count(DISTINCT value_decile) AS BIGINT) AS sensitive_distinct
        |  FROM e GROUP BY 1, 2)
        |SELECT event_type, day, class_size, sensitive_distinct
        |FROM c WHERE sensitive_distinct < 3""".stripMargin),
    // t-closeness census over the same QI/sensitive shape: integer-EMD
    // distance of each class's value-decile distribution from the
    // population, every class reported with its pass flag
    // integer EMD replay: scaled CDF gap prefix per (class, bin) over
    // the dense class x bin grid, mean |prefix| in millionths
    QuerySpec("t_closeness", (s, d) => {
      val e = Tables.events(s, d).select(
        col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") / 10).cast("long").as("value_decile"))
      graft.validate.Privacy.tCloseness(
          e, Seq("event_type", "day"), "value_decile", tMillionths = 100000L)
        .orderBy("event_type", "day")
    },
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(value / 10) AS BIGINT) AS bin
        |  FROM events),
        |cb AS (SELECT event_type, day, bin, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1,2,3),
        |g  AS (SELECT bin, CAST(count(*) AS BIGINT) AS gc FROM e GROUP BY 1),
        |n  AS (SELECT CAST(count(*) AS BIGINT) AS nt, CAST(count(DISTINCT bin) AS BIGINT) AS m FROM e),
        |cls AS (SELECT event_type, day, CAST(SUM(c) AS BIGINT) AS nc FROM cb GROUP BY 1,2),
        |dense AS (
        |  SELECT cls.event_type, cls.day, g.bin, g.gc, cls.nc, COALESCE(cb.c, 0) AS c
        |  FROM cls CROSS JOIN g
        |  LEFT JOIN cb ON cb.event_type = cls.event_type AND cb.day = cls.day AND cb.bin = g.bin),
        |p AS (
        |  SELECT event_type, day, nc, bin,
        |    SUM(c * (SELECT nt FROM n) - gc * nc) OVER (PARTITION BY event_type, day
        |      ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
        |  FROM dense)
        |SELECT event_type, day, nc AS class_size,
        |  CAST(SUM(ABS(pre)) * 1000000 // (GREATEST((SELECT m FROM n) - 1, 1) * nc * (SELECT nt FROM n)) AS BIGINT) AS emd_millionths,
        |  CAST(SUM(ABS(pre)) * 1000000 // (GREATEST((SELECT m FROM n) - 1, 1) * nc * (SELECT nt FROM n)) < 100000 AS BOOLEAN) AS t_close
        |FROM p GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin),
    // DSIR hashed importance weights: English docs as the target
    // distribution, whole corpus as raw; top-100 flagged selected
    // hashed-bucket unigram distributions with add-1 smoothing in
    // fixed-point millionths; score = Σ_tokens (p_en − p_raw); top-100
    // by (score desc, doc_id) flagged selected
    QuerySpec("dsir_weights", (s, d) => {
      val docs = Tables.documents(s, d)
      TextFunctions.dsirWeights(docs, docs.filter(col("lang") === "en"))
    },
      s"""WITH tb AS (
         |  SELECT doc_id,
         |    CAST(CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) % 64 AS INT) AS b
         |  FROM (SELECT doc_id, unnest($toksSql) AS t FROM documents)),
         |rc AS (SELECT b, count(*) AS c_r FROM tb GROUP BY 1),
         |tc AS (SELECT b, count(*) AS c_t FROM tb
         |  WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en') GROUP BY 1),
         |rt AS (SELECT sum(c_r) AS n_r FROM rc),
         |tt AS (SELECT coalesce(sum(c_t), 0) AS n_t FROM tc),
         |probs AS (
         |  SELECT rc.b,
         |    (1000000 * (coalesce(tc.c_t, 0) + 1)) // (tt.n_t + 64) AS p_t_fp,
         |    (1000000 * (rc.c_r + 1)) // (rt.n_r + 64) AS p_r_fp
         |  FROM rc LEFT JOIN tc USING (b), rt, tt),
         |perdoc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(p_t_fp - p_r_fp) AS BIGINT) AS score_fp
         |  FROM tb JOIN probs USING (b) GROUP BY 1),
         |sel AS (SELECT doc_id FROM perdoc ORDER BY score_fp DESC, doc_id ASC LIMIT 100)
         |SELECT doc_id, n_tokens, score_fp,
         |  doc_id IN (SELECT doc_id FROM sel) AS selected
         |FROM perdoc""".stripMargin),
    // URL canonicalization + per-site cap key over deterministic
    // synthetic crawl URLs (scheme case, default ports, tracking
    // params, unsorted queries, trailing slashes, fragments)
    // the same URL construction, then the normal form replayed rule by
    // rule: lowercase scheme/authority, default-port strip, tracking-
    // param drop + bytewise sort, trailing-slash collapse
    QuerySpec("url_normalize", (s, d) => {
      val u = syntheticUrls(s, d)
      u.select(col("doc_id"), col("url"),
        graft.functions.UrlFunctions.urlNormalize(col("url")).as("url_norm"),
        graft.functions.UrlFunctions.urlHost(col("url")).as("host"),
        graft.functions.UrlFunctions.registeredDomain(
          graft.functions.UrlFunctions.urlHost(col("url"))).as("domain"))
    },
      """WITH u0 AS (
        |  SELECT doc_id,
        |    concat(
        |      CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'HTTPS://' END,
        |      'WWW.', upper(source),
        |      CASE WHEN doc_id % 2 = 0 THEN '.Example.COM:80' ELSE '.Sample.CO.UK:443' END,
        |      '/Docs/', CAST(doc_id % 7 AS VARCHAR),
        |      CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
        |      '?utm_source=feed&b=2&a=1',
        |      CASE WHEN doc_id % 5 = 0 THEN '&fbclid=XYZ' ELSE '' END,
        |      CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id, url,
        |    regexp_replace(trim(url), '#.*$', '') AS u
        |  FROM u0),
        |pieces AS (
        |  SELECT doc_id, url, u,
        |    lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS auth,
        |    regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS raw_path,
        |    regexp_extract(u, '\?([^#]*)', 1) AS raw_query
        |  FROM parts),
        |norm AS (
        |  SELECT doc_id, url, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
        |         ELSE auth END AS auth_n,
        |    regexp_replace(auth, ':[0-9]+$', '') AS host,
        |    CASE WHEN regexp_replace(raw_path, '/+$', '') = '' THEN '/'
        |         ELSE regexp_replace(raw_path, '/+$', '') END AS path_n,
        |    list_sort(list_filter(string_split(raw_query, '&'),
        |      p -> p <> '' AND NOT regexp_matches(
        |        regexp_extract(p, '^([^=]*)', 1), '^(utm_[^=]*|fbclid|gclid|ref)$'))) AS params
        |  FROM pieces),
        |dom AS (
        |  SELECT doc_id, url, scheme, auth_n, host, path_n, params,
        |    string_split(host, '.') AS ls
        |  FROM norm)
        |SELECT doc_id, url,
        |  concat(scheme, '://', auth_n, path_n,
        |    CASE WHEN len(params) > 0 THEN concat('?', array_to_string(params, '&'))
        |         ELSE '' END) AS url_norm,
        |  host,
        |  CASE WHEN len(ls) <= 1 THEN host
        |       WHEN len(ls) >= 3 AND concat(ls[-2], '.', ls[-1]) IN
        |         ('co.uk', 'org.uk', 'ac.uk', 'com.au', 'co.jp', 'com.br', 'co.in', 'com.cn')
        |         THEN concat(ls[-3], '.', ls[-2], '.', ls[-1])
        |       ELSE concat(ls[-2], '.', ls[-1]) END AS domain
        |FROM dom""".stripMargin),
    // per-site crawl cap: canonical host as the stratum, 25 docs kept
    // per site in salted-hash order (the C4-style domain budget)
    // the parsed host equals its closed-form construction; cap = the
    // corpus_sample_per_source salted-hash rank with host as stratum
    QuerySpec("url_domain_cap", (s, d) => {
      val hosts = syntheticUrls(s, d).select(col("doc_id"),
        graft.functions.UrlFunctions.urlHost(col("url")).as("host"))
      graft.operators.Sampling.topKPerStratum(hosts, "doc_id", "host",
        k = 25, salt = "dc")
    },
      """WITH d AS (
        |  SELECT doc_id,
        |    concat('www.', lower(source),
        |      CASE WHEN doc_id % 2 = 0 THEN '.example.com' ELSE '.sample.co.uk' END) AS host,
        |    CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), 'dc')), 1, 15)) AS BIGINT) AS hv
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, host,
        |    row_number() OVER (PARTITION BY host ORDER BY hv, doc_id) AS rn
        |  FROM d)
        |SELECT doc_id, host FROM r WHERE rn <= 25""".stripMargin),
    // per-REGISTERED-DOMAIN crawl cap capstone — the standard crawl-
    // curation composition (C4/RefinedWeb: ≤ k pages per registered
    // domain, deterministic salted-hash order, never an RNG reservoir):
    // registeredDomain ∘ urlHost as the stratum, topKPerStratum as the
    // cap, and the page TEXT riding through — the production shape,
    // with PlanSpec proving the payload never crosses the rank exchange
    // registered-domain cut of the synthetic URL families (even ids →
    // example.com, odd → sample.co.uk), same salted-hash rank replay
    QuerySpec("domain_cap", (s, d) => {
      val pages = syntheticUrls(s, d, keep = Seq("text"))
      val withDomain = pages.select(col("doc_id"), col("text"),
        graft.functions.UrlFunctions.registeredDomain(
          graft.functions.UrlFunctions.urlHost(col("url"))).as("domain"))
      graft.operators.Sampling.topKPerStratum(withDomain, "doc_id", "domain",
        k = 40, salt = "cap")
    },
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 2 = 0 THEN 'example.com'
        |         ELSE 'sample.co.uk' END AS domain,
        |    CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), 'cap')), 1, 15)) AS BIGINT) AS hv
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, text, domain,
        |    row_number() OVER (PARTITION BY domain ORDER BY hv, doc_id) AS rn
        |  FROM d)
        |SELECT doc_id, text, domain FROM r WHERE rn <= 40""".stripMargin),
  )
}
