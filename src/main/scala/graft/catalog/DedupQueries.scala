package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.similarity.Similarity
import Fragments._

/** Exact, near-duplicate, substring and incremental deduplication,
  * plus benchmark decontamination. */
object DedupQueries {

  private def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir))

  private def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(Tables.documents(spark, dir))

  /** Cross-corpus overlap audit ([[graft.dedup.Dedup.crossNearDups]]):
    * docs < 250 play the accepted corpus, the rest the incoming crawl;
    * scored near-dup pairs BETWEEN the two only. */
  private def dedupCross(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.crossNearDups(docs.filter(col("doc_id") < 250),
      docs.filter(col("doc_id") >= 250))
  }

  /** Train/val/test split leakage audit
    * ([[graft.operators.Splits.splitLeakage]]): deterministic salted
    * hash split (10/10/80), then every val/test document whose
    * near-duplicate (Jaccard ≥ 0.8) sits in train — the memorized-eval
    * hazard an exact-dup check misses. */
  private def splitLeakageQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Splits.splitLeakage(Tables.documents(spark, dir))

  /** Near-dup pairs → connected components → keep/drop decision. */
  private def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupClusters(
      Dedup.minhashNearDups(Tables.documents(spark, dir)).select("doc_a", "doc_b"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))

  private def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(spark, dir), maxId = 40L)

  /** Radius 3 is the production-typical SimHash cutoff: the pigeonhole
    * blocking yields 4 blocks x 15 bits, so buckets stay near-empty and
    * candidate generation is ~linear. (Radius 10 would shrink blocks to
    * ~5 bits and explode the bucket self-join quadratically.) */
  private def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(Tables.documents(spark, dir), maxHamming = 3)

  /** Decontamination stage: 80/20 deterministic hash split of the
    * corpus, then the train→test 3-gram contamination fraction per
    * held-out document. */
  private def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bucket = graft.operators.Sampling.hashBucket(col("doc_id"), "decon")
    TextFunctions.contamination(
      docs.filter(bucket < 80), docs.filter(bucket >= 80))
  }

  /** Content-defined chunking ([[TextFunctions.cdcChunkRows]]): w=4
    * rolling window, 2^3-token expected chunks over the documents
    * table. The oracle replays the same boundary rule row-wise
    * (window string_agg + cumulative boundary count). */
  private def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.cdcChunkRows(Tables.documents(spark, dir))

  /** Chunk-level CDC dedup ([[TextFunctions.cdcDedup]]): rebuild every
    * document from its first-occurrence chunks. */
  private def cdcDedupQ(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.cdcDedup(Tables.documents(spark, dir))

  private def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"), TextFunctions.fingerprint(col("text")).as("fingerprint"))

  /** Order-sensitive rolling-hash fingerprint (vs the whitespace-
    * normalized md5 of doc_fingerprint). */
  private def docRollingHash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"), TextFunctions.rollingHash(col("text")).as("rolling_hash"))

  /** MinHash→LSH-band→CC chain over `documents`, ending in
    * `cc(doc_id, cluster_id)` — the WITH-body (requires `WITH
    * RECURSIVE`) shared by `dedup_clusters` and
    * `dedup_canonical_quality`. */
  private lazy val minhashCcCtesSql: String =
    s"""$minhashCandCtesSql,
       |e AS (SELECT doc_a AS a, doc_b AS b FROM cands
       |      UNION SELECT doc_b, doc_a FROM cands),
       |reach(src, dst) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
       |cc AS (SELECT src AS doc_id, min(dst) AS cluster_id
       |  FROM reach GROUP BY src)""".stripMargin

  /** Incremental substring-dedup oracle — shared by the plain and
    * bucketed-catalog variants (layout changes the plan, never the
    * answer): catalog hit cuts unconditionally, plus the within-batch
    * first-occurrence rule. */
  private lazy val substrIncrOracleSql: String =
    """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts FROM documents),
      |occ AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    CAST(concat('0x', substring(md5(array_to_string(list_slice(ts, i, i + 7), ' ')), 1, 15)) AS BIGINT) AS whash,
      |    doc_id * 1048576 + (i - 1) AS occ_key
      |  FROM d, unnest(generate_series(1, len(ts) - 7)) AS u(i)
      |  WHERE len(ts) >= 8),
      |cat AS (SELECT DISTINCT whash FROM occ WHERE doc_id < 250),
      |bocc AS (SELECT * FROM occ WHERE doc_id >= 250),
      |el AS (SELECT whash, min(occ_key) AS min_key, count(*) AS n_occ FROM bocc GROUP BY whash),
      |flagged AS (
      |  SELECT doc_id, pos FROM bocc WHERE whash IN (SELECT whash FROM cat)
      |  UNION
      |  SELECT b.doc_id, b.pos FROM bocc b JOIN el USING (whash)
      |  WHERE el.n_occ >= 2 AND b.occ_key <> el.min_key),
      |cut AS (SELECT doc_id, list_sort(list(pos)) AS cuts FROM flagged GROUP BY doc_id),
      |r AS (SELECT d.doc_id, ts,
      |        CASE WHEN cuts IS NULL THEN CAST([] AS BIGINT[]) ELSE cuts END AS cuts
      |      FROM d LEFT JOIN cut USING (doc_id) WHERE d.doc_id >= 250),
      |k AS (SELECT doc_id, ts,
      |        list_filter(range(0, len(ts)), i ->
      |          len(list_filter(cuts, s -> i >= s AND i < s + 8)) = 0) AS keep
      |      FROM r)
      |SELECT doc_id,
      |  COALESCE(array_to_string(list_transform(keep, i -> ts[CAST(i + 1 AS INT)]), ' '), '') AS text_dedup,
      |  CAST(len(ts) AS BIGINT) AS n_tokens,
      |  CAST(len(ts) - len(keep) AS BIGINT) AS n_removed
      |FROM k""".stripMargin

  /** Broadcast-Bloom decontamination ([[graft.functions.TextFunctions
    * .contaminationBloom]]): the held-out 20% hash split's shingles
    * fold into a 2^20-bit Bloom bitset (the default), and the 80% training corpus is
    * screened against it map-side — scan → project, zero exchanges
    * (spec-asserted), vs the shuffled shingle join of
    * [[decontaminate]]. False positives over-flag deterministically;
    * the oracle replays the bitset as a position set. */
  private def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bucket = graft.operators.Sampling.hashBucket(col("doc_id"), "decon")
    val words = TextFunctions.bloomWordsOfEval(docs.filter(bucket >= 80))
    TextFunctions.contaminationBloom(docs.filter(bucket < 80), words)
  }

  /** Cross-document repeated-substring removal
    * ([[graft.dedup.Dedup.substrDedup]], the ExactSubstr analogue):
    * sliding 8-token windows, first occurrence corpus-wide survives,
    * every later occurrence's covered tokens are excised map-side. */
  private def substrDedupQuery(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.substrDedup(Tables.documents(spark, dir), w = 8)

  /** ExactSubstr-complete SPAN dedup
    * ([[graft.dedup.Dedup.substrDedupSpans]]): adjacent duplicate
    * 8-token windows coalesce into maximal spans (gaps-and-islands
    * over window starts) and only spans of 20+ total tokens are
    * erased — long copied regions go, incidental short repeats stay.
    * The oracle replays the whole chain: same rolling window hashes,
    * a `pos - row_number()` island key, span filter, and the
    * byte-exact token rebuild. */
  private def substrDedupSpansQuery(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.substrDedupSpans(Tables.documents(spark, dir),
      w = 8, minMatchTokens = 20)

  /** Incremental [[substrDedupQuery]]
    * ([[graft.dedup.Dedup.substrDedupIncremental]]): docs < 250 form
    * the accepted window-hash catalog; the batch (>= 250) is screened
    * against it (catalog hit cuts unconditionally) and deduped within
    * itself. */
  private def substrDedupIncrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.dedup.Dedup.substrDedupIncremental(
      docs.filter(col("doc_id") >= 250),
      graft.dedup.Dedup.windowHashCatalog(docs.filter(col("doc_id") < 250)),
      w = 8)
  }

  /** Build-if-absent of the bucketed window-hash catalog (bucketed on
    * exactly the screen-join key `whash`, like the band catalog). */
  private def ensureWindowCatalogLayout(spark: SparkSession, dir: String): String = {
    val table = "graft_window_catalog_" + dirFingerprint(dir)
    if (!spark.catalog.tableExists(table)) {
      graft.sources.Bucketing.writeBucketed(
        graft.dedup.Dedup.windowHashCatalog(
          Tables.documents(spark, dir).filter(col("doc_id") < 250)),
        table, Seq("whash"), nBuckets = 8,
        mode = org.apache.spark.sql.SaveMode.Overwrite)
    }
    table
  }

  /** [[substrDedupIncrementalQuery]] with the window-hash catalog
    * stored BUCKETED on `whash` — the recurring screen join plans
    * exchange-free on the ever-growing catalog side (PlanSpec-
    * guarded); only the daily batch shuffles. Same oracle. */
  private def substrDedupIncrementalBucketed(spark: SparkSession, dir: String): DataFrame = {
    val table = ensureWindowCatalogLayout(spark, dir)
    graft.dedup.Dedup.substrDedupIncremental(
      Tables.documents(spark, dir).filter(col("doc_id") >= 250),
      spark.table(table), w = 8)
  }

  /** Span-level exact dedup ([[graft.dedup.Dedup.spanDedup]]): drop
    * repeated 20-token chunks corpus-wide, rebuild each document from
    * its surviving chunks. */
  private def spanDedupQuery(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.spanDedup(Tables.documents(spark, dir), window = 20)

  /** Incremental catalog dedup ([[graft.dedup.Dedup.incrementalDedup]]):
    * docs < 250 form the accepted-fingerprint catalog; the rest are
    * the incoming batch. Output = the catalog delta. */
  private def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val catalog = docs.filter(col("doc_id") < 250)
      .select(md5(col("text")).as("fingerprint")).distinct()
    graft.dedup.Dedup
      .incrementalDedup(docs.filter(col("doc_id") >= 250), catalog)
      .catalogDelta
  }

  /** Bounded batch replay of [[graft.streaming.StreamingNearDup]]'s
    * screen decision rule at threshold 1.0 (exact-signature
    * screening; the cap is set far above any bucket at these SFs so
    * admission depends only on matching): the streaming query runs
    * AvailableNow over the parquet source — one batch, so per-bucket
    * processing is globally doc_id-ordered — into a memory sink. At
    * est-Jaccard 1.0 a document matches iff its FULL MinHash
    * signature equals an earlier-ADMITTED doc's; since only each
    * signature-group's minimum id is ever admitted, the oracle is
    * closed-form SQL: one verdict per band for every non-min member
    * of a (band bucket, signature) group, dup_of = the group min.
    * Sub-1.0 thresholds and the cap path are spec-covered
    * (StreamingSpec); this row pins the end-to-end decision rule
    * against DuckDB. */
  private def streamingNeardupReplay(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    // documents.parquet is a bare FILE at these SFs; the file stream
    // source needs a glob (its base path — the non-glob prefix — must
    // be a directory), so wrap the name in a {} glob
    val src = spark.readStream.schema(schema)
      .parquet(s"$dir/{documents.parquet}")
      .select(col("doc_id"), col("text"))
    // stable sink name, previous incarnation dropped first: a memory
    // sink pins its full result set in driver memory for as long as
    // the temp view references it, so UUID-per-call names would leak
    // one verdict set per invocation across a bench sweep. The query
    // map runs each name at most once concurrently, so the stable
    // name cannot race with itself.
    val sink = "graft_neardup_replay_sink"
    spark.catalog.dropTempView(sink)
    val q = graft.streaming.StreamingNearDup
      .nearDupStream(src, threshold = 1.0, bucketCap = 1 << 20)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sink)
  }

  /** Incremental MinHash near-dup dedup
    * ([[graft.dedup.Dedup.incrementalNearDup]]): docs < 250's LSH
    * bands form the accepted-corpus band catalog; the rest are the
    * incoming batch, screened band-against-catalog then near-dup'd
    * within the batch. Output = the append-only catalog delta. */
  private def dedupIncrementalMinhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val catalog = graft.dedup.Dedup.lshBands(
      graft.dedup.Dedup.minhashSignatures(docs.filter(col("doc_id") < 250)))
    graft.dedup.Dedup
      .incrementalNearDup(docs.filter(col("doc_id") >= 250), catalog)
      .catalogDelta
  }

  /** Build-if-absent of the bucketed band-catalog layout; returns the
    * table name. Bucketed on EXACTLY the screen-join keys — subset-key
    * bucketing fails Spark's co-partition check and the planner would
    * shuffle both sides anyway (see Bucketing.writeBucketed). */
  private def ensureBandCatalogLayout(spark: SparkSession, dir: String): String = {
    val table = "graft_band_catalog_" + dirFingerprint(dir)
    if (!spark.catalog.tableExists(table)) {
      graft.sources.Bucketing.writeBucketed(
        graft.dedup.Dedup.lshBands(
          graft.dedup.Dedup.minhashSignatures(
            Tables.documents(spark, dir).filter(col("doc_id") < 250))),
        table, Seq("band_idx", "band_hash"), nBuckets = 8,
        mode = org.apache.spark.sql.SaveMode.Overwrite)
    }
    table
  }

  /** [[dedupIncrementalMinhash]] with the band catalog stored as a
    * BUCKETED table — bucketBy (band_idx, band_hash), EXACTLY the
    * screen-join keys: the recurring screen join plans exchange-free
    * on the catalog side — only the daily ingest batch shuffles,
    * never the ever-growing accepted-corpus catalog. This is the
    * 100 TB re-ingest shape [[graft.dedup.Dedup.incrementalNearDup]]'s
    * Scaladoc promises; `PlanSpec` asserts the no-Exchange plan.
    * Layout cost is paid once per source snapshot (same
    * fingerprint-keyed reuse as `staging_agg_bucketed`). */
  private def dedupIncrementalMinhashBucketed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val table = ensureBandCatalogLayout(spark, dir)
    graft.dedup.Dedup
      .incrementalNearDup(docs.filter(col("doc_id") >= 250), spark.table(table))
      .catalogDelta
  }

  /** Verified variant ([[graft.dedup.Dedup.incrementalNearDupVerified]]):
    * same split, but a catalog band collision only drops a batch doc
    * after exact-Jaccard confirmation against the colliding catalog
    * doc's shingles — the precision-recovering mode. */
  private def dedupIncrementalMinhashVerified(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val catalogDocs = docs.filter(col("doc_id") < 250)
    // Scoped persist: the catalog signatures feed BOTH the band catalog
    // (screen side) and the shingle catalog (verify side) — without the
    // cache the catalog's shingling + minhash kernel runs once per
    // branch inside the screen+verify job. Safe to release immediately:
    // incrementalNearDupVerified materializes every consumer eagerly
    // (the screen-hit checkpoint) before returning.
    val catalogSigs = graft.dedup.Dedup.minhashSignatures(catalogDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      graft.dedup.Dedup
        .incrementalNearDupVerified(docs.filter(col("doc_id") >= 250),
          graft.dedup.Dedup.lshBands(catalogSigs),
          catalogSigs.select(col("doc_id"), col("shingles")))
        .catalogDelta
    } finally { catalogSigs.unpersist(blocking = false); () }
  }

  /** [[TextFunctions.boilerplateHashes]] (eager, capN-bounded driver
    * collect — the IVF-centroid inlining convention) feeding the
    * map-side [[TextFunctions.boilerplateRemove]] rewrite. */
  private def boilerplateStrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextFunctions.boilerplateRemove(docs,
      TextFunctions.boilerplateHashes(docs))
  }

  /** Shared by `dedup_incremental_minhash` and its `_bucketed`
    * twin (same semantics; they differ only in the catalog's
    * physical layout, which the oracle cannot see). */
  private val dedupIncrMinhashOracleSql: String =
    s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id, $shinglesSql AS shingles FROM documents),
         |sigs AS (
         |  SELECT doc_id, shingles,
         |    list_transform(range(0, 12), j ->
         |      list_aggregate(list_transform(shingles,
         |        s -> (CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % 2147483648
         |              + j * (CAST(concat('0x', substring(md5(s), 16, 15)) AS BIGINT) % 2147483648))
         |             % 2147483648), 'min')) AS sig
         |  FROM docs WHERE len(shingles) > 0),
         |bands_all AS (
         |  SELECT doc_id, b AS band_idx,
         |    concat_ws(',', sig[b*3+1], sig[b*3+2], sig[b*3+3]) AS band_hash
         |  FROM sigs, range(0, 4) AS t(b)),
         |cat AS (SELECT DISTINCT band_idx, band_hash FROM bands_all WHERE doc_id < 250),
         |bb AS (SELECT doc_id, band_idx, band_hash FROM bands_all WHERE doc_id >= 250),
         |hit AS (SELECT DISTINCT bb.doc_id FROM bb JOIN cat USING (band_idx, band_hash)),
         |sb AS (SELECT * FROM bb WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
         |bsz AS (
         |  SELECT band_idx, band_hash FROM sb
         |  GROUP BY band_idx, band_hash HAVING count(*) <= 1000),
         |sb2 AS (
         |  SELECT s.doc_id, s.band_idx, s.band_hash
         |  FROM sb s JOIN bsz USING (band_idx, band_hash)),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sb2 a JOIN sb2 b
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
         |dropped AS (SELECT src AS doc_id FROM reach GROUP BY src HAVING min(dst) <> src),
         |rej AS (SELECT doc_id FROM hit UNION ALL SELECT doc_id FROM dropped)
         |SELECT doc_id, CAST(band_idx AS INT) AS band_idx, band_hash
         |FROM bb WHERE doc_id NOT IN (SELECT doc_id FROM rej)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // Bloom decontamination replayed exactly: the bitset is the
    // distinct eval-probe position set (a bit is set iff some eval
    // shingle probes it), and a corpus shingle is flagged iff all 3
    // Kirsch-Mitzenmacher positions (two md5 halves) are present —
    // false positives reproduce identically.
    QuerySpec("decontaminate_bloom", decontaminateBloom,
      s"""WITH split AS (
         |  SELECT doc_id, text,
         |    CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), 'decon')), 1, 15)) AS BIGINT) % 100 AS bucket
         |  FROM documents),
         |tr AS (SELECT doc_id, text FROM split WHERE bucket < 80),
         |te AS (SELECT doc_id, text FROM split WHERE bucket >= 80),
         |evsh AS (SELECT DISTINCT sh FROM (SELECT unnest($shinglesSql) AS sh FROM te)),
         |pos AS (
         |  SELECT DISTINCT (h1 + i * h2) % 1048576 AS p
         |  FROM (SELECT
         |          CAST(concat('0x', substring(md5(sh), 1, 15)) AS BIGINT) AS h1,
         |          CAST(concat('0x', substring(md5(sh), 16, 15)) AS BIGINT) AS h2
         |        FROM evsh)
         |  CROSS JOIN range(3) t(i)),
         |csh AS (SELECT doc_id, sh FROM (SELECT doc_id, unnest($shinglesSql) AS sh FROM tr)),
         |probe AS (
         |  SELECT doc_id, sh, (h1 + i * h2) % 1048576 AS p
         |  FROM (SELECT doc_id, sh,
         |          CAST(concat('0x', substring(md5(sh), 1, 15)) AS BIGINT) AS h1,
         |          CAST(concat('0x', substring(md5(sh), 16, 15)) AS BIGINT) AS h2
         |        FROM csh)
         |  CROSS JOIN range(3) t(i)),
         |hits AS (
         |  SELECT doc_id, sh, count(*) AS nhit
         |  FROM probe JOIN pos USING (p)
         |  GROUP BY doc_id, sh),
         |flg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged
         |        FROM hits WHERE nhit = 3 GROUP BY doc_id),
         |tot AS (SELECT doc_id, CAST(len($shinglesSql) AS BIGINT) AS n_shingles FROM tr),
         |scored AS (
         |  SELECT t.doc_id, t.n_shingles,
         |    CAST(COALESCE(f.n_flagged, 0) AS BIGINT) AS n_flagged,
         |    CASE WHEN t.n_shingles = 0 THEN 0.0
         |         ELSE CAST(COALESCE(f.n_flagged, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)
         |    END AS bloom_frac
         |  FROM tot t LEFT JOIN flg f ON t.doc_id = f.doc_id)
         |SELECT doc_id, n_shingles, n_flagged, bloom_frac,
         |  bloom_frac > 0.1 AS flagged
         |FROM scored""".stripMargin),
    // Span dedup: first (doc_id, idx) occurrence of each 20-token chunk
    // hash wins; docs rebuild from surviving chunks (empty string when
    // every chunk was seen earlier).
    QuerySpec("span_dedup", spanDedupQuery,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id, t,
        |    unnest(range(0, CAST(ceil(len(t) / 20.0) AS INT))) AS idx
        |  FROM toks),
        |hashed AS (
        |  SELECT doc_id, idx,
        |    md5(array_to_string(t[idx*20+1 : idx*20+20], ' ')) AS h
        |  FROM chunks),
        |win AS (
        |  SELECT doc_id, idx,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn
        |  FROM hashed),
        |kept AS (SELECT doc_id, idx FROM win WHERE rn = 1)
        |SELECT tk.doc_id,
        |  coalesce(array_to_string(
        |    flatten(list(tk.t[k.idx*20+1 : k.idx*20+20] ORDER BY k.idx)
        |            FILTER (k.idx IS NOT NULL)), ' '), '') AS text_dedup,
        |  CAST(count(k.idx) AS INT) AS n_chunks_kept
        |FROM toks tk LEFT JOIN kept k ON tk.doc_id = k.doc_id
        |GROUP BY tk.doc_id""".stripMargin),
    // ExactSubstr-style sliding-window removal replayed exactly: same
    // 60-bit window hash, same scalar occurrence key doc_id*2^20+pos,
    // same coverage rule (token dies iff a redundant window covers it)
    QuerySpec("substr_dedup", substrDedupQuery,
      """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts FROM documents),
        |occ AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    CAST(concat('0x', substring(md5(array_to_string(list_slice(ts, i, i + 7), ' ')), 1, 15)) AS BIGINT) AS whash,
        |    doc_id * 1048576 + (i - 1) AS occ_key
        |  FROM d, unnest(generate_series(1, len(ts) - 7)) AS u(i)
        |  WHERE len(ts) >= 8),
        |el AS (SELECT whash, min(occ_key) AS min_key, count(*) AS n_occ FROM occ GROUP BY whash),
        |cut AS (SELECT doc_id, list_sort(list(pos)) AS cuts
        |        FROM occ JOIN el USING (whash)
        |        WHERE n_occ >= 2 AND occ_key <> min_key
        |        GROUP BY doc_id),
        |r AS (SELECT d.doc_id, ts,
        |        CASE WHEN cuts IS NULL THEN CAST([] AS BIGINT[]) ELSE cuts END AS cuts
        |      FROM d LEFT JOIN cut USING (doc_id)),
        |k AS (SELECT doc_id, ts,
        |        list_filter(range(0, len(ts)), i ->
        |          len(list_filter(cuts, s -> i >= s AND i < s + 8)) = 0) AS keep
        |      FROM r)
        |SELECT doc_id,
        |  COALESCE(array_to_string(list_transform(keep, i -> ts[CAST(i + 1 AS INT)]), ' '), '') AS text_dedup,
        |  CAST(len(ts) AS BIGINT) AS n_tokens,
        |  CAST(len(ts) - len(keep) AS BIGINT) AS n_removed
        |FROM k""".stripMargin),
    QuerySpec("substr_dedup_spans", substrDedupSpansQuery,
      """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts FROM documents),
        |occ AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    CAST(concat('0x', substring(md5(array_to_string(list_slice(ts, i, i + 7), ' ')), 1, 15)) AS BIGINT) AS whash,
        |    doc_id * 1048576 + (i - 1) AS occ_key
        |  FROM d, unnest(generate_series(1, len(ts) - 7)) AS u(i)
        |  WHERE len(ts) >= 8),
        |el AS (SELECT whash, min(occ_key) AS min_key, count(*) AS n_occ FROM occ GROUP BY whash),
        |dup AS (SELECT doc_id, pos FROM occ JOIN el USING (whash)
        |        WHERE n_occ >= 2 AND occ_key <> min_key),
        |isl AS (SELECT doc_id, pos,
        |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |        FROM dup),
        |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
        |       FROM isl GROUP BY doc_id, grp
        |       HAVING max(pos) + 7 - min(pos) + 1 >= 20),
        |spl AS (SELECT doc_id, list_sort(list([s, e])) AS spans, count(*) AS n_sp
        |        FROM sp GROUP BY doc_id),
        |r AS (SELECT d.doc_id, ts,
        |        CASE WHEN spans IS NULL THEN CAST([] AS BIGINT[][]) ELSE spans END AS spans,
        |        COALESCE(n_sp, 0) AS n_sp
        |      FROM d LEFT JOIN spl USING (doc_id)),
        |k AS (SELECT doc_id, ts, n_sp,
        |        list_filter(range(0, len(ts)), i ->
        |          len(list_filter(spans, sp2 -> i >= sp2[1] AND i <= sp2[2])) = 0) AS keep
        |      FROM r)
        |SELECT doc_id,
        |  COALESCE(array_to_string(list_transform(keep, i -> ts[CAST(i + 1 AS INT)]), ' '), '') AS text_dedup,
        |  CAST(len(ts) AS BIGINT) AS n_tokens,
        |  CAST(len(ts) - len(keep) AS BIGINT) AS n_removed,
        |  CAST(n_sp AS BIGINT) AS n_spans
        |FROM k""".stripMargin),
    // incremental variant: catalog hit cuts unconditionally, plus the
    // within-batch first-occurrence rule
    QuerySpec("substr_dedup_incremental", substrDedupIncrementalQuery, substrIncrOracleSql),
    // the bucketed-catalog twin is value-identical by construction —
    // same oracle (layout changes the plan, never the answer)
    QuerySpec("substr_dedup_incremental_bucketed", substrDedupIncrementalBucketed, substrIncrOracleSql,
      layout = Some(ensureWindowCatalogLayout(_, _))),
    QuerySpec("dedup_incremental", dedupIncremental,
      """WITH cat AS (
        |  SELECT DISTINCT md5(text) AS fingerprint FROM documents WHERE doc_id < 250),
        |fp AS (
        |  SELECT md5(text) AS fingerprint, min(doc_id) AS doc_id
        |  FROM documents WHERE doc_id >= 250 GROUP BY 1)
        |SELECT fp.fingerprint, fp.doc_id
        |FROM fp ANTI JOIN cat ON fp.fingerprint = cat.fingerprint""".stripMargin),
    // streaming screen replay at threshold 1.0: a doc matches iff its
    // full signature equals an earlier-admitted doc's, so the admitted
    // doc per (band bucket, signature) group is the group min and
    // every later member emits one verdict per band
    QuerySpec("streaming_neardup_replay", streamingNeardupReplay,
      s"""WITH docs AS (
         |  SELECT doc_id, $shinglesSql AS shingles FROM documents),
         |sigs AS (
         |  SELECT doc_id,
         |    list_transform(range(0, 12), j ->
         |      list_aggregate(list_transform(shingles,
         |        s -> (CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % 2147483648
         |              + j * (CAST(concat('0x', substring(md5(s), 16, 15)) AS BIGINT) % 2147483648))
         |             % 2147483648), 'min')) AS sig
         |  FROM docs WHERE len(shingles) > 0),
         |bands_all AS (
         |  SELECT doc_id, b AS band_idx,
         |    concat_ws(',', sig[b*3+1], sig[b*3+2], sig[b*3+3]) AS band_hash, sig
         |  FROM sigs, range(0, 4) AS t(b)),
         |grp AS (
         |  SELECT band_idx, band_hash, sig, min(doc_id) AS dup_of
         |  FROM bands_all GROUP BY band_idx, band_hash, sig)
         |SELECT b.doc_id, CAST(b.band_idx AS INT) AS band_idx, g.dup_of,
         |  CAST(1.0 AS DOUBLE) AS est_jaccard
         |FROM bands_all b JOIN grp g
         |  ON b.band_idx = g.band_idx AND b.band_hash = g.band_hash
         |    AND b.sig = g.sig
         |WHERE b.doc_id > g.dup_of""".stripMargin),
    // content-defined chunking: the same LBFS-style boundary rule
    // replayed row-wise — window string_agg rebuilds each w-token
    // window, the cumulative boundary count assigns chunk ids
    QuerySpec("cdc_chunks", cdcChunks,
      s"""WITH d AS (SELECT doc_id, $toksSql AS ts FROM documents),
         |tok AS (SELECT doc_id, i AS pos, ts[i] AS tok, len(ts) AS n
         |        FROM d, unnest(generate_series(1, len(ts))) AS u(i)),
         |win AS (SELECT doc_id, pos, tok, n,
         |    string_agg(tok, ' ') OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wnd,
         |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wlen
         |  FROM tok),
         |b AS (SELECT doc_id, pos, tok,
         |    (pos = n OR (wlen = 4 AND
         |      CAST(concat('0x', substring(md5(wnd), 1, 15)) AS BIGINT) % 8 = 0)) AS is_b
         |  FROM win),
         |cid AS (SELECT doc_id, pos, tok,
         |    COALESCE(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
         |  FROM b)
         |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(concat('0x', substring(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 15)) AS BIGINT) AS chunk_hash
         |FROM cid GROUP BY doc_id, chunk_idx""".stripMargin),
    // chunk-level CDC dedup: first occurrence (doc_id, chunk_idx) of
    // each chunk hash wins; every doc rebuilds from survivors
    QuerySpec("cdc_dedup", cdcDedupQ,
      s"""WITH d AS (SELECT doc_id, $toksSql AS ts FROM documents),
         |tok AS (SELECT doc_id, i AS pos, ts[i] AS tok, len(ts) AS n
         |        FROM d, unnest(generate_series(1, len(ts))) AS u(i)),
         |win AS (SELECT doc_id, pos, tok, n,
         |    string_agg(tok, ' ') OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wnd,
         |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wlen
         |  FROM tok),
         |b AS (SELECT doc_id, pos, tok,
         |    (pos = n OR (wlen = 4 AND
         |      CAST(concat('0x', substring(md5(wnd), 1, 15)) AS BIGINT) % 8 = 0)) AS is_b
         |  FROM win),
         |cid AS (SELECT doc_id, pos, tok,
         |    COALESCE(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
         |  FROM b),
         |ch AS (SELECT doc_id, chunk_idx,
         |    string_agg(tok, ' ' ORDER BY pos) AS chunk,
         |    CAST(concat('0x', substring(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 15)) AS BIGINT) AS h
         |  FROM cid GROUP BY doc_id, chunk_idx),
         |keep AS (SELECT doc_id, chunk_idx, chunk FROM (
         |    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
         |    FROM ch) WHERE rn = 1)
         |SELECT doc.doc_id,
         |  COALESCE(k.text_dedup, '') AS text_dedup,
         |  COALESCE(k.nk, 0) AS n_chunks_kept
         |FROM documents doc LEFT JOIN (
         |  SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_idx) AS text_dedup,
         |    CAST(count(*) AS INT) AS nk
         |  FROM keep GROUP BY doc_id) k USING (doc_id)""".stripMargin),
    QuerySpec("dedup_incremental_minhash", dedupIncrementalMinhash, dedupIncrMinhashOracleSql),
    // identical semantics, bucketed catalog layout
    QuerySpec("dedup_incremental_minhash_bucketed", dedupIncrementalMinhashBucketed, dedupIncrMinhashOracleSql,
      layout = Some(ensureBandCatalogLayout(_, _))),
    // verified variant: identical pipeline, but a catalog band
    // collision only drops the batch doc after exact-Jaccard
    // confirmation against the colliding catalog doc's shingle set
    QuerySpec("dedup_incremental_minhash_verified", dedupIncrementalMinhashVerified,
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id, $shinglesSql AS shingles FROM documents),
         |sigs AS (
         |  SELECT doc_id, shingles,
         |    list_transform(range(0, 12), j ->
         |      list_aggregate(list_transform(shingles,
         |        s -> (CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % 2147483648
         |              + j * (CAST(concat('0x', substring(md5(s), 16, 15)) AS BIGINT) % 2147483648))
         |             % 2147483648), 'min')) AS sig
         |  FROM docs WHERE len(shingles) > 0),
         |bands_all AS (
         |  SELECT doc_id, b AS band_idx,
         |    concat_ws(',', sig[b*3+1], sig[b*3+2], sig[b*3+3]) AS band_hash
         |  FROM sigs, range(0, 4) AS t(b)),
         |cat AS (SELECT DISTINCT doc_id, band_idx, band_hash
         |        FROM bands_all WHERE doc_id < 250),
         |bb AS (SELECT doc_id, band_idx, band_hash FROM bands_all WHERE doc_id >= 250),
         |hitp AS (
         |  SELECT DISTINCT bb.doc_id AS b_id, cat.doc_id AS c_id
         |  FROM bb JOIN cat
         |    ON bb.band_idx = cat.band_idx AND bb.band_hash = cat.band_hash),
         |hit AS (
         |  SELECT DISTINCT h.b_id AS doc_id
         |  FROM hitp h JOIN sigs a ON h.b_id = a.doc_id
         |    JOIN sigs c ON h.c_id = c.doc_id
         |  WHERE CAST(len(list_intersect(a.shingles, c.shingles)) AS DOUBLE)
         |    / CAST(len(a.shingles) + len(c.shingles)
         |           - len(list_intersect(a.shingles, c.shingles)) AS DOUBLE) >= 0.8),
         |sb AS (SELECT * FROM bb WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
         |bsz AS (
         |  SELECT band_idx, band_hash FROM sb
         |  GROUP BY band_idx, band_hash HAVING count(*) <= 1000),
         |sb2 AS (
         |  SELECT s.doc_id, s.band_idx, s.band_hash
         |  FROM sb s JOIN bsz USING (band_idx, band_hash)),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sb2 a JOIN sb2 b
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
         |dropped AS (SELECT src AS doc_id FROM reach GROUP BY src HAVING min(dst) <> src),
         |rej AS (SELECT doc_id FROM hit UNION ALL SELECT doc_id FROM dropped)
         |SELECT doc_id, CAST(band_idx AS INT) AS band_idx, band_hash
         |FROM bb WHERE doc_id NOT IN (SELECT doc_id FROM rej)""".stripMargin),
    // cross-source span-overlap matrix (corpus forensics: which
    // sources share boilerplate/quoted passages)
    QuerySpec("source_overlap", (s, d) =>
      TextFunctions.sourceSpanOverlap(Tables.documents(s, d)),
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |sp0 AS (SELECT DISTINCT source, array_to_string(toks[u.i : u.i+7], ' ') AS sp
         |        FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)),
         |sp AS (SELECT DISTINCT source,
         |    CAST(concat('0x', substring(md5(sp), 1, 15)) AS BIGINT) AS sp_h
         |  FROM sp0)
         |SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
         |FROM sp a JOIN sp b ON a.sp_h = b.sp_h AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin),
    // prefix-boilerplate verdict: docs sharing their first 80 chars
    QuerySpec("prefix_dup", (s, d) =>
      graft.dedup.Dedup.prefixDups(Tables.documents(s, d)),
      """WITH keyed AS (
        |  SELECT doc_id, md5(substr(text, 1, 80)) AS prefix_hash FROM documents),
        |g AS (
        |  SELECT prefix_hash, count(*) AS n_docs, min(doc_id) AS keep_id
        |  FROM keyed GROUP BY 1)
        |SELECT k.doc_id, k.prefix_hash, g.n_docs,
        |  (g.n_docs > 1 AND k.doc_id <> g.keep_id) AS is_prefix_dup
        |FROM keyed k JOIN g USING (prefix_hash)""".stripMargin),
    // suffix twin: templated footers / licence trailers
    QuerySpec("suffix_dup", (s, d) =>
      graft.dedup.Dedup.suffixDups(Tables.documents(s, d)),
      """WITH keyed AS (
        |  SELECT doc_id, md5(right(text, 80)) AS prefix_hash FROM documents),
        |g AS (
        |  SELECT prefix_hash, count(*) AS n_docs, min(doc_id) AS keep_id
        |  FROM keyed GROUP BY 1)
        |SELECT k.doc_id, k.prefix_hash, g.n_docs,
        |  (g.n_docs > 1 AND k.doc_id <> g.keep_id) AS is_prefix_dup
        |FROM keyed k JOIN g USING (prefix_hash)""".stripMargin),
    // leakage-safe split: near-dup CLUSTERS (not docs) are the split
    // unit, so a held-out doc's near-twin can never land in train
    QuerySpec("split_leakage_safe", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.dedup.Dedup.leakageSafeSplit(docs,
        graft.dedup.Dedup.minhashNearDups(docs).select("doc_a", "doc_b"))
    },
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id, $shinglesSql AS shingles FROM documents),
         |sigs AS (
         |  SELECT doc_id, shingles,
         |    list_transform(range(0, 12), j ->
         |      list_aggregate(list_transform(shingles,
         |        s -> (CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % 2147483648
         |              + j * (CAST(concat('0x', substring(md5(s), 16, 15)) AS BIGINT) % 2147483648))
         |             % 2147483648), 'min')) AS sig
         |  FROM docs WHERE len(shingles) > 0),
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
         |e AS (SELECT doc_a AS a, doc_b AS b FROM cands
         |      UNION SELECT doc_b, doc_a FROM cands),
         |reach(src, dst) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
         |cc AS (SELECT src AS doc_id, min(dst) AS cluster_id
         |       FROM reach GROUP BY src)
         |SELECT d.doc_id,
         |  coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
         |  CASE WHEN CAST(concat('0x', substring(md5(concat(
         |         CAST(coalesce(cc.cluster_id, d.doc_id) AS VARCHAR), '')), 1, 15))
         |       AS BIGINT) % 100 < 90
         |    THEN 'train' ELSE 'heldout' END AS split
         |FROM documents d LEFT JOIN cc USING (doc_id)""".stripMargin),
    // edit-distance near-dup pairs over bounded 200-char prefixes,
    // blocked on the exact first 10 chars (record-linkage blocking —
    // no all-pairs compare; thresholded banded-DP Levenshtein)
    QuerySpec("dedup_fuzzy", (s, d) =>
      graft.dedup.Dedup.editDistancePairs(
        Tables.documents(s, d)
          .select(col("doc_id"), substring(col("text"), 1, 200).as("s")),
        "doc_id", "s", maxDist = 10, blockPrefix = 10),
      """WITH d AS (
        |  SELECT doc_id, substring(text, 1, 10) AS blk,
        |    substring(text, 1, 200) AS s
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM d a JOIN d b USING (blk)
        |WHERE a.doc_id < b.doc_id AND levenshtein(a.s, b.s) <= 10""".stripMargin),
    // corpus-uniqueness curation score: fraction of a doc's shingles
    // with df=1 — catches boilerplate assemblies pairwise dedup misses
    // novelty: distinct-shingle posting md5-folded to longs, df
    // aggregate, per-doc df=1 fraction in fixed point
    QuerySpec("ngram_novelty", (s, d) =>
      TextFunctions.ngramNovelty(Tables.documents(s, d)),
      s"""WITH sp AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substring(md5(sh), 1, 15)) AS BIGINT) AS sh_h
         |  FROM (SELECT doc_id, unnest($shinglesSql) AS sh FROM documents)),
         |dfc AS (SELECT sh_h, count(*) AS df FROM sp GROUP BY 1),
         |pd AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |    CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
         |  FROM sp JOIN dfc USING (sh_h) GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(pd.n_shingles, 0) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(pd.n_unique, 0) AS BIGINT) AS n_unique,
         |  CAST(CASE WHEN coalesce(pd.n_shingles, 0) > 0
         |    THEN (1000000 * pd.n_unique) // pd.n_shingles
         |    ELSE 0 END AS BIGINT) AS novelty_fp
         |FROM (SELECT DISTINCT doc_id FROM documents) d
         |LEFT JOIN pd USING (doc_id)""".stripMargin),
    // exact integer PMI inputs over the top-50 document-frequency terms
    QuerySpec("term_pairs", (s, d) =>
      TextFunctions.termCooccurrence(Tables.documents(s, d)),
      s"""WITH dt AS (
         |  SELECT DISTINCT doc_id, t.term FROM (
         |    SELECT doc_id, unnest($toksSql) AS term FROM documents) t
         |  WHERE t.term <> ''),
         |top AS (
         |  SELECT term, count(*) AS df FROM dt GROUP BY 1
         |  ORDER BY df DESC, term ASC LIMIT 50),
         |m AS (SELECT dt.doc_id, dt.term, top.df FROM dt JOIN top USING (term))
         |SELECT a.term AS term_a, b.term AS term_b,
         |  a.df AS n_a, b.df AS n_b, count(*) AS n_both
         |FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
         |GROUP BY 1, 2, 3, 4""".stripMargin),
    // ensemble near-dup verdict: lexical (MinHash Jaccard) and
    // semantic (embedding cosine) evidence joined on the same LSH
    // candidate pairs; agree = both signals past threshold
    QuerySpec("dedup_ensemble", (s, d) => {
      val pairs = Dedup.minhashNearDups(Tables.documents(s, d))
        .select("doc_a", "doc_b", "jaccard")
      val e = Tables.embeddings(s, d)
      val ea = e.select(col("vec_id").as("doc_a"), col("embedding").as("emb_a"),
        Similarity.norm(col("embedding")).as("na"))
      val eb = e.select(col("vec_id").as("doc_b"), col("embedding").as("emb_b"),
        Similarity.norm(col("embedding")).as("nb"))
      pairs.join(ea, "doc_a").join(eb, "doc_b")
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          round(Similarity.dot(col("emb_a"), col("emb_b")) /
            (col("na") * col("nb")), 9).as("cos"))
        .withColumn("agree", col("jaccard") >= 0.5 && col("cos") >= 0.2)
    }, {
      val dotAb = dotSql("ea.embedding", "eb.embedding")
      val na = dotSql("ea.embedding", "ea.embedding")
      val nb = dotSql("eb.embedding", "eb.embedding")
      s"""WITH $minhashCandCtesSql,
         |jac AS (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |      / CAST(len(sa.shingles) + len(sb.shingles)
         |          - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) AS jaccard
         |  FROM cands c
         |  JOIN sigs sa ON c.doc_a = sa.doc_id
         |  JOIN sigs sb ON c.doc_b = sb.doc_id)
         |SELECT j.doc_a, j.doc_b, j.jaccard,
         |  round($dotAb / (sqrt($na) * sqrt($nb)), 9) AS cos,
         |  (j.jaccard >= 0.5 AND round($dotAb / (sqrt($na) * sqrt($nb)), 9) >= 0.2) AS agree
         |FROM jac j
         |JOIN embeddings ea ON j.doc_a = ea.vec_id
         |JOIN embeddings eb ON j.doc_b = eb.vec_id""".stripMargin
    }),
    // per-doc duplicated 8-token-span fraction (the exact-substring
    // dedup decision metric)
    // duplicated 8-token-span stats: DISTINCT spans per doc, md5-folded
    // to a BIGINT before counting (identical fold both engines, so even
    // a hash collision cannot diverge the comparison)
    QuerySpec("span_dup_stats", (s, d) =>
      TextFunctions.dupSpanStats(Tables.documents(s, d)),
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sp0 AS (SELECT DISTINCT doc_id, array_to_string(toks[u.i : u.i+7], ' ') AS sp
         |        FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)),
         |sp AS (SELECT doc_id,
         |    CAST(concat('0x', substring(md5(sp), 1, 15)) AS BIGINT) AS sp_h
         |  FROM sp0),
         |w AS (SELECT doc_id, count(*) OVER (PARTITION BY sp_h) AS nd FROM sp),
         |pd AS (SELECT doc_id, count(*) AS n_spans,
         |    CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
         |  FROM w GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(pd.n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(coalesce(pd.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
         |  CASE WHEN coalesce(pd.n_spans, 0) > 0
         |    THEN CAST(pd.n_dup_spans AS DOUBLE) / CAST(pd.n_spans AS DOUBLE)
         |    ELSE 0.0 END AS dup_frac
         |FROM (SELECT DISTINCT doc_id FROM documents) d
         |LEFT JOIN pd USING (doc_id)""".stripMargin),
    QuerySpec("dedup_exact", dedupExact,
      """SELECT md5(text) AS text_hash, count(*) AS n_copies,
        |  min(doc_id) AS keep_id
        |FROM documents GROUP BY md5(text)""".stripMargin),
    QuerySpec("dedup_minhash", dedupMinhash,
      s"""WITH docs AS (
         |  SELECT doc_id, $shinglesSql AS shingles FROM documents),
         |sigs AS (
         |  SELECT doc_id, shingles,
         |    list_transform(range(0, 12), j ->
         |      list_aggregate(list_transform(shingles,
         |        s -> (CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % 2147483648
         |              + j * (CAST(concat('0x', substring(md5(s), 16, 15)) AS BIGINT) % 2147483648))
         |             % 2147483648), 'min')) AS sig
         |  FROM docs WHERE len(shingles) > 0),
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
         |  WHERE a.doc_id < b.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS n_inter,
         |  CAST(len(sa.shingles) + len(sb.shingles)
         |    - len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS n_union,
         |  CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |    / CAST(len(sa.shingles) + len(sb.shingles)
         |        - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) AS jaccard
         |FROM cands c
         |JOIN sigs sa ON c.doc_a = sa.doc_id
         |JOIN sigs sb ON c.doc_b = sb.doc_id""".stripMargin),
    // incremental MinHash near-dup: catalog = bands of docs < 250;
    // batch docs sharing ANY band with the catalog are dropped, the
    // rest run the capped within-batch LSH → jaccard ≥ 0.8 → CC keep-
    // min pipeline; output = the fresh docs' band rows (catalog delta)
    // bipartite near-dup audit: candidates only ACROSS the id split,
    // per-side bucket caps, exact-Jaccard scores
    QuerySpec("dedup_cross", dedupCross,
      s"""WITH docs AS (
         |  SELECT doc_id, $shinglesSql AS shingles FROM documents),
         |sigs AS (
         |  SELECT doc_id, shingles,
         |    list_transform(range(0, 12), j ->
         |      list_aggregate(list_transform(shingles,
         |        s -> (CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % 2147483648
         |              + j * (CAST(concat('0x', substring(md5(s), 16, 15)) AS BIGINT) % 2147483648))
         |             % 2147483648), 'min')) AS sig
         |  FROM docs WHERE len(shingles) > 0),
         |bands_all AS (
         |  SELECT doc_id, b AS band_idx,
         |    concat_ws(',', sig[b*3+1], sig[b*3+2], sig[b*3+3]) AS band_hash
         |  FROM sigs, range(0, 4) AS t(b)),
         |ba AS (SELECT * FROM bands_all WHERE doc_id < 250),
         |bb AS (SELECT * FROM bands_all WHERE doc_id >= 250),
         |sza AS (SELECT band_idx, band_hash FROM ba
         |        GROUP BY band_idx, band_hash HAVING count(*) <= 1000),
         |szb AS (SELECT band_idx, band_hash FROM bb
         |        GROUP BY band_idx, band_hash HAVING count(*) <= 1000),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM (SELECT ba.* FROM ba JOIN sza USING (band_idx, band_hash)) a
         |  JOIN (SELECT bb.* FROM bb JOIN szb USING (band_idx, band_hash)) b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS n_inter,
         |  CAST(len(sa.shingles) + len(sb.shingles)
         |       - len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS n_union,
         |  CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |    / CAST(len(sa.shingles) + len(sb.shingles)
         |           - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) AS jaccard
         |FROM cands c
         |JOIN sigs sa ON c.doc_a = sa.doc_id
         |JOIN sigs sb ON c.doc_b = sb.doc_id""".stripMargin),
    // split leakage: the dedup_cross pair construction with the salted
    // split bucket as the boundary (train vs val/test), jaccard >= 0.8,
    // and the eval side's split label on each flagged row
    QuerySpec("split_leakage", splitLeakageQ,
      s"""WITH sp AS (
         |  SELECT doc_id, text,
         |    CASE WHEN b < 10 THEN 'val' WHEN b < 20 THEN 'test'
         |         ELSE 'train' END AS split
         |  FROM (SELECT doc_id, text,
         |          CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), 'split')), 1, 15)) AS BIGINT) % 100 AS b
         |        FROM documents)),
         |docs AS (
         |  SELECT doc_id, split, $shinglesSql AS shingles FROM sp),
         |sigs AS (
         |  SELECT doc_id, split, shingles,
         |    list_transform(range(0, 12), j ->
         |      list_aggregate(list_transform(shingles,
         |        s -> (CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % 2147483648
         |              + j * (CAST(concat('0x', substring(md5(s), 16, 15)) AS BIGINT) % 2147483648))
         |             % 2147483648), 'min')) AS sig
         |  FROM docs WHERE len(shingles) > 0),
         |bands_all AS (
         |  SELECT doc_id, split, b AS band_idx,
         |    concat_ws(',', sig[b*3+1], sig[b*3+2], sig[b*3+3]) AS band_hash
         |  FROM sigs, range(0, 4) AS t(b)),
         |ba AS (SELECT * FROM bands_all WHERE split = 'train'),
         |bb AS (SELECT * FROM bands_all WHERE split <> 'train'),
         |sza AS (SELECT band_idx, band_hash FROM ba
         |        GROUP BY band_idx, band_hash HAVING count(*) <= 1000),
         |szb AS (SELECT band_idx, band_hash FROM bb
         |        GROUP BY band_idx, band_hash HAVING count(*) <= 1000),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM (SELECT ba.* FROM ba JOIN sza USING (band_idx, band_hash)) a
         |  JOIN (SELECT bb.* FROM bb JOIN szb USING (band_idx, band_hash)) b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash),
         |scored AS (
         |  SELECT c.doc_a, c.doc_b, sb.split,
         |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS n_inter,
         |    CAST(len(sa.shingles) + len(sb.shingles)
         |         - len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS n_union,
         |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |      / CAST(len(sa.shingles) + len(sb.shingles)
         |             - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) AS jaccard
         |  FROM cands c
         |  JOIN sigs sa ON c.doc_a = sa.doc_id
         |  JOIN sigs sb ON c.doc_b = sb.doc_id)
         |SELECT doc_b AS doc_id, split, doc_a AS train_partner,
         |  n_inter, n_union, jaccard
         |FROM scored WHERE jaccard >= 0.8""".stripMargin),
    // containment re-scoring of the same LSH candidates
    QuerySpec("dedup_containment", (s, d) =>
      graft.dedup.Dedup.containmentNearDups(Tables.documents(s, d))
        .filter(col("containment") >= 0.5),
      s"""WITH docs AS (
         |  SELECT doc_id, $shinglesSql AS shingles FROM documents),
         |sigs AS (
         |  SELECT doc_id, shingles,
         |    list_transform(range(0, 12), j ->
         |      list_aggregate(list_transform(shingles,
         |        s -> (CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % 2147483648
         |              + j * (CAST(concat('0x', substring(md5(s), 16, 15)) AS BIGINT) % 2147483648))
         |             % 2147483648), 'min')) AS sig
         |  FROM docs WHERE len(shingles) > 0),
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
         |scored AS (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS n_inter,
         |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |      / CAST(len(sa.shingles) + len(sb.shingles)
         |          - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) AS jaccard,
         |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |      / CAST(least(len(sa.shingles), len(sb.shingles)) AS DOUBLE) AS containment
         |  FROM cands c
         |  JOIN sigs sa ON c.doc_a = sa.doc_id
         |  JOIN sigs sb ON c.doc_b = sb.doc_id)
         |SELECT * FROM scored WHERE containment >= 0.5""".stripMargin),
    QuerySpec("dedup_ngram_jaccard", dedupNgramJaccard,
      s"""WITH docs AS (
         |  SELECT doc_id, $shinglesSql AS sh FROM documents WHERE doc_id < 40),
         |d AS (SELECT * FROM docs WHERE len(sh) > 0)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
         |FROM d a, d b WHERE a.doc_id < b.doc_id""".stripMargin,
      lintExempt = Map("cartesian" ->
        "documented O(n^2) exact-Jaccard baseline (maxId-bounded)"),
      scalingExempt = Some(
        "documented O(n^2) exact Jaccard baseline (maxId-bounded)")),
    QuerySpec("dedup_clusters", dedupClusters,
      s"""WITH RECURSIVE $minhashCcCtesSql
         |SELECT doc_id, cluster_id, cluster_id = doc_id AS keep
         |FROM cc""".stripMargin),
    // quality-aware canonical selection over the same clusters
    // ([[graft.dedup.Dedup.canonicalByQuality]]): each cluster keeps
    // its linear-quality argmax (ties to min id), not the min id
    // same clusters, but the kept member is the cluster's QUALITY
    // argmax (linear score, ties to min doc_id) — the canonical chain
    // plus the quality_score_linear features joined on narrow ids
    QuerySpec("dedup_canonical_quality", (s, d) => {
      val docs = Tables.documents(s, d)
      val clusters = Dedup.nearDupClusters(
        Dedup.minhashNearDups(docs).select("doc_a", "doc_b"))
      val scores = TextFunctions.qualityLinear(docs).select("doc_id", "score_fp")
      Dedup.canonicalByQuality(clusters, scores)
    },
      s"""WITH RECURSIVE $minhashCcCtesSql,
         |f AS (
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
         |  FROM f),
         |q AS (SELECT doc_id,
         |    CAST(400000 + 3 * stop_fp - 10 * punct_fp - len_dev_fp // 5 AS BIGINT) AS score_fp
         |  FROM r),
         |m AS (SELECT cc.doc_id, cc.cluster_id, q.score_fp
         |  FROM cc JOIN q USING (doc_id)),
         |best AS (SELECT cluster_id, doc_id AS canonical_id FROM (
         |  SELECT cluster_id, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY cluster_id
         |      ORDER BY score_fp DESC, doc_id ASC) AS rn
         |  FROM m) WHERE rn = 1)
         |SELECT m.doc_id, m.cluster_id, m.score_fp, b.canonical_id,
         |  m.doc_id = b.canonical_id AS keep
         |FROM m JOIN best b USING (cluster_id)""".stripMargin),
    QuerySpec("dedup_simhash", dedupSimhash, {
      // 60-bit simhash rebuilt in SQL: token md5 -> 60-bit int (first
      // 15 hex chars), per-bit +/-1 votes, sign-packed. Bit powers are
      // exact BIGINT literals.
      val sigTerms = (0 until 60).map { b =>
        val pow = (1L << b).toString
        s"""(CASE WHEN list_sum(list_transform(hs,
           |      h -> CASE WHEN (h // $pow) % 2 = 1 THEN 1 ELSE -1 END)) > 0
           |    THEN $pow ELSE 0 END)""".stripMargin
      }.mkString(" +\n    ")
      val blockDivisors = (0 until 4).map(b => (1L << (15 * b)).toString)
      s"""WITH h AS (
         |  SELECT doc_id, list_transform($toksSql,
         |    t -> CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT)) AS hs
         |  FROM documents),
         |sigs AS (
         |  SELECT doc_id, CAST($sigTerms AS BIGINT) AS sig FROM h),
         |blocks AS (
         |  SELECT doc_id, sig, t.i AS block_idx,
         |    (sig // (${blockDivisors.mkString("[", ", ", "]")})[CAST(t.i AS INT) + 1]) % 32768 AS block_val
         |  FROM sigs, range(0, 4) t(i))
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS hamming
         |FROM blocks x JOIN blocks y
         |  ON x.block_idx = y.block_idx AND x.block_val = y.block_val
         |WHERE x.doc_id < y.doc_id
         |  AND bit_count(xor(x.sig, y.sig)) <= 3""".stripMargin
    }),
    // exact prefix-filtered set-similarity self-join (AllPairs/PPJoin)
    // over SHINGLE sets — the exact quantity MinHash estimates, so
    // this is dedup_minhash's recall-1 twin. 90% is the production
    // near-dup cut; shingles keep prefix buckets bounded where the
    // synthetic corpus's 31-word vocabulary would degenerate word
    // sets to an all-pairs join (44 s → sub-second at sf0.1).
    // KMV sketch: k smallest distinct 60-bit md5 hashes per group;
    // estimate = (k-1) * 2^60 / h_k (exact count when < k distinct).
    // Same double arithmetic both engines; minima serialized as a
    // joined string so the pandas comparator can hash them.
    // brute-force exact shingle-Jaccard join replay — the engine's
    // prefix filter must lose NOTHING vs this; empty-shingle docs
    // (< 3 tokens) are excluded on both sides (a 0/0 Jaccard is not
    // a 90% duplicate)
    QuerySpec("setsim_join", (s, d) =>
      graft.dedup.Dedup.setSimilarityJoin(
        graft.core.Tables.documents(s, d), minJaccardPct = 90,
        setFn = graft.functions.TextFunctions.shingleSet(_)),
      s"""WITH d0 AS (
         |  SELECT doc_id, $shinglesSql AS toks FROM documents),
         |d AS (SELECT * FROM d0 WHERE len(toks) > 0),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_intersect(a.toks, b.toks)) AS i,
         |    len(a.toks) AS na, len(b.toks) AS nb
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(i AS BIGINT) AS n_inter,
         |  CAST(na + nb - i AS BIGINT) AS n_union
         |FROM p WHERE 100 * i >= 90 * (na + nb - i)""".stripMargin),
    QuerySpec("doc_fingerprint", docFingerprint,
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents""".stripMargin),
    QuerySpec("doc_rolling_hash", docRollingHash,
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_transform($toksSql,
         |      t -> CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) % 2147483648),
         |    (acc, x) -> (acc * 31 + x) % 2147483648) AS rolling_hash
         |FROM documents""".stripMargin),
    // decontamination: 80/20 md5-bucket split, train-shingle hash set,
    // per-test-doc matched fraction (same 60-bit md5 hash both engines)
    QuerySpec("decontaminate", decontaminate,
      s"""WITH split AS (
         |  SELECT doc_id, text,
         |    CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), 'decon')), 1, 15)) AS BIGINT) % 100 AS bucket
         |  FROM documents),
         |tr AS (SELECT doc_id, text FROM split WHERE bucket < 80),
         |te AS (SELECT doc_id, text FROM split WHERE bucket >= 80),
         |tsh AS (SELECT DISTINCT CAST(concat('0x', substring(md5(sh), 1, 15)) AS BIGINT) AS h
         |        FROM (SELECT unnest($shinglesSql) AS sh FROM tr)),
         |tesh AS (SELECT doc_id, CAST(concat('0x', substring(md5(sh), 1, 15)) AS BIGINT) AS h
         |         FROM (SELECT doc_id, unnest($shinglesSql) AS sh FROM te)),
         |tot AS (SELECT doc_id, CAST(len($shinglesSql) AS BIGINT) AS n_shingles FROM te),
         |m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched
         |      FROM tesh WHERE h IN (SELECT h FROM tsh) GROUP BY doc_id)
         |SELECT t.doc_id, t.n_shingles,
         |  CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
         |  CASE WHEN t.n_shingles = 0 THEN 0.0
         |       ELSE CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)
         |  END AS contamination
         |FROM tot t LEFT JOIN m ON t.doc_id = m.doc_id""".stripMargin),
    // RefinedWeb-style line dedup: the corpus's repeated 6-token
    // segments (df > 1, capped top-256 by df) are inlined as a literal
    // vocabulary and stripped from every doc map-side — document-level
    // dedup either keeps the chrome or drops the page; this rewrites
    // same 6-token non-overlapping segmentation, same 60-bit md5 fold,
    // same (df desc, hash asc) capped boilerplate cut, then the same
    // list-filter rewrite — the bad list rides in on a one-row cross
    QuerySpec("boilerplate_strip", boilerplateStrip,
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         |cs AS (SELECT doc_id,
         |  list_transform(range(0, CAST(ceil(len(t) / 6.0) AS INT)),
         |    i -> array_to_string(t[i*6+1:i*6+6], ' ')) AS segs FROM tk),
         |sp AS (SELECT doc_id, unnest(list_distinct(segs)) AS seg FROM cs),
         |dfc AS (SELECT CAST(concat('0x', substring(md5(seg), 1, 15)) AS BIGINT) AS seg_h,
         |    count(*) AS df FROM sp GROUP BY 1),
         |bad AS (SELECT seg_h FROM dfc WHERE df > 1
         |  ORDER BY df DESC, seg_h ASC LIMIT 256),
         |badl AS (SELECT coalesce(list(seg_h), []) AS bl FROM bad),
         |r AS (SELECT doc_id, segs,
         |    list_filter(segs, s -> NOT list_contains(bl,
         |      CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT))) AS keep
         |  FROM cs, badl)
         |SELECT doc_id, CAST(len(segs) AS BIGINT) AS n_segments,
         |  CAST(len(segs) - len(keep) AS BIGINT) AS n_removed,
         |  array_to_string(keep, ' ') AS text_clean
         |FROM r""".stripMargin),
  )
}
