package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import Fragments._

/** Image, audio and video feature and dedup queries. */
object MultimodalQueries {

  /** Multimodal plumbing: typed binary asset table → mapPartitions
    * feature extraction; only the SQL-expressible outputs are exposed
    * for the oracle (byte length + content hash). */
  private def multimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.featurize(
      Multimodal.syntheticAssets(Tables.documents(spark, dir)))
      .toDF()
      .select(col("asset_id"), col("media_type"), col("n_bytes"), col("content_hash"))

  /** Real-codec frame pipeline: synthetic Y4M containers → container
    * demux ([[graft.multimodal.Multimodal.frameSample]]) → per-frame
    * features. The constant-luma construction makes every feature a
    * closed-form function of (doc_id, frame_idx), so the oracle
    * predicts the decoded bytes exactly — the same proof shape as
    * `audio_features`. */
  private def multimodalFrames(spark: SparkSession, dir: String): DataFrame =
    Multimodal.frameFeatures(Multimodal.frameSample(
      Multimodal.syntheticVideoAssets(Tables.documents(spark, dir))))
      .toDF()

  /** Composed multimodal pipeline: decode → resize → featurize over
    * the typed asset table (three chained mapPartitions stages). The
    * XOR-roll decode + nearest-neighbor resize are pure byte arithmetic,
    * so the whole pipeline IS oracle-expressible: the DuckDB twin
    * replays the prefix-XOR with a bit_xor window and the resize with a
    * list_transform index map. The checked hash is md5 over the
    * lowercase hex rendering of the resized bytes (DuckDB's md5 takes
    * VARCHAR only); byte_entropy_bits stays library-only (log2 is not
    * bit-reproducible across engines). */
  private def multimodalPipeline(spark: SparkSession, dir: String): DataFrame = {
    val resized = Multimodal.resize(
      Multimodal.decode(
        Multimodal.syntheticAssets(Tables.documents(spark, dir))),
      dstW = 16, dstH = 12)
    val hashes = resized.toDF().select(col("asset_id"),
      md5(lower(hex(col("content")))).as("content_hash"))
    Multimodal.featurize(resized).toDF()
      .select(col("asset_id"), col("media_type"), col("n_bytes"), col("mean_byte"))
      .join(hashes, "asset_id")
  }

  /** Perceptual-hash image dedup over the REAL codec path
    * ([[graft.multimodal.Multimodal.averageHash]] +
    * [[graft.multimodal.Multimodal.phashNearDups]]): paired PNG
    * assets (each document's plane plus a one-pixel perturbation)
    * round-trip through the actual encoder, decode, 8×8
    * nearest-neighbor resize, and 60-bit aHash; the banded Hamming
    * join then recovers the planted near-dup pairs. PNG is lossless,
    * so the oracle predicts every decoded byte closed-form (the
    * multimodal_pipeline proof shape) and replays the hash, the
    * pigeonhole bands, and the popcount verify verbatim. */
  private def imagePhash(spark: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.syntheticImagePairAssets(Tables.documents(spark, dir))
    Multimodal.phashNearDups(Multimodal.averageHash(assets), maxHamming = 3)
  }

  /** Cross-modal duplicate ensemble
    * ([[graft.dedup.Dedup.crossModalClusters]]): MinHash text pairs
    * and perceptual-hash image pairs (asset pairs mapped onto their
    * owning documents, same-doc perturbation pairs dropped) union
    * into ONE connected-components clustering with per-modality
    * evidence flags — the "same page, re-encoded image, paraphrased
    * caption" merge single-modality dedup misses. The oracle composes
    * the two proven chains (minhash band candidates + closed-form PNG
    * hash pairs) and runs the recursive CC over their union. */
  private def multimodalDedupEnsemble(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val textPairs = Dedup.minhashNearDups(docs).select("doc_a", "doc_b")
    val assetPairs = Multimodal.phashNearDups(
      Multimodal.averageHash(Multimodal.syntheticImagePairAssets(docs)),
      maxHamming = 3)
    val imagePairs = assetPairs.select(
        least(expr("asset_a div 2"), expr("asset_b div 2")).as("doc_a"),
        greatest(expr("asset_a div 2"), expr("asset_b div 2")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    Dedup.crossModalClusters(textPairs, imagePairs)
  }

  /** Closed-form PNG pair-hash CTEs (base → … → cand: banded Hamming
    * candidates with both hashes) — shared by `image_phash` and the
    * cross-modal ensemble oracle. */
  private lazy val imagePhashPairCtesSql: String =
    """base AS (
        |  SELECT doc_id, text,
        |    CAST(doc_id % 32 + 16 AS INT) AS w,
        |    CAST(doc_id % 24 + 12 AS INT) AS h
        |  FROM documents),
        |bytes AS (
        |  SELECT doc_id, i, ord(substr(text, CAST(i AS INT), 1)) AS b
        |  FROM (SELECT *, unnest(range(1, length(text)+1)) AS i FROM base)),
        |dec AS (
        |  SELECT doc_id, i, bit_xor(b) OVER (PARTITION BY doc_id ORDER BY i) AS d
        |  FROM bytes),
        |dl AS MATERIALIZED (
        |  SELECT doc_id, list(d ORDER BY i) AS dl FROM dec GROUP BY doc_id),
        |var AS (
        |  SELECT base.doc_id * 2 + v AS asset_id, w, h, dl.dl, v
        |  FROM base JOIN dl USING (doc_id), (VALUES (0), (1)) t(v)),
        |rs AS MATERIALIZED (
        |  SELECT asset_id,
        |    list_transform(range(0, 64), q ->
        |      CASE WHEN v = 1 AND ((least(h-1, (q // 8) * h // 8) * w + least(w-1, (q % 8) * w // 8)) % (w*h)) = 0 THEN (dl[1] + 128) % 256
        |           ELSE dl[CAST((((least(h-1, (q // 8) * h // 8) * w + least(w-1, (q % 8) * w // 8)) % (w*h)) % len(dl)) + 1 AS INT)] END) AS r
        |  FROM var),
        |ah AS (
        |  SELECT asset_id, r,
        |    (list_sum(r) - (list_sum(r) % 64)) // 64 AS m
        |  FROM rs),
        |ph AS MATERIALIZED (
        |  SELECT asset_id, CAST(list_sum(list_transform(range(0, 60), q ->
        |    CASE WHEN r[CAST(q AS INT) + 1] > m THEN (CAST(1 AS BIGINT) << q)
        |         ELSE 0 END)) AS BIGINT) AS phash
        |  FROM ah),
        |bk AS MATERIALIZED (
        |  SELECT asset_id, phash, b,
        |    (phash // (CAST(1 AS BIGINT) << (15 * CAST(b AS INT)))) % 32768 AS bv
        |  FROM (SELECT asset_id, phash, unnest(range(0, 4)) AS b FROM ph)),
        |cand AS (
        |  SELECT DISTINCT a.asset_id AS asset_a, a.phash AS ph_a,
        |    c.asset_id AS asset_b, c.phash AS ph_b
        |  FROM bk a JOIN bk c ON a.b = c.b AND a.bv = c.bv
        |    AND a.asset_id < c.asset_id)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // real WAV codec end-to-end: synth square wave → RIFF encode →
    // decode → features; oracle predicts features in closed form from
    // doc_id, so a codec bug breaks the hash compare
    QuerySpec("audio_features", (s, d) =>
      graft.multimodal.Multimodal.featurizeAudio(
        graft.multimodal.Multimodal.syntheticAudioAssets(
          Tables.documents(s, d))).toDF(),
      """SELECT doc_id AS asset_id,
        |  CAST(doc_id % 400 + 100 AS BIGINT) AS n_samples,
        |  CAST(1 AS INTEGER) AS n_channels,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST((doc_id % 400 + 100) * 1000 AS DOUBLE) / 8000 AS duration_ms,
        |  CAST((doc_id % 5 + 1) * 4000 AS DOUBLE) AS rms,
        |  CAST((doc_id % 400 + 100 - 1) // (doc_id % 37 + 8) AS BIGINT) AS zero_crossings,
        |  CAST((doc_id % 5 + 1) * 4000 AS INTEGER) AS peak
        |FROM documents""".stripMargin),
    QuerySpec("multimodal_features", multimodalFeatures,
      """SELECT doc_id AS asset_id,
        |  ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_hash
        |FROM documents""".stripMargin),
    // closed-form prediction of the DECODED Y4M frames: asset id
    // carries id%8+1 constant-luma (id*31+f*7 mod 256) planes of
    // (id%16+8)x(id%12+6) — the oracle states what every decoded byte
    // must be, the engine proves it by demuxing the real container
    QuerySpec("multimodal_frames", multimodalFrames,
      """WITH a AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 16 + 8 AS BIGINT) * CAST(doc_id % 12 + 6 AS BIGINT) AS plane,
        |    CAST(doc_id % 8 + 1 AS INT) AS n_frames
        |  FROM documents),
        |f AS (SELECT doc_id, plane, unnest(range(0, n_frames)) AS i FROM a)
        |SELECT doc_id AS asset_id, CAST(i AS INT) AS frame_idx,
        |  CAST(plane AS BIGINT) AS n_frame_bytes,
        |  CAST(((doc_id * 31 + i * 7) % 256) * plane AS BIGINT) AS sum_bytes,
        |  CAST((doc_id * 31 + i * 7) % 256 AS INT) AS min_byte,
        |  CAST((doc_id * 31 + i * 7) % 256 AS INT) AS max_byte
        |FROM f""".stripMargin),
    // consecutive-frame |luma diff| motion proxy over the REAL Y4M
    // demux; constant-luma synthetic frames make every transition a
    // closed-form function of (doc_id, frame_idx) for the oracle
    // closed-form motion: frame f's constant fill is (id*31+f*7)%256
    // over (id%16+8)x(id%12+6) pixels; transitions exist for
    // f = 1 .. id%8 (assets carry id%8+1 frames)
    QuerySpec("video_motion", (s, d) =>
      Multimodal.frameMotion(Multimodal.frameSample(
        Multimodal.syntheticVideoAssets(Tables.documents(s, d))))
        .toDF(),
      """SELECT doc_id AS asset_id, CAST(u.f AS INTEGER) AS frame_idx,
        |  CAST((doc_id % 16 + 8) * (doc_id % 12 + 6)
        |    * abs(((doc_id * 31 + u.f * 7) % 256)
        |        - ((doc_id * 31 + (u.f - 1) * 7) % 256)) AS BIGINT) AS sum_abs_diff,
        |  CAST((doc_id % 16 + 8) * (doc_id % 12 + 6) AS BIGINT) AS n_bytes
        |FROM documents, unnest(generate_series(1, doc_id % 8)) AS u(f)""".stripMargin),
    QuerySpec("multimodal_pipeline", multimodalPipeline,
      """WITH base AS (
        |  SELECT doc_id AS asset_id,
        |    ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |    text,
        |    CAST(doc_id % 64 + 16 AS INT) AS w,
        |    CAST(doc_id % 48 + 12 AS INT) AS h
        |  FROM documents),
        |bytes AS (
        |  SELECT asset_id, media_type, w, h, i, ord(substr(text, CAST(i AS INT), 1)) AS b
        |  FROM (SELECT *, unnest(range(1, length(text)+1)) AS i FROM base)),
        |dec AS (
        |  SELECT asset_id, media_type, w, h, i,
        |    bit_xor(b) OVER (PARTITION BY asset_id ORDER BY i) AS d
        |  FROM bytes),
        |declist AS (
        |  SELECT asset_id, media_type, w, h, list(d ORDER BY i) AS dl
        |  FROM dec GROUP BY asset_id, media_type, w, h),
        |resized AS (
        |  SELECT asset_id, media_type,
        |    list_transform(range(0, 192), p ->
        |      dl[CAST(((least(h-1, (p // 16) * h // 12) * w
        |               + least(w-1, (p % 16) * w // 16)) % len(dl)) + 1 AS INT)]) AS r
        |  FROM declist)
        |SELECT asset_id, media_type,
        |  CAST(len(r) AS BIGINT) AS n_bytes,
        |  CAST(list_sum(r) AS DOUBLE) / 192.0 AS mean_byte,
        |  md5(array_to_string(list_transform(r, v -> format('{:02x}', v)), '')) AS content_hash
        |FROM resized""".stripMargin),
    // perceptual-hash image dedup: PNG is lossless, so the decoded
    // plane is the prefix-XOR of the text bytes tiled to (w, h); the
    // oracle replays resize, floor-mean aHash, pigeonhole bands, and
    // the popcount verify — every pair the engine emits from REAL
    // codec bytes must fall out of this closed form
    QuerySpec("image_phash", imagePhash,
      s"""WITH $imagePhashPairCtesSql
        |SELECT asset_a, asset_b,
        |  CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ph_a, ph_b)) <= 3""".stripMargin),
    QuerySpec("multimodal_dedup_ensemble", multimodalDedupEnsemble,
      s"""WITH RECURSIVE $minhashCandCtesSql,
        |$imagePhashPairCtesSql,
        |ipairs AS (
        |  SELECT DISTINCT least(asset_a // 2, asset_b // 2) AS doc_a,
        |    greatest(asset_a // 2, asset_b // 2) AS doc_b
        |  FROM cand
        |  WHERE bit_count(xor(ph_a, ph_b)) <= 3
        |    AND asset_a // 2 <> asset_b // 2),
        |edges AS (SELECT doc_a, doc_b FROM cands
        |          UNION SELECT doc_a, doc_b FROM ipairs),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM edges
        |      UNION SELECT doc_b, doc_a FROM edges),
        |reach(src, dst) AS (
        |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
        |cc AS (SELECT src AS doc_id, min(dst) AS cluster_id
        |  FROM reach GROUP BY src),
        |tev AS (SELECT DISTINCT doc_id FROM
        |  (SELECT doc_a AS doc_id FROM cands UNION ALL SELECT doc_b FROM cands)),
        |iev AS (SELECT DISTINCT doc_id FROM
        |  (SELECT doc_a AS doc_id FROM ipairs UNION ALL SELECT doc_b FROM ipairs))
        |SELECT cc.doc_id, cc.cluster_id,
        |  CAST(CASE WHEN tev.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS text_dup,
        |  CAST(CASE WHEN iev.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS image_dup
        |FROM cc LEFT JOIN tev USING (doc_id) LEFT JOIN iev USING (doc_id)""".stripMargin),
  )
}
