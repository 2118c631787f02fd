package graft.catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Helpers and oracle SQL fragments used by more than one query family. */
object Fragments {

  /** 8-hex-char fingerprint of a source dir — the key under which
    * session-lifetime bucketed layouts are reused (`staging_agg
    * _bucketed`, `dedup_incremental_minhash_bucketed`): same dir ⇒
    * same table name ⇒ reuse; different SF dir ⇒ rebuild. One
    * definition so the keying policy cannot drift between layouts. */
  private[catalog] def dirFingerprint(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  private[catalog] val toksSql = """string_split_regex(trim(lower(text)), '\s+')"""

  private[catalog] val shinglesSql =
    s"""list_distinct(list_transform(range(1, len($toksSql) - 1),
       |  i -> $toksSql[i] || ' ' || $toksSql[i+1] || ' ' || $toksSql[i+2]))""".stripMargin

  private[catalog] def markersSqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  private[catalog] val stopwordsSql = markersSqlList(TextFunctions.stopwords)

  private[catalog] def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** BM25 scoring chain (posting → tf → dfs/doctf → dls/st → scored)
    * for the literal 3-term query over an arbitrary doc source — the
    * WITH-body shared by the `bm25_search`/`bm25_indexed` oracles
    * (full corpus), the lexical leg of `hybrid_search`, and
    * `bm25_deleted` (post-erasure corpus). */
  private[catalog] def bm25CtesFor(docsSrc: String, conjunctive: Boolean = false): String = {
    def ts(t: String) =
      s"""(CASE WHEN tf_$t > 0 THEN
         |    CAST(44 * tf_$t * t * (n + 1) AS DOUBLE)
         |    / CAST((df_$t + 1) * (20 * t * tf_$t + 6 * t + 18 * dl * n) AS DOUBLE)
         |    ELSE 0.0 END)""".stripMargin
    // OR semantics: df per term over the >=1-term universe (from tf);
    // AND semantics: only all-term docs compete, df self-consistently
    // over that set (where every per-term df = the set's size)
    val doctfTail =
      if (conjunctive) " WHERE tf_spark > 0 AND tf_merge > 0 AND tf_window > 0"
      else ""
    val dfsSql =
      if (conjunctive)
        """SELECT count(*) AS df_spark, count(*) AS df_merge,
          |    count(*) AS df_window FROM doctf""".stripMargin
      else
        """SELECT
          |    count(*) FILTER (term = 'spark') AS df_spark,
          |    count(*) FILTER (term = 'merge') AS df_merge,
          |    count(*) FILTER (term = 'window') AS df_window
          |  FROM tf""".stripMargin
    s"""posting AS (
       |  SELECT doc_id, term FROM (
       |    SELECT doc_id, unnest($toksSql) AS term FROM $docsSrc)
       |  WHERE term IN ('spark', 'merge', 'window')),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM posting GROUP BY 1, 2),
       |doctf0 AS (SELECT doc_id,
       |    CAST(coalesce(sum(tf) FILTER (term = 'spark'), 0) AS BIGINT) AS tf_spark,
       |    CAST(coalesce(sum(tf) FILTER (term = 'merge'), 0) AS BIGINT) AS tf_merge,
       |    CAST(coalesce(sum(tf) FILTER (term = 'window'), 0) AS BIGINT) AS tf_window
       |  FROM tf GROUP BY 1),
       |doctf AS (SELECT * FROM doctf0$doctfTail),
       |dfs AS ($dfsSql),
       |dls AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS dl FROM $docsSrc),
       |st AS (SELECT count(*) AS n, CAST(SUM(dl) AS BIGINT) AS t FROM dls),
       |scored AS (SELECT d.doc_id, l.dl, d.tf_spark, d.tf_merge, d.tf_window,
       |    ${ts("spark")} + ${ts("merge")} + ${ts("window")} AS score_raw
       |  FROM doctf d JOIN dls l USING (doc_id), dfs, st)""".stripMargin
  }

  private[catalog] lazy val bm25CtesSql: String = bm25CtesFor("documents")

  /** MinHash band-candidate CTEs (docs → sigs → bands → capped
    * buckets → cands) — the prefix of [[minhashCcCtesSql]], of the
    * dedup_minhash and graph oracles, and of the cross-modal ensemble
    * whose CC must run over a LARGER edge set. */
  private[catalog] lazy val minhashCandCtesSql: String =
    s"""docs AS (
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
       |  WHERE a.doc_id < b.doc_id)""".stripMargin

  /** Brute-force cosine top-k (k=5, queries = vec_id < 10) — the
    * oracle for `sim_topk` and, via the exact-at-full-probe IVF
    * invariant, for `sim_ivf_kmeans`. */
  private[catalog] lazy val bruteTopKSql: String = {
    val dotEq = dotSql("e.embedding", "q.q_emb")
    val normE = dotSql("e.embedding", "e.embedding")
    val normQ = dotSql("q.q_emb", "q.q_emb")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
       |pairs AS (
       |  SELECT q.q_id, e.vec_id,
       |    $dotEq / (sqrt($normE) * sqrt($normQ)) AS cos
       |  FROM embeddings e, q WHERE e.vec_id <> q.q_id)
       |SELECT q_id, vec_id, rank, round(cos, 9) AS cos FROM (
       |  SELECT q_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM pairs) WHERE rank <= 5""".stripMargin
  }

  /** Whole-data HLL register replay — the merged-sketch truth shared
    * by `distinct_hll_union` (two-way stored-register union) and
    * `mv_distinct_hll` (N-way fold over per-batch TxnLog partials):
    * pointwise register max is lossless, so every maintenance shape
    * answers with the same statement. */
  private[catalog] val hllUnionOracleSql: String =
    """WITH h AS (
      |  SELECT event_type,
      |    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      |  FROM events WHERE user_id IS NOT NULL),
      |b AS (
      |  SELECT event_type, CAST(hv // 4503599627370496 AS INT) AS j,
      |         hv % 4503599627370496 AS w
      |  FROM h),
      |r AS (
      |  SELECT event_type, j,
      |    MAX(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS reg
      |  FROM b GROUP BY event_type, j),
      |et AS (SELECT DISTINCT event_type FROM h),
      |dense AS (
      |  SELECT et.event_type, g.j, COALESCE(r.reg, 0) AS reg
      |  FROM et CROSS JOIN (SELECT CAST(k AS INT) AS j FROM range(256) t(k)) g
      |  LEFT JOIN r ON r.event_type = et.event_type AND r.j = g.j)
      |SELECT event_type,
      |  string_agg(CAST(reg AS VARCHAR), ',' ORDER BY j) AS regs,
      |  CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  CAST(SUM(CAST(POW(2, 53 - reg) AS BIGINT)) AS BIGINT) AS pow_sum
      |FROM dense GROUP BY event_type""".stripMargin

  /** tmpdir root for a persistent artifact derived from `dir`'s
    * CURRENT contents — keyed on a content fingerprint (name, size,
    * mtime of every file), so regenerating the testdata in place
    * changes the key and the artifact rebuilds instead of silently
    * serving stale rows (a path-only key survives JVM restarts with
    * no rebuild trigger). One definition so the keying policy cannot
    * drift across the four artifact builders. */
  private[catalog] def tmpArtifactRoot(prefix: String, dir: String): String = {
    val sig = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$sig".getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    new java.io.File(sys.props("java.io.tmpdir"), s"graft_${prefix}_$h").getPath
  }

  /** The fixed query set the similarity queries rank against: the
    * first 10 embeddings as `(q_id, q_emb)`, plus any `extra` columns. */
  private[catalog] def queryVectors(e: DataFrame, extra: Column*): DataFrame =
    e.filter(col("vec_id") < 10)
      .select(Seq(col("vec_id").as("q_id"), col("embedding").as("q_emb")) ++ extra: _*)
}
