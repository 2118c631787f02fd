package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions
import Fragments._

/** Text analysis: tokenization, language models, BM25 and phrase
  * search, vocabularies and per-document text statistics. */
object TextQueries {

  private def textStats(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      length(t).cast("bigint").as("len_chars"),
      TextFunctions.wsTokenCount(t).as("n_tokens"),
      TextFunctions.stopwordCount(t).as("n_stopwords"),
      TextFunctions.punctCount(t).as("n_punct"),
      TextFunctions.tokenLenSum(t).as("token_len_sum"))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast("double") / col("n_tokens").cast("double"))
      .withColumn("avg_token_len",
        col("token_len_sum").cast("double") / col("n_tokens").cast("double"))
  }

  private def textLangId(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val scored = Tables.documents(spark, dir).select(
      (Seq(col("doc_id"), col("lang")) ++
        TextFunctions.langMarkers.map { case (l, m) =>
          TextFunctions.langScore(t, m).as(s"s_$l") }): _*)
    scored.withColumn("lang_pred", {
      // argmax chain generated from langMarkers so language list and
      // priority order stay single-sourced (mirrors the oracle SQL,
      // which is generated from the same table)
      val langs = TextFunctions.langMarkers.map(_._1)
      val all = langs.map(l => col(s"s_$l"))
      val chain = langs.init.foldRight(lit(langs.last): Column) { (l, rest) =>
        val others = langs.filterNot(_ == l).map(o => col(s"s_$o"))
        when(col(s"s_$l") >= greatest(others: _*), l).otherwise(rest)
      }
      when(all.reduce(_ + _) === 0, "und").otherwise(chain)
    })
  }

  /** Composite document-quality scoring (C4/Gopher-style filter flags). */
  private def textQuality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("flags", TextFunctions.qualityFlags(col("text")))
      .select(col("doc_id"),
        col("flags.too_short"), col("flags.low_stopword_ratio"),
        col("flags.high_punct_ratio"),
        TextFunctions.qualityScore(col("flags")).as("quality_score"))

  private def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.wsTokenCount(col("text")).as("ws_tokens"),
      TextFunctions.bpeTokenCount(col("text")).as("bpe_tokens"))

  /** LLM-prep chunking: one row per 32-token window per document. */
  private def textChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(TextFunctions.chunks(col("text"), 32)))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk_text")
      .withColumn("chunk_idx", col("chunk_idx").cast("int"))
      .withColumn("n_chunk_tokens", TextFunctions.wsTokenCount(col("chunk_text")))

  /** Overlapping retrieval chunks
    * ([[TextFunctions.chunksOverlap]]): 32-token windows every 24
    * tokens (8-token overlap) — boundary sentences appear whole in at
    * least one chunk. */
  private def textChunksOverlap(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(TextFunctions.chunksOverlap(col("text"), 32, 24)))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
        col("col.start_tok").cast("int").as("start_tok"),
        col("col.chunk_text").as("chunk_text"))
      .withColumn("n_chunk_tokens", TextFunctions.wsTokenCount(col("chunk_text")))

  /** PII-style scrubbing over documents. */
  private def textScrub(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"), TextFunctions.scrub(col("text")).as("scrubbed"))

  private def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.tfidfTopTerms(Tables.documents(spark, dir), k = 5)

  /** Fixed-point token entropy under the oracle
    * ([[graft.functions.TextFunctions.tokenEntropy]]): every
    * document's Shannon entropy over its own token distribution in
    * 1/2^16 bits — the lexical-diversity filter signal — with both
    * log2 chains (per-count, per-total) replayed step-for-step. */
  private def textEntropyQ(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.tokenEntropy(Tables.documents(spark, dir))

  private def textEntropySql: String = {
    def lg(tag: String, keys: String, src: String): String =
      (Seq(s"""elg_${tag}_0 AS (
         |  SELECT $keys, p, CAST(length(bin(p)) - 1 AS BIGINT) AS msb,
         |    (CAST(p AS BIGINT) << 20) >> (length(bin(p)) - 1) AS x, CAST(0 AS BIGINT) AS acc
         |  FROM $src)""".stripMargin) ++
        (1 to 16).map(i => s"""elg_${tag}_$i AS (
         |  SELECT $keys, p, msb,
         |    CASE WHEN ((x*x) >> 20) >= 2097152 THEN ((x*x) >> 20) >> 1 ELSE (x*x) >> 20 END AS x,
         |    CASE WHEN ((x*x) >> 20) >= 2097152 THEN acc*2+1 ELSE acc*2 END AS acc
         |  FROM elg_${tag}_${i - 1})""".stripMargin) :+
        s"""elg_$tag AS MATERIALIZED (
         |  SELECT $keys, CAST(msb*65536 + acc AS BIGINT) AS lg
         |  FROM elg_${tag}_16)""".stripMargin).mkString(",\n")
    s"""WITH tkf AS MATERIALIZED (
       |  SELECT doc_id, sym FROM (
       |    SELECT doc_id, unnest($toksSql) AS sym FROM documents)
       |  WHERE sym <> ''),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, sym, CAST(COUNT(*) AS BIGINT) AS c FROM tkf GROUP BY 1, 2),
       |nn AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY 1),
       |cp AS (SELECT doc_id, sym, c AS p FROM tf),
       |${lg("c", "doc_id, sym", "cp")},
       |np AS (SELECT doc_id, n AS p FROM nn),
       |${lg("n", "doc_id", "np")}
       |SELECT tf.doc_id,
       |  CAST((SUM(tf.c * (ln.lg - lc.lg)) - ((SUM(tf.c * (ln.lg - lc.lg)) % nn.n + nn.n) % nn.n)) // nn.n AS BIGINT) AS entropy_fp16
       |FROM tf
       |JOIN elg_c lc ON lc.doc_id = tf.doc_id AND lc.sym = tf.sym
       |JOIN elg_n ln ON ln.doc_id = tf.doc_id
       |JOIN nn ON nn.doc_id = tf.doc_id
       |GROUP BY tf.doc_id, nn.n""".stripMargin
  }

  /** Integer Naive Bayes classifier under the oracle
    * ([[graft.functions.TextFunctions.nbClassify]]): self-attribution
    * of every document to its most probable `source` — train and
    * serve in one statement, every probability a fixed-point integer,
    * so the oracle replays counts, smoothing, all three 16-step log2
    * chains (term costs, per-label defaults, priors) and the argmin. */
  private def nbClassifyQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextFunctions.nbClassify(docs, docs)
  }

  private def nbSql: String = {
    def lg(tag: String, keys: String, src: String): String =
      (Seq(s"""nlg_${tag}_0 AS (
         |  SELECT $keys, p, CAST(length(bin(p)) - 1 AS BIGINT) AS msb,
         |    (CAST(p AS BIGINT) << 20) >> (length(bin(p)) - 1) AS x, CAST(0 AS BIGINT) AS acc
         |  FROM $src)""".stripMargin) ++
        (1 to 16).map(i => s"""nlg_${tag}_$i AS (
         |  SELECT $keys, p, msb,
         |    CASE WHEN ((x*x) >> 20) >= 2097152 THEN ((x*x) >> 20) >> 1 ELSE (x*x) >> 20 END AS x,
         |    CASE WHEN ((x*x) >> 20) >= 2097152 THEN acc*2+1 ELSE acc*2 END AS acc
         |  FROM nlg_${tag}_${i - 1})""".stripMargin) :+
        s"""ncost_$tag AS MATERIALIZED (
         |  SELECT $keys, CAST(26*65536 - (msb*65536 + acc) AS BIGINT) AS cost
         |  FROM nlg_${tag}_16)""".stripMargin).mkString(",\n")
    s"""WITH tkf AS MATERIALIZED (
       |  SELECT doc_id, source AS label, sym FROM (
       |    SELECT doc_id, source, unnest($toksSql) AS sym FROM documents)
       |  WHERE sym <> ''),
       |cnt AS MATERIALIZED (
       |  SELECT label, sym, CAST(COUNT(*) AS BIGINT) AS c FROM tkf GROUP BY 1, 2),
       |lt AS (SELECT label, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
       |vs AS (SELECT CAST(COUNT(DISTINCT sym) AS BIGINT) AS v FROM cnt),
       |mp AS (SELECT cnt.label, cnt.sym, ((c + 1) * 1000000) // (t + v) AS p
       |       FROM cnt JOIN lt USING (label), vs),
       |${lg("m", "label, sym", "mp")},
       |dp AS (SELECT label, 1000000 // (t + v) AS p FROM lt, vs),
       |${lg("d", "label", "dp")},
       |nd AS (SELECT source AS label, CAST(COUNT(*) AS BIGINT) AS n
       |       FROM documents GROUP BY 1),
       |ns AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(COUNT(*) AS BIGINT) AS l FROM nd),
       |pp AS (SELECT label, ((n + 1) * 1000000) // (nn + l) AS p FROM nd, ns),
       |${lg("p", "label", "pp")},
       |tfq AS MATERIALIZED (
       |  SELECT doc_id, sym, CAST(COUNT(*) AS BIGINT) AS tf FROM tkf GROUP BY 1, 2),
       |x AS (SELECT q.doc_id, d.label, q.tf, COALESCE(m.cost, d.cost) AS cost
       |      FROM tfq q CROSS JOIN ncost_d d
       |      LEFT JOIN ncost_m m ON m.label = d.label AND m.sym = q.sym),
       |tot AS (SELECT x.doc_id, x.label, p.cost + SUM(tf * x.cost) AS total
       |        FROM x JOIN ncost_p p ON p.label = x.label GROUP BY 1, 2, p.cost)
       |SELECT doc_id, label AS pred_label, CAST(total AS BIGINT) AS cost_fp
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |        ORDER BY total ASC, label ASC) AS rn FROM tot)
       |WHERE rn = 1""".stripMargin
  }

  /** Once-per-snapshot unigram tokenizer training
    * ([[graft.functions.TextFunctions.unigramTrain]]'s output
    * persisted, content-keyed): the trained-model artifact encode
    * consumers serve from — training is deterministic, so the stored
    * vocab equals a fresh run bit-for-bit (the oracle still replays
    * the full training). v1: rounds 2, maxPiece 4, seed 100, cap 16,
    * keep 80%. */
  private def ensureUnigramVocabLayout(spark: SparkSession, dir: String): String = {
    val fp = graft.sources.LayoutCache.contentFingerprint(
      Seq(new java.io.File(dir, "documents.parquet")))
    graft.sources.LayoutCache.ensure("graft_unigram_vocab_v1-r2-p4-s100-w16-k80",
      new java.io.File(dir).getName, fp) { tmp =>
      TextFunctions.unigramTrain(Tables.documents(spark, dir))
        .write.parquet(s"$tmp/vocab")
      // the layout root needs its own completeness marker (the
      // vocab subdir's parquet _SUCCESS is one level down)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tmp, "_SUCCESS"), "")
      ()
    } + "/vocab"
  }

  /** Persisted BM25 postings index ([[graft.search.Bm25Index]]):
    * built on doc_id < 250, the rest APPENDED — and because postings,
    * stats, df, dl are all additive, the incrementally-built index
    * must serve results bit-identical to the ad-hoc
    * [[graft.functions.TextFunctions.bm25Search]] over the full
    * corpus, which is exactly what the shared `bm25_search` oracle
    * checks (the IVF contrast: no drift to accept, no rebuild debt). */
  private def ensureBm25IndexLayout(spark: SparkSession, dir: String): String = {
    val fp = graft.sources.LayoutCache.contentFingerprint(
      Seq(new java.io.File(dir, "documents.parquet")))
    graft.sources.LayoutCache.ensure("graft_bm25_index_v3pos-b16-cut250",
      new java.io.File(dir).getName, fp) { tmp =>
      val docs = Tables.documents(spark, dir)
      graft.search.Bm25Index.build(
        docs.filter(col("doc_id") < 250), tmp, nBuckets = 16)
      graft.search.Bm25Index.append(
        spark, tmp, docs.filter(col("doc_id") >= 250))
    }
  }

  private def bm25Indexed(spark: SparkSession, dir: String): DataFrame =
    graft.search.Bm25Index.topK(spark, ensureBm25IndexLayout(spark, dir),
      Seq("spark", "merge", "window"), k = 20)

  /** Index-SERVED phrase search ([[graft.search.Bm25Index
    * .phraseCounts]]): the positional postings answer the same phrase
    * query `phrase_search` answers by re-scanning text — identical
    * results (the shared oracle statement), but from ≤ 2 of 16
    * posting buckets at one pinned release. */
  private def phraseIndexed(spark: SparkSession, dir: String): DataFrame =
    graft.search.Bm25Index.phraseCounts(spark,
      ensureBm25IndexLayout(spark, dir), Seq("table", "part"))

  /** Post-erasure BM25 index ([[graft.search.Bm25Index.delete]]): a
    * full-corpus index takes a right-to-be-forgotten delete of every
    * doc_id ≡ 7 (mod 10) — postings copy-on-write-deleted, a negative
    * stats delta appended, one release published — and must then
    * serve results BIT-IDENTICAL to an index that never held those
    * documents, which is what the oracle states: the shared BM25
    * chain over the surviving corpus (df shrinks because df IS the
    * posting-list length; N/total_dl shrink through the additive
    * delta). */
  private def ensureBm25DeletedLayout(spark: SparkSession, dir: String): String = {
    val fp = graft.sources.LayoutCache.contentFingerprint(
      Seq(new java.io.File(dir, "documents.parquet")))
    graft.sources.LayoutCache.ensure("graft_bm25_del_v2pos-b16-mod10ne7",
      new java.io.File(dir).getName, fp) { tmp =>
      val docs = Tables.documents(spark, dir)
      graft.search.Bm25Index.build(docs, tmp, nBuckets = 16)
      val ids = docs.filter(col("doc_id") % 10 === 7)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      graft.search.Bm25Index.delete(spark, tmp, ids, Some("rtbf-1"))
    }
  }

  private def bm25Deleted(spark: SparkSession, dir: String): DataFrame =
    graft.search.Bm25Index.topK(spark, ensureBm25DeletedLayout(spark, dir),
      Seq("spark", "merge", "window"), k = 20)

  /** Positional self-join replay of the phrase counter: adjacent
    * positions must equal the phrase, overlaps count. Shared by
    * `phrase_search` (map-side shingle scan) and `phrase_indexed`
    * (positional-postings adjacency join). */
  private val phraseSearchOracleSql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok,
      |    generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1) AS pos
      |  FROM documents)
      |SELECT t1.doc_id, CAST(count(*) AS BIGINT) AS n_matches
      |FROM tok t1 JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
      |WHERE t1.tok = 'table' AND t2.tok = 'part'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Unigram-LM tokenizer-training oracle — the ENTIRE hard-EM
    * training of [[graft.functions.TextFunctions.unigramTrain]]
    * unrolled (the bpe_merges convention): word-type table, seed
    * substring vocabulary, and per EM round the smoothed millionths
    * probabilities, the 16-step integer fixed-point log2 (each step a
    * CTE so the squaring chain replays verbatim), the Viterbi DP as
    * one relaxation CTE per word position (ROW_NUMBER over
    * (cost, path) = the engine's array_min total order), the
    * frequency-weighted recount, and the keep-top-80% multi-piece
    * prune. CTEs are MATERIALIZED — DuckDB inlines by default and the
    * position chain would otherwise expand combinatorially. */
  private def unigramTrainSql(rounds: Int = 2, maxPiece: Int = 4,
                              seedMulti: Int = 100, maxWordLen: Int = 16,
                              keepPct: Int = 80): String = {
    def lgChain(tag: String, src: String): Seq[String] =
      Seq(s"""lg_${tag}_0 AS (
         |  SELECT sym, cnt, p, CAST(length(bin(p)) - 1 AS BIGINT) AS msb,
         |    (CAST(p AS BIGINT) << 20) >> (length(bin(p)) - 1) AS x, CAST(0 AS BIGINT) AS acc
         |  FROM $src)""".stripMargin) ++
        (1 to 16).map(k => s"""lg_${tag}_$k AS (
         |  SELECT sym, cnt, p, msb,
         |    CASE WHEN ((x*x) >> 20) >= 2097152 THEN ((x*x) >> 20) >> 1 ELSE (x*x) >> 20 END AS x,
         |    CASE WHEN ((x*x) >> 20) >= 2097152 THEN acc*2+1 ELSE acc*2 END AS acc
         |  FROM lg_${tag}_${k - 1})""".stripMargin) :+
        s"""cost_$tag AS MATERIALIZED (
         |  SELECT sym, cnt, p AS p_micro,
         |    CAST(26*65536 - (msb*65536 + acc) AS BIGINT) AS cost FROM lg_${tag}_16)""".stripMargin
    def prob(tag: String, vocab: String): Seq[String] = Seq(
      s"st_$tag AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v FROM $vocab)",
      s"pr_$tag AS MATERIALIZED (SELECT sym, cnt, ((cnt + 1) * 1000000) // (st_$tag.t + st_$tag.v) AS p FROM $vocab, st_$tag)")
    def dp(r: String): Seq[String] = {
      val head = Seq(
        s"""edges_$r AS MATERIALIZED (
           |  SELECT ps.word, ps.freq, ps.i, ps.j, ps.piece, c.cost
           |  FROM ps JOIN cost_$r c ON c.sym = ps.piece)""".stripMargin,
        s"""b_${r}_0 AS MATERIALIZED (SELECT word, freq, CAST(length(word) AS BIGINT) AS len,
           |  CAST(0 AS BIGINT) AS cost, '' AS path FROM w)""".stripMargin)
      val positions = (1 to maxWordLen).map { j =>
        val branches = (math.max(0, j - maxPiece) until j).map(i =>
          s"""SELECT b.word, b.freq, b.len, b.cost + e.cost AS cost,
             |      b.path || '|' || e.piece AS path
             |    FROM b_${r}_$i b JOIN edges_$r e ON e.word = b.word AND e.i = $i AND e.j = $j""".stripMargin)
          .mkString("\n    UNION ALL\n    ")
        s"""b_${r}_$j AS MATERIALIZED (
           |  SELECT word, freq, len, cost, path FROM (
           |    SELECT word, freq, len, cost, path,
           |      ROW_NUMBER() OVER (PARTITION BY word ORDER BY cost, path) AS rn FROM (
           |    $branches
           |  )) WHERE rn = 1)""".stripMargin
      }
      val bestUnion = (1 to maxWordLen)
        .map(j => s"SELECT word, freq, path FROM b_${r}_$j WHERE len = $j")
        .mkString("\n  UNION ALL\n  ")
      head ++ positions :+ s"best_$r AS MATERIALIZED (\n  $bestUnion)"
    }
    def recount(r: Int): Seq[String] = Seq(
      s"""cnt_$r AS MATERIALIZED (
         |  SELECT t.sym, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM best_$r, UNNEST(string_split(substr(path, 2), '|')) AS t(sym)
         |  GROUP BY 1)""".stripMargin,
      s"""jn_$r AS MATERIALIZED (
         |  SELECT v.sym, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
         |  FROM vocab$r v LEFT JOIN cnt_$r c USING (sym))""".stripMargin,
      s"""vocab${r + 1} AS MATERIALIZED (
         |  SELECT sym, cnt FROM jn_$r WHERE length(sym) = 1
         |  UNION ALL
         |  SELECT sym, cnt FROM (
         |    SELECT sym, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, sym ASC) AS rn
         |    FROM jn_$r WHERE length(sym) > 1)
         |  WHERE rn <= (SELECT (count(*) * $keepPct + 99) // 100 FROM jn_$r WHERE length(sym) > 1))""".stripMargin)
    val ctes = Seq(
      s"""w AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents)
         |  WHERE length(word) <= $maxWordLen GROUP BY word)""".stripMargin,
      s"""ps AS MATERIALIZED (
         |  SELECT word, freq, CAST((e).i AS BIGINT) AS i, CAST((e).j AS BIGINT) AS j, (e).piece AS piece FROM (
         |    SELECT word, freq, unnest(flatten(list_transform(range(1, length(word) + 1), i ->
         |      list_transform(range(1, least($maxPiece, length(word) - i + 1) + 1), l ->
         |        struct_pack(i := i - 1, j := i - 1 + l,
         |          piece := substr(word, CAST(i AS INTEGER), CAST(l AS INTEGER))))))) AS e
         |    FROM w))""".stripMargin,
      "seed AS MATERIALIZED (SELECT piece AS sym, CAST(SUM(freq) AS BIGINT) AS cnt FROM ps GROUP BY 1)",
      s"""vocab0 AS MATERIALIZED (
         |  SELECT sym, cnt FROM seed WHERE length(sym) = 1
         |  UNION ALL
         |  SELECT sym, cnt FROM (
         |    SELECT sym, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, sym ASC) AS rn
         |    FROM seed WHERE length(sym) > 1) WHERE rn <= $seedMulti)""".stripMargin) ++
      (0 until rounds).flatMap(r => prob(r.toString, s"vocab$r") ++
        lgChain(r.toString, s"pr_$r") ++ dp(r.toString) ++ recount(r)) ++
      prob("fin", s"vocab$rounds")
    "WITH " + ctes.mkString(",\n") +
      "\nSELECT sym, cnt, CAST(p AS BIGINT) AS p_micro FROM pr_fin"
  }

  /** Train-then-ENCODE oracle
    * ([[graft.functions.TextFunctions.unigramEncodeStats]]): the full
    * [[unigramTrainSql]] training, one more Viterbi pass under the
    * FINAL model, per-word piece counts joined back to the document
    * word stream; words over the training length cap fall back to
    * their character count, docs with no words count zero. */
  private def unigramEncodeSql(rounds: Int = 2, maxPiece: Int = 4,
                               seedMulti: Int = 100, maxWordLen: Int = 16,
                               keepPct: Int = 80): String = {
    val train = unigramTrainSql(rounds, maxPiece, seedMulti, maxWordLen, keepPct)
    val ctes = train.stripPrefix("WITH ")
      .stripSuffix("\nSELECT sym, cnt, CAST(p AS BIGINT) AS p_micro FROM pr_fin")
    // re-generate the fin-tagged log2 + Viterbi blocks (the generator
    // closures are local to unigramTrainSql, so rebuild them here via
    // one more call parameterized purely by string templates)
    val lgFin = (Seq(s"""lg_fin_0 AS (
        |  SELECT sym, cnt, p, CAST(length(bin(p)) - 1 AS BIGINT) AS msb,
        |    (CAST(p AS BIGINT) << 20) >> (length(bin(p)) - 1) AS x, CAST(0 AS BIGINT) AS acc
        |  FROM pr_fin)""".stripMargin) ++
      (1 to 16).map(k => s"""lg_fin_$k AS (
        |  SELECT sym, cnt, p, msb,
        |    CASE WHEN ((x*x) >> 20) >= 2097152 THEN ((x*x) >> 20) >> 1 ELSE (x*x) >> 20 END AS x,
        |    CASE WHEN ((x*x) >> 20) >= 2097152 THEN acc*2+1 ELSE acc*2 END AS acc
        |  FROM lg_fin_${k - 1})""".stripMargin) :+
      s"""cost_fin AS MATERIALIZED (
        |  SELECT sym, cnt, p AS p_micro,
        |    CAST(26*65536 - (msb*65536 + acc) AS BIGINT) AS cost FROM lg_fin_16)""".stripMargin)
    val dpFin = {
      val head = Seq(
        s"""edges_fin AS MATERIALIZED (
           |  SELECT ps.word, ps.freq, ps.i, ps.j, ps.piece, c.cost
           |  FROM ps JOIN cost_fin c ON c.sym = ps.piece)""".stripMargin,
        s"""b_fin_0 AS MATERIALIZED (SELECT word, freq, CAST(length(word) AS BIGINT) AS len,
           |  CAST(0 AS BIGINT) AS cost, '' AS path FROM w)""".stripMargin)
      val positions = (1 to maxWordLen).map { j =>
        val branches = (math.max(0, j - maxPiece) until j).map(i =>
          s"""SELECT b.word, b.freq, b.len, b.cost + e.cost AS cost,
             |      b.path || '|' || e.piece AS path
             |    FROM b_fin_$i b JOIN edges_fin e ON e.word = b.word AND e.i = $i AND e.j = $j""".stripMargin)
          .mkString("\n    UNION ALL\n    ")
        s"""b_fin_$j AS MATERIALIZED (
           |  SELECT word, freq, len, cost, path FROM (
           |    SELECT word, freq, len, cost, path,
           |      ROW_NUMBER() OVER (PARTITION BY word ORDER BY cost, path) AS rn FROM (
           |    $branches
           |  )) WHERE rn = 1)""".stripMargin
      }
      val bestUnion = (1 to maxWordLen)
        .map(j => s"SELECT word, freq, path FROM b_fin_$j WHERE len = $j")
        .mkString("\n  UNION ALL\n  ")
      head ++ positions :+ s"best_fin AS MATERIALIZED (\n  $bestUnion)"
    }
    val tail = Seq(
      """wp AS MATERIALIZED (
        |  SELECT word, CAST(len(string_split(substr(path, 2), '|')) AS BIGINT) AS n_pieces
        |  FROM best_fin)""".stripMargin,
      """dw AS MATERIALIZED (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents)""".stripMargin,
      """pd AS (
        |  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(SUM(COALESCE(w.n_pieces, length(d.word))) AS BIGINT) AS n_unigram_tokens,
        |    CAST(SUM(length(d.word)) AS BIGINT) AS n_char_tokens
        |  FROM dw d LEFT JOIN wp w USING (word) GROUP BY 1)""".stripMargin)
    "WITH " + (Seq(ctes) ++ lgFin ++ dpFin ++ tail).mkString(",\n") + """
      |SELECT d.doc_id,
      |  CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
      |  CAST(COALESCE(p.n_unigram_tokens, 0) AS BIGINT) AS n_unigram_tokens,
      |  CAST(COALESCE(p.n_char_tokens, 0) AS BIGINT) AS n_char_tokens,
      |  CAST(CASE WHEN COALESCE(p.n_unigram_tokens, 0) > 0
      |    THEN (1000000 * p.n_char_tokens) // p.n_unigram_tokens
      |    ELSE 0 END AS BIGINT) AS compression_fp
      |FROM (SELECT DISTINCT doc_id FROM documents) d
      |LEFT JOIN pd p USING (doc_id)""".stripMargin
  }

  /** Greedy (WordPiece-style) vs Viterbi encode oracle: the full
    * [[unigramEncodeSql]] chain up through its per-doc Viterbi rollup,
    * plus the greedy longest-match unrolled as `maxWordLen` hop CTEs
    * (per hop: the max-j in-vocab edge at the current position — the
    * `mj` table is the precomputed longest-match map). */
  private def wordpieceEncodeSql(maxWordLen: Int = 16): String = {
    val enc = unigramEncodeSql()
    val cut = enc.indexOf("\nSELECT d.doc_id,")
    require(cut > 0, "unigramEncodeSql tail changed — update wordpieceEncodeSql")
    val hops = (1 to maxWordLen).map { t =>
      s""",
         |gr_$t AS MATERIALIZED (SELECT g.word, g.len,
         |  CASE WHEN g.pos >= g.len THEN g.pos ELSE m.mj END AS pos,
         |  CASE WHEN g.pos >= g.len THEN g.cnt ELSE g.cnt + 1 END AS cnt
         |  FROM gr_${t - 1} g LEFT JOIN mj m ON m.word = g.word AND m.i = g.pos)""".stripMargin
    }.mkString
    enc.substring(0, cut) +
      s""",
         |mj AS MATERIALIZED (
         |  SELECT word, i, CAST(MAX(j) AS BIGINT) AS mj FROM edges_fin GROUP BY 1, 2),
         |gr_0 AS (SELECT word, CAST(length(word) AS BIGINT) AS len,
         |  CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cnt FROM w)""".stripMargin +
      hops +
      s""",
         |gw AS MATERIALIZED (SELECT word, cnt AS n_greedy FROM gr_$maxWordLen),
         |pg AS (
         |  SELECT d.doc_id,
         |    CAST(SUM(COALESCE(g.n_greedy, length(d.word))) AS BIGINT) AS n_greedy_tokens
         |  FROM dw d LEFT JOIN gw g USING (word) GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
         |  CAST(COALESCE(p.n_unigram_tokens, 0) AS BIGINT) AS n_viterbi_tokens,
         |  CAST(COALESCE(g.n_greedy_tokens, 0) AS BIGINT) AS n_greedy_tokens,
         |  CAST(CASE WHEN COALESCE(p.n_unigram_tokens, 0) > 0
         |    THEN (1000000 * g.n_greedy_tokens) // p.n_unigram_tokens
         |    ELSE 0 END AS BIGINT) AS greedy_ratio_fp
         |FROM (SELECT DISTINCT doc_id FROM documents) d
         |LEFT JOIN pd p USING (doc_id)
         |LEFT JOIN pg g USING (doc_id)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_quality", textQuality,
      s"""SELECT doc_id,
         |  n_tokens < ${TextFunctions.minTokens} AS too_short,
         |  CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |    < ${TextFunctions.minStopwordRatio} AS low_stopword_ratio,
         |  CAST(n_punct AS DOUBLE) / CAST(len_chars AS DOUBLE)
         |    > ${TextFunctions.maxPunctRatio} AS high_punct_ratio,
         |  CAST(10
         |    - CASE WHEN n_tokens < ${TextFunctions.minTokens} THEN 4 ELSE 0 END
         |    - CASE WHEN CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |        < ${TextFunctions.minStopwordRatio} THEN 3 ELSE 0 END
         |    - CASE WHEN CAST(n_punct AS DOUBLE) / CAST(len_chars AS DOUBLE)
         |        > ${TextFunctions.maxPunctRatio} THEN 3 ELSE 0 END AS DOUBLE) / 10.0 AS quality_score
         |FROM (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS len_chars,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter($toksSql, t -> list_contains($stopwordsSql, t))) AS BIGINT) AS n_stopwords,
         |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
         |  FROM documents)""".stripMargin),
    // unicode NFC canonicalization via the native codegen'd
    // expression: a decomposed suffix (e + combining acute) is
    // appended so the normalization provably composes it — lengths
    // shrink by exactly one codepoint per doc
    // DuckDB ships nfc_normalize natively; both engines implement
    // Unicode canonical composition, so the bytes match exactly and
    // the length drop (one codepoint per doc) proves it actually fired
    QuerySpec("text_nfc", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(" cafe\u0301")).as("__raw"))
        .select(col("doc_id"),
          graft.expressions.NfcNormalize.nfcNormalize(col("__raw")).as("text_nfc"),
          length(col("__raw")).cast("bigint").as("len_raw"))
        .withColumn("len_nfc", length(col("text_nfc")).cast("bigint")),
      """WITH r AS (
        |  SELECT doc_id, text || ' caf' || 'e' || chr(769) AS raw FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS text_nfc,
        |  CAST(length(raw) AS BIGINT) AS len_raw,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc
        |FROM r""".stripMargin),
    // exact-phrase search: positional query over the token stream,
    // computed as a map-side shingle-equality count (zero exchanges) —
    // the oracle replays the posting-list positional self-join
    // positional self-join replay of the map-side shingle counter:
    // adjacent-position tokens must equal the phrase, overlaps count
    QuerySpec("phrase_search", (s, d) =>
      graft.functions.TextFunctions.phraseSearch(
          Tables.documents(s, d), Seq("table", "part"))
        .orderBy("doc_id"),
      phraseSearchOracleSql),
    // the same phrase query SERVED from the positional postings index
    // (adjacency-join over <= 2 probed buckets, one pinned release) —
    // storage changes the plan, never the answer
    // the index-served twin shares the statement verbatim: positional
    // postings must change the plan, never the answer
    QuerySpec("phrase_indexed", phraseIndexed, phraseSearchOracleSql,
      layout = Some(ensureBm25IndexLayout(_, _))),
    // inverted-index keyword search, exact-rational tf-idf score
    QuerySpec("keyword_search", (s, d) =>
      TextFunctions.keywordSearch(Tables.documents(s, d),
        Seq("spark", "merge", "window"), k = 20),
      s"""WITH posting AS (
         |  SELECT doc_id, term FROM (
         |    SELECT doc_id, unnest($toksSql) AS term FROM documents)
         |  WHERE term IN ('spark', 'merge', 'window')),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM posting GROUP BY 1, 2),
         |dfs AS (SELECT
         |    count(*) FILTER (term = 'spark') AS df_spark,
         |    count(*) FILTER (term = 'merge') AS df_merge,
         |    count(*) FILTER (term = 'window') AS df_window
         |  FROM tf),
         |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
         |doctf AS (SELECT doc_id,
         |    CAST(coalesce(sum(tf) FILTER (term = 'spark'), 0) AS BIGINT) AS tf_spark,
         |    CAST(coalesce(sum(tf) FILTER (term = 'merge'), 0) AS BIGINT) AS tf_merge,
         |    CAST(coalesce(sum(tf) FILTER (term = 'window'), 0) AS BIGINT) AS tf_window
         |  FROM tf GROUP BY 1),
         |scored AS (SELECT doc_id, tf_spark, tf_merge, tf_window,
         |    CAST(tf_spark * (n + 1) * (df_merge + 1) * (df_window + 1)
         |       + tf_merge * (n + 1) * (df_spark + 1) * (df_window + 1)
         |       + tf_window * (n + 1) * (df_spark + 1) * (df_merge + 1) AS BIGINT) AS score_num,
         |    CAST((df_spark + 1) * (df_merge + 1) * (df_window + 1) AS BIGINT) AS denom
         |  FROM doctf, dfs, n)
         |SELECT doc_id, tf_spark, tf_merge, tf_window, score_num,
         |  CAST(score_num AS DOUBLE) / CAST(denom AS DOUBLE) AS score
         |FROM scored WHERE score_num > 0
         |ORDER BY score_num DESC, doc_id ASC LIMIT 20""".stripMargin),
    // corpus n-gram count table (LM-data prep): ShingleRows generator
    // streams windows into a hash agg; min-count pruning after the agg
    QuerySpec("ngram_counts", (s, d) =>
      Tables.documents(s, d)
        .select(graft.expressions.TextGenerators.shingleRows(col("text"), 3))
        .groupBy("shingle").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 3),
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT toks[u.i] || ' ' || toks[u.i+1] || ' ' || toks[u.i+2] AS shingle
         |      FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(i))
         |SELECT shingle, count(*) AS cnt FROM g
         |GROUP BY 1 HAVING count(*) >= 3""".stripMargin),
    // native Generator (UDTF tier): streams one row per 3-token window
    // without materializing the per-document shingle array
    QuerySpec("text_shingles", (s, d) =>
      Tables.documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"),
          graft.expressions.TextGenerators.shingleRows(col("text"), 3)),
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks
         |           FROM documents WHERE doc_id < 50)
         |SELECT doc_id, CAST(u.i - 1 AS INTEGER) AS pos,
         |  toks[u.i] || ' ' || toks[u.i+1] || ' ' || toks[u.i+2] AS shingle
         |FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(i)""".stripMargin),
    // Okapi BM25 (rational constants k1=6/5, b=3/4; per-term scores
    // are single long-ratio divisions summed in one fixed-order
    // projection) over the same literal query as keyword_search
    // unigram-LM tokenizer training (SentencePiece family) — hard-EM
    // Viterbi over the word-type table, integer fixed-point log2
    // costs, 2 EM rounds; the oracle unrolls the whole training
    // IVF-PQ composition: Lloyd training + cosine assignment/probing
    // (shared cents/assigned/probed shapes), PQ codes + ADC restricted
    // to probed pairs, exact-cosine rerank of the ADC top-20 — every
    // stage replayed verbatim; `f` (micro fixed-point vectors) is
    // shared between the Lloyd trainer and the PQ subvector slicer
    QuerySpec("unigram_train", (s, d) =>
      TextFunctions.unigramTrain(Tables.documents(s, d)),
      unigramTrainSql()),
    // train -> ENCODE closed for the unigram family (the
    // bpe_encode twin): per-doc Viterbi token counts + compression,
    // served from the once-per-snapshot trained vocab layout
    QuerySpec("unigram_encode", (s, d) =>
      TextFunctions.unigramEncodeWith(Tables.documents(s, d),
        s.read.parquet(ensureUnigramVocabLayout(s, d))),
      unigramEncodeSql(),
      layout = Some(ensureUnigramVocabLayout(_, _))),
    // the BERT-family runtime rule vs the trained model's own decoder:
    // greedy longest-match and Viterbi token counts per doc over the
    // SAME vocabulary, ratio in millionths — the fertility cost of
    // serving with the cheap matcher
    QuerySpec("wordpiece_encode", (s, d) =>
      TextFunctions.wordpieceEncodeWith(Tables.documents(s, d),
        s.read.parquet(ensureUnigramVocabLayout(s, d))),
      wordpieceEncodeSql()),
    // tokenizer FAIRNESS across languages — the multilingual-fertility
    // report (tokens per word, chars per token, both in exact
    // millionths): a tokenizer trained on a skewed corpus over-
    // fragments the minority languages, and this is the signal
    // the encode statement embedded as a derived table, rolled up by
    // language (the ann_recall_indexed embedding convention)
    QuerySpec("unigram_fertility", (s, d) => {
      val enc = TextFunctions.unigramEncodeWith(Tables.documents(s, d),
        s.read.parquet(ensureUnigramVocabLayout(s, d)))
      enc.join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum("n_words").as("n_words"),
          sum("n_unigram_tokens").as("n_tokens"),
          sum("n_char_tokens").as("n_chars"))
        .withColumn("tokens_per_word_fp",
          expr("(1000000 * n_tokens) div greatest(n_words, 1)"))
        .withColumn("chars_per_token_fp",
          expr("(1000000 * n_chars) div greatest(n_tokens, 1)"))
    },
      s"""SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(e.n_words) AS BIGINT) AS n_words,
         |  CAST(SUM(e.n_unigram_tokens) AS BIGINT) AS n_tokens,
         |  CAST(SUM(e.n_char_tokens) AS BIGINT) AS n_chars,
         |  CAST((1000000 * SUM(e.n_unigram_tokens)) // greatest(SUM(e.n_words), 1) AS BIGINT) AS tokens_per_word_fp,
         |  CAST((1000000 * SUM(e.n_char_tokens)) // greatest(SUM(e.n_unigram_tokens), 1) AS BIGINT) AS chars_per_token_fp
         |FROM (
         |${unigramEncodeSql()}
         |) e JOIN documents d USING (doc_id)
         |GROUP BY 1""".stripMargin,
      layout = Some(ensureUnigramVocabLayout(_, _))),
    // Okapi BM25 with rational constants: each term's score is one
    // division of two exactly-computed BIGINTs; the 3-term sum is a
    // fixed-order double expression (same association both engines)
    QuerySpec("bm25_search", (s, d) =>
      TextFunctions.bm25Search(Tables.documents(s, d),
        Seq("spark", "merge", "window"), k = 20),
      s"""WITH $bm25CtesSql
         |SELECT doc_id, dl, tf_spark, tf_merge, tf_window,
         |  round(score_raw, 9) AS score
         |FROM scored WHERE score_raw > 0
         |ORDER BY score_raw DESC, doc_id ASC LIMIT 20""".stripMargin),
    // AND-semantics retrieval: only docs holding EVERY term compete,
    // df self-consistently over that set — the strict-match search
    // mode next to bm25_search's OR ranking
    // AND-retrieval: the same scoring chain over only the all-term
    // docs, df self-consistently the competing set's size
    QuerySpec("bm25_conjunctive", (s, d) =>
      TextFunctions.bm25Search(Tables.documents(s, d),
        Seq("spark", "merge", "window"), k = 20, requireAll = true),
      s"""WITH ${bm25CtesFor("documents", conjunctive = true)}
         |SELECT doc_id, dl, tf_spark, tf_merge, tf_window,
         |  round(score_raw, 9) AS score
         |FROM scored WHERE score_raw > 0
         |ORDER BY score_raw DESC, doc_id ASC LIMIT 20""".stripMargin),
    // persisted postings index serving the same query: must be
    // bit-identical to the ad-hoc scan (shared scoring tail, additive
    // incremental build) — the same oracle checks both
    // post-erasure index ≡ an index that never held the victims: the
    // same chain over the surviving corpus (df = posting-list length
    // shrinks with the delete; N/total_dl shrink via the negative
    // stats delta)
    QuerySpec("bm25_deleted", bm25Deleted,
      s"""WITH ${bm25CtesFor("(SELECT * FROM documents WHERE doc_id % 10 <> 7)")}
         |SELECT doc_id, dl, tf_spark, tf_merge, tf_window,
         |  round(score_raw, 9) AS score
         |FROM scored WHERE score_raw > 0
         |ORDER BY score_raw DESC, doc_id ASC LIMIT 20""".stripMargin,
      layout = Some(ensureBm25DeletedLayout(_, _))),
    // the index-served path answers to the SAME statement: postings /
    // stats / df / dl are all additive, so build-then-append must be
    // bit-identical to the ad-hoc full-corpus scan
    QuerySpec("bm25_indexed", bm25Indexed,
      s"""WITH $bm25CtesSql
         |SELECT doc_id, dl, tf_spark, tf_merge, tf_window,
         |  round(score_raw, 9) AS score
         |FROM scored WHERE score_raw > 0
         |ORDER BY score_raw DESC, doc_id ASC LIMIT 20""".stripMargin,
      layout = Some(ensureBm25IndexLayout(_, _))),
    // corpus-trained bigram-LM quality score in fixed-point millionths
    // (CCNet-style "how surprising is this doc under the corpus LM")
    // bigram-LM quality score: MLE p(w2|w1) in fixed-point millionths
    // via integer floor division — the per-doc SUM is integer, so
    // accumulation order cannot diverge the engines
    QuerySpec("lm_bigram_score", (s, d) =>
      TextFunctions.lmBigramScore(Tables.documents(s, d)),
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |bg AS (SELECT doc_id, toks[u.i] || ' ' || toks[u.i+1] AS bigram,
         |         toks[u.i] AS prefix
         |       FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
         |c2 AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY 1),
         |c1 AS (SELECT prefix, count(*) AS c1 FROM bg GROUP BY 1),
         |pd AS (SELECT b.doc_id, count(*) AS n_bigrams,
         |    CAST(SUM((1000000 * c2.c2) // c1.c1) AS BIGINT) AS sum_p_fp
         |  FROM bg b JOIN c2 USING (bigram) JOIN c1 ON b.prefix = c1.prefix
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(pd.sum_p_fp, 0) AS BIGINT) AS sum_p_fp,
         |  CASE WHEN coalesce(pd.n_bigrams, 0) > 0
         |    THEN CAST(pd.sum_p_fp AS DOUBLE) / CAST(pd.n_bigrams AS DOUBLE)
         |    ELSE 0.0 END AS avg_p_fp
         |FROM (SELECT DISTINCT doc_id FROM documents) d
         |LEFT JOIN pd USING (doc_id)""".stripMargin),
    // BPE tokenizer training (Sennrich et al. 2016): the first two
    // learned merges — per-round work is vocabulary-sized, the winner
    // rides a 1-row broadcast (never the driver)
    // BPE training, 2 unrolled rounds: the merge application is the
    // same left-to-right non-overlapping fold as the engine's, run by
    // list_reduce over a '|'-delimited accumulator (symbols are
    // [a-z]+ fusions, so the delimiter can't collide)
    QuerySpec("bpe_merges", (s, d) =>
      TextFunctions.bpeTrain(Tables.documents(s, d), nMerges = 2),
      """WITH words AS (
        |  SELECT w AS word, count(*) AS freq
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |        FROM documents)
        |  GROUP BY 1),
        |segs1 AS (
        |  SELECT word, freq,
        |    list_transform(range(1, length(word)+1),
        |      i -> substring(word, i, 1)) AS syms
        |  FROM words),
        |x1 AS (
        |  SELECT freq, unnest(list_transform(range(1, len(syms)),
        |    j -> struct_pack(l := syms[j], r := syms[j+1]))) AS p
        |  FROM segs1),
        |pairs1 AS (
        |  SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS pair_count
        |  FROM x1 GROUP BY 1, 2),
        |win1 AS (SELECT l, r, pair_count FROM pairs1
        |         ORDER BY pair_count DESC, l, r LIMIT 1),
        |segs2 AS (
        |  SELECT word, freq,
        |    string_split(list_reduce(syms, (acc, x) ->
        |      CASE WHEN regexp_extract(acc, '[^|]*$') = w.l AND x = w.r
        |           THEN regexp_replace(acc, '[^|]*$', w.l || w.r)
        |           ELSE acc || '|' || x END), '|') AS syms
        |  FROM segs1, win1 w),
        |x2 AS (
        |  SELECT freq, unnest(list_transform(range(1, len(syms)),
        |    j -> struct_pack(l := syms[j], r := syms[j+1]))) AS p
        |  FROM segs2),
        |pairs2 AS (
        |  SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS pair_count
        |  FROM x2 GROUP BY 1, 2),
        |win2 AS (SELECT l, r, pair_count FROM pairs2
        |         ORDER BY pair_count DESC, l, r LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS iter, l AS sym_left, r AS sym_right, pair_count
        |FROM win1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), l, r, pair_count FROM win2""".stripMargin),
    // the trained tokenizer's emission: top symbols of the final
    // segmentations after both learned merges are applied
    QuerySpec("bpe_vocab", (s, d) =>
      TextFunctions.bpeVocab(Tables.documents(s, d), nMerges = 2, topN = 30),
      """WITH words AS (
        |  SELECT w AS word, count(*) AS freq
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |        FROM documents)
        |  GROUP BY 1),
        |segs1 AS (
        |  SELECT word, freq,
        |    list_transform(range(1, length(word)+1),
        |      i -> substring(word, i, 1)) AS syms
        |  FROM words),
        |x1 AS (
        |  SELECT freq, unnest(list_transform(range(1, len(syms)),
        |    j -> struct_pack(l := syms[j], r := syms[j+1]))) AS p
        |  FROM segs1),
        |pairs1 AS (
        |  SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS pair_count
        |  FROM x1 GROUP BY 1, 2),
        |win1 AS (SELECT l, r FROM pairs1
        |         ORDER BY pair_count DESC, l, r LIMIT 1),
        |segs2 AS (
        |  SELECT word, freq,
        |    string_split(list_reduce(syms, (acc, x) ->
        |      CASE WHEN regexp_extract(acc, '[^|]*$') = w.l AND x = w.r
        |           THEN regexp_replace(acc, '[^|]*$', w.l || w.r)
        |           ELSE acc || '|' || x END), '|') AS syms
        |  FROM segs1, win1 w),
        |x2 AS (
        |  SELECT freq, unnest(list_transform(range(1, len(syms)),
        |    j -> struct_pack(l := syms[j], r := syms[j+1]))) AS p
        |  FROM segs2),
        |pairs2 AS (
        |  SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS pair_count
        |  FROM x2 GROUP BY 1, 2),
        |win2 AS (SELECT l, r FROM pairs2
        |         ORDER BY pair_count DESC, l, r LIMIT 1),
        |segs3 AS (
        |  SELECT word, freq,
        |    string_split(list_reduce(syms, (acc, x) ->
        |      CASE WHEN regexp_extract(acc, '[^|]*$') = w.l AND x = w.r
        |           THEN regexp_replace(acc, '[^|]*$', w.l || w.r)
        |           ELSE acc || '|' || x END), '|') AS syms
        |  FROM segs2, win2 w)
        |SELECT sym, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM (SELECT freq, unnest(syms) AS sym FROM segs3)
        |GROUP BY 1 ORDER BY cnt DESC, sym ASC LIMIT 30""".stripMargin),
    // the trained tokenizer APPLIED: per-doc token counts under the
    // learned merge table — encoding joins the corpus word stream to
    // the vocabulary-sized segmentation table, never re-running merges
    // the trained tokenizer applied per doc: the same 2-round merge
    // chain as bpe_vocab down to segs3, then the corpus word stream
    // joins the vocabulary-sized (word → token count) table
    QuerySpec("bpe_encode", (s, d) =>
      TextFunctions.bpeEncodeStats(Tables.documents(s, d), nMerges = 2),
      """WITH words AS (
        |  SELECT w AS word, count(*) AS freq
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |        FROM documents)
        |  GROUP BY 1),
        |segs1 AS (
        |  SELECT word, freq,
        |    list_transform(range(1, length(word)+1),
        |      i -> substring(word, i, 1)) AS syms
        |  FROM words),
        |x1 AS (
        |  SELECT freq, unnest(list_transform(range(1, len(syms)),
        |    j -> struct_pack(l := syms[j], r := syms[j+1]))) AS p
        |  FROM segs1),
        |pairs1 AS (
        |  SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS pair_count
        |  FROM x1 GROUP BY 1, 2),
        |win1 AS (SELECT l, r FROM pairs1
        |         ORDER BY pair_count DESC, l, r LIMIT 1),
        |segs2 AS (
        |  SELECT word, freq,
        |    string_split(list_reduce(syms, (acc, x) ->
        |      CASE WHEN regexp_extract(acc, '[^|]*$') = w.l AND x = w.r
        |           THEN regexp_replace(acc, '[^|]*$', w.l || w.r)
        |           ELSE acc || '|' || x END), '|') AS syms
        |  FROM segs1, win1 w),
        |x2 AS (
        |  SELECT freq, unnest(list_transform(range(1, len(syms)),
        |    j -> struct_pack(l := syms[j], r := syms[j+1]))) AS p
        |  FROM segs2),
        |pairs2 AS (
        |  SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS pair_count
        |  FROM x2 GROUP BY 1, 2),
        |win2 AS (SELECT l, r FROM pairs2
        |         ORDER BY pair_count DESC, l, r LIMIT 1),
        |segs3 AS (
        |  SELECT word, freq,
        |    string_split(list_reduce(syms, (acc, x) ->
        |      CASE WHEN regexp_extract(acc, '[^|]*$') = w.l AND x = w.r
        |           THEN regexp_replace(acc, '[^|]*$', w.l || w.r)
        |           ELSE acc || '|' || x END), '|') AS syms
        |  FROM segs2, win2 w),
        |lens AS (
        |  SELECT word, CAST(len(syms) AS BIGINT) AS n_syms,
        |    CAST(length(word) AS BIGINT) AS n_chars
        |  FROM segs3),
        |docw AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents),
        |pd AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS n_char_tokens
        |  FROM docw JOIN lens USING (word) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(pd.n_words, 0) AS BIGINT) AS n_words,
        |  CAST(coalesce(pd.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
        |  CAST(coalesce(pd.n_char_tokens, 0) AS BIGINT) AS n_char_tokens,
        |  CAST(CASE WHEN coalesce(pd.n_bpe_tokens, 0) > 0
        |    THEN (1000000 * pd.n_char_tokens) // pd.n_bpe_tokens
        |    ELSE 0 END AS BIGINT) AS compression_fp
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN pd USING (doc_id)""".stripMargin),
    QuerySpec("text_stats", textStats,
      s"""SELECT doc_id, len_chars, n_tokens, n_stopwords, n_punct, token_len_sum,
         |  CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
         |  CAST(token_len_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len
         |FROM (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS len_chars,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter($toksSql, t -> list_contains($stopwordsSql, t))) AS BIGINT) AS n_stopwords,
         |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
         |    CAST(list_sum(list_transform($toksSql, t -> CAST(length(t) AS BIGINT))) AS BIGINT) AS token_len_sum
         |  FROM documents)""".stripMargin),
    QuerySpec("text_langid", textLangId, {
      val scoreCols = TextFunctions.langMarkers.map { case (l, m) =>
        s"CAST(len(list_filter($toksSql, t -> list_contains(${markersSqlList(m)}, t))) AS BIGINT) AS s_$l"
      }.mkString(",\n    ")
      s"""WITH s AS (
         |  SELECT doc_id, lang,
         |    $scoreCols
         |  FROM documents)
         |SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
         |  CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
         |       WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
         |       WHEN s_de >= greatest(s_en, s_fr, s_es) THEN 'de'
         |       WHEN s_fr >= greatest(s_en, s_de, s_es) THEN 'fr'
         |       ELSE 'es' END AS lang_pred
         |FROM s""".stripMargin
    }),
    QuerySpec("token_count", tokenCount,
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextFunctions.bpeTokenPattern}')) AS BIGINT) AS bpe_tokens
         |FROM documents""".stripMargin),
    QuerySpec("tfidf_top_terms", tfidfTopTerms,
      s"""WITH terms AS (
         |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |t AS (SELECT doc_id, term, count(*) AS tf FROM terms
         |      WHERE length(term) > 0 GROUP BY 1, 2),
         |d AS (SELECT term, count(*) AS df FROM t GROUP BY 1),
         |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
         |s AS (SELECT t.doc_id, t.term, t.tf, d.df,
         |    CAST(t.tf * (n.n + 1) AS DOUBLE) / CAST(d.df + 1 AS DOUBLE) AS tfidf
         |  FROM t JOIN d USING(term), n)
         |SELECT doc_id, term, tf, df, tfidf, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
         |  FROM s)
         |WHERE rank <= 5""".stripMargin),
    QuerySpec("text_chunks", textChunks,
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id, toks,
         |    unnest(range(0, CAST(ceil(len(toks) / 32.0) AS INT))) AS i
         |  FROM t)
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  array_to_string(list_slice(toks, i*32 + 1, least((i+1)*32, len(toks))), ' ') AS chunk_text,
         |  CAST(len(list_slice(toks, i*32 + 1, least((i+1)*32, len(toks)))) AS BIGINT) AS n_chunk_tokens
         |FROM c""".stripMargin),
    // overlapping windows every 24 tokens; the last window is the
    // first one reaching the end (no redundant sub-window tails)
    QuerySpec("text_chunks_overlap", textChunksOverlap,
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id, toks,
         |    unnest(range(0, CASE WHEN len(toks) <= 32 THEN 1
         |      ELSE CAST(ceil((len(toks) - 32) / 24.0) AS INT) + 1 END)) AS i
         |  FROM t)
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  CAST(i * 24 AS INT) AS start_tok,
         |  array_to_string(list_slice(toks, i*24 + 1, least(i*24 + 32, len(toks))), ' ') AS chunk_text,
         |  CAST(len(list_slice(toks, i*24 + 1, least(i*24 + 32, len(toks)))) AS BIGINT) AS n_chunk_tokens
         |FROM c""".stripMargin),
    QuerySpec("text_scrub", textScrub,
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '[0-9]{4,}', '[NUM]', 'g') AS scrubbed
        |FROM documents""".stripMargin),
    // full decode->resize->featurize replay: prefix-XOR via a bit_xor
    // window, nearest-neighbor resize via a list_transform index map,
    // hash over the lowercase hex rendering (DuckDB md5 is VARCHAR-only)
    // integer NB: counts, smoothing, three log2 chains, argmin — the
    // full train-and-serve replay
    QuerySpec("nb_classify", nbClassifyQ, nbSql),
    // token entropy: both log2 chains replayed, floor-division rollup
    QuerySpec("text_entropy", textEntropyQ, textEntropySql),
  )
}
