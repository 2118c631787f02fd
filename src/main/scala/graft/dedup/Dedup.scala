package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design:
  *  - signatures (minhash/simhash/fingerprint) are narrow per-row
  *    projections — no shuffle, embarrassingly parallel;
  *  - candidate generation shuffles ONLY (doc_id, band_idx, band_hash)
  *    triples, never text, and self-joins within LSH buckets — the
  *    classic shingle→minhash→band→bucket-join plan that avoids the
  *    O(n²) all-pairs comparison;
  *  - verification re-joins candidate ids against the narrow shingle
  *    sets, so the wide text column is read exactly once.
  */
object Dedup {

  /** Rounds the last [[nearDupClusters]] call took to converge (-1
    * before any call) — surfaced so harnesses (e.g. `graft.Bench`) can
    * report iteration counts alongside timings without parsing logs. */
  val lastCcRounds = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Exact dedup via hash-groupBy on the text hash: one shuffle of
    * (md5, id) pairs, never the full text. */
  def exact(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** Prefix-boilerplate detection: per-document verdict on whether the
    * document shares its first `prefixLen` characters with another
    * document (templated headers, mirrored license preambles, scraped
    * navigation chrome — the prefix-dup class that whole-document
    * hashing misses because the bodies diverge). Groups on
    * md5(prefix); the keeper is the min doc id, every other member is
    * flagged. Same one-narrow-shuffle shape as [[exact]]: only
    * (prefix_hash, id) crosses the exchange, never the text.
    *
    * Reference scope: the reference has no prefix-level dedup; this is
    * engine capability for the LLM-pipeline tier (SURVEY.md §2 note). */
  def prefixDups(df: DataFrame, prefixLen: Int = 80,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(prefixLen > 0, s"need prefixLen > 0, got $prefixLen")
    affixDups(df, substring(col(textCol), 1, prefixLen), idCol)
  }

  /** Suffix twin of [[prefixDups]]: groups on the LAST `suffixLen`
    * characters — templated footers, signature blocks, licence
    * trailers. `right()` (not negative-position substring) because
    * both engines agree on its short-string semantics. */
  def suffixDups(df: DataFrame, suffixLen: Int = 80,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(suffixLen > 0, s"need suffixLen > 0, got $suffixLen")
    affixDups(df, expr(s"right($textCol, $suffixLen)"), idCol)
  }

  private def affixDups(df: DataFrame, affix: Column, idCol: String): DataFrame = {
    val keyed = df.select(col(idCol), md5(affix).as("prefix_hash"))
    val groups = keyed.groupBy(col("prefix_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
    keyed.join(groups, "prefix_hash")
      .select(col(idCol), col("prefix_hash"), col("n_docs"),
        (col("n_docs") > 1 && col(idCol) =!= col("keep_id")).as("is_prefix_dup"))
  }

  /** Edit-distance near-dup pairs (approximate string matching /
    * record-linkage blocking): id pairs whose `strCol` values are
    * within `maxDist` Levenshtein edits, found WITHOUT an all-pairs
    * comparison by blocking on the exact first `blockPrefix`
    * characters — only same-block rows are compared, so a divergent
    * first line already prunes the pair. The standard record-linkage
    * trade: an edit inside the block prefix hides the pair (recall
    * loss, documented), in exchange for join-sized instead of
    * quadratic work.
    *
    * Scale shape: one shuffle on the block key; the compared string
    * crosses the exchange, so callers should pass a BOUNDED slice
    * (`substring(text, 1, n)`), not whole documents. The distance
    * uses Spark's thresholded Levenshtein (banded DP, O(len·maxDist)
    * per pair, -1 past the threshold) — the cap is a compute guard as
    * much as a semantic one. `maxBlockSize` drops degenerate blocks
    * (boilerplate floods) exactly like [[lshCandidates]]'s bucket cap:
    * a block of m rows is m² candidate pairs.
    *
    * Returns (id_a, id_b, dist), id_a < id_b. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int, blockPrefix: Int = 10,
                        maxBlockSize: Option[Int] = None): DataFrame = {
    require(maxDist >= 0, s"need maxDist >= 0, got $maxDist")
    require(blockPrefix > 0, s"need blockPrefix > 0, got $blockPrefix")
    val keyed = df.select(col(idCol), col(strCol).as("__s"),
      substring(col(strCol), 1, blockPrefix).as("__blk"))
    val bounded = maxBlockSize match {
      case Some(cap) =>
        val sizes = keyed.groupBy("__blk").agg(count(lit(1)).as("__n"))
        keyed.join(sizes, Seq("__blk")).filter(col("__n") <= cap).drop("__n")
      case None => keyed
    }
    val a = bounded.select(col("__blk"), col(idCol).as("id_a"), col("__s").as("__sa"))
    val b = bounded.select(col("__blk"), col(idCol).as("id_b"), col("__s").as("__sb"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("bigint").as("dist"))
  }

  /** Leakage-safe train/heldout split: assignment is by NEAR-DUP
    * CLUSTER, not by document — a doc-level hash split puts one copy
    * of a near-duplicate in train and its twin in heldout, silently
    * contaminating every evaluation run on the held-out slice. Docs in
    * no near-dup pair form singleton clusters (their own id); each
    * cluster's representative id is hash-bucketed with the engine's
    * md5 split convention, so the split is deterministic, reproducible
    * cross-engine, and re-derivable after the corpus grows (a new
    * near-dup of a held-out doc lands in heldout, never train).
    *
    * Scale shape: the O(log d) connected-components rounds over the
    * narrow pair set, one broadcast-sized left join back to ids, and a
    * codegen'd hash projection — document text is never touched. */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       idCol: String = "doc_id", trainPct: Int = 90,
                       salt: String = ""): DataFrame = {
    require(trainPct >= 0 && trainPct <= 100, s"trainPct in [0,100], got $trainPct")
    val clusters = nearDupClusters(pairs)
      .select(col("doc_id").as(idCol), col("cluster_id"))
    docs.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
      .withColumn("split",
        when(graft.operators.Sampling.hashBucket(col("cluster_id"), salt) < trainPct,
          "train").otherwise("heldout"))
  }

  /** Modulus for the Kirsch-Mitzenmacher hash family (2^31; keeps
    * h1%M + k*(h2%M) far below 2^63 for any practical k). */
  val minhashModulus: Long = 1L << 31

  /** Loan-scoped cache for multi-consumer intermediate frames: persist
    * `frames`, force `body`'s result to full materialization via an
    * EAGER `localCheckpoint`, then unpersist in a `finally`. The
    * checkpoint blocks are plain RDD cache entries released by the
    * ContextCleaner when the result is garbage-collected — they are
    * never registered in the session CacheManager, so repeated calls
    * on the same input can't collide ("Asked to cache already cached
    * data") and nothing outlives the call. The eager materialization
    * is what makes the unpersist safe: the cached frames are consumed
    * exactly once, inside this scope. */
  private def withScopedCache(frames: DataFrame*)(body: => DataFrame): DataFrame = {
    frames.foreach(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try body.localCheckpoint(true)
    finally frames.foreach { f => f.unpersist(blocking = false); () }
  }

  /** Default LSH bucket cap for the public near-dup entry points: a
    * bucket of m members contributes m² candidate pairs, so one
    * degenerate boilerplate bucket (empty pages, templated headers)
    * otherwise turns the whole job quadratic at 100 TB. 1000 keeps the
    * worst single bucket at ~500k pairs — bounded, while real near-dup
    * clusters (typically ≪1000 per bucket) are untouched. */
  val DefaultBucketCap: Int = 1000

  /** Per-document MinHash signature: k min-hashes over the distinct
    * 3-token shingles via the Kirsch-Mitzenmacher construction —
    * ONE md5 per shingle yields (h1, h2) (hex chars 1-15 / 16-30 as
    * 60-bit ints), and hash_j = (h1 + j*h2) mod 2^31. Engine-portable
    * (the same derivation is spelled out in the oracle SQL) and 12x
    * cheaper than one seeded md5 per hash index. Docs with <3 tokens
    * produce an empty signature and are excluded from LSH. */
  def minhashSignatures(df: DataFrame, k: Int = 12,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sh = shingleSet(col(textCol))
    graft.core.Parallelism.ensure(df)
      .select(col(idCol).as("doc_id"), sh.as("shingles"))
      .filter(size(col("shingles")) > 0)
      // native whole-signature kernel (graft.expressions.MinHashSignature)
      // — one md5 per shingle in a tight loop, no interpreted HOFs
      .withColumn("sig",
        graft.expressions.MinHashFunctions.minhashSignature(col("shingles"), k))
  }

  /** LSH banding: k-length signature → `bands` bands of r rows each;
    * band key = comma-joined band slice (the values are already 31-bit
    * min-hashes — no re-hash needed). Output is the narrow exploded
    * (doc_id, band_idx, band_hash). */
  /** The band-key array expression shared by batch [[lshBands]] and
    * the streaming screen ([[graft.streaming.StreamingNearDup]]):
    * element b = comma-joined band slice b of the signature. */
  def bandKeys(sig: org.apache.spark.sql.Column, k: Int, bands: Int)
      : org.apache.spark.sql.Column = {
    val r = k / bands
    require(bands * r == k, s"bands=$bands must divide k=$k")
    transform(sequence(lit(0), lit(bands - 1)), b =>
      concat_ws(",", transform(slice(sig, b * r + 1, lit(r)),
        v => v.cast("string"))))
  }

  def lshBands(sigs: DataFrame, k: Int = 12, bands: Int = 4): DataFrame = {
    sigs.select(col("doc_id"), posexplode(bandKeys(col("sig"), k, bands)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
  }

  /** Drop LSH buckets over `cap` members (None = unbounded) — the
    * shared degenerate-bucket guard of [[lshCandidates]] and
    * [[crossNearDups]]; one definition so the cap semantics (count
    * per (band_idx, band_hash), inclusive ≤) cannot drift. */
  private def capBuckets(bandsDf: DataFrame, maxBucketSize: Option[Int]): DataFrame =
    maxBucketSize match {
      case Some(cap) =>
        val sizes = bandsDf.groupBy("band_idx", "band_hash")
          .agg(count(lit(1)).as("__bucket_n"))
        bandsDf.join(sizes, Seq("band_idx", "band_hash"))
          .filter(col("__bucket_n") <= cap).drop("__bucket_n")
      case None => bandsDf
    }

  /** Candidate pairs: docs sharing at least one LSH bucket. Shuffles
    * only the narrow band triples; bucket-local self-join.
    *
    * `maxBucketSize` is the standard scale guard: a degenerate bucket
    * of m docs contributes m² candidate pairs, so one templated-boiler-
    * plate cluster can dominate the whole job. Buckets above the cap
    * are dropped (their members still pair via their other, more
    * selective bands). None = exact reference of the oracle SQL. */
  def lshCandidates(bandsDf: DataFrame, maxBucketSize: Option[Int] = None): DataFrame = {
    val bounded = capBuckets(bandsDf, maxBucketSize)
    val a = bounded.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
    val b = bounded.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact Jaccard verification of candidate pairs against the
    * distinct-shingle sets. */
  def verifyJaccard(candidates: DataFrame, sigs: DataFrame): DataFrame = {
    val sa = sigs.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    candidates.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("bigint"))
      .withColumn("n_union",
        (size(col("sh_a")) + size(col("sh_b"))).cast("bigint") - col("n_inter"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
        (col("n_inter").cast("double") / col("n_union").cast("double")).as("jaccard"))
  }

  /** Jaccard + containment verification of candidate pairs:
    * containment = |A∩B| / min(|A|, |B|) scores a short document fully
    * embedded in a longer one at 1.0 where symmetric Jaccard
    * under-scores it — the boilerplate-inclusion case (RefinedWeb-style
    * dedup filters on containment for exactly this reason).
    *
    * Regime note: candidates here still come from Jaccard-LSH, whose
    * collision probability tracks Jaccard, not containment — a tiny
    * doc inside a huge one may never collide. Use it to re-score and
    * filter LSH candidates; for full containment recall, generate
    * candidates from the short side's shingles directly. */
  def verifyContainment(candidates: DataFrame, sigs: DataFrame): DataFrame = {
    val sa = sigs.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    candidates.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("bigint"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("n_inter").cast("double") /
          ((size(col("sh_a")) + size(col("sh_b"))).cast("bigint") - col("n_inter")).cast("double"))
          .as("jaccard"),
        (col("n_inter").cast("double") /
          least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
          .as("containment"))
  }

  /** MinHash-LSH candidates re-scored by containment (see
    * [[verifyContainment]]); same plan shape and cache lifecycle as
    * [[minhashNearDups]] (scoped persist, eager result, nothing
    * outlives the call). */
  def containmentNearDups(df: DataFrame, k: Int = 12, bands: Int = 4,
                          textCol: String = "text", idCol: String = "doc_id",
                          maxBucketSize: Option[Int] = Some(DefaultBucketCap)): DataFrame = {
    val sigs = minhashSignatures(df, k, textCol, idCol)
    withScopedCache(sigs) {
      verifyContainment(lshCandidates(lshBands(sigs, k, bands), maxBucketSize), sigs)
    }
  }

  /** Full MinHash-LSH near-dup pipeline: signature → bands → bucket
    * join → exact-Jaccard verify.
    *
    * `maxBucketSize` defaults to [[DefaultBucketCap]]: one degenerate
    * boilerplate bucket of m docs is m² candidate pairs, so an
    * unbounded default is quadratic at corpus scale. Members of a
    * dropped bucket still pair via their other, more selective bands;
    * pass None for the exact unbounded semantics. The oracle SQL
    * encodes the same cap. */
  def minhashNearDups(df: DataFrame, k: Int = 12, bands: Int = 4,
                      textCol: String = "text", idCol: String = "doc_id",
                      maxBucketSize: Option[Int] = Some(DefaultBucketCap)): DataFrame = {
    // The signature frame feeds three consumers (banding + both sides of
    // the verification join); persist so shingling/minhashing runs once.
    // Lifecycle: scoped — the verified pair set (small: near-dup pairs
    // only, bounded further by the bucket cap) is materialized eagerly
    // and the signature cache is released before this returns, so
    // back-to-back calls never accumulate session-lifetime cache
    // entries.
    val sigs = minhashSignatures(df, k, textCol, idCol)
    withScopedCache(sigs) {
      verifyJaccard(lshCandidates(lshBands(sigs, k, bands), maxBucketSize), sigs)
    }
  }

  /** Verified near-dup pair list from a PRECOMPUTED signature frame
    * (doc_id, shingles, sig): banded LSH candidates (bucket-capped) →
    * exact-Jaccard verify → pairs at or above `minJaccard`. This is
    * THE construction behind [[dedupCorpus]], extracted so a
    * multi-consumer caller ([[graft.pipeline.CorpusPipeline.prepare]]
    * shares one shingling pass between dedup and decontamination) can
    * persist `sigs` itself and still get pair semantics that cannot
    * drift from the one-call path — the k/bands/cap defaults live in
    * exactly one place. */
  def pairsFromSigs(sigs: DataFrame, minJaccard: Double,
                    k: Int = 12, bands: Int = 4,
                    maxBucketSize: Option[Int] = Some(DefaultBucketCap)): DataFrame =
    verifyJaccard(lshCandidates(lshBands(sigs, k, bands), maxBucketSize), sigs)
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b")

  /** Bipartite (cross-corpus) near-dup pairs: MinHash-LSH candidates
    * BETWEEN corpus `a` and corpus `b` only — never within either —
    * verified by exact Jaccard. The overlap-audit operator: "how much
    * of the new crawl duplicates the accepted corpus", "which eval
    * documents leak into train", scored pair by pair where
    * [[incrementalNearDup]] silently drops. Returns (a_id, b_id,
    * n_inter, n_union, jaccard).
    *
    * Scale shape: same as [[minhashNearDups]] — signatures are
    * map-side, candidate generation shuffles only narrow band
    * triples, and the bucket join is a×b within each bucket (the
    * bucket cap guards degenerate boilerplate buckets on EITHER
    * side). Shingle sets cross an exchange only for colliding pairs.
    * Both signature frames are loan-scoped persisted; nothing
    * outlives the call. */
  def crossNearDups(a: DataFrame, b: DataFrame, k: Int = 12, bands: Int = 4,
                    textCol: String = "text", idCol: String = "doc_id",
                    maxBucketSize: Option[Int] = Some(DefaultBucketCap)): DataFrame = {
    val sigsA = minhashSignatures(a, k, textCol, idCol)
    val sigsB = minhashSignatures(b, k, textCol, idCol)
    withScopedCache(sigsA, sigsB) {
      val bandsA = capBuckets(lshBands(sigsA, k, bands), maxBucketSize)
      val bandsB = capBuckets(lshBands(sigsB, k, bands), maxBucketSize)
      val cands = bandsA.select(col("band_idx"), col("band_hash"),
          col("doc_id").as("doc_a"))
        .join(bandsB.select(col("band_idx"), col("band_hash"),
          col("doc_id").as("doc_b")), Seq("band_idx", "band_hash"))
        .select("doc_a", "doc_b").distinct()
      cands
        .join(sigsA.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
        .join(sigsB.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
        .withColumn("n_inter",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("bigint"))
        .withColumn("n_union",
          (size(col("sh_a")) + size(col("sh_b"))).cast("bigint") - col("n_inter"))
        .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
          (col("n_inter").cast("double") / col("n_union").cast("double")).as("jaccard"))
    }
  }

  /** Brute-force n-gram Jaccard over a bounded id range (the exact
    * baseline the LSH path approximates; O(n²) — keep n small). */
  def ngramJaccardPairs(df: DataFrame, maxId: Long,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val docs = df.filter(col(idCol) < maxId)
      .select(col(idCol).as("doc_id"), shingleSet(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("bigint"))
      .withColumn("n_union",
        (size(col("sh_a")) + size(col("sh_b"))).cast("bigint") - col("n_inter"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") / col("n_union").cast("double")).as("jaccard"))
  }

  /** Connected components over near-dup pairs → (doc_id, cluster_id)
    * with cluster_id = the component's minimum doc id; the dedup KEEP
    * decision is then "keep doc_id == cluster_id".
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round rewires
    * every node toward its neighborhood minimum, halving-or-better the
    * component diameter, so convergence takes O(log d) rounds instead of
    * the d rounds of one-hop label propagation. Each round costs exactly
    * ONE driver action (a count+checksum fingerprint of the new edge
    * set); edges stay distributed throughout — nothing proportional to
    * the graph ever reaches the driver. At the fixpoint the edge set is
    * a collection of stars (v, m) with m = the component's minimum id.
    */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 20,
                      driverEdgeCap: Long = 2L << 20): DataFrame = {
    // canonical (u > v) orientation; both star steps preserve it
    val init = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // Small-graph fast path: each distributed round costs two jobs of
    // pure barrier latency (star step + fingerprint action) — ~0.6 s on
    // local[32] regardless of data, and a near-dup graph is usually
    // TINY relative to its corpus (dup pairs, not docs). Under the cap
    // the edge list is collected (bounded by construction: ≤ 2^21
    // edges = 32 MB of id pairs — same driver-bound discipline as the
    // centroid collects in Similarity) and resolved with union-find
    // linking larger root → smaller root, which yields exactly the
    // star edges the distributed fixpoint converges to: every node
    // points at its component minimum. Above the cap the distributed
    // O(log d) star-contraction below runs unchanged — the 100 TB path.
    val spark = pairs.sparkSession
    val edges0 = init.localCheckpoint()
    // Edge-set fingerprint: one action per round. Equal fingerprints ⇒
    // equal sets (mod a ~2^-64 checksum collision) ⇒ fixpoint, because
    // both star steps are deterministic functions of the set.
    // decimal(38,0) accumulator: a sum of 64-bit hashes overflows LONG
    // under ANSI mode; decimal has headroom for ~10^18 edges
    def fingerprint(e: DataFrame): (Long, String) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1).toPlainString)
    }

    // ONE limit-probe collect over the checkpointed edge blocks decides
    // the branch: length ≤ cap ⇔ the probe IS the full edge set, so the
    // common small path (dup pairs, not docs) pays no separate count
    // job — it goes checkpoint → probe → union-find, two jobs total.
    // Bounded by construction: ≤ cap+1 id pairs ≈ 32 MB at the default
    // cap. The rare large path pays this (cheap — executor-local block
    // reads, no recompute) plus the fingerprint that seeds its fixpoint.
    import spark.implicits._
    val probeLimit = math.min(driverEdgeCap + 1, Int.MaxValue.toLong).toInt
    val probe = edges0.select(col("u"), col("v")).as[(Long, Long)]
      .limit(probeLimit).collect()
    if (probe.length <= driverEdgeCap) {
      val es = probe
      val nEdges = es.length.toLong
      graft.core.Checkpoints.releaseAll(edges0)
      val parent = new java.util.HashMap[Long, java.lang.Long]()
      def find(x: Long): Long = {
        var r = x
        while ({ val p = parent.get(r); p != null && p != r }) r = parent.get(r)
        var c = x
        while ({ val p = parent.get(c); p != null && p != c }) {
          val n: Long = parent.get(c); parent.put(c, r); c = n
        }
        r
      }
      es.foreach { case (u, v) =>
        val ru = find(u); val rv = find(v)
        if (ru != rv) {
          if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
        }
      }
      val nodes = es.iterator.flatMap { case (u, v) => Iterator(u, v) }
        .toArray.distinct
      lastCcRounds.set(0)
      System.err.println(s"[graft] nearDupClusters: driver union-find over " +
        s"$nEdges edges (cap $driverEdgeCap)")
      return spark.createDataset(nodes.toIndexedSeq.map(n => (n, find(n))))
        .toDF("doc_id", "cluster_id")
    }

    // large-star: symmetrize, then for each node u with neighborhood
    // minimum m = min(N(u) ∪ {u}) connect every LARGER neighbor to m.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
        .distinct()
    }

    // small-star (input oriented u > v): connect u and all its smaller
    // neighbors to their minimum m = min(N<(u)).
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      val moved = e.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      moved.unionAll(mins.select(col("u"), col("m").as("v"))).distinct()
    }

    // localCheckpoint (eager) truncates lineage each round: with plain
    // persist the logical plan nests round-over-round (cache matching +
    // AQE replanning of an ever-growing tree dominated the runtime —
    // ~10 s/round at 32 cores for a 250-edge graph); a checkpointed
    // round is a flat LogicalRDD, so per-round planning cost is constant.
    // Old checkpoint blocks are released by the ContextCleaner.
    var edges = edges0
    var fp = fingerprint(edges0)
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nfp = fingerprint(next)
      // round N is materialized (eager checkpoint + fingerprint action);
      // round N−1's blocks are dead — release them now instead of
      // stranding O(rounds) checkpoints for the ContextCleaner
      graft.core.Checkpoints.releaseAll(edges)
      edges = next
      converged = nfp == fp
      fp = nfp
      iter += 1
    }
    lastCcRounds.set(iter)
    if (!converged)
      System.err.println(s"[graft] nearDupClusters: NOT converged after " +
        s"$maxIters rounds; cluster ids may split real components — raise maxIters")
    else
      System.err.println(s"[graft] nearDupClusters: converged in $iter rounds " +
        s"(${fp._1} star edges)")
    // fixpoint stars: non-roots are (u → root); roots appear only as v.
    // The parent is a materialized local checkpoint, so downstream
    // consumers re-read executor-local blocks, never the LSH lineage.
    edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionAll(edges.select(col("v"), col("v")).distinct()
        .toDF("doc_id", "cluster_id"))
  }

  /** One-call corpus dedup: MinHash-LSH near-dup pairs above
    * `minJaccard` → connected components → drop every doc that is not
    * its cluster's representative (minimum id). Exact duplicates are
    * near-dups with jaccard 1.0, so they are removed too. */
  def dedupCorpus(df: DataFrame, minJaccard: Double = 0.8,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sigs = minhashSignatures(df, textCol = textCol, idCol = idCol)
    val pairs = withScopedCache(sigs) { pairsFromSigs(sigs, minJaccard) }
    val drop = nearDupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    df.join(drop.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
  }

  /** SimHash near-dup: 60-bit signatures; block-LSH candidate
    * generation splits the signature into `maxHamming + 1` blocks, so by
    * pigeonhole any pair within `maxHamming` shares at least one exact
    * block — no candidate within the radius is ever missed. Candidates
    * are verified by full Hamming distance. Small radii (the production
    * setting, e.g. 3) give wide 15-bit blocks and few false candidates;
    * large radii degrade gracefully toward more candidates. */
  /** EXACT set-similarity self-join by prefix filtering — the
    * AllPairs/PPJoin family (Bayardo et al., "Scaling Up All Pairs
    * Similarity Search", WWW'07), the exact complement of MinHash-LSH:
    * every pair with token-set Jaccard ≥ `minJaccardPct`/100 is
    * returned, none missed (LSH trades recall for speed; this trades
    * a candidate-generation pass and keeps recall = 1).
    *
    * Prefix filter: order the vocabulary by (document frequency, token)
    * — one global, deterministic total order — and sort each document's
    * distinct tokens by it. If J(x,y) ≥ t then |x∩y| ≥ t·max(|x|,|y|),
    * so the first |x| − ⌈t·|x|⌉ + 1 tokens of x and the corresponding
    * prefix of y MUST share a token (skip a doc's prefix and fewer
    * than ⌈t·|x|⌉ tokens remain — too few to hold the intersection):
    * candidates are exactly the pairs sharing a prefix token, further
    * cut by the length filter t·|x| ≤ |y| ≤ |x|/t, then verified by
    * exact intersection. Rarest-first ordering is the classic hot-
    * bucket mitigation — a stop word is never in a prefix unless the
    * document is almost all stop words.
    *
    * Threshold is an integer percent so the filter arithmetic
    * (`100·i ≥ pct·u`) is exact in both engines. Returns
    * (doc_a, doc_b, n_inter, n_union), doc_a < doc_b.
    *
    * Scale shape: candidate generation shuffles narrow
    * (token, doc_id, n) rows grouped by rare tokens; the verify join
    * moves token SETS for colliding pairs only (the [[verifyJaccard]]
    * trade); the df-rank join is a plain shuffle join on the token —
    * no global window anywhere. Result is eagerly checkpointed and the
    * scoped doc cache released before returning ([[withScopedCache]]
    * discipline). */
  def setSimilarityJoin(df: DataFrame, minJaccardPct: Int = 60,
                        textCol: String = "text",
                        idCol: String = "doc_id",
                        setFn: Column => Column = c =>
                          array_distinct(graft.functions.TextFunctions.tokens(c))): DataFrame = {
    require(minJaccardPct >= 1 && minJaccardPct <= 100,
      s"minJaccardPct must be in [1,100], got $minJaccardPct")
    val pct = minJaccardPct.toLong
    // `setFn` picks the set domain — and with it the prefix filter's
    // selectivity. On a tiny flat vocabulary (the synthetic corpus:
    // 31 words, each in ~78% of docs) WORD sets degenerate to an
    // all-pairs join no prefix can save; SHINGLE sets
    // ([[graft.functions.TextFunctions.shingleSet]]) restore the
    // Zipfian-tail selectivity the algorithm assumes (27k shingles,
    // max df 25 at sf0.1 → bounded candidate buckets) and are the
    // quantity MinHash estimates, making this the exact twin of
    // [[minhashNearDups]]. Empty-set docs (shorter than the shingle
    // window) can never reach a positive threshold and are dropped.
    val docs = graft.core.Parallelism.ensure(df)
      .select(col(idCol).cast("long").as("doc_id"),
        setFn(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val toks = docs.select(col("doc_id"), col("n"),
        explode(col("toks")).as("tok"))
      val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      val prefix = toks.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ord"),
          first(col("n")).as("n"))
        .withColumn("p",
          (col("n") - expr(s"(($pct * n) + 99) div 100") + 1).cast("int"))
        .select(col("doc_id"), col("n"),
          explode(expr("slice(transform(ord, x -> x.tok), 1, p)")).as("tok"))
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.tok") === col("b.tok") &&
            col("a.doc_id") < col("b.doc_id") &&
            lit(100L) * col("b.n") >= lit(pct) * col("a.n") &&
            lit(100L) * col("a.n") >= lit(pct) * col("b.n"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(docs.select(col("doc_id").as("doc_a"), col("toks").as("ta"),
          col("n").as("na")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("toks").as("tb"),
          col("n").as("nb")), "doc_b")
        .withColumn("n_inter",
          size(array_intersect(col("ta"), col("tb"))).cast("long"))
        .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
        .filter(lit(100L) * col("n_inter") >= lit(pct) * col("n_union"))
        .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
        .localCheckpoint(true)
    } finally { docs.unpersist(blocking = false); () }
  }

  def simhashNearDups(df: DataFrame, maxHamming: Int = 3,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // Persisted (scoped): the block self-join consumes the signatures
    // twice; the cache is released before this returns.
    val sigs = graft.core.Parallelism.ensure(df)
      .select(col(idCol).as("doc_id"), simhash60(col(textCol)).as("sig"))
    val nBlocks = math.min(60, maxHamming + 1)
    // distribute 60 bits as evenly as possible across the blocks
    val bounds = (0 to nBlocks).map(i => i * 60 / nBlocks)
    withScopedCache(sigs) {
    val blocks = sigs.select(col("doc_id"), col("sig"), posexplode(
      array((0 until nBlocks).map { b =>
        val start = bounds(b)
        val len = bounds(b + 1) - start
        shiftright(col("sig"), start).bitwiseAND((1L << len) - 1)
      }: _*)))
      .withColumnRenamed("pos", "block_idx")
      .withColumnRenamed("col", "block_val")
    val a = blocks.select(col("block_idx"), col("block_val"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = blocks.select(col("block_idx"), col("block_val"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("block_idx", "block_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        hammingDist(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    }
  }

  /** Result of one [[incrementalDedup]] ingest step. */
  final case class Incremental(fresh: DataFrame, catalogDelta: DataFrame)

  /** Incremental exact dedup against a fingerprint catalog — the batch
    * twin of the streaming watermarked fingerprint dedup
    * ([[graft.pipeline.StreamPipeline]]): a continuously-ingested
    * corpus can't re-dedup 100 TB per day, it anti-joins each new
    * batch against the catalog of everything already accepted.
    *
    *  - `fresh`: batch docs that are new corpus-wide (first occurrence
    *    within the batch by min id, fingerprint absent from catalog);
    *  - `catalogDelta`: (fingerprint, doc_id) rows to append to the
    *    catalog — exactly the fresh winners, so catalog maintenance is
    *    an append, never a rewrite.
    *
    * Shuffle budget: fingerprints + ids only (the winner election and
    * the anti-join both key on the 32-char md5); the text column moves
    * once, in the final id semi-join. The catalog side is narrow
    * enough to bucket by fingerprint, making the recurring anti-join
    * exchange-free on re-ingest. */
  def incrementalDedup(batch: DataFrame, catalog: DataFrame,
                       textCol: String = "text", idCol: String = "doc_id"): Incremental = {
    val winners = batch
      .select(col(idCol).as("doc_id"), md5(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint").agg(min(col("doc_id")).as("doc_id"))
      .join(catalog.select(col("fingerprint")), Seq("fingerprint"), "left_anti")
    val fresh = batch.join(
      winners.select(col("doc_id").as(idCol)), Seq(idCol), "left_semi")
    Incremental(fresh, winners.select("fingerprint", "doc_id"))
  }

  /** Result of one [[incrementalNearDup]] ingest step.
    *
    * `catalogDelta` is eagerly materialized (checkpointed) inside the
    * call; `fresh` is LAZY — it re-reads the caller's batch frame (plus
    * a checkpointed rejected-id list) on each action, so consume or
    * checkpoint it BEFORE mutating/overwriting the batch's underlying
    * storage, or it will recompute against the clobbered data. */
  final case class IncrementalNearDup(fresh: DataFrame, catalogDelta: DataFrame) {

    /** Free the checkpoint blocks this result owns (the rejected-id
      * list behind `fresh` and the materialized `catalogDelta` —
      * 2 executor-memory blocks per ingest step). A long-lived ingest
      * loop calling [[incrementalNearDup]] per batch should release
      * each step's result once `fresh` is consumed and the delta
      * appended, or the orphaned blocks accumulate until their JVM
      * handles are garbage-collected. After release, both frames of
      * THIS result are unusable (checkpoints truncated their lineage). */
    def release(): Unit =
      Seq(fresh, catalogDelta).foreach(graft.core.Checkpoints.releaseAll)
  }

  /** Incremental MinHash near-dup dedup against a BAND catalog — the
    * near-duplicate twin of [[incrementalDedup]]: a continuously-
    * ingested corpus cannot re-run LSH over 100 TB per day, so the
    * accepted corpus is summarized as its LSH band hashes (narrow
    * (band_idx, band_hash) rows, ~`bands` rows per accepted doc) and
    * each new batch is screened against that catalog.
    *
    * Decision rule, batch doc by batch doc:
    *  1. shares ANY band with the catalog → near-dup of an already-
    *     accepted doc at LSH confidence → dropped (band collision is
    *     the same evidence the full pipeline feeds its verifier; the
    *     catalog intentionally keeps no shingles, so this stage trades
    *     the exact-Jaccard verify for an append-only narrow catalog —
    *     the standard at-scale compromise);
    *  2. survivors near-dup WITHIN the batch: capped-bucket LSH →
    *     exact-Jaccard ≥ `minJaccard` → connected components → keep
    *     each cluster's minimum id (exactly [[dedupCorpus]] semantics);
    *  3. docs too short to shingle carry no bands and pass through.
    *
    *  - `fresh`: batch docs accepted corpus-wide;
    *  - `catalogDelta`: the fresh docs' (doc_id, band_idx, band_hash)
    *    rows to APPEND to the catalog — maintenance is an append,
    *    never a rewrite.
    *
    * Shuffle budget: bands and ids only — text moves once, in the
    * final semi-join. Bucket the catalog by (band_idx, band_hash) —
    * EXACTLY the screen-join keys ([[graft.sources.Bucketing]]) — and
    * the recurring screen join plans exchange-free on the catalog
    * side (proven by PlanSpec's bucketed-screen guard; the
    * `dedup_incremental_minhash_bucketed` oracle row pins the
    * semantics). */
  def incrementalNearDup(batch: DataFrame, bandCatalog: DataFrame,
                         k: Int = 12, bands: Int = 4, minJaccard: Double = 0.8,
                         maxBucketSize: Option[Int] = Some(DefaultBucketCap),
                         textCol: String = "text", idCol: String = "doc_id")
      : IncrementalNearDup =
    incrementalNearDupImpl(batch, bandCatalog, None, k, bands, minJaccard,
      maxBucketSize, textCol, idCol)

  /** [[incrementalNearDup]] with VERIFIED catalog screening: a band
    * collision against the catalog is confirmed by exact Jaccard
    * against the colliding catalog doc's shingle set before the batch
    * doc is dropped — eliminating the unverified mode's false
    * positives (quantified in `TextDedupSpec`: band collision alone is
    * LSH-confident, not exact; sub-threshold pairs do collide).
    *
    * `shingleCatalog` is (doc_id, shingles) for the accepted corpus —
    * wider than the band catalog but still a bounded per-doc summary
    * (distinct 3-token shingles), append-only like the bands.
    *
    * Shuffle budget: the verification join moves shingle sets for
    * COLLIDING (batch_doc, catalog_doc) pairs only — proportional to
    * the band false-positive rate times batch size, not to the
    * catalog. At 100 TB, bucket both catalogs ([[graft.sources
    * .Bucketing]]: bands by (band_idx, band_hash) — the exact screen
    * keys — shingles by doc_id) and the recurring screen+verify joins
    * plan exchange-free on the catalog side. */
  def incrementalNearDupVerified(batch: DataFrame, bandCatalog: DataFrame,
                                 shingleCatalog: DataFrame,
                                 k: Int = 12, bands: Int = 4,
                                 minJaccard: Double = 0.8,
                                 maxBucketSize: Option[Int] = Some(DefaultBucketCap),
                                 textCol: String = "text", idCol: String = "doc_id")
      : IncrementalNearDup =
    incrementalNearDupImpl(batch, bandCatalog, Some(shingleCatalog), k, bands,
      minJaccard, maxBucketSize, textCol, idCol)

  private def incrementalNearDupImpl(batch: DataFrame, bandCatalog: DataFrame,
                                     shingleCatalog: Option[DataFrame],
                                     k: Int, bands: Int, minJaccard: Double,
                                     maxBucketSize: Option[Int],
                                     textCol: String, idCol: String)
      : IncrementalNearDup = {
    // Scoped persists (signatures feed banding + verification, bands
    // feed screening + candidates + delta): the narrow outputs
    // (rejected ids, catalog delta) are materialized eagerly — bounded
    // by ONE ingest batch, not the corpus — and the caches are
    // released before returning. `fresh` stays lazy (see below).
    val sigs = minhashSignatures(batch, k, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchBands = lshBands(sigs, k, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // The catalog screen (and, in the verified mode, its exact-Jaccard
      // confirmation chain) is consumed TWICE — by the survivor anti-join
      // feeding the within-batch pair pass, and by the rejected-id union.
      // Materialize it once: the output is a narrow id list bounded by
      // the batch, and without the checkpoint the whole screen+verify
      // join chain (catalog scan included) re-executes inside the
      // rejected materialization — pure recompute, measured as a
      // three-round upward drift on flat data volumes at bench scale.
      val hitIds = (shingleCatalog match {
        case None =>
          // band collision alone drops the doc: LSH-confidence
          // screening, no catalog shingles needed (append-only narrow
          // catalog; trades precision — see incrementalNearDupVerified)
          batchBands
            .join(bandCatalog.select(col("band_idx"), col("band_hash")),
              Seq("band_idx", "band_hash"), "left_semi")
            .select(col("doc_id")).distinct()
        case Some(catSh) =>
          // collision pairs carry catalog doc ids; confirm each by
          // exact Jaccard against the catalog shingle set
          val collisions = batchBands
            .join(bandCatalog.select(col("doc_id").as("cat_id"),
              col("band_idx"), col("band_hash")), Seq("band_idx", "band_hash"))
            .select(col("doc_id"), col("cat_id")).distinct()
          val nInter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("bigint")
          collisions
            .join(sigs.select(col("doc_id"), col("shingles").as("sh_a")), "doc_id")
            .join(catSh.select(col("doc_id").as("cat_id"),
              col("shingles").as("sh_b")), "cat_id")
            .withColumn("n_inter", nInter)
            .filter(col("n_inter").cast("double") /
              ((size(col("sh_a")) + size(col("sh_b"))).cast("bigint")
                - col("n_inter")).cast("double") >= minJaccard)
            .select(col("doc_id")).distinct()
      }).localCheckpoint(true)
      val survivorBands = batchBands.join(hitIds, Seq("doc_id"), "left_anti")
      val pairs = verifyJaccard(lshCandidates(survivorBands, maxBucketSize), sigs)
        .filter(col("jaccard") >= minJaccard)
        .select("doc_a", "doc_b")
      val clusters = nearDupClusters(pairs)
      val dropped = clusters
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      // Materialize the NARROW frames only: `rejected` (id list) and
      // `delta` (band triples) depend on the scoped caches, so they
      // checkpoint eagerly before the caches are released. `fresh`
      // stays LAZY — it derives from the caller's own `batch` frame
      // plus the checkpointed id list, touching no scoped cache, so
      // eagerly copying the whole surviving batch (text included) into
      // block storage would be pure waste for catalog-only consumers.
      val rejected = hitIds.unionAll(dropped).localCheckpoint(true)
      // the rejected-id list is materialized: the CC fixpoint's final
      // star-edge checkpoint (which `dropped` lazily read) and the
      // screen-hit checkpoint (folded into `rejected`) are both dead
      graft.core.Checkpoints.releaseAll(clusters)
      graft.core.Checkpoints.releaseAll(hitIds)
      val fresh = batch.join(
        rejected.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
      val delta = batchBands.join(rejected, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("band_idx"), col("band_hash"))
      IncrementalNearDup(fresh, delta.localCheckpoint(true))
    } finally {
      sigs.unpersist(blocking = false)
      batchBands.unpersist(blocking = false)
      ()
    }
  }

  /** Span-level exact dedup: drop repeated `window`-token chunks
    * corpus-wide (boilerplate headers, license blocks, navigation
    * chrome survive document-level dedup because the *documents*
    * differ; the repeated *spans* are what inflate the corpus).
    *
    * Scale shape: chunk text is hashed inside the map-side projection
    * — only (doc_id, idx, 32-char hash) reaches the winner-election
    * exchange, never text. First occurrence (by doc_id, then chunk
    * position) wins; each document then rebuilds its text from its
    * surviving chunk indices. The final stitch is an equi-join of the
    * narrow keep-list against the docs; at corpus scale, store docs
    * bucketed by id ([[graft.sources.Bucketing]]) and that join plans
    * exchange-free on the text side.
    *
    * Returns (doc_id, text_dedup, n_chunks_kept); documents whose
    * every chunk was seen earlier come back with empty text rather
    * than vanishing, so callers can distinguish "all boilerplate"
    * from "dropped". */
  def spanDedup(df: DataFrame, window: Int = 20,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = window
    val docs = df.select(col(idCol).cast("long").as("doc_id"),
      split(col(textCol), " ").as("t"))
    val nChunks = ceil(size(col("t")) / lit(w.toDouble)).cast("int")
    val hashes = docs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), nChunks - 1),
        i => md5(array_join(slice(col("t"), i * w + 1, lit(w)), " "))))
        .as(Seq("idx", "h")))
    val firstSeen = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("idx"))
    val kept = hashes.withColumn("rn", row_number().over(firstSeen))
      .filter(col("rn") === 1)
      .groupBy("doc_id").agg(sort_array(collect_list(col("idx"))).as("keep"))
    docs.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("keep").isNull, lit(""))
          .otherwise(array_join(
            flatten(transform(col("keep"), i => slice(col("t"), i * w + 1, lit(w)))), " "))
          .as("text_dedup"),
        coalesce(size(col("keep")), lit(0)).as("n_chunks_kept"))
  }

  /** Cross-document repeated-substring removal — the ExactSubstr dedup
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL'22), re-expressed for Spark: every `w`-token SLIDING
    * window of every document is hashed map-side; a window occurrence
    * is REDUNDANT iff the same hash also occurs at a strictly smaller
    * (doc_id, pos); a token is removed iff some redundant window
    * covers it. Overlapping redundant windows merge into maximal
    * removed spans, so a region repeated anywhere in the corpus is
    * excised from every occurrence except the first, at ANY alignment
    * — the insertion-robust property the fixed-stride [[spanDedup]]
    * lacks (a one-token shift breaks every chunk boundary there; here
    * the windows re-anchor immediately). Within-doc repeats are
    * removed by the same rule.
    *
    * Approximation vs the suffix-array original: window anchoring only
    * flags FULL w-token windows inside the shared region, so up to
    * w−1 boundary tokens of each shared region survive; exact maximal
    * matches would need a distributed suffix array. The trade buys a
    * plan that is one narrow shuffle.
    *
    * Scale shape: text never crosses an exchange. The election
    * shuffles (whash, occ_key) pairs only; flagged cut positions
    * return as one sorted per-doc int list; the rebuild is a map-side
    * higher-order function over the bound token array (cost
    * O(n_tokens × n_cuts) per doc — bounded by the per-doc window
    * count). Occurrence order is the portable scalar key
    * `doc_id * 2^20 + pos`, so an external engine replays the
    * election exactly; callers with >2^20-token documents or >2^43
    * doc ids must re-key.
    *
    * Returns (doc_id, text_dedup, n_tokens, n_removed). */
  /** The distinct `w`-token window hashes of a corpus — the accepted-
    * corpus catalog [[substrDedupIncremental]] screens against. At
    * scale, persist it bucketed on `whash`
    * ([[graft.sources.Bucketing]]) and the recurring screen join
    * plans exchange-free on the catalog side, exactly like the
    * band catalog of [[incrementalNearDup]]. */
  def windowHashCatalog(df: DataFrame, w: Int = 8,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    windowOccurrences(df, w, textCol, idCol).select("whash").distinct()

  /** Incremental [[substrDedup]] — the daily-ingest shape: a new
    * batch's windows are screened against the accepted corpus's
    * window-hash catalog (a catalog hit cuts the batch occurrence
    * UNCONDITIONALLY — accepted text always wins), and the batch is
    * additionally substring-deduped within itself by the same
    * first-occurrence rule. The accepted corpus is never rescanned,
    * never rewritten: only the batch's narrow occurrence triples meet
    * the catalog hash set in the screen join. Returns the cleaned
    * batch in [[substrDedup]]'s output shape; append
    * `windowHashCatalog(batch)` to the catalog to accept the batch. */
  def substrDedupIncremental(batch: DataFrame, catalog: DataFrame, w: Int = 8,
                             textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val base = batch.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
    val occ = windowOccurrences(base, w, "text", "doc_id")
    val inCatalog = occ.join(catalog.select(col("whash")), Seq("whash"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val elect = occ.groupBy("whash")
      .agg(min(col("occ_key")).as("min_key"), count(lit(1)).as("n_occ"))
    val withinBatch = occ.join(elect, "whash")
      .filter(col("n_occ") >= 2 && col("occ_key") =!= col("min_key"))
      .select(col("doc_id"), col("pos"))
    val cuts = inCatalog.unionAll(withinBatch).distinct()
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("cuts"))
    rebuildWithoutCuts(base, cuts, w)
  }

  /** Shared by [[substrDedup]] and [[substrDedupIncremental]]: one
    * narrow (doc_id, pos, whash, occ_key) row per full `w`-token
    * sliding window. */
  private def windowOccurrences(df: DataFrame, w: Int,
                                textCol: String, idCol: String): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    val posCap = 1L << 20
    import graft.functions.TextFunctions.{bound, tokens}
    // per-position window hashing is CPU-bound: a small local parquet
    // arrives as ONE partition and would serialize the whole corpus's
    // md5 work on one core. ensure() round-robins the input up to the
    // cluster parallelism — a no-op at scale, where the scan itself
    // produces thousands of splits (lint-exempted: this is the
    // parallelism bootstrap, not a keyed text exchange).
    // Hashing itself is the native WindowHashes kernel (one tight loop
    // per doc) — the transform/slice/md5-hex composition it replaces
    // re-read every token w times through interpreted lambda frames.
    graft.core.Parallelism.ensure(df)
      .select(col(idCol).cast("long").as("doc_id"),
        bound(tokens(col(textCol))) { ts =>
          // loud guard, not a scaladoc caveat: a doc with >= 2^20
          // tokens would silently collide its occ_key into the next
          // doc_id's key space and elect wrong first occurrences.
          // Only docs with a full window reach it: a null text has a
          // null size, which assert_true would reject as a cap breach;
          // null and short docs yield null here, i.e. no window rows.
          when(size(ts) >= w,
            when(assert_true(size(ts) - w < lit(posCap.toInt),
              concat(lit(s"document exceeds the $posCap-token window-position cap "),
                lit("(occ_key packs doc_id * 2^20 + pos) — re-key or chunk it"))).isNull,
              graft.expressions.WindowHashFunctions.windowHashes(ts, w)))
        }.as("whs"))
      .select(col("doc_id"), posexplode(col("whs")).as(Seq("pos", "whash")))
      .select(col("doc_id"), col("pos"), col("whash"),
        (col("doc_id") * posCap + col("pos")).as("occ_key"))
  }

  /** Shared rebuild: drop every token covered by a cut window start;
    * `cuts` is (doc_id, cuts: array<int>), left-joined so uncut docs
    * pass through whole. */
  private def rebuildWithoutCuts(base: DataFrame, cuts: DataFrame, w: Int): DataFrame = {
    import graft.functions.TextFunctions.{bound, tokens}
    base.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        bound(tokens(col("text"))) { ts =>
          bound(coalesce(col("cuts"), array().cast("array<int>"))) { cs =>
            bound(filter(sequence(lit(0), size(ts) - 1), i =>
              !exists(cs, s => i >= s && i < s + w))) { keep =>
              struct(
                concat_ws(" ", transform(keep, i => element_at(ts, i + 1)))
                  .as("text_dedup"),
                size(ts).cast("bigint").as("n_tokens"),
                (size(ts) - size(keep)).cast("bigint").as("n_removed"))
            }
          }
        }.as("r"))
      .select(col("doc_id"), col("r.text_dedup"), col("r.n_tokens"), col("r.n_removed"))
  }

  /** ExactSubstr COMPLETION — variable-length duplicate-SPAN removal
    * with a minimum match length, the Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" (2022) ExactSubstr
    * semantics: [[substrDedup]] cuts every repeated fixed-w window,
    * which (a) also fires on incidental short w-token repeats and (b)
    * is window-quantized policy-wise. Here adjacent duplicate windows
    * COALESCE into maximal spans first (a gaps-and-islands pass over
    * window start indexes — consecutive starts are one duplicated
    * region), and only spans of `minMatchTokens`+ total tokens are
    * removed — span-exact erasure of long matches, short accidental
    * repeats untouched. First occurrence (minimum occ_key corpus-wide
    * per window) always survives, exactly the [[substrDedup]] rule.
    *
    * Output: (doc_id, text_dedup, n_tokens, n_removed, n_spans).
    *
    * Scale shape: identical to [[substrDedup]] plus one narrow
    * (doc_id, pos) window pass for the islands — text still never
    * rides a shuffle; the rank window partitions by doc_id (bounded
    * rows per doc by the position cap), spans are int triples. */
  def substrDedupSpans(df: DataFrame, w: Int = 8, minMatchTokens: Int = 20,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(minMatchTokens >= w,
      s"minMatchTokens ($minMatchTokens) must be >= window w ($w) — a span is at least one window")
    import graft.functions.TextFunctions.{bound, tokens}
    val base = df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
    val occ = windowOccurrences(base, w, "text", "doc_id")
    val elect = occ.groupBy("whash")
      .agg(min(col("occ_key")).as("min_key"), count(lit(1)).as("n_occ"))
    val dup = occ.join(elect, "whash")
      .filter(col("n_occ") >= 2 && col("occ_key") =!= col("min_key"))
      .select(col("doc_id"), col("pos"))
    // gaps-and-islands (the events_streaks machinery): duplicate
    // window starts at consecutive positions are ONE duplicated
    // region; the island covers tokens [min(pos), max(pos) + w - 1]
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val spans = dup
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(w - 1)).as("e"))
      .filter(col("e") - col("s") + 1 >= minMatchTokens)
    val cuts = spans.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"),
        count(lit(1)).as("n_spans"))
    base.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        bound(tokens(col("text"))) { ts =>
          bound(coalesce(col("spans"), array().cast("array<struct<s:int,e:int>>"))) { sp =>
            bound(filter(sequence(lit(0), size(ts) - 1), i =>
              !exists(sp, r => i >= r.getField("s") && i <= r.getField("e")))) { keep =>
              struct(
                concat_ws(" ", transform(keep, i => element_at(ts, i + 1)))
                  .as("text_dedup"),
                size(ts).cast("bigint").as("n_tokens"),
                (size(ts) - size(keep)).cast("bigint").as("n_removed"))
            }
          }
        }.as("r"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
      .select(col("doc_id"), col("r.text_dedup"), col("r.n_tokens"),
        col("r.n_removed"), col("n_spans"))
  }

  def substrDedup(df: DataFrame, w: Int = 8,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
    val occ = windowOccurrences(base, w, "text", "doc_id")
    val elect = occ.groupBy("whash")
      .agg(min(col("occ_key")).as("min_key"), count(lit(1)).as("n_occ"))
    val cuts = occ.join(elect, "whash")
      .filter(col("n_occ") >= 2 && col("occ_key") =!= col("min_key"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("pos"))).as("cuts"))
    rebuildWithoutCuts(base, cuts, w)
  }

  /** CROSS-MODAL duplicate ensemble — one clustering over evidence
    * from different modalities: text near-dup pairs (MinHash/LSH) and
    * image near-dup pairs (perceptual hash) union into one edge set,
    * connected components run ONCE over it, and each member carries
    * per-modality evidence flags. This answers the real curation
    * question single-modality dedup cannot: "same page, re-encoded
    * image, paraphrased caption" — the paraphrase breaks exact text
    * match, the re-encode breaks byte identity, but text-similarity
    * links one pair and image-similarity the other, and transitivity
    * through the SHARED clustering merges them into one duplicate
    * group. Both pair frames are (doc_a, doc_b) document-level edges;
    * the caller maps asset-level pairs onto documents first.
    *
    * Returns (doc_id, cluster_id, text_dup, image_dup): cluster_id is
    * the minimum member (the [[nearDupClusters]] convention), the
    * flags mark whether THIS doc is incident to an edge of that
    * modality (a member may be linked into the cluster purely through
    * the other modality — flags 1/0 name which evidence held it).
    *
    * Scale shape: inputs are id-width pair frames; the union +
    * distinct shuffles ids only; clustering is [[nearDupClusters]]'s
    * star-contraction (checkpointed rounds / driver union-find under
    * the edge cap); evidence flags are two id-projection semi-join
    * style left joins. No modality's payload (text or pixels) enters
    * this plan at all. */
  def crossModalClusters(textPairs: DataFrame, imagePairs: DataFrame): DataFrame = {
    def norm(p: DataFrame) = p.select(
      col("doc_a").cast("long").as("doc_a"),
      col("doc_b").cast("long").as("doc_b")).distinct()
    val t = norm(textPairs)
    val i = norm(imagePairs)
    val clusters = nearDupClusters(t.unionAll(i).distinct())
    def evidence(p: DataFrame, name: String) =
      p.select(col("doc_a").as("doc_id"))
        .unionAll(p.select(col("doc_b").as("doc_id")))
        .distinct().withColumn(name, lit(1L))
    clusters
      .join(evidence(t, "text_dup"), Seq("doc_id"), "left")
      .join(evidence(i, "image_dup"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("text_dup"), lit(0L)).as("text_dup"),
        coalesce(col("image_dup"), lit(0L)).as("image_dup"))
  }

  /** Quality-aware canonical selection over near-dup clusters: keep
    * the HIGHEST-QUALITY member of each cluster, not the minimum id.
    * Min-id keep (the [[nearDupClusters]] `cluster_id = doc_id`
    * convention) is arbitrary — production curation keeps the best
    * copy of a duplicated page (the one without the truncation, the
    * boilerplate, the OCR noise); NeMo-Curator's fuzzy-dedup stage
    * exposes the same policy. Ties on the score fall back to the
    * minimum doc_id so the choice is total and deterministic.
    *
    * `clusters` is (idCol, clusterCol) from [[nearDupClusters]];
    * `scores` is (idCol, scoreCol) integer quality (e.g.
    * [[graft.functions.TextFunctions.qualityLinear]]'s `score_fp` —
    * exact integers make the argmax engine-portable). Docs in no
    * cluster are implicitly canonical and not emitted. The score join
    * is INNER: `scores` must cover every clustered doc (any corpus
    * scorer here does — they score per row); a member without a score
    * would silently leave its cluster, so left-join with a default if
    * a partial scorer is ever used.
    *
    * Scale shape: both inputs are narrow (ids + one int); the join
    * shuffles ids only, the per-cluster argmax is one partial-
    * aggregated hash agg on a struct max (score, -id), and the
    * mark-back join is id-width. Text never enters the plan. */
  def canonicalByQuality(clusters: DataFrame, scores: DataFrame,
                         idCol: String = "doc_id",
                         clusterCol: String = "cluster_id",
                         scoreCol: String = "score_fp"): DataFrame = {
    val member = clusters.select(col(idCol).cast("long").as("doc_id"),
        col(clusterCol).cast("long").as("cluster_id"))
      .join(scores.select(col(idCol).cast("long").as("doc_id"),
        col(scoreCol).cast("long").as("score_fp")), Seq("doc_id"))
    // struct max = lexicographic (score_fp, -doc_id): highest score,
    // then lowest id — a total deterministic order on exact integers
    val best = member.groupBy("cluster_id")
      .agg(max(struct(col("score_fp"), (-col("doc_id")).as("neg_id"))).as("b"))
      .select(col("cluster_id"), (-col("b.neg_id")).as("canonical_id"))
    member.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("score_fp"),
        col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("keep"))
  }
}
