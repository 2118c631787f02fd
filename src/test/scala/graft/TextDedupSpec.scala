package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.dedup.Dedup
import graft.similarity.Similarity

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: 3-gram windows; short docs yield empty array") {
    val df = Seq("a b c d", "a b").toDF("text")
    val out = df.select(TextFunctions.shingles(col("text")).as("s"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1).isEmpty)
  }

  test("token counts: whitespace vs BPE-ish") {
    val df = Seq(Tuple1("Hello, world! x2")).toDF("text")
    val r = df.select(
      TextFunctions.wsTokenCount(col("text")).as("ws"),
      TextFunctions.bpeTokenCount(col("text")).as("bpe")).collect()(0)
    assert(r.getLong(0) == 3)
    // Hello , world ! x 2 -> 6
    assert(r.getLong(1) == 6)
  }

  test("langId picks marker-dominant language, 'und' when no hits") {
    val df = Seq(
      "the cat and the dog of the house",
      "der hund und die katze ist da",
      "xyzzy qwerty").toDF("text")
    val out = df.select(TextFunctions.langId(col("text")).as("l")).as[String].collect()
    assert(out.toSeq == Seq("en", "de", "und"))
  }

  test("fingerprint is whitespace/case-invariant") {
    val df = Seq("A  b   C", "a b c").toDF("text")
    val fps = df.select(TextFunctions.fingerprint(col("text"))).as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("simhash: identical texts have distance 0; disjoint texts differ") {
    val df = Seq("spark sql engine fast", "spark sql engine fast", "totally different words here")
      .toDF("text")
    val sigs = df.select(TextFunctions.simhash60(col("text")).as("s")).as[Long].collect()
    assert(sigs(0) == sigs(1))
    assert(java.lang.Long.bitCount(sigs(0) ^ sigs(2)) > 5)
  }

  test("exact dedup groups identical texts") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(df).orderBy("keep_id").collect()
    assert(out(0).getLong(1) == 2 && out(0).getLong(2) == 1L)
    assert(out(1).getLong(1) == 1 && out(1).getLong(2) == 3L)
  }

  test("prefixDups flags shared prefixes, keeps the min-id doc") {
    val header = "x" * 80
    val docs = Seq(
      (1L, header + " body one"),
      (2L, header + " completely different body"),
      (3L, "no shared header here"),
      (4L, "short") // shorter than prefixLen: its own group
    ).toDF("doc_id", "text")
    val out = Dedup.prefixDups(docs, prefixLen = 80)
      .collect().map(r => r.getLong(r.fieldIndex("doc_id")) ->
        (r.getLong(r.fieldIndex("n_docs")), r.getBoolean(r.fieldIndex("is_prefix_dup")))).toMap
    assert(out(1L) == (2L, false)) // keeper: min id of the shared-prefix group
    assert(out(2L) == (2L, true))  // flagged: same 80-char header, diverging body
    assert(out(3L) == (1L, false) && out(4L) == (1L, false))
  }

  test("suffixDups flags shared trailers the prefix pass misses") {
    val footer = "f" * 80
    val docs = Seq(
      (1L, s"alpha body $footer"),
      (2L, s"completely different opener $footer"),
      (3L, "no shared footer here")
    ).toDF("doc_id", "text")
    val suf = Dedup.suffixDups(docs, suffixLen = 80)
      .collect().map(r => r.getLong(r.fieldIndex("doc_id")) ->
        r.getBoolean(r.fieldIndex("is_prefix_dup"))).toMap
    assert(suf == Map(1L -> false, 2L -> true, 3L -> false))
    // the prefix pass sees nothing (openers differ)
    val pre = Dedup.prefixDups(docs, prefixLen = 80)
      .collect().map(r => r.getBoolean(r.fieldIndex("is_prefix_dup")))
    assert(pre.forall(!_))
  }

  test("minhash LSH surfaces an identical pair with jaccard 1.0") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq((1L, text), (2L, text), (3L, "completely unrelated content with many different tokens present"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashNearDups(df).collect()
    assert(out.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L
      && r.getDouble(4) == 1.0))
    assert(!out.exists(r => r.getLong(1) == 3L && r.getDouble(4) > 0.5))
  }

  test("LSH bucket cap drops degenerate boilerplate buckets, keeps selective ones") {
    // 60 copies of one boilerplate text (all four of its bands form
    // 60-member buckets) + one genuine near-dup pair elsewhere
    val boiler = "this exact same boilerplate footer text repeats on every single page of the site"
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = ((0 until 60).map(i => (100L + i, boiler)) ++
      Seq((1L, a), (2L, a))).toDF("doc_id", "text")
    // capped: the 60-member buckets are dropped — no quadratic pair
    // blowup — while the 2-member bucket still pairs
    val capped = Dedup.minhashNearDups(docs, maxBucketSize = Some(50)).collect()
    assert(capped.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(!capped.exists(r => r.getLong(0) >= 100L), s"boilerplate pairs leaked: ${capped.length}")
    // the default cap (1000) leaves this small corpus exactly unbounded
    val dflt = Dedup.minhashNearDups(docs).collect()
    val unbounded = Dedup.minhashNearDups(docs, maxBucketSize = None).collect()
    assert(dflt.length == unbounded.length && dflt.length == capped.length + 60 * 59 / 2)
  }

  test("simhash near-dup finds near-identical docs") {
    val a = "one two three four five six seven eight nine ten"
    val b = "one two three four five six seven eight nine eleven"
    val df = Seq((1L, a), (2L, b), (3L, "zz yy xx ww vv uu tt ss rr qq")).toDF("doc_id", "text")
    val out = Dedup.simhashNearDups(df, maxHamming = 20).collect()
    assert(out.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("cosine: identical vectors score 1.0; topk ranks the duplicate first") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val out = Similarity.bruteForceTopK(e, q, k = 2).collect()
    assert(out(0).getLong(1) == 2L && out(0).getDouble(3) == 1.0)
    assert(out(1).getLong(1) == 3L && out(1).getDouble(3) == 0.0)
  }

  test("chunks: fixed token windows with ragged tail") {
    val df = Seq("a b c d e f g").toDF("text")
    val out = df.select(TextFunctions.chunks(col("text"), 3).as("c"))
      .as[Seq[String]].head()
    assert(out == Seq("a b c", "d e f", "g"))
    val single = Seq("x").toDF("text")
      .select(TextFunctions.chunks(col("text"), 3).as("c")).as[Seq[String]].head()
    assert(single == Seq("x"))
  }

  test("scrub redacts emails before digit runs") {
    val df = Seq(
      "contact me at john.doe99@example.com or call 5551234567",
      "short 123 stays but 20240101 goes").toDF("text")
    val out = df.select(TextFunctions.scrub(col("text"))).as[String].collect()
    assert(out(0) == "contact me at [EMAIL] or call [NUM]")
    assert(out(1) == "short 123 stays but [NUM] goes")
  }

  test("verifyContainment scores subset-inclusion at 1.0 where jaccard is low") {
    val sigs = Seq(
      (1L, Seq("a b c", "b c d", "c d e", "d e f", "e f g", "f g h")), // 6 shingles
      (2L, Seq("a b c", "b c d"))                                      // subset of 1
    ).toDF("doc_id", "shingles")
    val cands = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val r = Dedup.verifyContainment(cands, sigs).head()
    assert(r.getAs[Long]("n_inter") == 2L)
    assert(r.getAs[Double]("containment") == 1.0)
    assert(r.getAs[Double]("jaccard") == 2.0 / 6.0)
  }

  test("nearDupClusters: min-label propagation finds components across hops") {
    // chain 1-2-3-4 (diameter 3) + isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("packDocuments: per-shard running totals cut fixed token windows") {
    import graft.functions.TextFunctions
    val docs = Seq(
      (0L, "a b c"),      // 3 tokens, start 0 -> bin 0, offset 0
      (8L, "d e f g"),    // 4 tokens, start 3 -> bin 0, offset 3
      (16L, "h i"),       // 2 tokens, start 7 -> bin 1, offset 2
      (3L, "x y z w v")   // other shard: start 0 -> bin 0
    ).toDF("doc_id", "text")
    val packed = TextFunctions.packDocuments(docs, windowTokens = 5, nShards = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(packed(0L) == (0, 3, 0, 0, 0))
    assert(packed(8L) == (0, 4, 3, 0, 3))
    assert(packed(16L) == (0, 2, 7, 1, 2))
    assert(packed(3L) == (3, 5, 0, 0, 0))
  }

  test("contamination: copied test docs score 1.0, fresh docs 0.0") {
    import graft.functions.TextFunctions
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "spark engines shuffle data across the cluster")
    ).toDF("doc_id", "text")
    val test = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // full copy
      (11L, "completely novel sentence about gardening tulips daily"), // fresh
      (12L, "spark engines shuffle words never seen here")  // partial
    ).toDF("doc_id", "text")
    val out = TextFunctions.contamination(train, test).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(10L)._3 == 1.0)
    assert(out(11L)._3 == 0.0 && out(11L)._2 == 0L)
    // "spark engines shuffle" is the only shared 3-gram of doc 12
    assert(out(12L)._2 == 1L && out(12L)._3 == 1.0 / out(12L)._1)
  }

  test("repetition: dup and top 2-gram fractions, zero for tiny docs") {
    import graft.functions.TextFunctions
    val docs = Seq(
      (1L, "a b a b a b"),   // grams: ab,ba,ab,ba,ab -> 5 total, 2 distinct, top 3
      (2L, "w x y z"),       // 3 grams, all distinct
      (3L, "solo")           // <2 tokens -> zeros
    ).toDF("doc_id", "text")
    val r = TextFunctions.repetition(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4))).toMap
    assert(r(1L) == ((5L, 2L, 3.0 / 5.0, 3.0 / 5.0)))
    assert(r(2L) == ((3L, 3L, 0.0, 1.0 / 3.0)))
    assert(r(3L) == ((0L, 0L, 0.0, 0.0)))
  }

  test("corpusFilter keeps only long, unique, non-repetitive docs") {
    import graft.functions.TextFunctions
    val good = "the quick brown fox jumps over one lazy dog while seven other animals watch from a nearby grassy hill today"
    val docs = Seq(
      (1L, good),                       // keep
      (2L, good),                       // exact dup of 1 -> drop
      (3L, "short text"),               // too short -> drop
      (4L, ("spam ham " * 15).trim)     // long enough but one dominant 2-gram -> drop
    ).toDF("doc_id", "text")
    val out = TextFunctions.corpusFilter(docs).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(out(1L) == ((true, true, true, true)))
    assert(out(2L) == ((true, false, true, false)))
    assert(out(3L)._1 == false && out(3L)._4 == false)
    assert(out(4L)._1 == true && out(4L)._3 == false && out(4L)._4 == false)
  }

  test("CorpusPipeline.prepare drops low-quality, dup, near-dup, and contaminated docs") {
    import graft.pipeline.CorpusPipeline
    val good1 = "the quick brown fox jumps over one lazy dog while seven other animals watch from a nearby grassy hill today"
    val good2 = "large distributed systems aggregate partial results before any exchange happens so the network moves only compact summaries between all workers efficiently"
    val evalTxt = "benchmark question about the capital city of a very small european country surrounded by tall snowy mountain ranges"
    val docs = Seq(
      (1L, good1),                                   // keep
      (2L, good2),                                   // keep
      (3L, good1),                                   // exact dup of 1 -> dropped by filter
      (4L, good1 + " tonight"),                      // near dup of 1 -> dropped by dedup
      (5L, "too short"),                             // dropped by filter
      (6L, evalTxt + " and some extra filler words here") // contaminated -> dropped
    ).toDF("doc_id", "text")
    val ev = Seq((100L, evalTxt)).toDF("doc_id", "text")
    val p = CorpusPipeline.prepare(docs, Some(ev),
      windowTokens = 16, nShards = 2, maxEvalOverlap = 0.3)
    assert(p.filtered.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L, 6L))
    assert(p.deduped.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 6L))
    assert(p.decontaminated.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val packed = p.packed.collect()
    assert(packed.length == 2 && packed.forall(_.schema.fieldNames.contains("bin_id")))
    // provenance: every input doc gets a disposition in stage order,
    // duplicates name the representative kept instead
    val disp = p.disposition.collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(disp(1L) == (("kept", None)))
    assert(disp(2L) == (("kept", None)))
    assert(disp(3L) == (("quality", None)))    // exact dup dies at the gate
    assert(disp(4L) == (("duplicate", Some(1L))))
    assert(disp(5L) == (("quality", None)))
    assert(disp(6L) == (("contaminated", None)))
  }

  test("assemble from persisted lists reproduces prepare's frames exactly") {
    import graft.pipeline.CorpusPipeline
    val evalTxt = "benchmark question about the capital city of a very small european country surrounded by tall snowy mountain ranges"
    val good1 = (0 until 30).map(i => s"alpha$i beta$i").mkString(" ")
    val good2 = (0 until 30).map(i => s"gamma$i delta$i").mkString(" ")
    val docs = Seq(
      (1L, good1), (2L, good2), (3L, good1),
      (4L, good1 + " tonight"), (5L, "too short"),
      (6L, evalTxt + " and some extra filler words here")).toDF("doc_id", "text")
    val ev = Seq((100L, evalTxt)).toDF("doc_id", "text")
    val p = CorpusPipeline.prepare(docs, Some(ev),
      windowTokens = 16, nShards = 2, maxEvalOverlap = 0.3)
    // persist the decision lists — the production snapshot — then
    // re-assemble in "another consumer" and compare every frame
    val base = java.nio.file.Files.createTempDirectory("prep_lists").toString
    p.lists.keepIds.write.parquet(s"$base/keep_ids")
    p.lists.dupOf.write.parquet(s"$base/dup_of")
    p.lists.dirtyIds.get.write.parquet(s"$base/dirty_ids")
    val lists = CorpusPipeline.PreparedLists(
      spark.read.parquet(s"$base/keep_ids"),
      spark.read.parquet(s"$base/dup_of"),
      Some(spark.read.parquet(s"$base/dirty_ids")))
    val a = CorpusPipeline.assemble(docs, lists, windowTokens = 16, nShards = 2)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(a.filtered) == rows(p.filtered))
    assert(rows(a.deduped) == rows(p.deduped))
    assert(rows(a.decontaminated) == rows(p.decontaminated))
    assert(rows(a.packed) == rows(p.packed))
    assert(rows(a.disposition) == rows(p.disposition))
    p.release()
  }

  test("CorpusPipeline.prepare bloom decontamination drops a superset of the exact path") {
    import graft.pipeline.CorpusPipeline
    val evalTxt = "benchmark question about the capital city of a very small european country surrounded by tall snowy mountain ranges"
    val docs = (0L until 20L).map { i =>
      (i, s"independent document number $i with its own distinct vocabulary token$i " +
        s"covering subject area $i in sufficient detail to pass the quality floor easily today")
    }.toDF("doc_id", "text")
      .unionAll(Seq((50L, evalTxt + " plus trailing filler tokens to shift the boundaries"))
        .toDF("doc_id", "text"))
    val ev = Seq((100L, evalTxt)).toDF("doc_id", "text")
    def survivors(bloom: Boolean): Set[Long] =
      CorpusPipeline.prepare(docs, Some(ev), windowTokens = 16, nShards = 2,
          maxEvalOverlap = 0.3, bloomDecontaminate = bloom)
        .decontaminated.select("doc_id").as[Long].collect().toSet
    val exact = survivors(bloom = false)
    val bloomed = survivors(bloom = true)
    // Bloom can only OVER-flag: its survivor set is a subset of the
    // exact path's, and the truly-contaminated doc is gone in both
    assert(bloomed.subsetOf(exact), s"bloom=$bloomed exact=$exact")
    assert(!exact.contains(50L) && !bloomed.contains(50L))
    // at the 2^20-bit default / ~100 eval positions, false positives are ~0: equal here
    assert(bloomed == exact, s"unexpected FP at tiny scale: bloom=$bloomed exact=$exact")
  }

  test("incremental near-dup: unverified band screening has false positives; " +
       "verified mode eliminates them (FP rate quantified)") {
    // catalog doc and batch docs share long runs of tokens (sub-0.8
    // Jaccard) — enough overlap that SOME band of minhashes collides,
    // which is precisely the unverified mode's false-positive shape
    val base = (0 until 30).map(i => s"tok$i").mkString(" ")
    val catDocs = Seq((1L, base)).toDF("doc_id", "text")
    val batch = ((0 until 40).map { i =>
      // vary a sliding window of tokens: overlapping-but-distinct docs
      (100L + i, (0 until 30).map(j =>
        if (j >= i % 10 && j < i % 10 + 4) s"alt${i}_$j" else s"tok$j")
        .mkString(" "))
    } :+ (999L, base)) // one TRUE duplicate of the catalog doc
      .toDF("doc_id", "text")
    val catSigs = Dedup.minhashSignatures(catDocs)
    val bandCat = Dedup.lshBands(catSigs)
    val shCat = catSigs.select(col("doc_id"), col("shingles"))

    val unverified = Dedup.incrementalNearDup(batch, bandCat)
    val verified = Dedup.incrementalNearDupVerified(batch, bandCat, shCat)
    val uDropped = batch.select("doc_id").except(unverified.fresh.select("doc_id"))
      .as[Long].collect().toSet
    val vDropped = batch.select("doc_id").except(verified.fresh.select("doc_id"))
      .as[Long].collect().toSet

    // ground truth: true near-dups of the catalog doc at jaccard >= 0.8
    val trueDups = Dedup.verifyJaccard(
      batch.select(col("doc_id").as("doc_a")).crossJoin(
        catDocs.select(col("doc_id").as("doc_b"))),
      Dedup.minhashSignatures(batch.unionAll(catDocs)))
      .filter(col("jaccard") >= 0.8).select("doc_a").as[Long].collect().toSet

    // verified = exactly the ground truth (keeps every sub-threshold
    // collider, still drops the true duplicate); unverified ⊇ verified
    assert(trueDups == Set(999L))
    assert(vDropped == trueDups, s"verified dropped $vDropped, truth $trueDups")
    assert(uDropped.subsetOf(uDropped ++ vDropped) && vDropped.subsetOf(uDropped))
    val falsePositives = uDropped -- trueDups
    assert(falsePositives.nonEmpty,
      "fixture should produce band collisions below the Jaccard threshold")
    val fpRate = falsePositives.size.toDouble / uDropped.size
    info(f"unverified FP rate on overlapping-doc fixture: $fpRate%.2f " +
      s"(${falsePositives.size} of ${uDropped.size} drops)")
    // the documented trade: band collision is LSH evidence, not proof —
    // on this adversarial fixture most unverified drops are wrong
    assert(fpRate > 0.0 && fpRate <= 1.0)
  }

  test("minhash LSH recall vs the exact Jaccard baseline on the real corpus") {
    // the quadratic baseline is the ground truth the LSH path
    // approximates; the hash family is md5-derived (no RNG), so recall
    // here is a DETERMINISTIC property of the (k=12, b=4) convention —
    // this pins it against silent banding regressions
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
    val bound = 250L
    val truth = Dedup.ngramJaccardPairs(docs, bound)
      .filter(col("jaccard") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "baseline found no pairs — test is vacuous")
    val lsh = Dedup.minhashNearDups(docs.filter(col("doc_id") < bound))
      .filter(col("jaccard") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision 1.0 by construction (pairs are exact-Jaccard verified)
    assert(lsh.subsetOf(truth), s"LSH emitted non-true pairs: ${lsh -- truth}")
    // recall: with banding P(candidate | s=0.8) ≈ 0.94 per the
    // lsh_tuning s-curve; on this corpus the convention finds them all
    assert(lsh == truth, s"missed: ${truth -- lsh}")
  }

  test("dedupCorpus is the identity on a corpus with no near-duplicates") {
    val docs = Seq(
      (1L, "completely original text about database engines and joins"),
      (2L, "an unrelated poem regarding mountains rivers and weather")
    ).toDF("doc_id", "text")
    assert(Dedup.dedupCorpus(docs).count() == 2) // no NPE on empty pairs
  }

  test("dedupCorpus keeps one representative per duplicate group") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
      (3L, "an entirely different document about spark engines and scale"),
      (4L, "the quick brown fox jumps over the lazy dog tonight")  // dup of 1
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(docs).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("editDistancePairs finds near-miss pairs in-block, prunes cross-block and past-threshold") {
    val df = Seq(
      (1L, "PREFIX____ the quick brown fox"),
      (2L, "PREFIX____ the quick brewn fox"),   // dist 1 from doc 1
      (3L, "PREFIX____ a totally different tail of text"), // same block, far
      (4L, "OTHERBLOCK the quick brown fox")    // dist would be small, block differs
    ).toDF("doc_id", "s")
    val out = Dedup.editDistancePairs(df, "doc_id", "s", maxDist = 3,
      blockPrefix = 10).collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 2L &&
      out(0).getAs[Long]("dist") == 1L)
  }

  test("editDistancePairs block cap drops degenerate blocks, keeps selective ones") {
    val flood = (1L to 20L).map(i => (i, "SAMEBLOCK_ filler " + i))
    val pair = Seq((100L, "UNIQUEBLK_ hello"), (101L, "UNIQUEBLK_ hellp"))
    val df = (flood ++ pair).toDF("doc_id", "s")
    val out = Dedup.editDistancePairs(df, "doc_id", "s", maxDist = 5,
      blockPrefix = 10, maxBlockSize = Some(10)).collect()
    // the 20-row block (190 candidate pairs) is dropped; the 2-row block survives
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((100L, 101L)))
  }

  test("leakageSafeSplit keeps every near-dup cluster on one side of the split") {
    val docs = (1L to 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.leakageSafeSplit(docs, pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out.size == 20, "every doc gets an assignment")
    // chained pair {1,2,3}: one cluster, one split side
    assert(Set(out(1L), out(2L), out(3L)).size == 1 && out(1L)._1 == 1L)
    assert(out(10L) == out(11L) && out(10L)._1 == 10L)
    // singletons cluster as themselves
    assert(out(7L)._1 == 7L)
    assert(out.values.map(_._2).toSet.subsetOf(Set("train", "heldout")))
  }

  test("crossNearDups scores only ACROSS corpora, never within either") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"t$i").mkString(" ")
    val near = (1 to 39).map(i => s"t$i").mkString(" ") + " zz"
    val other = (1 to 40).map(i => s"u$i").mkString(" ")
    // corpus A carries an internal duplicate pair (1, 2) — it must NOT
    // appear in the output; doc 3 is unrelated
    val a = Seq((1L, base), (2L, base), (3L, other)).toDF("doc_id", "text")
    // corpus B: a near-dup of A's base family, plus a fresh doc
    val fresh = (1 to 40).map(i => s"v$i").mkString(" ")
    val b = Seq((10L, near), (11L, fresh)).toDF("doc_id", "text")
    val out = graft.dedup.Dedup.crossNearDups(a, b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    // every pair is bipartite: a-side id from A, b-side id from B
    assert(out.forall { case (aId, bId, _) => aId <= 3L && bId >= 10L },
      out.mkString(","))
    // the within-A exact duplicate never pairs (1,2)
    assert(!out.exists(p => p._1 == 1L && p._2 == 2L))
    // both base copies hit the near-dup in B with the same high score
    val hits = out.filter(_._2 == 10L)
    assert(hits.map(_._1).toSet == Set(1L, 2L), out.mkString(","))
    assert(hits.forall(_._3 > 0.8))
    // the fresh doc matches nothing
    assert(!out.exists(_._2 == 11L))
  }

  test("substrDedup excises repeated runs at any alignment, keeps first occurrence") {
    import graft.dedup.Dedup
    val docs = Seq(
      (0L, "a b c d e f g h i j k l"),       // owner of the shared run
      (1L, "x y a b c d e f g h i j q r"),   // shares 10 tokens at offset 2
      (2L, "short doc"),                     // under the window — untouched
      (3L, "a b c d e f g h i j k l")        // exact duplicate — fully excised
    ).toDF("doc_id", "text")
    val out = Dedup.substrDedup(docs, w = 8).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) == (("a b c d e f g h i j k l", 12L, 0L)))
    // windows fully inside the shared run start at 2,3,4 → coverage
    // 2..11: all 10 shared tokens die, the unshared edges survive
    assert(out(1L) == (("x y q r", 14L, 10L)))
    assert(out(2L) == (("short doc", 2L, 0L)))
    assert(out(3L) == (("", 12L, 12L)))
    // within-doc repetition is removed by the same rule
    val rep = Seq((7L, "p q r s t u v w z p q r s t u v w"))
      .toDF("doc_id", "text")
    val r7 = Dedup.substrDedup(rep, w = 8).collect().head
    assert(r7.getString(1) == "p q r s t u v w z", r7.getString(1))
    assert(r7.getLong(3) == 8L)
  }

  test("substrDedupSpans: maximal spans erase byte-exact with a length floor; short repeats survive") {
    import graft.dedup.Dedup
    val base = (1 to 60).map(i => s"w$i")
    val copied = base.slice(10, 40) // 30 contiguous tokens of doc 0
    val short = base.slice(0, 10)   // 10 tokens — below the 20 floor
    val pre = (1 to 5).map(i => s"p$i")
    val suf = (1 to 5).map(i => s"q$i")
    val docs = Seq(
      (0L, base.mkString(" ")),
      (1L, (pre ++ copied ++ suf).mkString(" ")),
      (2L, ((1 to 6).map(i => s"x$i") ++ short ++ (1 to 6).map(i => s"y$i")).mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.substrDedupSpans(docs, w = 8, minMatchTokens = 20).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // first occurrence intact
    assert(out(0L) == ((base.mkString(" "), 60L, 0L, 0L)))
    // the 30-token copy is ONE maximal span, erased byte-exact: no
    // window-boundary residue — the rebuilt text is exactly pre+suf
    assert(out(1L) == (((pre ++ suf).mkString(" "), 40L, 30L, 1L)))
    // a 10-token repeat is below the 20-token floor: UNTOUCHED here...
    assert(out(2L)._1.split(" ").length == 22 && out(2L)._3 == 0L, out(2L).toString)
    // ...while plain window dedup would have cut it — the floor is
    // exactly what distinguishes the ExactSubstr policy
    val plain = Dedup.substrDedup(docs, w = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(plain(2L) == 10L, s"window dedup should cut the short repeat: $plain")
    // two disjoint long copies in one doc are TWO spans, each maximal
    val multi = Seq(
      (0L, base.mkString(" ")),
      (5L, (copied ++ Seq("gap1", "gap2", "gap3") ++ base.slice(35, 60)).mkString(" "))
    ).toDF("doc_id", "text")
    val m = Dedup.substrDedupSpans(multi, w = 8, minMatchTokens = 20).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(3), r.getLong(4)))).toMap
    assert(m(5L) == (("gap1 gap2 gap3", 55L, 2L)), m(5L).toString)
  }

  test("window-hash dedup: null and short texts yield no windows instead of a cap error") {
    import graft.dedup.Dedup
    val docs = Seq[(Long, String)](
      (0L, "a b c d e f g h i j"),
      (1L, null),                  // null text: no windows, no assert
      (2L, "short doc"),           // under the window
      (3L, "a b c d e f g h i j")  // duplicate of 0
    ).toDF("doc_id", "text")
    val nonNull = docs.filter(col("text").isNotNull)
    val catalog = Dedup.windowHashCatalog(docs).as[Long].collect().toSet
    assert(catalog.nonEmpty)
    assert(catalog == Dedup.windowHashCatalog(nonNull).as[Long].collect().toSet)
    // the null doc passes through with nothing removed
    val out = Dedup.substrDedup(docs, w = 8).collect()
      .map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L), out.toString)
    assert(out(1L).forall(_ == 0L), out.toString)
    assert(out(0L).contains(0L) && out(2L).contains(0L) && out(3L).contains(10L), out.toString)
  }

  test("window_hashes rejects arrays that may hold null elements at analysis") {
    import graft.expressions.WindowHashFunctions.windowHashes
    // Seq[String] encodes as array<string> with containsNull = true
    val df = Seq(Tuple1(Seq("a", null, "c"))).toDF("ts")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(windowHashes(col("ts"), 2)).collect()
    }
    assert(e.getMessage.contains("window_hashes"), e.getMessage)
  }

  test("substrDedupIncremental: catalog text always wins; batch dedupes within itself") {
    import graft.dedup.Dedup
    val accepted = Seq((0L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "x y a b c d e f g h i j z"), // shares the accepted run
      (11L, "p q r s t u v w n1"),        // owner within the batch
      (12L, "p q r s t u v w n2"),        // batch-internal dup of 11
      (13L, "all fresh tokens here only") // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.substrDedupIncremental(
        batch, Dedup.windowHashCatalog(accepted), w = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    // catalog hit cuts UNCONDITIONALLY — even though doc 10 is the
    // batch's first occurrence of the run
    assert(out(10L) == (("x y z", 10L)))
    assert(out(11L) == (("p q r s t u v w n1", 0L))) // batch owner survives
    assert(out(12L) == (("n2", 8L)))
    assert(out(13L) == (("all fresh tokens here only", 0L)))
  }

  test("ivfTopK matches brute force when probing all cells") {
    // deterministic pseudo-random vectors in 8 dims
    def vec(seed: Long): Array[Float] =
      Array.tabulate(8)(d => (((seed * 31 + d * 17) % 13) - 6).toFloat)
    val e = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val brute = Similarity.bruteForceTopK(e, q, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ivfAll = Similarity.ivfTopK(e, q, dim = 8, k = 3, nCells = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivfAll == brute) // nProbe = nCells → exhaustive → exact
    val ivfPartial = Similarity.ivfTopK(e, q, dim = 8, k = 3, nCells = 4, nProbe = 1)
      .collect()
    assert(ivfPartial.nonEmpty) // partial probe still returns ranked rows
  }

  test("canonicalByQuality keeps each cluster's quality argmax, ties to min id") {
    val clusters = Seq(
      (1L, 1L), (5L, 1L), (9L, 1L), // cluster 1: scores 10, 30, 30
      (2L, 2L), (4L, 2L)            // cluster 2: scores 7, 7 (full tie)
    ).toDF("doc_id", "cluster_id")
    val scores = Seq(
      (1L, 10L), (5L, 30L), (9L, 30L), (2L, 7L), (4L, 7L),
      (99L, 999L) // scored but unclustered: must not appear
    ).toDF("doc_id", "score_fp")
    val out = Dedup.canonicalByQuality(clusters, scores)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    assert(out.keySet == Set(1L, 5L, 9L, 2L, 4L))
    // cluster 1: 5 and 9 tie at 30 → min id 5 is canonical
    assert(out(1L) == (5L, false) && out(5L) == (5L, true) && out(9L) == (5L, false))
    // cluster 2: full tie → min id 2
    assert(out(2L) == (2L, true) && out(4L) == (2L, false))
  }

  test("canonicalByQuality beats min-id keep: the better duplicate survives") {
    // two near-identical docs where the LATER id is higher quality
    val clusters = Seq((10L, 10L), (20L, 10L)).toDF("doc_id", "cluster_id")
    val scores = Seq((10L, -50L), (20L, 400L)).toDF("doc_id", "score_fp")
    val kept = Dedup.canonicalByQuality(clusters, scores)
      .filter(col("keep")).collect()
    assert(kept.length == 1 && kept(0).getLong(0) == 20L)
  }

  test("setSimilarityJoin: known pairs, exact intersection/union counts") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"),     // J(1,2) = 3/5 = 60%
      (3L, "alpha beta"),                   // J(1,3) = 2/4 = 50%
      (4L, "zeta eta theta iota")           // disjoint from all
    ).toDF("doc_id", "text")
    val out = Dedup.setSimilarityJoin(docs, minJaccardPct = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L, 3L, 5L)))
    // at 50% the (1,3) and (2,3) pairs appear too (both exactly 2/4)
    val out50 = Dedup.setSimilarityJoin(docs, minJaccardPct = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out50 == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("setSimilarityJoin: recall 1 vs brute force on a collision-rich corpus") {
    // 40 docs over a 12-token vocabulary: many cross-prefix collisions,
    // duplicate tokens in text (array_distinct path), varied lengths
    val vocab = Vector("a","b","c","d","e","f","g","h","i","j","k","l")
    val rows = (0 until 40).map { i =>
      val n = 2 + (i * 7) % 9
      val toks = (0 until n).map(j => vocab((i * 5 + j * 3) % vocab.size))
      (i.toLong, toks.mkString(" "))
    }
    val docs = rows.toDF("doc_id", "text")
    val pct = 60
    // brute force: every pair, exact token-set Jaccard
    val sets = rows.map { case (id, t) => id -> t.split("\\s+").toSet }
    val brute = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size; uni = sa.size + sb.size - inter
      if 100 * inter >= pct * uni
    } yield (ia, ib, inter.toLong, uni.toLong)).toSet
    val engine = Dedup.setSimilarityJoin(docs, minJaccardPct = pct)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(engine == brute)
    assert(brute.nonEmpty) // the fixture actually exercises the filter
  }
}
