package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // two exact near-dup clusters + unrelated docs; body (long) column checks
  // that textCol is honored rather than a hardcoded "text"
  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and AGAIN"),
    (3L, "completely different words about spark query engines at scale"),
    (4L, "the quick brown fox jumps over the lazy dog again and again"),
    (5L, "unrelated short text"))
    .toDF("doc_id", "body")

  test("exactDedup groups identical texts, keeps min id") {
    val out = rows(Dedup.exactDedup(docs, textCol = "body").orderBy("keep_id"))
    assert(out == Seq(Seq(1L, 2L), Seq(2L, 1L), Seq(3L, 1L), Seq(5L, 1L)))
  }

  test("ngramJaccardPairs finds near-dup pairs above threshold") {
    val out = rows(Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5,
      textCol = "body").orderBy("doc_a", "doc_b"))
    assert(out == Seq(Seq(1L, 2L), Seq(1L, 4L), Seq(2L, 4L)))
  }

  test("minhashLshPairs agrees with the exact operator on high-sim pairs") {
    val exact = rows(Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5,
      textCol = "body").orderBy("doc_a", "doc_b"))
    val lsh = rows(Dedup.minhashLshPairs(docs, n = 3, numHashes = 128,
      bands = 32, threshold = 0.5, textCol = "body").orderBy("doc_a", "doc_b"))
    assert(lsh == exact)
  }

  test("containmentPairs: short-in-long embedding surfaces one-directionally " +
      "where Jaccard misses it; identical docs contain mutually") {
    import spark.implicits._
    val block = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val outer = block + " one two three four five six seven eight nine " +
      "ten eleven twelve thirteen fourteen fifteen sixteen"
    val d = Seq((1L, block), (2L, outer),
      (3L, "completely unrelated text about spark engines and parquet " +
        "files today"), (4L, block)).toDF("doc_id", "text")
    val out = rows(Dedup.containmentPairs(d, n = 3, threshold = 0.8,
      maxShingleDF = None).orderBy("doc_inner", "doc_outer"))
    // 1 ⊂ 2 (all 8 shingles, permille 1000) but NOT 2 ⊂ 1 (8/24);
    // 1 ≡ 4 contain each other (both directions emitted)
    assert(out == Seq(Seq(1L, 2L, 1000L), Seq(1L, 4L, 1000L),
      Seq(4L, 1L, 1000L), Seq(4L, 2L, 1000L)))
    // the symmetric operator at 0.5 cannot see the 1-in-2 embedding
    // (Jaccard 8/24) — only the identical pair
    assert(rows(Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.5,
      maxShingleDF = None).orderBy("doc_a", "doc_b")) == Seq(Seq(1L, 4L)))
  }

  test("containmentPairsExact equals the all-candidates containment " +
      "operator on the shared fixture") {
    val exact = rows(Dedup.containmentPairs(docs, n = 3, threshold = 0.5,
      textCol = "body", maxShingleDF = None)
      .orderBy("doc_inner", "doc_outer"))
    val pref = rows(Dedup.containmentPairsExact(docs, n = 3,
      threshold = 0.5, textCol = "body")
      .orderBy("doc_inner", "doc_outer"))
    assert(pref == exact && pref.nonEmpty)
  }

  test("ppjoinPairs equals the brute-force exact operator") {
    val exact = rows(Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5,
      textCol = "body", maxShingleDF = None).orderBy("doc_a", "doc_b"))
    val pp = rows(Dedup.ppjoinPairs(docs, n = 3, threshold = 0.5,
      textCol = "body").orderBy("doc_a", "doc_b"))
    assert(pp == exact && pp.nonEmpty)
  }

  test("ppjoinPairs keeps the stop-shingle pair the df cap loses") {
    // same corpus as the cap test: the df-32 stop-shingle "x y z" is 1 of
    // the 4 shared shingles; the capped operator drops the pair (recall
    // trade), the prefix-filtered exact operator must keep it — and the
    // stop-shingle must sort to the END of the df-ordered sets, never
    // into a prefix
    val fillers = (100L until 130L).map(i => (i, s"x y z u$i"))
    val d = (fillers ++ Seq(
      (1L, "x y z a b c d"),
      (2L, "x y z a b c e"))).toDF("doc_id", "text")
    assert(rows(Dedup.ppjoinPairs(d)) == Seq(Seq(1L, 2L)))
    assert(rows(Dedup.ngramJaccardPairs(d, maxShingleDF = Some(10))).isEmpty)
  }

  test("ppjoinPairs maxPrefixDF: recall-only candidate guard") {
    // uncapped: exact pair set; a cap of 1 kills every shared prefix
    // token (any pair needs a COMMON prefix token with df >= 2), so the
    // result empties — recall traded, never a false positive
    val exact = rows(Dedup.ppjoinPairs(docs, n = 3, threshold = 0.5,
      textCol = "body").orderBy("doc_a", "doc_b"))
    assert(exact.nonEmpty)
    assert(rows(Dedup.ppjoinPairs(docs, n = 3, threshold = 0.5,
      textCol = "body", maxPrefixDF = Some(1))).isEmpty)
    // a generous cap changes nothing
    assert(rows(Dedup.ppjoinPairs(docs, n = 3, threshold = 0.5,
      textCol = "body", maxPrefixDF = Some(1000))
      .orderBy("doc_a", "doc_b")) == exact)
  }

  test("simhashPairs: identical docs at hamming 0, contract filters both sides") {
    val out = rows(Dedup.simhashPairs(docs, maxHamming = 7, n = 3,
      threshold = 0.5, textCol = "body").orderBy("doc_a", "doc_b"))
    // (1,4) identical -> hamming 0; (1,2)/(2,4) differ in one token's case
    assert(out.contains(Seq(1L, 4L)))
    assert(out.forall(p => Seq(Seq(1L, 2L), Seq(1L, 4L), Seq(2L, 4L)).contains(p)))
  }

  test("embeddingNearDupPairs finds cosine-close vectors only") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = rows(Dedup.embeddingNearDupPairs(emb, threshold = 0.9))
    assert(out == Seq(Seq(1L, 2L)))
  }

  test("embeddingNearDupLsh: precision 1.0, recall >= 0.9, beats the ANN layout") {
    // the banded production path: a subset of the exact pairs by
    // construction (cosine-verified candidates); the near-dup-tuned
    // 3 planes x 21 tables layout loses only boundary pairs (the fixture
    // misses sit at cosine 0.40-0.45, where per-table collision is
    // weakest) and strictly out-recalls the general 4 x 16 ANN layout
    val emb = graft.sources.Fixtures.table(spark, "/root/testdata/sf0.001",
      "embeddings")
    val exact = rows(Dedup.embeddingNearDupPairs(emb, threshold = 0.4)).toSet
    val lsh = rows(Dedup.embeddingNearDupLsh(emb, threshold = 0.4)).toSet
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    assert(exact.nonEmpty)
    assert(lsh.size >= exact.size * 9 / 10,
      s"recall ${lsh.size}/${exact.size} below 0.9")
    val ann = rows(Similarity.hyperplaneLshPairs(emb, threshold = 0.4,
      numPlanes = 4, numTables = 16, dim = 64)).toSet
    assert(lsh.size > ann.size,
      s"near-dup layout (${lsh.size}) should out-recall ANN layout (${ann.size})")
  }

  test("incrementalEmbeddingNearDups: banded path equals the direct " +
      "hamming join (pigeonhole exactness); corpus x corpus excluded") {
    val emb = graft.sources.Fixtures.table(spark, "/root/testdata/sf0.001",
      "embeddings")
    val batch = emb.filter(col("vec_id") % 7 === 0)
    val corpusSigs = Dedup.embeddingSignatures(
      emb.filter(col("vec_id") % 7 =!= 0))
    val out = rows(Dedup.incrementalEmbeddingNearDups(batch, corpusSigs)
      .orderBy("vec_a", "vec_b"))
    // direct quadratic twin over recomputed signatures
    val sigs = Dedup.embeddingSignatures(emb)
    val a = sigs.select(col("vec_id").as("vec_a"), col("sig").as("sa"))
    val b = sigs.select(col("vec_id").as("vec_b"), col("sig").as("sb"))
    val direct = rows(a.join(b, col("vec_a") < col("vec_b"))
      .filter(expr("bit_count(sa ^ sb) <= 20"))
      .filter(col("vec_a") % 7 === 0 || col("vec_b") % 7 === 0)
      .select("vec_a", "vec_b").orderBy("vec_a", "vec_b"))
    assert(out == direct, "banding lost or added pairs")
    assert(out.nonEmpty)
    // every pair has at least one batch side
    assert(out.forall(p => p(0).asInstanceOf[Long] % 7 == 0 ||
      p(1).asInstanceOf[Long] % 7 == 0))
  }

  test("incrementalEmbeddingNearDupsAgainstIndex: matches the in-memory " +
      "path; index scans never sit under an Exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val emb = graft.sources.Fixtures.table(spark, "/root/testdata/sf0.001",
      "embeddings")
    val corpusSigs = Dedup.embeddingSignatures(
      emb.filter(col("vec_id") % 7 =!= 0))
    val batchSigs = Dedup.embeddingSignatures(
      emb.filter(col("vec_id") % 7 === 0))
    graft.tables.Tables.dropTable(spark, "emb_nd_test_bands")
    graft.tables.Tables.dropTable(spark, "emb_nd_test_sigs")
    Dedup.writeEmbeddingBandedIndex(corpusSigs, "emb_nd_test", numBuckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = Dedup.incrementalEmbeddingNearDupsAgainstIndex(batchSigs,
        "emb_nd_test")
      val expected = rows(
        Dedup.incrementalEmbeddingNearDupsFromSigs(batchSigs, corpusSigs)
          .orderBy("vec_a", "vec_b"))
      assert(rows(out.orderBy("vec_a", "vec_b")) == expected)
      assert(expected.nonEmpty)
      val plan = out.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def scanWithoutJoinBelow(p: SparkPlan): Boolean =
        if (p.toString.linesIterator.next().contains("emb_nd_test_")) true
        else if (p.children.length != 1) false
        else scanWithoutJoinBelow(p.children.head)
      val offending = plan.collect {
        case e: SparkPlan with ShuffleExchangeLike
            if scanWithoutJoinBelow(e.children.head) => e
      }
      assert(offending.isEmpty,
        s"bucketed index side re-shuffled:\n${offending.mkString("\n")}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      graft.tables.Tables.dropTable(spark, "emb_nd_test_bands")
      graft.tables.Tables.dropTable(spark, "emb_nd_test_sigs")
    }
  }

  test("AgainstIndex replay shield: a batch overlapping the index emits " +
      "each pair exactly once") {
    // the replayed-after-fold case: the SAME documents sit in both the
    // batch and the persisted index. The a != b guard stops self-pairs;
    // this asserts the other half of the shield — a genuine pair with
    // both members in both tiers must not duplicate (it survives the
    // directed candidate join in both orientations AND the new x new
    // branch).
    val docsDf = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content with no shared shingles at all ok"))
      .toDF("doc_id", "body")
    val sigs = Dedup.minhashSignatures(docsDf, textCol = "body")
    graft.tables.Tables.dropTable(spark, "nd_replay_bands")
    graft.tables.Tables.dropTable(spark, "nd_replay_sigs")
    Dedup.writeBandedIndex(sigs, "nd_replay", numBuckets = 4)
    try {
      val out = rows(Dedup.incrementalNearDupsAgainstIndex(sigs, "nd_replay")
        .orderBy("doc_a", "doc_b"))
      assert(out == Seq(Seq(1L, 2L)), s"expected one (1,2) pair, got $out")
    } finally {
      graft.tables.Tables.dropTable(spark, "nd_replay_bands")
      graft.tables.Tables.dropTable(spark, "nd_replay_sigs")
    }
    // embedding twin
    val emb = Seq(
      (1L, Array.fill(64)(1.0f)),
      (2L, Array.fill(64)(1.0f)),
      (3L, Array.fill(64)(-1.0f)))
      .toDF("vec_id", "embedding")
    val esigs = Dedup.embeddingSignatures(emb)
    graft.tables.Tables.dropTable(spark, "emb_replay_bands")
    graft.tables.Tables.dropTable(spark, "emb_replay_sigs")
    Dedup.writeEmbeddingBandedIndex(esigs, "emb_replay", numBuckets = 4)
    try {
      val out = rows(
        Dedup.incrementalEmbeddingNearDupsAgainstIndex(esigs, "emb_replay")
          .orderBy("vec_a", "vec_b"))
      assert(out == Seq(Seq(1L, 2L)), s"expected one (1,2) pair, got $out")
    } finally {
      graft.tables.Tables.dropTable(spark, "emb_replay_bands")
      graft.tables.Tables.dropTable(spark, "emb_replay_sigs")
    }
  }

  test("incrementalEmbeddingNearDups: identical vectors pair at hamming 0, " +
      "orthogonal ones never pair") {
    val corpus = Seq(
      (1L, Array.fill(64)(1.0f)),
      (2L, (0 until 64).map(i => if (i % 2 == 0) 1.0f else -1.0f).toArray))
      .toDF("vec_id", "embedding")
    val batch = Seq(
      (10L, Array.fill(64)(1.0f)),          // clone of corpus 1
      (11L, Array.fill(64)(-1.0f)))          // antipode: hamming 63
      .toDF("vec_id", "embedding")
    val out = rows(Dedup.incrementalEmbeddingNearDups(batch,
      Dedup.embeddingSignatures(corpus), maxHamming = 5)
      .orderBy("vec_a", "vec_b"))
    assert(out == Seq(Seq(1L, 10L)))
  }

  test("embeddingNearDupLsh bucket cap only trades recall, never precision") {
    val emb = graft.sources.Fixtures.table(spark, "/root/testdata/sf0.001",
      "embeddings")
    val exact = rows(Dedup.embeddingNearDupPairs(emb, threshold = 0.4)).toSet
    val capped = rows(Dedup.embeddingNearDupLsh(emb, threshold = 0.4,
      maxBucketSize = Some(16))).toSet
    assert(capped.subsetOf(exact))
  }

  test("embeddingNearDupLsh tight contract: derived 9x7 layout, " +
      "recall >= 0.9, precision 1.0 on the planted calibration corpus") {
    val emb = graft.sources.Fixtures.table(spark, "/root/testdata/sf0.001",
      "embeddings")
    val corpus = Similarity.plantNearDups(emb)
    val exact = rows(Dedup.embeddingNearDupPairs(corpus, threshold = 0.9)).toSet
    val lsh = rows(Dedup.embeddingNearDupLsh(corpus, threshold = 0.9,
      maxBucketLoad = Some(8))).toSet
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    assert(exact.nonEmpty)
    assert(lsh.size >= exact.size * 9 / 10,
      s"recall ${lsh.size}/${exact.size} below 0.9")
  }

  test("maxBucketLoad never zeroes a wide layout (the fixed-cap failure " +
      "mode); still a precision-1.0 subset") {
    // 3-plane tables have 8 buckets, so n=1000 rows mean ~125 per bucket:
    // a FIXED cap of 64 culls every bucket and emits nothing (measured
    // round 10), while the occupancy-relative cap scales with n/2^planes
    // and keeps the layout productive
    val emb = graft.sources.Fixtures.table(spark, "/root/testdata/sf0.001",
      "embeddings")
    val corpus = Similarity.plantNearDups(emb)
    val fixed = rows(Dedup.embeddingNearDupLsh(corpus, threshold = 0.4,
      maxBucketSize = Some(64), layout = Some((3, 21))))
    val rel = rows(Dedup.embeddingNearDupLsh(corpus, threshold = 0.4,
      maxBucketLoad = Some(8), layout = Some((3, 21)))).toSet
    assert(fixed.isEmpty, "fixed cap unexpectedly kept buckets")
    assert(rel.nonEmpty, "relative cap zeroed the layout")
    val exact = rows(Dedup.embeddingNearDupPairs(corpus, threshold = 0.4)).toSet
    assert(rel.subsetOf(exact))
  }

  test("ngramJaccardPairs cap: prunes candidates via stop-shingles, keeps pre-cap denominators") {
    // 30 filler docs all contain the stop-shingle "x y z" (df = 32), which
    // is also 1 of the 4 shingles shared by near-dup docs A and B
    val fillers = (100L until 130L).map(i => (i, s"x y z u$i"))
    val docs = (fillers ++ Seq(
      (1L, "x y z a b c d"), // shingles: xyz yza zab abc bcd
      (2L, "x y z a b c e")  // shingles: xyz yza zab abc bce
    )).toDF("doc_id", "text")
    // exact: i=4, sizes 5+5 -> 4/6 = 0.667 >= 0.5
    assert(rows(Dedup.ngramJaccardPairs(docs)) == Seq(Seq(1L, 2L)))
    // cap=10 excludes "x y z" from candidates: i=3 but denominator stays
    // pre-cap (5+5-3=7) -> 0.43 < 0.5 -> recall traded, no false positive
    assert(rows(Dedup.ngramJaccardPairs(docs, maxShingleDF = Some(10))).isEmpty)
    // cap=50 keeps it: identical to exact
    assert(rows(Dedup.ngramJaccardPairs(docs, maxShingleDF = Some(50)))
      == Seq(Seq(1L, 2L)))
  }

  test("decontaminate: shared shingles flag docs, clean docs pass") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "a quick brown fox runs away"), // shares "quick brown fox"
      (3L, "nothing in common at all"))
      .toDF("doc_id", "text")
    val probes = Seq((99L, "quick brown fox")).toDF("doc_id", "text")
    val out = rows(Dedup.decontaminate(docs, probes).orderBy("doc_id"))
    assert(out == Seq(
      Seq(1L, 1L, true), Seq(2L, 1L, true), Seq(3L, 0L, false)))
  }

  test("nearDupDedupByQuality: highest-quality member wins, not min id") {
    // 1 and 2 are near-dups; 2 carries more tokens -> higher quality
    // score, so it beats the lower id. 3 is its own cluster.
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the sun sets over the quiet river valley"
    val d = Seq(
      (1L, base),
      (2L, base + " and then some more informative trailing context words"),
      (3L, "entirely unrelated content"))
      .toDF("doc_id", "text")
    val out = rows(Dedup.nearDupDedupByQuality(d).orderBy("doc_id"))
    assert(out == Seq(
      Seq(1L, 1L, 2L, false, 2L),
      Seq(2L, 1L, 2L, true, 2L),
      Seq(3L, 3L, 3L, true, 1L)))
  }

  test("incrementalNearDups: new-vs-corpus and new-vs-new, never corpus-vs-corpus") {
    // corpus contains an identical pair (1, 4) — already found at corpus
    // ingest time, so the incremental pass must NOT re-emit it
    val corpusSigs = Dedup.minhashSignatures(docs, textCol = "body")
    val batch = Seq(
      (6L, "the quick brown fox jumps over the lazy dog again and again"),
      (7L, "the quick brown fox jumps over the lazy dog again and again"),
      (8L, "totally novel content sharing no shingles with anything else"))
      .toDF("doc_id", "body")
    val out = rows(Dedup.incrementalNearDups(batch, corpusSigs, textCol = "body")
      .orderBy("doc_a", "doc_b"))
    // identical texts -> identical signatures -> estimate exactly 1.0
    assert(out.contains(Seq(1L, 6L)) && out.contains(Seq(4L, 7L))
      && out.contains(Seq(6L, 7L)))
    val corpusIds = Set(1L, 2L, 3L, 4L, 5L)
    assert(out.forall { case Seq(a: Long, b: Long) => !(corpusIds(a) && corpusIds(b)) })
    assert(out.forall { case Seq(a: Long, b: Long) => a != 8L && b != 8L })
  }

  test("incrementalNearDupsAgainstIndex: matches the in-memory path; " +
      "index scans never sit under an Exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val corpusSigs = Dedup.minhashSignatures(docs, textCol = "body")
    val batch = Seq(
      (6L, "the quick brown fox jumps over the lazy dog again and again"),
      (7L, "the quick brown fox jumps over the lazy dog again and again"),
      (8L, "totally novel content sharing no shingles with anything else"))
      .toDF("doc_id", "body")
    val batchSigs = Dedup.minhashSignatures(batch, textCol = "body")
    graft.tables.Tables.dropTable(spark, "nd_test_bands")
    graft.tables.Tables.dropTable(spark, "nd_test_sigs")
    Dedup.writeBandedIndex(corpusSigs, "nd_test", numBuckets = 4)
    // disable implicit broadcast so the candidate/verify joins actually
    // exercise the bucketed layout (the explicit broadcast() hints on the
    // batch-signature side still apply)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = Dedup.incrementalNearDupsAgainstIndex(batchSigs, "nd_test")
      val expected = rows(
        Dedup.incrementalNearDupsFromSigs(batchSigs, corpusSigs)
          .orderBy("doc_a", "doc_b"))
      assert(rows(out.orderBy("doc_a", "doc_b")) == expected)
      assert(expected.contains(Seq(1L, 6L)) && expected.contains(Seq(6L, 7L)))
      val plan = out.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // violation = an Exchange with an index-table scan below it and NO
      // join in between: that would mean the index itself (the 100 TB
      // side) is being re-partitioned instead of read at its bucketing.
      // Shuffles of post-join candidate frames are fine — they are
      // batch-sized.
      def scanWithoutJoinBelow(p: SparkPlan): Boolean =
        if (p.toString.linesIterator.next().contains("nd_test_")) true
        else if (p.children.length != 1) false
        else scanWithoutJoinBelow(p.children.head)
      val offending = plan.collect {
        case e: SparkPlan with ShuffleExchangeLike
            if e.children.exists(scanWithoutJoinBelow) => e
      }
      assert(offending.isEmpty,
        s"index scan shuffled before its first join:\n${offending.mkString("\n")}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      graft.tables.Tables.dropTable(spark, "nd_test_bands")
      graft.tables.Tables.dropTable(spark, "nd_test_sigs")
    }
  }

  test("incrementalNearDupsAgainstIndex: bucket cap sees the post-batch " +
      "size against the persisted index") {
    val clones = (1L to 9L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "body")
    val sigs = Dedup.minhashSignatures(clones, textCol = "body")
    val batch = Seq((10L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "body")
    val batchSigs = Dedup.minhashSignatures(batch, textCol = "body")
    graft.tables.Tables.dropTable(spark, "nd_cap_bands")
    graft.tables.Tables.dropTable(spark, "nd_cap_sigs")
    Dedup.writeBandedIndex(sigs, "nd_cap", numBuckets = 4)
    try {
      // post-batch bucket population is 10 (9 index members + the clone):
      // a cap of 9 drops every bucket, a cap of 10 keeps them all
      assert(rows(Dedup.incrementalNearDupsAgainstIndex(batchSigs, "nd_cap",
        maxBucketSize = Some(9))).isEmpty)
      val kept = rows(Dedup.incrementalNearDupsAgainstIndex(batchSigs,
        "nd_cap", maxBucketSize = Some(10)).orderBy("doc_a"))
      assert(kept == (1L to 9L).map(i => Seq(i, 10L)))
    } finally {
      graft.tables.Tables.dropTable(spark, "nd_cap_bands")
      graft.tables.Tables.dropTable(spark, "nd_cap_sigs")
    }
    // the hyperplane family, same shape: 9 indexed clone vectors + 1
    val ones = Array.fill(64)(1.0f)
    val esigs = Dedup.embeddingSignatures(
      (1L to 9L).map(i => (i, ones)).toDF("vec_id", "embedding"))
    val ebatch = Dedup.embeddingSignatures(
      Seq((10L, ones)).toDF("vec_id", "embedding"))
    graft.tables.Tables.dropTable(spark, "emb_cap_bands")
    graft.tables.Tables.dropTable(spark, "emb_cap_sigs")
    Dedup.writeEmbeddingBandedIndex(esigs, "emb_cap", numBuckets = 4)
    try {
      assert(rows(Dedup.incrementalEmbeddingNearDupsAgainstIndex(ebatch,
        "emb_cap", maxBucketSize = Some(9))).isEmpty)
      val kept = rows(Dedup.incrementalEmbeddingNearDupsAgainstIndex(ebatch,
        "emb_cap", maxBucketSize = Some(10)).orderBy("vec_a"))
      assert(kept == (1L to 9L).map(i => Seq(i, 10L)))
    } finally {
      graft.tables.Tables.dropTable(spark, "emb_cap_bands")
      graft.tables.Tables.dropTable(spark, "emb_cap_sigs")
    }
  }

  test("incrementalNearDups: bucket cap sees the post-batch bucket size") {
    // 9 corpus clones + 1 new clone share every band bucket -> post-batch
    // bucket size 10; a cap of 9 drops those buckets entirely, so the new
    // doc pairs with nothing even though each PRE-batch bucket held 9
    val clones = (1L to 9L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "body")
    val sigs = Dedup.minhashSignatures(clones, textCol = "body")
    val batch = Seq((10L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "body")
    assert(rows(Dedup.incrementalNearDups(batch, sigs, textCol = "body",
      maxBucketSize = Some(9))).isEmpty)
    val kept = rows(Dedup.incrementalNearDups(batch, sigs, textCol = "body",
      maxBucketSize = Some(10)).orderBy("doc_a"))
    assert(kept == (1L to 9L).map(i => Seq(i, 10L)))
    // the hyperplane family, same shape: 9 corpus clone vectors + 1
    val ones = Array.fill(64)(1.0f)
    val esigs = Dedup.embeddingSignatures(
      (1L to 9L).map(i => (i, ones)).toDF("vec_id", "embedding"))
    val ebatch = Dedup.embeddingSignatures(
      Seq((10L, ones)).toDF("vec_id", "embedding"))
    assert(rows(Dedup.incrementalEmbeddingNearDupsFromSigs(ebatch, esigs,
      maxBucketSize = Some(9))).isEmpty)
    val ekept = rows(Dedup.incrementalEmbeddingNearDupsFromSigs(ebatch, esigs,
      maxBucketSize = Some(10)).orderBy("vec_a"))
    assert(ekept == (1L to 9L).map(i => Seq(i, 10L)))
  }

  test("graft_del1_keys: variant-count dedup and cross-string key equality") {
    val keys = Seq("abc", "ab", "aab", "").toDF("s")
      .selectExpr("s", "explode(graft_del1_keys(s)) AS h")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byS = keys.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byS("abc").size == 4)  // abc, bc, ac, ab
    assert(byS("ab").size == 3)   // ab, b, a
    assert(byS("aab").size == 3)  // aab, ab (adjacent-a dedup), aa
    assert(byS("") == Set(0L))
    // "abc" delete-c variant key == the standalone string "ab"'s own key
    assert(byS("abc").intersect(byS("ab")).nonEmpty)
    // no spurious sharing between unrelated strings
    assert(byS("abc").intersect(byS("")).isEmpty)
  }

  test("editDistancePairs matches the brute-force levenshtein join") {
    // repeated grams (9, 10) exercise the multiset occ numbering; (6, 7, 8)
    // are below the gram bound and must pair through the short pool; (4, 5)
    // is an exact duplicate; (1, 3) differ by one insertion
    val names = Seq(
      (1L, "red widget"), (2L, "red gadget"), (3L, "red widgets"),
      (4L, "blue bolt"), (5L, "blue bolt"), (6L, "ab"), (7L, "b"),
      (8L, "a"), (9L, "aaaa"), (10L, "aaab")).toDF("doc_id", "text")
    for (k <- Seq(0, 1, 2)) {
      val brute = rows(names.select(col("doc_id").as("a"), col("text").as("sa"))
        .crossJoin(names.select(col("doc_id").as("b"), col("text").as("sb")))
        .filter(col("a") < col("b"))
        .withColumn("dist", levenshtein(col("sa"), col("sb")).cast("long"))
        .filter(col("dist") <= k)
        .select(col("a"), col("b"), col("dist")).orderBy("a", "b"))
      val out = rows(Dedup.editDistancePairs(names, k = k)
        .orderBy("doc_a", "doc_b"))
      assert(out == brute, s"k=$k")
    }
  }

  test("dedupSegments: corpus-first occurrence wins, docs reassemble in order") {
    val docs = Seq(
      (1L, "a|b|c"),
      (2L, "b|d|a"),   // b and a already seen in doc 1
      (3L, "c|c"),     // both segments lost to doc 1 (and first-c beats second)
      (4L, "d|e"))     // d lost to doc 2
      .toDF("doc_id", "text")
    val out = rows(Dedup.dedupSegments(docs, sep = "|").orderBy("doc_id"))
    assert(out == Seq(
      Seq(1L, 3L, 3L, "a|b|c"),
      Seq(2L, 3L, 1L, "d"),
      Seq(3L, 2L, 0L, ""),
      Seq(4L, 2L, 1L, "e")))
    // within-doc duplicate: first position of the FIRST doc holds it
    val within = rows(Dedup.dedupSegments(
      Seq((7L, "x|x|y")).toDF("doc_id", "text"), sep = "|"))
    assert(within == Seq(Seq(7L, 3L, 2L, "x|y")))
  }

  test("dedupChunks: an edited near-copy keeps only its changed chunks") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    // doc 2 is doc 1 with one token prepended — the CDC payoff: every
    // chunk after the perturbed head is boundary-identical to doc 1's
    // and loses to it (fixed windows would re-cut and keep everything)
    val docs = Seq((1L, base), (2L, "x " + base)).toDF("doc_id", "text")
    val out = rows(Dedup.dedupChunks(docs, avgTokens = 2).orderBy("doc_id"))
    val Seq(d1, d2) = out
    // doc 1 keeps everything and reassembles exactly
    assert(d1(2) == d1(1) && d1(3) == base)
    // doc 2 keeps only the chunks the edit touched — strictly fewer than
    // half survive, and what survives starts with the prepended token
    val kept2 = d2(2).asInstanceOf[Long]
    assert(kept2 >= 1L && kept2 * 2 < d2(1).asInstanceOf[Long],
      s"doc2 kept $kept2 of ${d2(1)}")
    assert(d2(3).asInstanceOf[String].startsWith("x"))
  }

  test("duplicatedSpans: cross-doc windows count, within-doc repeats don't") {
    val docs = Seq(
      // doc 1: 10 tokens -> 3 windows of 8; the first ("a..h") also
      // appears in doc 2 -> 1 duplicated window
      (1L, "a b c d e f g h x y"),
      // doc 2: 9 tokens -> 2 windows; "a b c d e f g h" shared with doc 1
      (2L, "z a b c d e f g h"),
      // doc 3: shorter than the window -> zero windows, fraction 0.0
      (3L, "short text"),
      // doc 4: a window repeated WITHIN the doc but in no other doc ->
      // min(doc) = max(doc), not cross-doc duplication
      (4L, "p q r s t u v w p q r s t u v w"))
      .toDF("doc_id", "text")
    val out = rows(Dedup.duplicatedSpans(docs, w = 8).orderBy("doc_id"))
    assert(out == Seq(
      Seq(1L, 3L, 1L, 0.333333),
      Seq(2L, 2L, 1L, 0.5),
      Seq(3L, 0L, 0L, 0.0),
      Seq(4L, 9L, 0L, 0.0)))
  }

  test("removeDuplicatedSpans: the min-id owner keeps the span, later " +
      "holders drop exactly the covered positions, short docs pass " +
      "through") {
    val docs = Seq(
      // doc 1 owns the shared window "a..h" (lowest id) — unchanged
      (1L, "a b c d e f g h x y"),
      // doc 2 holds the same window at positions 2-9 -> those 8 tokens
      // go, the surrounding "z" and tail survive
      (2L, "z a b c d e f g h tail"),
      // doc 3: shorter than the window — no windows, untouched
      (3L, "short text"),
      // doc 4: within-doc repeat only — not cross-doc, keeps everything
      (4L, "p q r s t u v w p q r s t u v w"))
      .toDF("doc_id", "text")
    val out = rows(Dedup.removeDuplicatedSpans(docs, w = 8)
      .orderBy("doc_id"))
    assert(out == Seq(
      Seq(1L, 10L, 0L, "a b c d e f g h x y"),
      Seq(2L, 10L, 8L, "z tail"),
      Seq(3L, 2L, 0L, "short text"),
      Seq(4L, 16L, 0L, "p q r s t u v w p q r s t u v w")))
    // overlapping duplicated windows: doc 6 shares a 9-token run with
    // doc 5 -> two overlapping 8-windows whose position sets UNION (9
    // tokens removed, not 16)
    val overlap = Seq(
      (5L, "a b c d e f g h i"),
      (6L, "a b c d e f g h i k"))
      .toDF("doc_id", "text")
    val out2 = rows(Dedup.removeDuplicatedSpans(overlap, w = 8)
      .orderBy("doc_id"))
    assert(out2 == Seq(
      Seq(5L, 9L, 0L, "a b c d e f g h i"),
      Seq(6L, 10L, 9L, "k")))
  }

  test("duplicatedSpanRuns: scattered duplicated snippets vs one " +
      "contiguous block — max run discriminates, fraction cannot") {
    val docs = Seq(
      // doc 1 owns both 8-windows (lowest id)
      (1L, "a b c d e f g h SEP p q r s t u v w"),
      // doc 2: ONE contiguous copied block of 8 -> run 8
      (2L, "z a b c d e f g h tail"),
      // doc 3: TWO separated copied blocks of 8 -> 16 positions but
      // the max run is still 8
      (3L, "a b c d e f g h GAP1 GAP2 p q r s t u v w"),
      // doc 4: clean + short
      (4L, "short text"))
      .toDF("doc_id", "text")
    val out = rows(Dedup.duplicatedSpanRuns(docs, w = 8).orderBy("doc_id"))
    assert(out == Seq(
      Seq(1L, 17L, 0L, 0L),
      Seq(2L, 10L, 8L, 8L),
      Seq(3L, 18L, 16L, 8L),
      Seq(4L, 2L, 0L, 0L)))
  }

  test("removeRepeatedSpansWithinDoc: later in-doc repeats drop, the " +
      "first occurrence and cross-doc copies stay") {
    val docs = Seq(
      // doc 1: the 8-window "a..h" repeats at position 11 -> positions
      // 11-18 go, the separators and first copy stay
      (1L, "a b c d e f g h x y a b c d e f g h z"),
      // doc 2: same window once — within-doc dedup never touches it,
      // even though doc 1 also holds it (cross-doc is the other op)
      (2L, "a b c d e f g h tail"),
      // doc 3: shorter than the window — untouched
      (3L, "short text"))
      .toDF("doc_id", "text")
    val out = rows(Dedup.removeRepeatedSpansWithinDoc(docs, w = 8)
      .orderBy("doc_id"))
    assert(out == Seq(
      Seq(1L, 19L, 8L, "a b c d e f g h x y z"),
      Seq(2L, 9L, 0L, "a b c d e f g h tail"),
      Seq(3L, 2L, 0L, "short text")))
    // overlapping repeats union their positions: "a..i" repeated is two
    // overlapping 8-windows -> 9 positions removed, not 16
    val overlap = Seq((5L,
      "a b c d e f g h i SEP a b c d e f g h i")).toDF("doc_id", "text")
    val o2 = rows(Dedup.removeRepeatedSpansWithinDoc(overlap, w = 8))
    assert(o2 == Seq(Seq(5L, 19L, 9L, "a b c d e f g h i SEP")))
  }

  test("dedupSpansFull: intra collapse first, then cross ownership over " +
      "the COLLAPSED texts — seam windows created by the intra pass " +
      "participate in cross-doc ownership") {
    val docs = Seq(
      // doc 1: in-doc repeat of "a..h" -> intra removes 8, cleaned text
      // "a b c d e f g h x y z" (the seam makes "d e f g h x y z" a
      // window that never existed in the raw text)
      (1L, "a b c d e f g h x y a b c d e f g h z"),
      // doc 2: shares "a..h" with cleaned doc 1 -> cross drops 8
      (2L, "a b c d e f g h tail"),
      // doc 3: shorter than the window — untouched by both passes
      (3L, "short text"),
      // doc 4: shares the SEAM window "d e f g h x y z" with cleaned
      // doc 1 — plain removeDuplicatedSpans on raw texts would keep it
      // (the window doesn't exist raw); the composition removes it
      (4L, "d e f g h x y z p q"))
      .toDF("doc_id", "text")
    val out = rows(Dedup.dedupSpansFull(docs, w = 8).orderBy("doc_id"))
    assert(out == Seq(
      Seq(1L, 19L, 8L, 0L, "a b c d e f g h x y z"),
      Seq(2L, 9L, 0L, 8L, "tail"),
      Seq(3L, 2L, 0L, 0L, "short text"),
      Seq(4L, 10L, 0L, 8L, "p q")))
    // and the divergence claim itself: plain cross on the raw texts
    // leaves doc 4 intact
    val plain = rows(Dedup.removeDuplicatedSpans(docs, w = 8)
      .filter(col("doc_id") === 4L))
    assert(plain == Seq(Seq(4L, 10L, 0L, "d e f g h x y z p q")))
  }

  test("dedupSpansFull intra gate: gated == ungated on BOTH shapes — " +
      "the all-distinct skip is exact, and any internal repeat disables " +
      "the skip") {
    // shape A: zero intra-repeated windows anywhere -> the gate skips
    // the intra pass; output must still match the ungated composition
    // bit for bit (n_removed_intra all 0)
    val distinct = Seq(
      (1L, (1 to 20).map(i => s"a$i").mkString(" ")),
      (2L, ((1 to 8).map(i => s"a$i") ++ (1 to 12).map(i => s"b$i"))
        .mkString(" ")), // shares the first 8-window cross-doc only
      (3L, "short one")).toDF("doc_id", "text")
    val gatedA = rows(Dedup.dedupSpansFull(distinct, w = 8)
      .orderBy("doc_id"))
    val plainA = rows(Dedup.dedupSpansFull(distinct, w = 8,
      intraGate = false).orderBy("doc_id"))
    assert(gatedA == plainA)
    assert(gatedA.forall(_(2) == 0L), "intra removals must all be zero")
    assert(gatedA.exists(_(3).asInstanceOf[Long] > 0L),
      "cross removals must still happen under the gate")
    // shape B: the seam-window corpus (one doc has an internal repeat)
    // -> gate must NOT skip; identical output either way
    val seam = Seq(
      (1L, "a b c d e f g h x y a b c d e f g h z"),
      (2L, "a b c d e f g h tail"),
      (4L, "d e f g h x y z p q")).toDF("doc_id", "text")
    assert(rows(Dedup.dedupSpansFull(seam, w = 8).orderBy("doc_id")) ==
      rows(Dedup.dedupSpansFull(seam, w = 8, intraGate = false)
        .orderBy("doc_id")))
  }

  test("nearDupDedup: representatives keep their absorbed counts") {
    // docs 1-3 near-dup each other (shared shingles), 9 is a singleton
    val base = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, base), (2L, base + " eta"), (3L, base + " theta"),
      (9L, "one two three four five six"))
      .toDF("doc_id", "text")
    val out = rows(Dedup.nearDupDedup(docs).orderBy("keep_id"))
    assert(out == Seq(Seq(1L, 3L), Seq(9L, 1L)))
  }

  test("nearDupClusters: transitive chain collapses to one min-id cluster") {
    // a 4-deep chain: doc i near-dups only doc i±1 (Jaccard 0.6 between
    // neighbours, 0.33 for skips) — the cluster exists only through
    // transitivity and exercises the pointer-jumping rounds; doc 5 shares
    // nothing and stays a singleton
    val w = (1 to 16).map(i => s"tok$i")
    val docs = Seq(
      (1L, w.slice(0, 10).mkString(" ")),
      (2L, w.slice(2, 12).mkString(" ")),
      (3L, w.slice(4, 14).mkString(" ")),
      (4L, w.slice(6, 16).mkString(" ")),
      (5L, "completely different words here entirely"))
      .toDF("doc_id", "text")
    val out = rows(Dedup.nearDupClusters(docs).orderBy("doc_id"))
    assert(out == Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(4L, 1L), Seq(5L, 5L)))
  }

  test("ngramNovelty: unique shingles counted, shared ones not, empty zeros") {
    val docs = Seq(
      (1L, "a b c d"),        // shingles: abc bcd — bcd shared with doc 2
      (2L, "b c d e"),        // shingles: bcd cde — cde shared with doc 3
      (3L, "c d e"),          // single shingle cde, fully shared
      (4L, "x"))              // too short: no shingles
      .toDF("doc_id", "text")
    val out = rows(Dedup.ngramNovelty(docs).orderBy("doc_id"))
    assert(out == Seq(
      Seq(1L, 2L, 1L, 500L),   // abc novel, bcd shared
      Seq(2L, 2L, 0L, 0L),     // both shared
      Seq(3L, 1L, 0L, 0L),
      Seq(4L, 0L, 0L, 0L)))
  }

  test("sourceOverlap: pairwise shingle Jaccard incl. zero-overlap pairs") {
    // A and B share exactly one 3-gram ("c d e" via docs 2 and 3);
    // C shares nothing with either. Distinctness inside a source: doc 4
    // repeats doc 2's shingles — B's set must not double-count.
    val docs = Seq(
      (1L, "a b c d e", "A"),   // shingles: abc bcd cde
      (2L, "c d e f", "B"),     // shingles: cde def
      (3L, "c d e f", "B"),     // duplicate of doc 2 — no new shingles
      (4L, "x y z w", "C"))     // shingles: xyz yzw
      .toDF("doc_id", "text", "source")
    val out = rows(Dedup.sourceOverlap(docs)
      .orderBy("source_a", "source_b"))
    // (a, b, n_a, n_b, n_common, jaccard_micro)
    assert(out == Seq(
      Seq("A", "B", 3L, 2L, 1L, 250000L),  // 1 / (3 + 2 - 1) = 0.25
      Seq("A", "C", 3L, 2L, 0L, 0L),
      Seq("B", "C", 2L, 2L, 0L, 0L)))
  }
}
