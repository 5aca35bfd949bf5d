package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.SparkSpec
import graft.operators.{Dedup, TextAnalysis}

/**
 * Batch-equivalence laws for the streaming sinks: feeding a corpus
 * through the sink in ARBITRARY batch splits must leave the cumulative
 * sink output equal to the batch operator run once over the concatenated
 * input. This is the property that makes the streaming tier a cache of
 * the batch semantics rather than a second definition of them — the
 * spec tests drill specific crash/replay windows, the laws here sweep
 * random corpora and random split points.
 *
 * Each example runs real StreamingQuery lifecycles, so the example count
 * is kept low (the fixed splits still vary per example via the generated
 * corpus size).
 */
object StreamLaws extends Properties("graft.streams") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(4)

  private lazy val spark = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- embeddingNearDupSink --------------------------------------------

  private val Dim = 16
  private val vecGen: Gen[Array[Float]] =
    Gen.listOfN(Dim, Gen.chooseNum(-1.0f, 1.0f)).map(_.toArray)

  /** Corpora with planted near-dups: each vector is followed, with
   * probability ~1/2, by an exact clone under a later id (hamming 0 —
   * always inside the contract). */
  private val embCorpus: Gen[List[Array[Float]]] = for {
    base <- Gen.listOfN(4, vecGen)
    clones <- Gen.listOfN(4, Gen.oneOf(true, false))
  } yield base ++ base.zip(clones).collect { case (v, true) => v.clone() }

  property("embeddingNearDupSink cumulative pairs = all-pairs hamming " +
      "filter over the concatenated input, for any batch split") =
    forAll(embCorpus, Gen.chooseNum(1, 6)) { (vecs, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val docs = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      val cut = math.min(splitAt, docs.size - 1).max(1)
      val (b0, b1) = docs.splitAt(cut)
      val idx = Files.createTempDirectory("law-embidx").toString
      val pairsDir = Files.createTempDirectory("law-embpairs").toString
      val cp = Files.createTempDirectory("law-embcp").toString
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = Streams.embeddingNearDupSink(
        mem.toDF().toDF("vec_id", "embedding"), idx, pairsDir, cp, dim = Dim)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(pairsDir).select("vec_a", "vec_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch twin: sign everything once, exact all-pairs hamming join
      val all = docs.toDF("vec_id", "embedding")
      val sigs = Dedup.embeddingSignatures(all, dim = Dim)
      val a = sigs.select(col("vec_id").as("vec_a"), col("sig").as("sa"))
      val b = sigs.select(col("vec_id").as("vec_b"), col("sig").as("sb"))
      val want = a.crossJoin(b)
        .filter(col("vec_a") < col("vec_b"))
        .filter(expr("bit_count(sa ^ sb) <= 20"))
        .select("vec_a", "vec_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got == want
    }

  // ---- intakeSink ------------------------------------------------------

  private val longText = "the quick brown fox jumps over the lazy dog " +
    "again and again while the evening sun is setting over the quiet " +
    "river valley"
  private val otherText = "completely different words about spark query " +
    "engines at scale with plenty of additional tokens to pass the gate"
  private val docTextGen: Gen[String] = Gen.frequency(
    3 -> Gen.const(longText),
    2 -> Gen.const(longText + " with a small trailing edit"),
    3 -> Gen.const(otherText),
    2 -> Gen.const("tiny"))

  private val MinQ = 250000L

  property("intakeSink cumulative admissions = batch quality gate + " +
      "first-seen near-dup rule over the concatenated input") =
    forAll(Gen.listOfN(8, docTextGen), Gen.chooseNum(1, 7)) {
      (texts, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val cut = math.min(splitAt, docs.size - 1).max(1)
      val (b0, b1) = docs.splitAt(cut)
      val idx = Files.createTempDirectory("law-inidx").toString
      val outDir = Files.createTempDirectory("law-inout").toString
      val cp = Files.createTempDirectory("law-incp").toString
      val mem = MemoryStream[(Long, String)]
      val q = Streams.intakeSink(mem.toDF().toDF("doc_id", "text"),
        idx, outDir, cp, minQualityMicro = MinQ)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(outDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      // batch twin. The sink indexes every QUALITY-KEPT doc (admitted or
      // not), so the admission rule over the full corpus is: reject a
      // kept doc iff some SMALLER-id kept doc (admitted or rejected)
      // est-pairs with it — not just admitted ones.
      val all = docs.toDF("doc_id", "text")
      val kept = all.join(
        TextAnalysis.qualityScore(all)
          .select(col("doc_id"),
            expr("CAST(round(quality_score * 1000000) AS BIGINT)").as("qm"))
          .filter(col("qm") >= MinQ).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val sigs = Dedup.minhashSignatures(kept)
      val pairs = Dedup.incrementalNearDupsFromSigs(sigs, sigs.limit(0))
      val rejected = pairs.select(col("doc_b").as("doc_id")).distinct()
      val want = kept.join(rejected, Seq("doc_id"), "left_anti")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      got == want
    }

  // ---- anomalySink -----------------------------------------------------

  property("anomalySink verdicts on the days the last batch touched = " +
      "batch countAnomaly over the concatenated input, for any split") =
    forAll(
      Gen.listOfN(9, Gen.zip(
        Gen.frequency(4 -> Gen.const(3), 2 -> Gen.const(4), 1 -> Gen.const(9)),
        Gen.chooseNum(0, 2))),
      Gen.long, Gen.chooseNum(1, 40)) { (perDay, seed, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      // per-day (view, buy) counts expanded to events, shuffled so the
      // second batch re-opens days the first already counted
      val events = new scala.util.Random(seed).shuffle(
        perDay.zipWithIndex.flatMap { case ((nView, nBuy), i) =>
          val t = java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 12:00:00")
          Seq.fill(nView)((t, "view")) ++ Seq.fill(nBuy)((t, "buy"))
        })
      val cut = math.min(splitAt, events.size - 1).max(1)
      val (b0, b1) = events.splitAt(cut)
      val cnt = Files.createTempDirectory("law-ancnt").toString
      val outDir = Files.createTempDirectory("law-anout").toString
      val cp = Files.createTempDirectory("law-ancp").toString
      val mem = MemoryStream[(java.sql.Timestamp, String)]
      val q = Streams.anomalySink(mem.toDF().toDF("ts", "event_type"),
        cnt, outDir, cp)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val touched = b1.toDF("ts", "event_type")
        .select(to_date(col("ts")).as("day")).distinct()
      def rowsOf(df: org.apache.spark.sql.DataFrame) = df
        .join(touched, Seq("day"), "left_semi")
        .orderBy("day", "event_type").collect().toSeq.map(_.toSeq)
      val got = rowsOf(spark.read.parquet(s"$outDir/batch=1"))
      val want = rowsOf(graft.operators.Sessions.countAnomaly(
        events.toDF("ts", "event_type")))
      got.nonEmpty && got == want
    }

  // ---- driftSink -------------------------------------------------------

  property("driftSink final verdict = batch ksDrift over the concatenated " +
      "input, for any batch split") =
    forAll(Gen.listOfN(8, Gen.chooseNum(0L, 5L)),
      Gen.listOfN(6, Gen.chooseNum(0L, 5L)), Gen.chooseNum(1, 5)) {
      (refVals, streamVals, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val cut = math.min(splitAt, streamVals.size - 1).max(1)
      val (b0, b1) = streamVals.splitAt(cut)
      val ref = Files.createTempDirectory("law-dref").toString + "/c"
      val cnt = Files.createTempDirectory("law-dcnt").toString
      val outDir = Files.createTempDirectory("law-dout").toString
      val cp = Files.createTempDirectory("law-dcp").toString
      val refDf = refVals.toDF("value")
      graft.operators.Curation.valueCounts(refDf, "value").write.parquet(ref)
      val mem = MemoryStream[Long]
      val q = Streams.driftSink(mem.toDF().toDF("value"), ref, cnt, outDir,
        cp)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$outDir/batch=1").collect().head.toSeq
      val want = graft.operators.Curation.ksDrift(refDf,
        streamVals.toDF("value"), "value").collect().head.toSeq
      got == want
    }

  property("driftByGroupSink final verdicts = batch ksDriftByGroup over " +
      "the concatenated input, for any batch split") =
    forAll(
      Gen.listOfN(10, Gen.zip(Gen.oneOf("a", "b"), Gen.chooseNum(0L, 5L))),
      Gen.listOfN(8, Gen.zip(Gen.oneOf("a", "b"), Gen.chooseNum(0L, 5L))),
      Gen.chooseNum(1, 7)) { (refRows, streamRows, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val cut = math.min(splitAt, streamRows.size - 1).max(1)
      val (b0, b1) = streamRows.splitAt(cut)
      val ref = Files.createTempDirectory("law-gdref").toString + "/c"
      val cnt = Files.createTempDirectory("law-gdcnt").toString
      val outDir = Files.createTempDirectory("law-gdout").toString
      val cp = Files.createTempDirectory("law-gdcp").toString
      val refDf = refRows.toDF("source", "value")
      graft.operators.Curation.valueCountsByGroup(refDf, "value", "source")
        .write.parquet(ref)
      val mem = MemoryStream[(String, Long)]
      val q = Streams.driftByGroupSink(mem.toDF().toDF("source", "value"),
        ref, cnt, outDir, cp)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$outDir/batch=1")
        .orderBy("source").collect().toSeq.map(_.toSeq)
      val want = graft.operators.Curation.ksDriftByGroup(refDf,
        streamRows.toDF("source", "value"), "value", "source")
        .orderBy("source").collect().toSeq.map(_.toSeq)
      got == want
    }

  property("sampleSink final sample = batch hashSample over the " +
      "concatenated input, for any batch split") =
    forAll(Gen.chooseNum(4, 20), Gen.chooseNum(1, 19)) { (nIds, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val rowsIn = (0L until nIds.toLong).map(i => (i, s"doc$i"))
      val cut = math.min(splitAt, rowsIn.size - 1).max(1)
      val (b0, b1) = rowsIn.splitAt(cut)
      val partials = Files.createTempDirectory("law-smp").toString
      val outDir = Files.createTempDirectory("law-smo").toString
      val cp = Files.createTempDirectory("law-smcp").toString
      val mem = MemoryStream[(Long, String)]
      val q = Streams.sampleSink(mem.toDF().toDF("doc_id", "text"),
        partials, outDir, cp, "doc_id", k = 5)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$outDir/batch=1")
        .orderBy("doc_id").collect().toSeq.map(_.toSeq)
      val want = graft.operators.Relational.hashSample(
          rowsIn.toDF("doc_id", "text"), "doc_id", 5)
        .orderBy("doc_id").collect().toSeq.map(_.toSeq)
      got == want
    }

  property("trendSink final audit = batch groupedTrend over the " +
      "concatenated input, for any batch split") =
    forAll(Gen.listOfN(8, Gen.zip(Gen.oneOf("a", "b"),
      Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(-9L, 9L)))),
      Gen.chooseNum(1, 7)) { (rowsIn0, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val rowsIn = rowsIn0.map { case (g, (x, y)) => (g, x, y) }
      val cut = math.min(splitAt, rowsIn.size - 1).max(1)
      val (b0, b1) = rowsIn.splitAt(cut)
      val partials = Files.createTempDirectory("law-trp").toString
      val outDir = Files.createTempDirectory("law-tro").toString
      val cp = Files.createTempDirectory("law-trcp").toString
      val mem = MemoryStream[(String, Long, Long)]
      val q = Streams.trendSink(mem.toDF().toDF("g", "x", "y"),
        partials, outDir, cp, "g", "x", "y")
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$outDir/batch=1")
        .orderBy("g").collect().toSeq.map(_.toSeq)
      val want = graft.operators.Relational.groupedTrend(
          rowsIn.toDF("g", "x", "y"), "g", "x", "y")
        .orderBy("g").collect().toSeq.map(_.toSeq)
      got == want
    }

  property("latenessSink final audit = batch latenessAudit over the " +
      "concatenated input, for any batch split") =
    forAll(Gen.listOfN(8, Gen.zip(Gen.oneOf("a", "b"),
      Gen.chooseNum(0L, 100000L))), Gen.chooseNum(1, 7)) {
      (rowsIn0, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val rowsIn = rowsIn0.map { case (g, us) =>
        (g, new java.sql.Timestamp(1700000000000L + us))
      }
      val cut = math.min(splitAt, rowsIn.size - 1).max(1)
      val (b0, b1) = rowsIn.splitAt(cut)
      val partials = Files.createTempDirectory("law-latp").toString
      val outDir = Files.createTempDirectory("law-lato").toString
      val cp = Files.createTempDirectory("law-latcp").toString
      val mem = MemoryStream[(String, java.sql.Timestamp)]
      val q = Streams.latenessSink(mem.toDF().toDF("event_type", "ts"),
        partials, outDir, cp)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$outDir/batch=1")
        .orderBy("event_type").collect().toSeq.map(_.toSeq)
      val want = graft.operators.Sessions.latenessAudit(
          rowsIn.toDF("event_type", "ts"))
        .orderBy("event_type").collect().toSeq.map(_.toSeq)
      got == want
    }

  property("constraintSink final audit = batch constraintAudit over the " +
      "concatenated input, for any batch split") =
    forAll(Gen.listOfN(9, Gen.chooseNum(-5L, 5L)), Gen.chooseNum(1, 8)) {
      (vals, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val cs = Seq("nonneg" -> "v >= 0", "small" -> "v < 3")
      val cut = math.min(splitAt, vals.size - 1).max(1)
      val (b0, b1) = vals.splitAt(cut)
      val partials = Files.createTempDirectory("law-conp").toString
      val outDir = Files.createTempDirectory("law-cono").toString
      val cp = Files.createTempDirectory("law-concp").toString
      val mem = MemoryStream[Long]
      val q = Streams.constraintSink(mem.toDF().toDF("v"),
        partials, outDir, cp, cs)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$outDir/batch=1")
        .orderBy("constraint").collect().toSeq.map(_.toSeq)
      val want = graft.operators.Relational.constraintAudit(
          vals.toDF("v"), cs)
        .orderBy("constraint").collect().toSeq.map(_.toSeq)
      got == want
    }

  property("mixDriftSink final verdict = batch chi2Drift over the " +
      "concatenated input, for any batch split") =
    forAll(Gen.listOfN(8, Gen.oneOf("x", "y", "z")),
      Gen.listOfN(6, Gen.oneOf("x", "y", "w")), Gen.chooseNum(1, 5)) {
      (refVals, streamVals, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val cut = math.min(splitAt, streamVals.size - 1).max(1)
      val (b0, b1) = streamVals.splitAt(cut)
      val ref = Files.createTempDirectory("law-mref").toString + "/c"
      val cnt = Files.createTempDirectory("law-mcnt").toString
      val outDir = Files.createTempDirectory("law-mout").toString
      val cp = Files.createTempDirectory("law-mcp").toString
      val refDf = refVals.toDF("lang")
      graft.operators.Curation.catCounts(refDf, "lang").write.parquet(ref)
      val mem = MemoryStream[String]
      val q = Streams.mixDriftSink(mem.toDF().toDF("lang"), ref, cnt,
        outDir, cp)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$outDir/batch=1").collect().head.toSeq
      val want = graft.operators.Curation.chi2Drift(refDf,
        streamVals.toDF("lang"), "lang").collect().head.toSeq
      got == want
    }

  property("rollupSink served table = one-shot aggPartials over the " +
      "concatenated input, for any batch split") =
    forAll(
      Gen.listOfN(10, Gen.zip(Gen.oneOf("a", "b", "c"),
        Gen.chooseNum(-5L, 5L))),
      Gen.chooseNum(1, 9)) { (rowsIn, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val cut = math.min(splitAt, rowsIn.size - 1).max(1)
      val (b0, b1) = rowsIn.splitAt(cut)
      val partials = Files.createTempDirectory("law-rollp").toString
      val cp = Files.createTempDirectory("law-rollcp").toString
      Seq("law_rollup", "law_rollup__swap_tmp", "law_rollup__swap_backup")
        .foreach(graft.tables.Tables.dropTable(spark, _))
      val mem = MemoryStream[(String, Long)]
      val q = Streams.rollupSink(mem.toDF().toDF("k", "v"), "law_rollup",
        partials, cp, Seq("k"), Seq("v"))
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("law_rollup")
        .selectExpr("k", "CAST(n AS BIGINT) AS n",
          "CAST(sum_v AS BIGINT) AS sum_v")
        .orderBy("k").collect().toSeq.map(_.toSeq)
      val want = graft.tables.Tables.aggPartials(rowsIn.toDF("k", "v"),
          Seq("k"), Seq("v"))
        .selectExpr("k", "CAST(n AS BIGINT) AS n",
          "CAST(sum_v AS BIGINT) AS sum_v")
        .orderBy("k").collect().toSeq.map(_.toSeq)
      Seq("law_rollup", "law_rollup__swap_tmp", "law_rollup__swap_backup")
        .foreach(graft.tables.Tables.dropTable(spark, _))
      got == want
    }

  property("encodingAuditSink cumulative audit = batch encodingAudit " +
      "over the concatenated input, for any batch split") =
    forAll(
      Gen.listOfN(9, Gen.zip(Gen.oneOf("a", "b"),
        Gen.oneOf("plain ascii", "café touché", "broken � here",
          "ctrl\u0001char", "tab\tand\nnewline"))),
      Gen.chooseNum(1, 8)) { (docsRaw, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val docs = docsRaw.zipWithIndex.map { case ((src, text), i) =>
        (i.toLong, src, text) }
      val cut = math.min(splitAt, docs.size - 1).max(1)
      val (b0, b1) = docs.splitAt(cut)
      val parts = Files.createTempDirectory("law-encp").toString
      val outDir = Files.createTempDirectory("law-enco").toString
      val cp = Files.createTempDirectory("law-enccp").toString
      val mem = MemoryStream[(Long, String, String)]
      val q = Streams.encodingAuditSink(
        mem.toDF().toDF("doc_id", "source", "text"), parts, outDir, cp)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$outDir/batch=1")
        .orderBy("source").collect().toSeq.map(_.toSeq)
      val want = graft.operators.TextAnalysis.encodingAudit(
        docs.toDF("doc_id", "source", "text"))
        .orderBy("source").collect().toSeq.map(_.toSeq)
      got == want
    }

  property("budgetSelectSink latest pick = batch budgetSelect over " +
      "everything seen, for any batch split (late evictions included)") =
    forAll(
      Gen.listOfN(10, Gen.zip(Gen.oneOf("a", "b"),
        Gen.chooseNum(0L, 100L), Gen.chooseNum(1L, 9L))),
      Gen.chooseNum(1, 9)) { (rowsRaw, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val docs = rowsRaw.zipWithIndex.map { case ((g, sc, c), i) =>
        (i.toLong, g, sc, c) }
      val cut = math.min(splitAt, docs.size - 1).max(1)
      val (b0, b1) = docs.splitAt(cut)
      // run the sink BOTH ways: preThin threads through to the
      // per-batch recompute (round 17) and must not change any batch's
      // output for any split — the batch-level preThin = plain law
      // lifted to the sink
      def run(thin: Boolean) = {
        val parts = Files.createTempDirectory("law-bsp").toString
        val outDir = Files.createTempDirectory("law-bso").toString
        val cp = Files.createTempDirectory("law-bscp").toString
        val mem = MemoryStream[(Long, String, Long, Long)]
        val q = Streams.budgetSelectSink(
          mem.toDF().toDF("doc_id", "grp", "score", "cost"),
          parts, outDir, cp, "grp", "score", "cost", budget = 12L,
          preThin = thin)
        try {
          mem.addData(b0: _*)
          q.processAllAvailable()
          mem.addData(b1: _*)
          q.processAllAvailable()
        } finally q.stop()
        spark.read.parquet(s"$outDir/batch=1")
          .orderBy("grp", "pick_rank").collect().toSeq.map(_.toSeq)
      }
      val got = run(false)
      val want = graft.operators.Curation.budgetSelect(
          docs.toDF("doc_id", "grp", "score", "cost"),
          "grp", "score", "cost", budget = 12L)
        .select("grp", "doc_id", "score", "cost", "pick_rank", "cum_cost")
        .orderBy("grp", "pick_rank").collect().toSeq.map(_.toSeq)
      got == want && run(true) == want
    }

  property("spanDedupSink union of batch outputs = batch " +
      "removeDuplicatedSpans over the concatenated corpus, for any " +
      "batch split (monotone ids)") =
    forAll(
      Gen.listOfN(6, Gen.listOfN(7, Gen.oneOf("a", "b", "c"))),
      Gen.chooseNum(1, 5), Gen.chooseNum(2, 4)) { (docToks, splitAt, w) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val docs = docToks.zipWithIndex.map { case (ts, i) =>
        (i.toLong, ts.mkString(" ")) }
      val cut = math.min(splitAt, docs.size - 1).max(1)
      val (b0, b1) = docs.splitAt(cut)
      val idx = Files.createTempDirectory("law-spidx").toString
      val outDir = Files.createTempDirectory("law-spout").toString
      val cp = Files.createTempDirectory("law-spcp").toString
      val mem = MemoryStream[(Long, String)]
      val q = Streams.spanDedupSink(mem.toDF().toDF("doc_id", "text"),
        idx, outDir, cp, w = w)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(outDir)
        .select("doc_id", "n_tokens", "n_removed", "clean_text")
        .orderBy("doc_id").collect().toSeq.map(_.toSeq)
      val want = Dedup.removeDuplicatedSpans(
          docs.toDF("doc_id", "text"), w = w)
        .orderBy("doc_id").collect().toSeq.map(_.toSeq)
      got == want
    }

  property("privacyAuditSink cumulative verdict = the three batch " +
      "privacy audits over the concatenated input, for any batch split") =
    forAll(
      Gen.listOfN(12, Gen.zip(Gen.oneOf("a", "b", "c"),
        Gen.oneOf("x", "y", "z"))),
      Gen.chooseNum(1, 11)) { (rowsIn, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val cut = math.min(splitAt, rowsIn.size - 1).max(1)
      val (b0, b1) = rowsIn.splitAt(cut)
      val parts = Files.createTempDirectory("law-privp").toString
      val outDir = Files.createTempDirectory("law-privo").toString
      val cp = Files.createTempDirectory("law-privcp").toString
      val mem = MemoryStream[(String, String)]
      val q = Streams.privacyAuditSink(mem.toDF().toDF("qt", "s"),
        parts, outDir, cp, Seq("qt"), "s", k = 3L, l = 2L,
        tMicro = 250000L)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$outDir/batch=1")
        .collect().head.toSeq
      val df = rowsIn.toDF("qt", "s")
      import graft.operators.Curation
      val ka = Curation.kAnonymityAudit(df, Seq("qt"), 3L).collect().head
      val ld = Curation.lDiversityAudit(df, Seq("qt"), "s", 2L)
        .collect().head
      val tc = Curation.tClosenessAudit(df, Seq("qt"), "s", 250000L)
        .collect().head
      got == Seq(ka.get(0), ka.get(1), ka.get(2), ka.get(3),
        ld.get(2), ld.get(3), tc.get(2), tc.get(3), tc.get(5))
    }

  property("cardSink cumulative card = datasetCardSketch over the " +
      "concatenated corpus (shared fields), for any batch split") =
    forAll(
      Gen.listOfN(10, Gen.zip(Gen.oneOf("en", "fr"),
        Gen.listOfN(5, Gen.oneOf("alpha", "beta", "gamma", "delta",
          "epsilon", "zeta", "eta", "theta")))),
      Gen.chooseNum(1, 9)) { (docsRaw, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val k = 8 // small k so the ESTIMATE branch (not below-k exact) runs
      val docs = docsRaw.zipWithIndex.map { case ((lang, toks), i) =>
        (i.toLong, toks.mkString(" "), lang) }
      val cut = math.min(splitAt, docs.size - 1).max(1)
      val (b0, b1) = docs.splitAt(cut)
      val parts = Files.createTempDirectory("law-cardp").toString
      val cards = Files.createTempDirectory("law-cardc").toString
      val cp = Files.createTempDirectory("law-cardcp").toString
      val mem = MemoryStream[(Long, String, String)]
      val q = Streams.cardSink(mem.toDF().toDF("doc_id", "text", "lang"),
        parts, cards, cp, k = k)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$cards/batch=1")
        .select("n_docs", "n_tokens", "vocab_estimate", "lang_counts")
        .collect().head.toSeq
      val all = docs.toDF("doc_id", "text", "lang")
      val want = graft.operators.Curation.datasetCardSketch(all, k = k)
        .select("n_docs", "n_tokens", "vocab_estimate", "lang_counts")
        .collect().head.toSeq
      // distinct-texts estimate = one-shot KMV over the text hashes
      val gotTexts = spark.read.parquet(s"$cards/batch=1")
        .select("distinct_texts_estimate").collect().head.getDouble(0)
      val kmv = graft.functions.KmvSketch.udaf(k)
      val wantTexts = all
        .select(graft.functions.TextFns.polyHash("text").as("h"))
        .agg(kmv(col("h"))).collect().head.getDouble(0)
      got == want && gotTexts == wantTexts
    }

  // ---- ivfIngestSink ---------------------------------------------------

  property("ivfIngestSink + tiered search = one-shot index over the " +
      "concatenated corpus, for any batch split") =
    forAll(Gen.listOfN(12, vecGen), Gen.chooseNum(1, 11)) {
      (extra, splitAt) =>
      import graft.operators.Similarity
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      // ids 0..3 form the initial corpus (and the nlist=4 seed set, so
      // the one-shot full rebuild derives the SAME centroids); the rest
      // stream in two batches at an arbitrary split
      val base = (0 until 4).map(i => (i.toLong, Seq.fill(Dim)(0.0f)
        .updated(i % Dim, 1.0f)))
      val docs = extra.zipWithIndex.map { case (v, i) =>
        ((i + 4).toLong, v.toSeq) }
      val cut = math.min(splitAt, docs.size - 1).max(1)
      val (b0, b1) = docs.splitAt(cut)
      Seq("lawivf", "lawivf_full").foreach(b =>
        Seq("_cells", "_centroids").foreach(sfx =>
          graft.tables.Tables.dropTable(spark, b + sfx)))
      Similarity.writeIvfIndex(base.toDF("vec_id", "embedding"), "lawivf",
        nlist = 4, dim = Dim, numBuckets = 2)
      val delta = Files.createTempDirectory("law-ivfd").toString
      val cp = Files.createTempDirectory("law-ivfc").toString
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = Streams.ivfIngestSink(mem.toDF().toDF("vec_id", "embedding"),
        "lawivf", delta, cp)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val all = (base ++ docs).toDF("vec_id", "embedding")
      Similarity.writeIvfIndex(all, "lawivf_full", nlist = 4, dim = Dim,
        numBuckets = 2)
      val queries = all.filter(col("vec_id") < 2)
      val got = Similarity.ivfTopKTiered(queries, "lawivf", delta,
        k = 5, nprobe = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = Similarity.ivfTopKAgainstIndex(queries, "lawivf_full",
        k = 5, nprobe = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      Seq("lawivf", "lawivf_full").foreach(b =>
        Seq("_cells", "_centroids").foreach(sfx =>
          graft.tables.Tables.dropTable(spark, b + sfx)))
      got == want
    }

  // ---- scd2EnrichSink ----------------------------------------------------

  property("scd2EnrichSink cumulative output = batch scd2Lookup over the " +
      "concatenated facts, for any batch split") =
    forAll(
      Gen.listOfN(10, Gen.zip(Gen.chooseNum(1L, 6L), Gen.chooseNum(0, 3))),
      Gen.chooseNum(1, 9)) { (factSpecs, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      import graft.tables.Tables
      def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
      // dimension: 4 keys versioned at 01-01, two re-versioned at 01-03;
      // probes straddle pre-history, both epochs, and unknown keys 5/6
      Seq("law_scd_dim", "law_scd_dim__swap_tmp", "law_scd_dim__swap_backup")
        .foreach(Tables.dropTable(spark, _))
      Tables.loadScd2(
        Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v"),
        "law_scd_dim", ts("2030-01-01T00:00:00Z"))
      Tables.upsertScd2(spark, Seq((2L, "B"), (3L, "C")).toDF("id", "v"),
        "law_scd_dim", "id", ts("2030-01-03T00:00:00Z"))
      val probes = Vector("2029-12-31T12:00:00Z", "2030-01-01T12:00:00Z",
        "2030-01-02T12:00:00Z", "2030-01-03T12:00:00Z").map(ts)
      val facts = factSpecs.map { case (k, d) => (k, probes(d)) }
      val cut = math.min(splitAt, facts.size - 1).max(1)
      val (b0, b1) = facts.splitAt(cut)
      val outDir = Files.createTempDirectory("law-scdeout").toString
      val cp = Files.createTempDirectory("law-scdecp").toString
      val mem = MemoryStream[(Long, java.sql.Timestamp)]
      val q = Streams.scd2EnrichSink(mem.toDF().toDF("id", "pts"),
        "law_scd_dim", outDir, cp, "id", "pts")
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.option("basePath", outDir).parquet(outDir)
        .drop("batch").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          String.valueOf(r.getString(2))))
        .sorted.toSeq
      val want = Tables.scd2Lookup(spark, facts.toDF("id", "pts"),
        "law_scd_dim", "id", "pts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          String.valueOf(r.getString(2))))
        .sorted.toSeq
      Seq("law_scd_dim").foreach(Tables.dropTable(spark, _))
      got == want
    }

  // ---- pqIngestSink ------------------------------------------------------

  property("pqIngestSink + tiered ADC search = one-shot PQ index over the " +
      "concatenated corpus, for any batch split") =
    forAll(Gen.listOfN(12, vecGen), Gen.chooseNum(1, 11)) {
      (extra, splitAt) =>
      import graft.operators.Similarity
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      // ids 0..3 are both the nlist=4 centroid seeds AND the kcent=4
      // codebook seeds, so the one-shot full rebuild derives the SAME
      // frozen meta as the streamed index
      val base = (0 until 4).map(i => (i.toLong, Seq.fill(Dim)(0.0f)
        .updated(i % Dim, 1.0f)))
      val docs = extra.zipWithIndex.map { case (v, i) =>
        ((i + 4).toLong, v.toSeq) }
      val cut = math.min(splitAt, docs.size - 1).max(1)
      val (b0, b1) = docs.splitAt(cut)
      Seq("lawpq", "lawpq_full").foreach(b =>
        Seq("_pqcodes", "_pqmeta").foreach(sfx =>
          graft.tables.Tables.dropTable(spark, b + sfx)))
      Similarity.writePqIndex(base.toDF("vec_id", "embedding"), "lawpq",
        nlist = 4, m = 4, kcent = 4, dim = Dim, numBuckets = 2,
        residual = false)
      val delta = Files.createTempDirectory("law-pqd").toString
      val cp = Files.createTempDirectory("law-pqc").toString
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = Streams.pqIngestSink(mem.toDF().toDF("vec_id", "embedding"),
        "lawpq", delta, cp, dim = Dim)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val all = (base ++ docs).toDF("vec_id", "embedding")
      Similarity.writePqIndex(all, "lawpq_full", nlist = 4, m = 4,
        kcent = 4, dim = Dim, numBuckets = 2, residual = false)
      val queries = all.filter(col("vec_id") < 2)
      val got = Similarity.ivfPqTopKTiered(queries, "lawpq", delta,
        k = 5, nprobe = 2, dim = Dim).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // fold the delta and re-query: the compacted index answers
      // identically (fold-invariance), and the tree is pruned
      Streams.compactPqDelta(spark, delta, "lawpq", numBuckets = 2)
      val folded = Similarity.ivfPqTopKIndexed(queries, "lawpq",
        k = 5, nprobe = 2, dim = Dim).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = Similarity.ivfPqTopKIndexed(queries, "lawpq_full",
        k = 5, nprobe = 2, dim = Dim).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      Seq("lawpq", "lawpq_full").foreach(b =>
        Seq("_pqcodes", "_pqmeta").foreach(sfx =>
          graft.tables.Tables.dropTable(spark, b + sfx)))
      got == want && folded == want
    }

  // ---- dsirSink ----------------------------------------------------------

  property("dsirSink cumulative LLR table = batch dsirLlrFromCounts over " +
      "the concatenated corpora, for any batch split") =
    forAll(
      Gen.listOfN(10, Gen.zip(Gen.oneOf("raw", "target"),
        Gen.listOfN(3, Gen.oneOf("alpha", "beta", "gamma", "delta")))),
      Gen.chooseNum(1, 9)) { (docs, splitAt) =>
      import graft.operators.Curation
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val rows0 = docs.map { case (c, ws) => (c, ws.mkString(" ")) }
      val cut = math.min(splitAt, rows0.size - 1).max(1)
      val (b0, b1) = rows0.splitAt(cut)
      val partials = Files.createTempDirectory("law-dsirp").toString
      val llrDir = Files.createTempDirectory("law-dsirl").toString
      val cp = Files.createTempDirectory("law-dsirc").toString
      val B = 32
      val mem = MemoryStream[(String, String)]
      val q = Streams.dsirSink(mem.toDF().toDF("corpus", "text"),
        partials, llrDir, cp, buckets = B)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val allDf = rows0.toDF("corpus", "text")
      val want = Curation.dsirLlrFromCounts(
        Curation.dsirBucketCounts(allDf.filter(col("corpus") === "raw"), B),
        Curation.dsirBucketCounts(
          allDf.filter(col("corpus") === "target"), B), B)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      val got = spark.read.parquet(s"$llrDir/batch=1")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      got == want && want.size == B
    }

  property("chunkDedupSink union of batch outputs = batch dedupChunks " +
      "over the concatenated corpus, for any batch split (monotone ids)") =
    forAll(
      Gen.listOfN(5, Gen.listOfN(8, Gen.oneOf("a", "b", "c"))),
      Gen.chooseNum(1, 4)) { (docToks, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val docs = docToks.zipWithIndex.map { case (ts, i) =>
        (i.toLong, ts.mkString(" ")) }
      val cut = math.min(splitAt, docs.size - 1).max(1)
      val (b0, b1) = docs.splitAt(cut)
      val idx = Files.createTempDirectory("law-ckidx").toString
      val outDir = Files.createTempDirectory("law-ckout").toString
      val cp = Files.createTempDirectory("law-ckcp").toString
      val mem = MemoryStream[(Long, String)]
      val q = Streams.chunkDedupSink(mem.toDF().toDF("doc_id", "text"),
        idx, outDir, cp, avgTokens = 4)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(outDir)
        .select("doc_id", "n_chunks", "n_kept", "text_kept")
        .orderBy("doc_id").collect().toSeq.map(_.toSeq)
      val want = Dedup.dedupChunks(docs.toDF("doc_id", "text"),
          avgTokens = 4)
        .orderBy("doc_id").collect().toSeq.map(_.toSeq)
      got == want
    }

  property("rankingEvalSink cumulative verdict = batch rankingEval over " +
      "the concatenated top-k rows, for any batch split") =
    forAll(
      Gen.chooseNum(1, 3), Gen.chooseNum(2, 4),
      Gen.listOfN(3, Gen.zip(Gen.pick(4, 1 to 6), Gen.pick(4, 1 to 6))),
      Gen.chooseNum(1, 20)) { (nq, k, perms, splitAt) =>
      import graft.operators.Similarity
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val rowsIn = (1 to nq).flatMap { q =>
        val (tp, cp0) = perms(q - 1)
        tp.take(k).zipWithIndex.map { case (n, i) =>
          ("truth", q.toLong, n.toLong * 10 + q, (i + 1).toLong) } ++
        cp0.take(k).zipWithIndex.map { case (n, i) =>
          ("candidate", q.toLong, n.toLong * 10 + q, (i + 1).toLong) }
      }
      val cut = math.min(splitAt, rowsIn.size - 1).max(1)
      val (b0, b1) = rowsIn.splitAt(cut)
      val partials = Files.createTempDirectory("law-rep").toString
      val evalDir = Files.createTempDirectory("law-ree").toString
      val cp = Files.createTempDirectory("law-rec").toString
      val mem = MemoryStream[(String, Long, Long, Long)]
      val q = Streams.rankingEvalSink(
        mem.toDF().toDF("side", "query_id", "neighbor_id", "rank"),
        partials, evalDir, cp, k = k)
      try {
        mem.addData(b0: _*)
        q.processAllAvailable()
        mem.addData(b1: _*)
        q.processAllAvailable()
      } finally q.stop()
      val allDf = rowsIn.toDF("side", "query_id", "neighbor_id", "rank")
      val want = Similarity.rankingEval(
          allDf.filter(col("side") === "truth").drop("side"),
          allDf.filter(col("side") === "candidate").drop("side"), k)
        .orderBy("query_id").collect().toSeq.map(_.toSeq)
      val got = spark.read.parquet(s"$evalDir/batch=1")
        .orderBy("query_id").collect().toSeq.map(_.toSeq)
      got == want
    }

  property("rankingEvalSink + compactIndex(identity) mid-stream: the " +
      "cumulative verdict is unchanged, and a replayed folded batch id " +
      "refuses to re-contribute") =
    forAll(
      Gen.chooseNum(1, 3), Gen.chooseNum(2, 4),
      Gen.listOfN(3, Gen.zip(Gen.pick(4, 1 to 6), Gen.pick(4, 1 to 6))),
      Gen.chooseNum(1, 20)) { (nq, k, perms, splitAt) =>
      import graft.operators.Similarity
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val rowsIn = (1 to nq).flatMap { q =>
        val (tp, cp0) = perms(q - 1)
        tp.take(k).zipWithIndex.map { case (n, i) =>
          ("truth", q.toLong, n.toLong * 10 + q, (i + 1).toLong) } ++
        cp0.take(k).zipWithIndex.map { case (n, i) =>
          ("candidate", q.toLong, n.toLong * 10 + q, (i + 1).toLong) }
      }
      val cut = math.min(splitAt, rowsIn.size - 1).max(1)
      val (b0, b1) = rowsIn.splitAt(cut)
      val partials = Files.createTempDirectory("law-repc").toString
      val evalDir = Files.createTempDirectory("law-reec").toString
      val cp = Files.createTempDirectory("law-recc").toString
      val mem = MemoryStream[(String, Long, Long, Long)]
      def start() = Streams.rankingEvalSink(
        mem.toDF().toDF("side", "query_id", "neighbor_id", "rank"),
        partials, evalDir, cp, k = k)
      val q = start()
      try { mem.addData(b0: _*); q.processAllAvailable() }
      finally q.stop()
      // quiesced small-file fold (rows are facts, not sums: identity)
      Streams.compactIndex(spark, partials)(identity)
      val q2 = start()
      try { mem.addData(b1: _*); q2.processAllAvailable() }
      finally q2.stop()
      val allDf = rowsIn.toDF("side", "query_id", "neighbor_id", "rank")
      val want = Similarity.rankingEval(
          allDf.filter(col("side") === "truth").drop("side"),
          allDf.filter(col("side") === "candidate").drop("side"), k)
        .orderBy("query_id").collect().toSeq.map(_.toSeq)
      val got = spark.read.parquet(s"$evalDir/batch=1")
        .orderBy("query_id").collect().toSeq.map(_.toSeq)
      // replayed folded batch: a FRESH checkpoint re-delivers b0 as
      // batch 0 <= the fold watermark — the guard must skip it (its rows
      // are already inside batch=-1; re-landing them doubles the fold)
      def dirs() = new java.io.File(partials).listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
      val before = dirs()
      val cp2 = Files.createTempDirectory("law-recc2").toString
      val mem2 = MemoryStream[(String, Long, Long, Long)]
      val q3 = Streams.rankingEvalSink(
        mem2.toDF().toDF("side", "query_id", "neighbor_id", "rank"),
        partials, evalDir, cp2, k = k)
      try { mem2.addData(b0: _*); q3.processAllAvailable() }
      finally q3.stop()
      got == want && before == Set("batch=-1", "batch=1") &&
        dirs() == before
    }

  // ---- counter-partials compaction -------------------------------------

  property("dsirSink + compactCounterPartials mid-stream = batch " +
      "dsirLlrFromCounts over the concatenated corpora (fold after " +
      "compaction reads batch=-1 + new batches only)") =
    forAll(
      Gen.listOfN(10, Gen.zip(Gen.oneOf("raw", "target"),
        Gen.listOfN(3, Gen.oneOf("alpha", "beta", "gamma", "delta")))),
      Gen.chooseNum(1, 9)) { (docs, splitAt) =>
      import graft.operators.Curation
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val rows0 = docs.map { case (c, ws) => (c, ws.mkString(" ")) }
      val cut = math.min(splitAt, rows0.size - 1).max(1)
      val (b0, b1) = rows0.splitAt(cut)
      val partials = Files.createTempDirectory("law-dsircp").toString
      val llrDir = Files.createTempDirectory("law-dsircl").toString
      val cp = Files.createTempDirectory("law-dsircc").toString
      val B = 32
      val mem = MemoryStream[(String, String)]
      def start() = Streams.dsirSink(mem.toDF().toDF("corpus", "text"),
        partials, llrDir, cp, buckets = B)
      val q = start()
      try { mem.addData(b0: _*); q.processAllAvailable() }
      finally q.stop()
      // quiesced fold: the whole tree moves into batch=-1 and the
      // per-batch dirs prune
      Streams.compactCounterPartials(spark, partials,
        keyCols = Seq("corpus", "b"), sumCols = Seq("n"))
      val onlyCompacted = new java.io.File(partials).listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
      val q2 = start()
      try { mem.addData(b1: _*); q2.processAllAvailable() }
      finally q2.stop()
      val allDf = rows0.toDF("corpus", "text")
      val want = Curation.dsirLlrFromCounts(
        Curation.dsirBucketCounts(allDf.filter(col("corpus") === "raw"), B),
        Curation.dsirBucketCounts(
          allDf.filter(col("corpus") === "target"), B), B)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      val got = spark.read.parquet(s"$llrDir/batch=1")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      got == want && onlyCompacted == Seq("batch=-1")
    }

  property("privacyAuditSink + compactCounterPartials mid-stream = the " +
      "three batch privacy audits over the concatenated input") =
    forAll(
      Gen.listOfN(12, Gen.zip(Gen.oneOf("a", "b", "c"),
        Gen.oneOf("x", "y", "z"))),
      Gen.chooseNum(1, 11)) { (rowsIn, splitAt) =>
      import graft.operators.Curation
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val cut = math.min(splitAt, rowsIn.size - 1).max(1)
      val (b0, b1) = rowsIn.splitAt(cut)
      val partials = Files.createTempDirectory("law-pvcp").toString
      val auditDir = Files.createTempDirectory("law-pvca").toString
      val cp = Files.createTempDirectory("law-pvcc").toString
      val mem = MemoryStream[(String, String)]
      def start() = Streams.privacyAuditSink(mem.toDF().toDF("q", "s"),
        partials, auditDir, cp, Seq("q"), "s", k = 3L, l = 2L,
        tMicro = 300000L)
      val q = start()
      try { mem.addData(b0: _*); q.processAllAvailable() }
      finally q.stop()
      Streams.compactCounterPartials(spark, partials,
        keyCols = Seq("q", "s"), sumCols = Seq("n"))
      val q2 = start()
      try { mem.addData(b1: _*); q2.processAllAvailable() }
      finally q2.stop()
      val allDf = rowsIn.toDF("q", "s")
      val want = Curation.privacyAuditFromCounts(
        allDf.groupBy(col("q"), col("s")).agg(count(lit(1)).as("n")),
        Seq("q"), "s", "n", 3L, 2L, 300000L)
        .collect().head.toSeq
      val got = spark.read.parquet(s"$auditDir/batch=1")
        .collect().head.toSeq
      got == want
    }

  property("encodingAuditSink + compactCounterPartials mid-stream: the " +
      "cumulative audit equals batch encodingAudit, and a replayed folded " +
      "batch id refuses to re-contribute") =
    forAll(
      Gen.listOfN(9, Gen.zip(Gen.oneOf("a", "b"),
        Gen.oneOf("plain ascii", "café touché", "broken � here",
          "ctrl\u0001char"))),
      Gen.chooseNum(1, 8)) { (docsRaw, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val docs = docsRaw.zipWithIndex.map { case ((src, text), i) =>
        (i.toLong, src, text) }
      val cut = math.min(splitAt, docs.size - 1).max(1)
      val (b0, b1) = docs.splitAt(cut)
      val partials = Files.createTempDirectory("law-eacp").toString
      val auditDir = Files.createTempDirectory("law-eaca").toString
      val cp = Files.createTempDirectory("law-eacc").toString
      def start(m: MemoryStream[(Long, String, String)], c: String) =
        Streams.encodingAuditSink(m.toDF().toDF("doc_id", "source", "text"),
          partials, auditDir, c)
      val mem = MemoryStream[(Long, String, String)]
      val q = start(mem, cp)
      try { mem.addData(b0: _*); q.processAllAvailable() }
      finally q.stop()
      Streams.compactCounterPartials(spark, partials,
        keyCols = Seq("source"),
        sumCols = Seq("n_docs", "n_chars", "non_ascii_docs",
          "non_ascii_chars", "replacement_chars", "control_chars"))
      val q2 = start(mem, cp)
      try { mem.addData(b1: _*); q2.processAllAvailable() }
      finally q2.stop()
      val want = graft.operators.TextAnalysis.encodingAudit(
        docs.toDF("doc_id", "source", "text"))
        .orderBy("source").collect().toSeq.map(_.toSeq)
      val got = spark.read.parquet(s"$auditDir/batch=1")
        .orderBy("source").collect().toSeq.map(_.toSeq)
      // a FRESH checkpoint re-delivers b0 as batch 0 <= the fold
      // watermark: its counts are already inside batch=-1, so landing
      // them again would double every counter
      def dirs() = new java.io.File(partials).listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
      val mem2 = MemoryStream[(Long, String, String)]
      val q3 = start(mem2, Files.createTempDirectory("law-eacc2").toString)
      try { mem2.addData(b0: _*); q3.processAllAvailable() }
      finally q3.stop()
      got == want && dirs() == Set("batch=-1", "batch=1")
    }

  property("budgetSelectSink + compactBudgetSelectPartials: pruned " +
      "(decision-prefix) state still yields the batch budgetSelect " +
      "pick, and state is budget-bounded after the fold") =
    forAll(
      Gen.listOfN(10, Gen.zip(Gen.oneOf("g1", "g2"),
        Gen.chooseNum(1, 100), Gen.chooseNum(1L, 8L))),
      Gen.chooseNum(1, 9)) { (rowsIn0, splitAt) =>
      import graft.operators.Curation
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      // unique ids + scores derived from them (deterministic order)
      val rowsIn = rowsIn0.zipWithIndex.map { case ((g, sc, c), i) =>
        (g, i.toLong, sc.toDouble, c) }
      val cut = math.min(splitAt, rowsIn.size - 1).max(1)
      val (b0, b1) = rowsIn.splitAt(cut)
      val partials = Files.createTempDirectory("law-bscp").toString
      val outDir = Files.createTempDirectory("law-bsco").toString
      val cp = Files.createTempDirectory("law-bscc").toString
      val budget = 12L
      val mem = MemoryStream[(String, Long, Double, Long)]
      def start() = Streams.budgetSelectSink(
        mem.toDF().toDF("grp", "doc_id", "score", "cost"),
        partials, outDir, cp, "grp", "score", "cost", budget)
      val q = start()
      try { mem.addData(b0: _*); q.processAllAvailable() }
      finally q.stop()
      Streams.compactBudgetSelectPartials(spark, partials,
        "grp", "score", "cost", budget)
      // state pin: after the fold, persisted rows = the decision
      // prefix — the kept set plus AT MOST one crossing row per group
      // (the crossing row must stay: its cost seals every later row's
      // prefix; see compactBudgetSelectPartials)
      val keptAfterB0 = Curation.budgetSelect(
        b0.toDF("grp", "doc_id", "score", "cost"),
        "grp", "score", "cost", budget).count()
      val nGroups = b0.map(_._1).distinct.size
      val stateRows = spark.read.option("basePath", partials)
        .parquet(partials).count()
      val q2 = start()
      try { mem.addData(b1: _*); q2.processAllAvailable() }
      finally q2.stop()
      val want = Curation.budgetSelect(
          rowsIn.toDF("grp", "doc_id", "score", "cost"),
          "grp", "score", "cost", budget)
        .select("grp", "doc_id", "score", "cost", "pick_rank", "cum_cost")
        .orderBy("grp", "pick_rank").collect().toSeq.map(_.toSeq)
      val got = spark.read.parquet(s"$outDir/batch=1")
        .select("grp", "doc_id", "score", "cost", "pick_rank", "cum_cost")
        .orderBy("grp", "pick_rank").collect().toSeq.map(_.toSeq)
      got == want && stateRows >= keptAfterB0 &&
        stateRows <= keptAfterB0 + nGroups
    }

  property("cardSink + compactCardPartials mid-stream = " +
      "datasetCardSketch over the concatenated corpus (KMV legs keep " +
      "only the global k-min)") =
    forAll(
      Gen.listOfN(8, Gen.zip(Gen.oneOf("en", "de"),
        Gen.listOfN(4, Gen.oneOf("tok1", "tok2", "tok3", "tok4", "tok5")))),
      Gen.chooseNum(1, 7)) { (docs, splitAt) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val rows0 = docs.zipWithIndex.map { case ((lang, ws), i) =>
        (i.toLong, lang, ws.mkString(" ")) }
      val cut = math.min(splitAt, rows0.size - 1).max(1)
      val (b0, b1) = rows0.splitAt(cut)
      val partials = Files.createTempDirectory("law-cdcp").toString
      val cardDir = Files.createTempDirectory("law-cdcc").toString
      val cp = Files.createTempDirectory("law-cdck").toString
      val K = 16
      val mem = MemoryStream[(Long, String, String)]
      def start() = Streams.cardSink(
        mem.toDF().toDF("doc_id", "lang", "text"),
        partials, cardDir, cp, k = K)
      val q = start()
      try { mem.addData(b0: _*); q.processAllAvailable() }
      finally q.stop()
      Streams.compactCardPartials(spark, partials, k = K)
      val q2 = start()
      try { mem.addData(b1: _*); q2.processAllAvailable() }
      finally q2.stop()
      val all = rows0.toDF("doc_id", "lang", "text")
      val want = graft.operators.Curation.datasetCardSketch(all, k = K)
        .select("n_docs", "n_tokens", "vocab_estimate", "lang_counts")
        .collect().head.toSeq
      val got = spark.read.parquet(s"$cardDir/batch=1")
        .select("n_docs", "n_tokens", "vocab_estimate", "lang_counts")
        .collect().head.toSeq
      val gotTexts = spark.read.parquet(s"$cardDir/batch=1")
        .select("distinct_texts_estimate").collect().head.getDouble(0)
      val kmv = graft.functions.KmvSketch.udaf(K)
      val wantTexts = all
        .select(graft.functions.TextFns.polyHash("text").as("h"))
        .agg(kmv(col("h"))).collect().head.getDouble(0)
      got == want && gotTexts == wantTexts
    }
}
