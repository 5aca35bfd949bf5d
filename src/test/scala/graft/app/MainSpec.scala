package graft.app

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.rest.PageServer
import graft.tables.Tables

/** End-to-end CLI pipeline runs (SURVEY.md §7.1 minimum slice) over the
 * sf0.001 fixtures and JSON page files. */
class MainSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("parseArgs: subcommands, trimming, defaults, rejects unknown flags") {
    val c = Main.parseArgs(Seq("upsert", "--input", "/x", "--table", " t1 ",
      "--since", "2024-01-10", "--to", "2024-01-20 06:30:00"))
    assert(c.table == "t1" && c.staging == "t1_staging")
    assert(c.since.contains("2024-01-10 00:00:00"))
    assert(c.to.contains("2024-01-20 06:30:00"))
    intercept[IllegalArgumentException] {
      Main.parseArgs(Seq("load", "--input", "/x", "--nope", "y"))
    }
    intercept[IllegalArgumentException] { Main.parseArgs(Seq("fetch")) }
  }

  test("load path: fetch -> normalize -> sort -> overwrite table") {
    Tables.dropTable(spark, "app_load")
    val n = Main.run(spark, Main.Config(action = "load",
      input = s"$sf/events.parquet", table = "app_load", tsCol = "ts"))
    assert(n == 1000L)
    val out = spark.table("app_load")
    // normalized: user_id is long, everything else stringified
    assert(out.schema("user_id").dataType.typeName == "long")
    assert(out.schema("value").dataType.typeName == "string")
    Tables.dropTable(spark, "app_load")
  }

  test("load path honors --since/--to time range") {
    Tables.dropTable(spark, "app_range")
    val n = Main.run(spark, Main.Config(action = "load",
      input = s"$sf/events.parquet", table = "app_range", tsCol = "ts",
      since = Some("2024-01-10 00:00:00"), to = Some("2024-01-20 00:00:00")))
    assert(n == 361L) // matches the time_range oracle count at sf0.001
    Tables.dropTable(spark, "app_range")
  }

  test("abort-on-empty: no table is created, returns -1") {
    Tables.dropTable(spark, "app_empty")
    val n = Main.run(spark, Main.Config(action = "load",
      input = s"$sf/events.parquet", table = "app_empty", tsCol = "ts",
      since = Some("2030-01-01 00:00:00"), to = Some("2030-01-02 00:00:00")))
    assert(n == -1L)
    assert(!spark.catalog.tableExists("app_empty"))
  }

  test("load path with --partition-by-date lands a pruned dt layout") {
    Tables.dropTable(spark, "app_part")
    val n = Main.run(spark, Main.Config(action = "load",
      input = s"$sf/events.parquet", table = "app_part", tsCol = "ts",
      partitionByDate = true))
    assert(n == 1000L)
    val q = spark.table("app_part").filter(spark.table("app_part")("dt") === "2024-01-10")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("dt"))
    assert(q.count() > 0)
    // incremental re-load of one day replaces only that day's partition
    val n2 = Main.run(spark, Main.Config(action = "load",
      input = s"$sf/events.parquet", table = "app_part", tsCol = "ts",
      since = Some("2024-01-10 00:00:00"), to = Some("2024-01-11 00:00:00"),
      partitionByDate = true))
    assert(n2 == 1000L) // same data for that day -> total unchanged
    Tables.dropTable(spark, "app_part")
  }

  test("upsert path from JSON pages: staging created, merged, dropped") {
    Tables.dropTable(spark, "app_up")
    val dir = Files.createTempDirectory("app-pages")
    Files.writeString(dir.resolve("page-1.json"),
      """{"deals": [{"id": 1, "created_at": "2024-01-01 00:00:00", "v": "a"},
        |           {"id": 2, "created_at": "2024-01-02 00:00:00", "v": "b"}]}""".stripMargin)
    val url = s"file://$dir/page-{page}.json"
    val cfg = Main.Config(action = "upsert", input = url, table = "app_up",
      key = "id", staging = "app_up_stg")
    assert(Main.run(spark, cfg) == 2L)
    // second run with an updated page: id=2 updated, id=3 inserted.
    // The update path PRINTS its generated MERGE statement before the
    // merge (the reference prints merge_sql the same way,
    // omnichannel_to_bq.py:183) — pin the exact text from the staged
    // schema (normalized column order: created_at, id, v)
    Files.writeString(dir.resolve("page-1.json"),
      """{"deals": [{"id": 2, "created_at": "2024-01-02 00:00:00", "v": "B"},
        |           {"id": 3, "created_at": "2024-01-03 00:00:00", "v": "c"}]}""".stripMargin)
    val out = new java.io.ByteArrayOutputStream()
    val n = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Main.run(spark, cfg)
    }
    assert(n == 3L)
    assert(out.toString("UTF-8").contains(
      """MERGE `app_up` T
        |USING `app_up_stg` S
        |ON T.id = S.id
        |WHEN MATCHED THEN UPDATE SET created_at = S.created_at, v = S.v
        |WHEN NOT MATCHED THEN INSERT (created_at, id, v) VALUES (S.created_at, S.id, S.v)"""
        .stripMargin))
    // id is on the reference INT list -> normalized to LONG; v -> string
    assert(rows(spark.table("app_up").select("id", "v").orderBy("id")) ==
      Seq(Seq(1L, "a"), Seq(2L, "B"), Seq(3L, "c")))
    assert(!spark.catalog.tableExists("app_up_stg")) // staging cleaned up
    Tables.dropTable(spark, "app_up")
  }

  test("REST load and upsert request every page once") {
    def deal(i: Int): String = f"""{"id": $i%d, "v": "v$i%d", """ +
      f""""created_at": "2024-01-${1 + i % 28}%02d 00:00:00"}"""
    // 1,010 deals: two full pages of 500 and a short third page
    val server = new PageServer((page, _) =>
      ((page - 1) * 500 until math.min(page * 500, 1010)).map(deal))
    Seq("app_once", "app_once_staging").foreach(Tables.dropTable(spark, _))
    try {
      assert(Main.run(spark, Main.parseArgs(Seq("load",
        "--input", server.url(), "--table", "app_once"))) == 1010L)
      assert(server.distinctPages >= 3)
      assert(server.requests == server.distinctPages)
      server.reset()
      // upsert of a time range, with the bounds in the URL as well
      assert(Main.run(spark, Main.parseArgs(Seq("upsert",
        "--input", server.url("&since={since}&to={to}"),
        "--table", "app_once", "--key", "id",
        "--since", "2024-01-10", "--to", "2024-01-20"))) == 1010L)
      assert(server.distinctPages >= 3)
      assert(server.requests == server.distinctPages)
      assert(server.served.forall(
        _.get("since").contains("2024-01-10 00:00:00")))
      assert(!spark.catalog.tableExists("app_once_staging"))
    } finally {
      server.close()
      Tables.dropTable(spark, "app_once")
    }
  }

  test("a page that changes between reads cannot split schema from rows") {
    // page 1 answers with column a the first time, column b after that:
    // schema and rows must both come from the one landed read
    val server = new PageServer((page, hit) =>
      if (page != 1) Nil
      else if (hit == 1)
        Seq("""{"id": 1, "a": "x", "created_at": "2024-01-01 00:00:00"}""")
      else Seq("""{"id": 1, "b": "y", "created_at": "2024-01-01 00:00:00"}"""))
    Tables.dropTable(spark, "app_snap")
    try {
      assert(Main.run(spark, Main.Config(action = "load",
        input = server.url(), table = "app_snap")) == 1L)
      val out = spark.table("app_snap")
      assert(!out.columns.contains("b"), out.columns.toSeq)
      assert(rows(out.select("a")) == Seq(Seq("x")))
    } finally {
      server.close()
      Tables.dropTable(spark, "app_snap")
    }
  }

  test("upsert path recovers an interrupted swap before merging") {
    Seq("app_rec", "app_rec__swap_tmp", "app_rec__swap_backup",
      "app_rec_stg").foreach(Tables.dropTable(spark, _))
    val dir = Files.createTempDirectory("app-rec-pages")
    Files.writeString(dir.resolve("page-1.json"),
      """{"deals": [{"id": 2, "created_at": "2024-01-02 00:00:00", "v": "B"},
        |           {"id": 3, "created_at": "2024-01-03 00:00:00", "v": "c"}]}""".stripMargin)
    // crash state: a previous upsert renamed main aside and died — tmp
    // (the completed earlier merge) and backup both on disk, main gone
    import spark.implicits._
    Tables.loadOverwrite(Seq(("1", "a"), ("2", "b")).toDF("id", "v")
      .selectExpr("CAST(id AS BIGINT) AS id", "v"), "app_rec__swap_tmp")
    Tables.loadOverwrite(Seq(("1", "a")).toDF("id", "v")
      .selectExpr("CAST(id AS BIGINT) AS id", "v"), "app_rec__swap_backup")
    val cfg = Main.Config(action = "upsert",
      input = s"file://$dir/page-{page}.json", table = "app_rec",
      key = "id", staging = "app_rec_stg")
    // the run first rolls the swap forward (ids 1,2), then merges the
    // fetched page (2 updated, 3 inserted)
    assert(Main.run(spark, cfg) == 3L)
    assert(rows(spark.table("app_rec").select("id", "v").orderBy("id")) ==
      Seq(Seq(1L, "a"), Seq(2L, "B"), Seq(3L, "c")))
    assert(!spark.catalog.tableExists("app_rec__swap_tmp") &&
      !spark.catalog.tableExists("app_rec__swap_backup"))
    Tables.dropTable(spark, "app_rec")
  }

  test("verify-index subcommand: audits a live span index against a " +
      "corpus (clean -> 0); chunk kind and arg parsing work end to end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // build a real index with the sink, land the corpus as parquet
    val idx = Files.createTempDirectory("vixidx").toString
    val out = Files.createTempDirectory("vixout").toString
    val cp = Files.createTempDirectory("vixcp").toString
    val corpusDir = Files.createTempDirectory("vixcorpus").toString
    val docs = Seq(
      (1L, "a b c d e f g h extra tail tokens"),
      (2L, "a b c d e f g h different ending here"),
      (3L, "nothing shared with the others at all in this one"))
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(corpusDir)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.spanDedupSink(mem.toDF().toDF("doc_id", "text"),
      idx, out, cp, w = 8)
    try { mem.addData(docs: _*); q.processAllAvailable() } finally q.stop()
    // parse + run through the public CLI surface
    val c = Main.parseArgs(Seq("verify-index", "--index", idx,
      "--corpus", corpusDir, "--kind", "span", "--w", "8"))
    assert(c.kind == "span" && c.w == 8)
    assert(Main.verifyIndex(spark, c) == 0L)
    // chunk twin over its own sink-built index
    val cidx = Files.createTempDirectory("vixcidx").toString
    val cout = Files.createTempDirectory("vixcout").toString
    val ccp = Files.createTempDirectory("vixccp").toString
    val mem2 = MemoryStream[(Long, String)]
    val q2 = Streams.chunkDedupSink(mem2.toDF().toDF("doc_id", "text"),
      cidx, cout, ccp, avgTokens = 4)
    try { mem2.addData(docs: _*); q2.processAllAvailable() } finally q2.stop()
    assert(Main.verifyIndex(spark, Main.parseArgs(Seq("verify-index",
      "--index", cidx, "--corpus", corpusDir, "--kind", "chunk",
      "--avg-tokens", "4"))) == 0L)
    // usage errors stay loud
    intercept[IllegalArgumentException] {
      Main.parseArgs(Seq("verify-index", "--corpus", corpusDir))
    }
    intercept[IllegalArgumentException] {
      Main.parseArgs(Seq("verify-index", "--index", idx,
        "--corpus", corpusDir, "--kind", "bogus"))
    }
  }

  test("verify-index --kind ivf/pq: clean indexes audit to 0 residual " +
      "through the CLI, no --corpus needed, vec_id id-col default; a " +
      "hand-corrupted cell surfaces as a residual row") {
    import spark.implicits._
    import graft.operators.Similarity
    val corpus = (1L to 64L).map { i =>
      (i, Array(math.cos(i * 0.0982).toFloat, math.sin(i * 0.0982).toFloat))
    }.toSeq.toDF("vec_id", "embedding")
    val ivfBase = "vix_ivf"; val pqBase = "vix_pq"
    def drop(): Unit = Seq(s"${ivfBase}_cells", s"${ivfBase}_centroids",
      s"${pqBase}_pqcodes", s"${pqBase}_pqmeta")
      .foreach(graft.tables.Tables.dropTable(spark, _))
    drop()
    try {
      Similarity.writeIvfIndex(corpus, ivfBase, nlist = 4, dim = 2,
        targetRecall = Some(0.5), recallK = 3, recallSample = 16,
        maxNprobe = 4)
      Similarity.writePqIndex(corpus, pqBase, nlist = 4, m = 2,
        kcent = 8, dim = 2, residual = false)
      val cIvf = Main.parseArgs(Seq("verify-index", "--index", ivfBase,
        "--kind", "ivf"))
      assert(cIvf.idCol == "vec_id", "ivf audit defaults to vec_id")
      assert(Main.verifyIndex(spark, cIvf) == 0L)
      assert(Main.verifyIndex(spark, Main.parseArgs(Seq("verify-index",
        "--index", pqBase, "--kind", "pq"))) == 0L)
      // corrupt ONE stored cell out-of-band: the audit must surface it
      val cells = spark.table(s"${ivfBase}_cells")
      val corrupted = cells.withColumn("cell",
        org.apache.spark.sql.functions.when($"vec_id" === 7L,
          ($"cell" % 4 + 1).cast("int")).otherwise($"cell"))
      // materialize off the source table first: Spark refuses an
      // overwrite that reads from its own target
      val frozen = spark.createDataFrame(
        java.util.Arrays.asList(corrupted.collect(): _*), corrupted.schema)
      graft.tables.Tables.loadOverwrite(frozen, s"${ivfBase}_cells")
      assert(Main.verifyIndex(spark, cIvf) == 1L)
    } finally drop()
  }

  test("verify-index --recall-sample: replays a held-out recall probe " +
      "through the index's serving config (ivf self-contained, pq " +
      "needs --corpus), printing a measured recall; flag misuse " +
      "refuses at parse time") {
    import spark.implicits._
    import graft.operators.Similarity
    val corpus = (1L to 64L).map { i =>
      (i, Array(math.cos(i * 0.0982).toFloat, math.sin(i * 0.0982).toFloat))
    }.toSeq.toDF("vec_id", "embedding")
    val ivfBase = "vrx_ivf"; val pqBase = "vrx_pq"
    val corpusDir =
      java.nio.file.Files.createTempDirectory("vrxcorpus").toString
    corpus.write.mode("overwrite").parquet(corpusDir)
    def drop(): Unit = Seq(s"${ivfBase}_cells", s"${ivfBase}_centroids",
      s"${pqBase}_pqcodes", s"${pqBase}_pqmeta")
      .foreach(graft.tables.Tables.dropTable(spark, _))
    drop()
    try {
      Similarity.writeIvfIndex(corpus, ivfBase, nlist = 4, dim = 2,
        targetRecall = Some(0.5), recallK = 3, recallSample = 16,
        maxNprobe = 4)
      Similarity.writePqIndex(corpus, pqBase, nlist = 4, m = 2,
        kcent = 8, dim = 2, residual = false)
      // ivf: self-contained, probes at the calibrated nprobe
      val (rIvf, nIvf, modeIvf) = Similarity.measureIndexRecall(spark,
        ivfBase, "ivf", k = 3, sample = 8)
      assert(nIvf > 0 && rIvf > 0.0 && rIvf <= 1.0, s"($rIvf, $nIvf)")
      assert(modeIvf.startsWith("ivf(cal_nprobe="), modeIvf)
      // pq: uncalibrated index probes at the fallback, raw corpus given
      val (rPq, nPq, modePq) = Similarity.measureIndexRecall(spark,
        pqBase, "pq", Some(corpus), k = 3, sample = 8)
      assert(nPq > 0 && rPq > 0.0 && rPq <= 1.0, s"($rPq, $nPq)")
      assert(modePq.startsWith("pq-adc(default nprobe="), modePq)
      // CLI wiring end to end (residual count still governs the exit)
      assert(Main.verifyIndex(spark, Main.parseArgs(Seq("verify-index",
        "--index", ivfBase, "--kind", "ivf",
        "--recall-sample", "8", "--recall-k", "3"))) == 0L)
      assert(Main.verifyIndex(spark, Main.parseArgs(Seq("verify-index",
        "--index", pqBase, "--kind", "pq", "--corpus", corpusDir,
        "--recall-sample", "8", "--recall-k", "3"))) == 0L)
      // misuse refuses at parse time: pq recall without a corpus, and
      // recall flags on a span audit
      intercept[IllegalArgumentException] {
        Main.parseArgs(Seq("verify-index", "--index", pqBase,
          "--kind", "pq", "--recall-sample", "8"))
      }
      intercept[IllegalArgumentException] {
        Main.parseArgs(Seq("verify-index", "--index", "x",
          "--corpus", corpusDir, "--kind", "span",
          "--recall-sample", "8"))
      }
    } finally {
      drop()
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(corpusDir))
    }
  }
}
