package graft.tables

import graft.SparkSpec

class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("loadOverwrite + listTables + tableSchema + dropTable round-trip") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Tables.loadOverwrite(df, "t_round")
    assert(Tables.listTables(spark).contains("t_round"))
    assert(Tables.tableSchema(spark, "t_round").fieldNames.toSeq == Seq("id", "v"))
    assert(spark.table("t_round").count() == 2)
    // overwrite replaces, not appends
    Tables.loadOverwrite(df, "t_round")
    assert(spark.table("t_round").count() == 2)
    assert(Tables.dropTable(spark, "t_round"))
    assert(!Tables.dropTable(spark, "t_round")) // second drop: did not exist
  }

  test("upsertIntoTable merges staging and returns post-merge count") {
    Tables.dropTable(spark, "t_up")
    val main = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Tables.loadOverwrite(main, "t_up")
    val staging = Seq((2L, "B"), (3L, "c")).toDF("id", "v")
    assert(Tables.upsertIntoTable(spark, staging, "t_up", "id") == 3L)
    assert(rows(spark.table("t_up").orderBy("id")) ==
      Seq(Seq(1L, "a"), Seq(2L, "B"), Seq(3L, "c")))
    Tables.dropTable(spark, "t_up")
  }

  test("recoverSwap restores every crash window of the upsert rename swap") {
    // Simulate the swap protocol's states by driving the same DDL the
    // protocol runs, crashing at each window, then exercising the
    // documented recovery. Merged state: id 1 kept, id 2 updated, 3 new.
    val mergedRows = Seq(Seq(1L, "a"), Seq(2L, "B"), Seq(3L, "c"))
    val origRows = Seq(Seq(1L, "a"), Seq(2L, "b"))
    def reset(): Unit = {
      Seq("t_cr", "t_cr__swap_tmp", "t_cr__swap_backup")
        .foreach(Tables.dropTable(spark, _))
      Tables.loadOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t_cr")
      Tables.loadOverwrite(
        Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("id", "v"),
        "t_cr__swap_tmp")
    }
    // window 1: crash BETWEEN the renames — main gone, tmp + backup on
    // disk. Recovery rolls FORWARD to the complete merged result.
    reset()
    spark.sql("ALTER TABLE t_cr RENAME TO t_cr__swap_backup")
    assert(Tables.recoverSwap(spark, "t_cr"))
    assert(rows(spark.table("t_cr").orderBy("id")) == mergedRows)
    assert(!spark.catalog.tableExists("t_cr__swap_tmp") &&
      !spark.catalog.tableExists("t_cr__swap_backup"))
    // window 2: tmp never committed, crash after the first rename — only
    // backup remains. Recovery rolls BACK to the original.
    reset()
    spark.sql("ALTER TABLE t_cr RENAME TO t_cr__swap_backup")
    Tables.dropTable(spark, "t_cr__swap_tmp")
    assert(Tables.recoverSwap(spark, "t_cr"))
    assert(rows(spark.table("t_cr").orderBy("id")) == origRows)
    // window 3: crash after the swap completed but before the backup
    // drop — main is authoritative, leftovers must go.
    reset()
    spark.sql("ALTER TABLE t_cr RENAME TO t_cr__swap_backup")
    spark.sql("ALTER TABLE t_cr__swap_tmp RENAME TO t_cr")
    assert(Tables.recoverSwap(spark, "t_cr"))
    assert(rows(spark.table("t_cr").orderBy("id")) == mergedRows)
    assert(!spark.catalog.tableExists("t_cr__swap_backup"))
    // clean state: no-op, and a follow-up upsert runs normally
    assert(!Tables.recoverSwap(spark, "t_cr"))
    assert(Tables.upsertIntoTable(spark,
      Seq((4L, "d")).toDF("id", "v"), "t_cr", "id") == 4L)
    Tables.dropTable(spark, "t_cr")
  }

  test("upsertIntoTable creates the table when main is absent") {
    Tables.dropTable(spark, "t_new")
    val staging = Seq((7L, "x")).toDF("id", "v")
    assert(Tables.upsertIntoTable(spark, staging, "t_new", "id") == 1L)
    Tables.dropTable(spark, "t_new")
  }

  test("bucketed tables join without a shuffle exchange") {
    Tables.dropTable(spark, "b_left"); Tables.dropTable(spark, "b_right")
    val l = (1L to 100L).map(i => (i, s"l$i")).toDF("id", "lv")
    val r = (1L to 100L).map(i => (i, s"r$i")).toDF("id", "rv")
    Tables.loadBucketed(l, "b_left", "id", 4)
    Tables.loadBucketed(r, "b_right", "id", 4)
    // disable broadcast so the planner actually uses the bucketed layout
    // (tiny test tables would otherwise broadcast and skip bucketing)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_left").join(spark.table("b_right"), "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 100)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    Tables.dropTable(spark, "b_left"); Tables.dropTable(spark, "b_right")
  }

  test("loadPartitioned: dynamic overwrite replaces only present partitions; scans prune") {
    Tables.dropTable(spark, "t_part")
    val day1 = Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0))
    val day2 = Seq((3L, "2024-01-02", 30.0))
    Tables.loadPartitioned((day1 ++ day2).toDF("id", "dt", "v"), "t_part", "dt")
    assert(spark.table("t_part").count() == 3)
    // rewrite ONLY day2 with different rows; day1 must survive untouched
    Tables.loadPartitioned(
      Seq((9L, "2024-01-02", 99.0)).toDF("id", "dt", "v"), "t_part", "dt")
    val after = rows(spark.table("t_part").orderBy("id").select("id"))
    assert(after.flatten == Seq(1L, 2L, 9L))
    // partition pruning: a dt filter must reach PartitionFilters, and the
    // scan must read only the one matching partition directory
    val q = spark.table("t_part").filter($"dt" === "2024-01-01")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("dt"),
      s"no partition filter in scan:\n$scan")
    assert(q.count() == 2)
    Tables.dropTable(spark, "t_part")
  }

  test("compactTable shrinks file count, preserves data, can sort-cluster") {
    val t = "compact_me"
    Tables.loadOverwrite(
      (1L to 200L).toDF("id").repartition(37), t)
    assert(spark.table(t).inputFiles.length == 37)
    val (before, after) = Tables.compactTable(spark, t, targetFiles = 3)
    assert(before == 37 && after == 3)
    assert(rows(spark.table(t).orderBy("id")).map(_(0)) == (1L to 200L))
    // sorted compaction: each output file holds a contiguous id range
    Tables.compactTable(spark, t, targetFiles = 2, sortCol = Some("id"))
    val byFile = spark.table(t)
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.input_file_name().as("f"))
      .collect().groupBy(_.getString(1)).values.map(_.map(_.getLong(0)).sorted)
    assert(byFile.size == 2)
    val ranges = byFile.map(ids => (ids.head, ids.last)).toSeq.sortBy(_._1)
    assert(ranges(0)._2 < ranges(1)._1, s"files overlap: $ranges")
    Tables.dropTable(spark, t)
  }

  test("zorderCompact clusters file min-max stats on BOTH columns") {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val t = "zorder_me"
    // a 64x64 grid: x and y are independent dimensions
    val grid = (0 until 4096).map(i =>
      (i.toLong, (i % 64).toLong, (i / 64).toLong)).toDF("id", "x", "y")
    Tables.loadOverwrite(grid.repartition(8), t)

    // baseline: single-column sort clusters x perfectly, y not at all
    Tables.compactTable(spark, t, targetFiles = 16, sortCol = Some("x"))
    def spans(): Seq[(Long, Long)] = spark.table(t)
      .groupBy(input_file_name())
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val sorted = spans()
    assert(sorted.map(_._2).max == 63L, "x-sort leaves y unclustered")

    Tables.zorderCompact(spark, t, Seq("x", "y"), targetFiles = 16)
    val z = spans()
    // a contiguous z-range's bounding box is bounded in BOTH dims —
    // every file must beat the full 0..63 span on x AND y
    assert(z.size >= 12, s"want ~16 files, got ${z.size}")
    assert(z.forall { case (sx, sy) => sx < 48 && sy < 48 },
      s"unclustered file spans: $z")
    // data intact
    assert(spark.table(t).count() == 4096L)
    assert(rows(spark.table(t).orderBy("id").select("id")).map(_(0)) ==
      (0L until 4096L))
    Tables.dropTable(spark, t)
  }

  test("hilbertCompact clusters file min-max stats on BOTH columns") {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val t = "hilbert_me"
    val grid = (0 until 4096).map(i =>
      (i.toLong, (i % 64).toLong, (i / 64).toLong)).toDF("id", "x", "y")
    Tables.loadOverwrite(grid.repartition(8), t)
    Tables.hilbertCompact(spark, t, "x", "y", targetFiles = 16)
    val spans = spark.table(t)
      .groupBy(input_file_name())
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // a contiguous Hilbert range is a connected region — every file's
    // bounding box must beat the full 0..63 span on x AND y
    assert(spans.size >= 12, s"want ~16 files, got ${spans.size}")
    assert(spans.forall { case (sx, sy) => sx < 48 && sy < 48 },
      s"unclustered file spans: $spans")
    // data intact
    assert(spark.table(t).count() == 4096L)
    assert(rows(spark.table(t).orderBy("id").select("id")).map(_(0)) ==
      (0L until 4096L))
    Tables.dropTable(spark, t)
  }

  test("compactTable keeps partition layout and caps files per partition") {
    val t = "compact_part"
    Tables.loadPartitioned(
      (1L to 120L).map(i => (i, s"d${i % 3}")).toDF("id", "day")
        .repartition(10), t, "day")
    assert(spark.table(t).inputFiles.length > 6)
    val (_, after) = Tables.compactTable(spark, t, targetFiles = 2)
    assert(after <= 6) // <= 2 files x 3 day-partitions
    // layout survived: still partitioned by day, pruning still works
    import scala.jdk.CollectionConverters._
    assert(spark.catalog.listColumns(t).collectAsList().asScala
      .filter(_.isPartition).map(_.name) == Seq("day"))
    val pruned = spark.table(t)
      .filter(org.apache.spark.sql.functions.col("day") === "d1")
    assert(pruned.inputFiles.length <= 2)
    assert(pruned.count() == 40L)
    assert(spark.table(t).count() == 120L)
    Tables.dropTable(spark, t)
  }

  test("upsertIntoTable on a partitioned main keeps layout and merges") {
    val t = "upsert_part"
    Tables.loadPartitioned(
      Seq((1L, "a", "d0"), (2L, "b", "d0"), (3L, "c", "d1"))
        .toDF("id", "v", "day"), t, "day")
    // update id 2, insert id 4 into a NEW partition
    val n = Tables.upsertIntoTable(spark,
      Seq((2L, "B", "d0"), (4L, "d", "d2")).toDF("id", "v", "day"), t, "id")
    assert(n == 4L)
    assert(rows(spark.table(t).orderBy("id").select("id", "v", "day")) ==
      Seq(Seq(1L, "a", "d0"), Seq(2L, "B", "d0"),
        Seq(3L, "c", "d1"), Seq(4L, "d", "d2")))
    import scala.jdk.CollectionConverters._
    assert(spark.catalog.listColumns(t).collectAsList().asScala
      .filter(_.isPartition).map(_.name) == Seq("day"))
    assert(spark.table(t)
      .filter(org.apache.spark.sql.functions.col("day") === "d2")
      .count() == 1L)
    Tables.dropTable(spark, t)
  }

  test("upsertIntoTable drops a partition its only key moved away from") {
    val t = "upsert_vacate"
    Tables.loadPartitioned(
      Seq((1L, "a", "d0"), (2L, "b", "d1")).toDF("id", "v", "day"), t, "day")
    // key 2 changes its partition value d1 -> d2; d1 held nothing else,
    // so dynamic overwrite alone would leave the stale (2, b, d1) copy
    // behind and the key would exist in two partitions
    val n = Tables.upsertIntoTable(spark,
      Seq((2L, "B", "d2")).toDF("id", "v", "day"), t, "id")
    assert(n == 2L)
    assert(rows(spark.table(t).orderBy("id").select("id", "v", "day")) ==
      Seq(Seq(1L, "a", "d0"), Seq(2L, "B", "d2")))
    assert(spark.table(t)
      .filter(org.apache.spark.sql.functions.col("day") === "d1")
      .count() == 0L)
    Tables.dropTable(spark, t)
  }

  /** A main partitioned by (p1, p2) with key 1 in the p1 = null (Hive
   * default) partition: the two-column touched tuples go through the
   * same partitioned replace as one column, whose vacated-partition
   * drop must address the null partition, not a literal 'null' value. */
  private def twoColumnMain(t: String): Unit = {
    Tables.dropTable(spark, t)
    Seq((1L, "a", None: Option[String], "x"), (2L, "b", Some("p"), "y"))
      .toDF("id", "v", "p1", "p2")
      .write.format("parquet").partitionBy("p1", "p2").saveAsTable(t)
  }

  test("upsertIntoTable on a two-column partitioned main vacates a null partition") {
    val t = "upsert_vacate_2col"
    twoColumnMain(t)
    val n = Tables.upsertIntoTable(spark,
      Seq((1L, "A", "q", "x")).toDF("id", "v", "p1", "p2"), t, "id")
    assert(n == 2L)
    assert(rows(spark.table(t).orderBy("id").select("id", "v", "p1", "p2")) ==
      Seq(Seq(1L, "A", "q", "x"), Seq(2L, "b", "p", "y")))
    assert(spark.table(t)
      .filter(org.apache.spark.sql.functions.col("p1").isNull).count() == 0L)
    Tables.dropTable(spark, t)
  }

  test("deleteKeys on a two-column partitioned main drops a null partition") {
    val t = "delete_vacate_2col"
    twoColumnMain(t)
    assert(Tables.deleteKeys(spark, Seq(1L).toDF("id"), t, "id") == 1L)
    assert(rows(spark.table(t).select("id", "v", "p1", "p2")) ==
      Seq(Seq(2L, "b", "p", "y")))
    Tables.dropTable(spark, t)
  }

  test("upsertIntoTable rejects duplicate staging keys") {
    Tables.dropTable(spark, "t_dup")
    Tables.loadOverwrite(Seq((1L, "a")).toDF("id", "v"), "t_dup")
    val dup = Seq((1L, "x"), (1L, "y")).toDF("id", "v")
    intercept[IllegalArgumentException] {
      Tables.upsertIntoTable(spark, dup, "t_dup", "id")
    }
    // main table untouched by the failed upsert
    assert(rows(spark.table("t_dup")) == Seq(Seq(1L, "a")))
    Tables.dropTable(spark, "t_dup")
  }

  test("recoverSwap restores the compaction rename-swap crash windows") {
    // compactTable on an unpartitioned table runs the same writeSwapped
    // protocol as the upsert; drill its crash windows with COMPACTION
    // state: tmp = the compacted rewrite (same rows, fewer files).
    val data = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
    val want = data.map { case (i, v) => Seq(i, v) }
    def reset(): Unit = {
      Seq("t_cc", "t_cc__swap_tmp", "t_cc__swap_backup")
        .foreach(Tables.dropTable(spark, _))
      // main written wide (one file per row-ish); tmp = 1-shard rewrite
      Tables.loadOverwrite(data.toDF("id", "v").repartition(4), "t_cc")
      Tables.loadOverwrite(data.toDF("id", "v").repartition(1),
        "t_cc__swap_tmp")
    }
    // window 1: crash between the renames — roll FORWARD to the compacted
    // rewrite (same rows, 1 file)
    reset()
    spark.sql("ALTER TABLE t_cc RENAME TO t_cc__swap_backup")
    assert(Tables.recoverSwap(spark, "t_cc"))
    assert(rows(spark.table("t_cc").orderBy("id")) == want)
    assert(spark.table("t_cc").inputFiles.length == 1)
    // window 2: rewrite lost with the crash — roll BACK to the
    // uncompacted original (data safe, compaction simply un-applied)
    reset()
    spark.sql("ALTER TABLE t_cc RENAME TO t_cc__swap_backup")
    Tables.dropTable(spark, "t_cc__swap_tmp")
    assert(Tables.recoverSwap(spark, "t_cc"))
    assert(rows(spark.table("t_cc").orderBy("id")) == want)
    assert(spark.table("t_cc").inputFiles.length > 1)
    // and the recovered table compacts cleanly on the retry
    val (before, after) = Tables.compactTable(spark, "t_cc", 1)
    assert(before > 1 && after == 1)
    assert(rows(spark.table("t_cc").orderBy("id")) == want)
    Tables.dropTable(spark, "t_cc")
  }

  test("staged bucketed swap: atomic two-table replace with crash windows") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    def bucketSpec(t: String) =
      spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
        .bucketSpec
    def resetMains(): Unit = {
      Seq("sw_a", "sw_b", "sw_a__swap_tmp", "sw_b__swap_tmp",
        "sw_a__swap_backup", "sw_b__swap_backup")
        .foreach(Tables.dropTable(spark, _))
      Tables.loadBucketed(Seq((1L, 10L)).toDF("k", "v"), "sw_a", "k", 4)
      Tables.loadBucketed(Seq((1L, 20L)).toDF("k", "v"), "sw_b", "k", 4)
    }
    val newA = Seq((2L, 11L)).toDF("k", "v")
    val newB = Seq((2L, 21L)).toDF("k", "v")
    // happy path: both tables replaced, bucket spec survives the rename
    resetMains()
    Tables.stageBucketedSwap(newA, "sw_a", "k", 4)
    Tables.stageBucketedSwap(newB, "sw_b", "k", 4)
    Tables.commitSwaps(spark, Seq("sw_a", "sw_b"))
    assert(rows(spark.table("sw_a")) == Seq(Seq(2L, 11L)))
    assert(rows(spark.table("sw_b")) == Seq(Seq(2L, 21L)))
    assert(bucketSpec("sw_a").exists(b =>
      b.numBuckets == 4 && b.bucketColumnNames == Seq("k")))
    assert(bucketSpec("sw_b").exists(_.numBuckets == 4))
    // crash during staging: mains untouched, recoverSwap drops the tmp
    resetMains()
    Tables.stageBucketedSwap(newA, "sw_a", "k", 4)
    assert(rows(spark.table("sw_a")) == Seq(Seq(1L, 10L)))
    assert(Tables.recoverSwap(spark, "sw_a"))
    assert(!spark.catalog.tableExists("sw_a__swap_tmp"))
    assert(rows(spark.table("sw_a")) == Seq(Seq(1L, 10L)))
    // commit refuses a half-staged set BEFORE touching any main
    resetMains()
    Tables.stageBucketedSwap(newA, "sw_a", "k", 4)
    intercept[IllegalArgumentException] {
      Tables.commitSwaps(spark, Seq("sw_a", "sw_b"))
    }
    assert(rows(spark.table("sw_a")) == Seq(Seq(1L, 10L)))
    // crash between the two tables' swaps: first new, second old —
    // recoverSwap makes each individually clean; caller re-runs the fold
    resetMains()
    Tables.stageBucketedSwap(newA, "sw_a", "k", 4)
    Tables.stageBucketedSwap(newB, "sw_b", "k", 4)
    Tables.commitSwaps(spark, Seq("sw_a"))
    assert(Tables.recoverSwap(spark, "sw_b")) // drops sw_b's staged tmp
    assert(rows(spark.table("sw_a")) == Seq(Seq(2L, 11L)))
    assert(rows(spark.table("sw_b")) == Seq(Seq(1L, 20L)))
    // the re-run (re-stage + commit) converges the set
    Tables.stageBucketedSwap(newA, "sw_a", "k", 4)
    Tables.stageBucketedSwap(newB, "sw_b", "k", 4)
    Tables.commitSwaps(spark, Seq("sw_a", "sw_b"))
    assert(rows(spark.table("sw_b")) == Seq(Seq(2L, 21L)))
    // first build: commit with no pre-existing mains
    Seq("sw_a", "sw_b").foreach(Tables.dropTable(spark, _))
    Tables.stageBucketedSwap(newA, "sw_a", "k", 4)
    Tables.stageBucketedSwap(newB, "sw_b", "k", 4)
    Tables.commitSwaps(spark, Seq("sw_a", "sw_b"))
    assert(rows(spark.table("sw_a")) == Seq(Seq(2L, 11L)))
    assert(bucketSpec("sw_a").exists(_.numBuckets == 4))
    Seq("sw_a", "sw_b").foreach(Tables.dropTable(spark, _))
  }

  test("upsertScd2 versions changed keys, no-ops identical rows, opens " +
      "new keys across rounds") {
    def ts(s: String) = java.sql.Timestamp.from(
      java.time.Instant.parse(s))
    val (t0, t1, t2) =
      (ts("2030-01-01T00:00:00Z"), ts("2030-01-02T00:00:00Z"),
        ts("2030-01-03T00:00:00Z"))
    Seq("t_scd", "t_scd__swap_tmp", "t_scd__swap_backup")
      .foreach(Tables.dropTable(spark, _))
    Tables.loadScd2(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t_scd", t0)
    // round 1: identical (no-op), changed, new — return = OPENED
    // versions (the changed re-open + the new key; the no-op opens
    // nothing), never a post-merge table count
    assert(Tables.upsertScd2(spark,
      Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("id", "v"),
      "t_scd", "id", t1) == 2L)
    assert(rows(spark.table("t_scd").orderBy("id", "valid_from")) == Seq(
      Seq(1L, "a", t0, null), Seq(2L, "b", t0, t1),
      Seq(2L, "B", t1, null), Seq(3L, "c", t1, null)))
    // round 2: re-change key 1; key 2's current is identical (no-op);
    // key 3 unstaged (kept)
    assert(Tables.upsertScd2(spark,
      Seq((1L, "A"), (2L, "B")).toDF("id", "v"), "t_scd", "id", t2) == 1L)
    assert(rows(spark.table("t_scd").orderBy("id", "valid_from")) == Seq(
      Seq(1L, "a", t0, t2), Seq(1L, "A", t2, null),
      Seq(2L, "b", t0, t1), Seq(2L, "B", t1, null),
      Seq(3L, "c", t1, null)))
    // staging with a duplicate key is rejected before any write
    intercept[IllegalArgumentException] {
      Tables.upsertScd2(spark,
        Seq((1L, "x"), (1L, "y")).toDF("id", "v"), "t_scd", "id", t2)
    }
    // point-in-time lookup: pre-history and unknown-key facts keep
    // null attributes (left join), others get their epoch's version
    val facts = Seq(
      (1L, ts("2029-12-31T00:00:00Z")), // before any version
      (1L, ts("2030-01-01T12:00:00Z")), // first version epoch
      (1L, ts("2030-01-03T12:00:00Z")), // after the re-change
      (9L, ts("2030-01-03T12:00:00Z"))  // key never in the dimension
    ).toDF("id", "probe")
    assert(rows(Tables.scd2Lookup(spark, facts, "t_scd", "id", "probe")
        .orderBy("id", "probe")) == Seq(
      Seq(1L, ts("2029-12-31T00:00:00Z"), null),
      Seq(1L, ts("2030-01-01T12:00:00Z"), "a"),
      Seq(1L, ts("2030-01-03T12:00:00Z"), "A"),
      Seq(9L, ts("2030-01-03T12:00:00Z"), null)))
    Seq("t_scd", "t_scd__swap_tmp", "t_scd__swap_backup")
      .foreach(Tables.dropTable(spark, _))
  }

  test("deleteKeys erases rows on plain and partitioned mains, dropping " +
      "fully-vacated partitions") {
    Tables.dropTable(spark, "t_del")
    Tables.loadOverwrite(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), "t_del")
    assert(Tables.deleteKeys(spark,
      Seq(2L, 9L).toDF("id"), "t_del", "id") == 2L)
    assert(rows(spark.table("t_del").orderBy("id")) ==
      Seq(Seq(1L, "a"), Seq(3L, "c")))
    Tables.dropTable(spark, "t_del")
    // partitioned main: deleting every row of a partition drops it
    Tables.dropTable(spark, "t_delp")
    Tables.loadPartitioned(
      Seq((1L, "d1"), (2L, "d1"), (3L, "d2")).toDF("id", "d"),
      "t_delp", "d")
    assert(Tables.deleteKeys(spark, Seq(3L).toDF("id"), "t_delp", "id") == 2L)
    val partsLeft = spark.sql("SHOW PARTITIONS t_delp")
      .collect().map(_.getString(0)).toSeq
    assert(partsLeft == Seq("d=d1"), s"vacated partition not dropped: $partsLeft")
    Tables.dropTable(spark, "t_delp")
  }

  test("expirePartitions drops only values below keepFrom, metadata-only") {
    Tables.dropTable(spark, "t_exp")
    Tables.loadPartitioned(
      Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-03"))
        .toDF("id", "d"), "t_exp", "d")
    assert(Tables.expirePartitions(spark, "t_exp", "d", "2024-01-03") ==
      Seq("2024-01-01", "2024-01-02"))
    assert(rows(spark.table("t_exp").select("id")) == Seq(Seq(3L)))
    // idempotent: nothing left below the cutoff
    assert(Tables.expirePartitions(spark, "t_exp", "d", "2024-01-03").isEmpty)
    Tables.dropTable(spark, "t_exp")
  }

  test("schemaDiff reports added/removed/type-changed columns by name") {
    import org.apache.spark.sql.types._
    val oldS = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("gone", IntegerType)))
    val newS = StructType(Seq(StructField("v", StringType),
      StructField("id", StringType), StructField("fresh", DoubleType)))
    val got = rows(Tables.schemaDiff(oldS, newS)(spark)
      .orderBy("change", "col_name"))
    assert(got == Seq(
      Seq("fresh", "added", null, "DOUBLE"),
      Seq("gone", "removed", "INT", null),
      Seq("id", "type_changed", "BIGINT", "STRING")))
    // reordering alone is NOT a change
    val reordered = org.apache.spark.sql.types.StructType(oldS.fields.reverse)
    assert(Tables.schemaDiff(oldS, reordered)(spark).count() == 0)
  }

  test("backfillPartitions loads exactly the missing values, idempotent") {
    import org.apache.spark.sql.functions.col
    Tables.dropTable(spark, "t_bf")
    val source = Seq((1L, "2024-01-01"), (2L, "2024-01-02"),
      (3L, "2024-01-03"), (4L, "2024-01-04")).toDF("id", "d")
    Tables.loadPartitioned(
      source.filter(col("d") === "2024-01-01"), "t_bf", "d")
    val expected = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    assert(Tables.backfillPartitions(spark, source, "t_bf", "d",
      expected) == Seq("2024-01-02", "2024-01-03"))
    // 2024-01-04 was not expected — never loaded
    assert(rows(spark.table("t_bf").select("id").orderBy("id")) ==
      Seq(Seq(1L), Seq(2L), Seq(3L)))
    // re-run: nothing missing, nothing written
    assert(Tables.backfillPartitions(spark, source, "t_bf", "d",
      expected).isEmpty)
    Tables.dropTable(spark, "t_bf")
  }

  test("smallFileAudit reports per-partition file census") {
    Tables.dropTable(spark, "t_sfa")
    val df = spark.range(100).selectExpr("id",
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS p")
      .repartition(4)
    df.write.partitionBy("p").format("parquet").saveAsTable("t_sfa")
    val audit = Tables.smallFileAudit(spark, "t_sfa")
    assert(audit.map(_._1) == Seq("p=a", "p=b"))
    audit.foreach { case (_, n, total, avg) =>
      assert(n >= 1 && total > 0 && avg > 0 && avg <= total)
    }
    Tables.dropTable(spark, "t_sfa")
  }

  test("missingPartitions lists only the absent expected values") {
    import org.apache.spark.sql.functions.col
    Tables.dropTable(spark, "t_backfill")
    val df = Seq((1L, "2024-01-01"), (2L, "2024-01-03")).toDF("id", "d")
    Tables.loadPartitioned(df, "t_backfill", "d")
    assert(Tables.missingPartitions(spark, "t_backfill", "d",
      Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04")) ==
      Seq("2024-01-02", "2024-01-04"))
    assert(Tables.missingPartitions(spark, "t_backfill", "d",
      Seq("2024-01-01")).isEmpty)
    Tables.dropTable(spark, "t_backfill")
  }

  test("missingPartitions unescapes Hive path-escaped values — a " +
      "special-char partition is never re-backfilled") {
    import org.apache.spark.sql.functions.col
    Tables.dropTable(spark, "t_esc")
    // space and ':' both escape in partition paths (%20, %3A)
    val special = "2024-01-01 08:30:00"
    val df = Seq((1L, special), (2L, "plain")).toDF("id", "d")
    Tables.loadPartitioned(df, "t_esc", "d")
    assert(Tables.missingPartitions(spark, "t_esc", "d",
      Seq(special, "plain", "absent")) == Seq("absent"))
    // backfill over an already-present special value writes nothing
    assert(Tables.backfillPartitions(spark, df, "t_esc", "d",
      Seq(special, "plain")).isEmpty)
    Tables.dropTable(spark, "t_esc")
    // decoder unit behavior: UTF-8 multi-byte + malformed passthrough
    assert(Tables.unescapePathName("a%20b%3Ac") == "a b:c")
    assert(Tables.unescapePathName("caf%C3%A9") == "café")
    assert(Tables.unescapePathName("100%") == "100%")
    assert(Tables.unescapePathName("%zz") == "%zz")
  }

  test("upsertScd2 rejects a degenerate dimension with no attribute " +
      "columns") {
    Seq("scd_deg", "scd_deg__swap_tmp", "scd_deg__swap_backup")
      .foreach(Tables.dropTable(spark, _))
    import org.apache.spark.sql.functions.lit
    spark.range(3).selectExpr("id",
        "CAST('2030-01-01' AS TIMESTAMP) AS valid_from",
        "CAST(NULL AS TIMESTAMP) AS valid_to")
      .write.format("parquet").saveAsTable("scd_deg")
    val ex = intercept[IllegalArgumentException] {
      Tables.upsertScd2(spark, spark.range(2).toDF("id"), "scd_deg",
        "id", java.sql.Timestamp.from(
          java.time.Instant.parse("2030-01-02T00:00:00Z")))
    }
    assert(ex.getMessage.contains("no attribute columns"))
    Tables.dropTable(spark, "scd_deg")
  }

  test("materialized rollup: build + incremental refresh = direct aggregate") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    Seq("agg_t", "agg_t__swap_tmp", "agg_t__swap_backup")
      .foreach(Tables.dropTable(spark, _))
    val base = Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("k", "v")
    val d1 = Seq(("a", 10L), ("c", 7L)).toDF("k", "v")
    val d2 = Seq(("b", 100L), ("c", -7L)).toDF("k", "v")
    Tables.writeAggTable(base, "agg_t", Seq("k"), Seq("v"))
    Tables.refreshAggTable(spark, d1, "agg_t", Seq("k"), Seq("v"))
    Tables.refreshAggTable(spark, d2, "agg_t", Seq("k"), Seq("v"))
    def served = spark.table("agg_t")
      .selectExpr("k", "CAST(n AS BIGINT) AS n",
        "CAST(sum_v AS BIGINT) AS sum_v").orderBy("k")
    // serve == one-shot aggregate over the concatenated corpus
    val want = Tables.aggPartials(base.unionByName(d1).unionByName(d2),
        Seq("k"), Seq("v"))
      .selectExpr("k", "CAST(n AS BIGINT) AS n",
        "CAST(sum_v AS BIGINT) AS sum_v").orderBy("k")
    assert(rows(served) == rows(want))
    assert(rows(served) == Seq(Seq("a", 3L, 13L), Seq("b", 2L, 105L),
      Seq("c", 2L, 0L)))
    // the rollup stays bucketed on the serve key across refreshes
    import org.apache.spark.sql.catalyst.TableIdentifier
    val cat = spark.sessionState.catalog
    assert(cat.getTableMetadata(TableIdentifier("agg_t"))
      .bucketSpec.exists(_.bucketColumnNames == Seq("k")))
    // crash window: a leftover staged tmp from an aborted refresh is
    // cleaned by the recoverSwap at refresh entry, then the fold lands
    Tables.stageBucketedSwap(Seq(("x", 1L)).toDF("k", "v")
      .groupBy("k").agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("v").cast("decimal(38,0)")).as("sum_v")),
      "agg_t", "k", 8)
    Tables.refreshAggTable(spark,
      Seq(("a", 1L)).toDF("k", "v"), "agg_t", Seq("k"), Seq("v"))
    assert(rows(served.filter(col("k") === "a")) == Seq(Seq("a", 4L, 14L)))
    assert(rows(served).size == 3) // no phantom "x" key from the leftover
    Seq("agg_t", "agg_t__swap_tmp", "agg_t__swap_backup")
      .foreach(Tables.dropTable(spark, _))
  }

  test("upsertScd2 on the valid_to_date-partitioned layout rewrites only " +
      "the current + effective-date partitions; closed history untouched") {
    import org.apache.spark.sql.functions.col
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val (t0, t1, t2, t3) =
      (ts("2030-01-01T00:00:00Z"), ts("2030-01-02T00:00:00Z"),
        ts("2030-01-03T00:00:00Z"), ts("2030-01-04T00:00:00Z"))
    Seq("t_scdp", "t_scdp__part_stage", "t_scdu", "t_scdu__swap_tmp",
      "t_scdu__swap_backup").foreach(Tables.dropTable(spark, _))
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    Tables.loadScd2(base, "t_scdp", t0, partitioned = true)
    Tables.loadScd2(base, "t_scdu", t0)
    def merge(tbl: String, st: Seq[(Long, String)], at: java.sql.Timestamp) =
      Tables.upsertScd2(spark, st.toDF("id", "v"), tbl, "id", at)
    // two merges accrete closed history on two distinct dates
    for (tbl <- Seq("t_scdp", "t_scdu")) {
      merge(tbl, Seq((1L, "a2")), t1) // closes id 1 -> valid_to_date=01-02
      merge(tbl, Seq((2L, "b2")), t2) // closes id 2 -> valid_to_date=01-03
    }
    // census the CLOSED-history partition files: (path, mtime, length)
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    def census(dates: Seq[String]): Seq[(String, Long, Long)] =
      spark.table("t_scdp").inputFiles.toSeq
        .filter(f => dates.exists(d => f.contains(s"valid_to_date=$d")))
        .sorted.map { f =>
          val st = new Path(f).getFileSystem(conf)
            .getFileStatus(new Path(f))
          (f, st.getModificationTime, st.getLen)
        }
    val closedDates = Seq("2030-01-02", "2030-01-03")
    val before = census(closedDates)
    assert(before.nonEmpty, "drill needs real closed-history files")
    Thread.sleep(1100) // mtime granularity can be 1 s on some filesystems
    // third merge: closes id 3 on 01-04, reopens it
    for (tbl <- Seq("t_scdp", "t_scdu")) merge(tbl, Seq((3L, "c2")), t3)
    assert(census(closedDates) == before,
      "closed-history partitions must not be rewritten by a later merge")
    // and the new date's partition did appear
    assert(census(Seq("2030-01-04")).nonEmpty)
    // pruned layout == unpartitioned semantics, version for version
    val p = spark.table("t_scdp").drop("valid_to_date")
      .orderBy("id", "valid_from")
    val u = spark.table("t_scdu").orderBy("id", "valid_from")
    assert(rows(p) == rows(u))
    assert(rows(p) == Seq(
      Seq(1L, "a", t0, t1), Seq(1L, "a2", t1, null),
      Seq(2L, "b", t0, t2), Seq(2L, "b2", t2, null),
      Seq(3L, "c", t0, t3), Seq(3L, "c2", t3, null)))
    // snapshot and point-in-time lookup agree across layouts (the
    // partition column never leaks into either output)
    val probe = ts("2030-01-02T12:00:00Z")
    assert(rows(Tables.scd2Snapshot(spark, "t_scdp", probe).orderBy("id")) ==
      rows(Tables.scd2Snapshot(spark, "t_scdu", probe).orderBy("id")))
    val facts = Seq((1L, probe), (3L, ts("2030-01-04T12:00:00Z")))
      .toDF("id", "probe")
    assert(rows(Tables.scd2Lookup(spark, facts, "t_scdp", "id", "probe")
        .orderBy("id")) ==
      rows(Tables.scd2Lookup(spark, facts, "t_scdu", "id", "probe")
        .orderBy("id")))
    // the snapshot's partition filter PRUNES: a probe after every
    // closure date must not read the closed-history directories
    val snapFiles = Tables.scd2Snapshot(spark, "t_scdp",
      ts("2030-06-01T00:00:00Z")).inputFiles.toSeq
    assert(snapFiles.nonEmpty &&
      !snapFiles.exists(f => closedDates.exists(d =>
        f.contains(s"valid_to_date=$d"))),
      "snapshot after all closures must prune closed-history partitions")
    Seq("t_scdp", "t_scdp__part_stage", "t_scdu", "t_scdu__swap_tmp",
      "t_scdu__swap_backup").foreach(Tables.dropTable(spark, _))
  }

  test("unescapePathName keeps surrogate pairs intact and reassembles " +
      "split multi-byte escapes") {
    // escaped emoji: 4 UTF-8 bytes across 4 escapes
    assert(Tables.unescapePathName("%F0%9F%98%80") == "\ud83d\ude00")
    // raw emoji passes through untouched (the escaper leaves it raw) —
    // the old per-char byte round-trip mangled each surrogate half to ?
    assert(Tables.unescapePathName("a\ud83d\ude00b%20c") ==
      "a\ud83d\ude00b c")
    // escape run split by a raw char still decodes per byte
    assert(Tables.unescapePathName("%E2%82%ACx%3A") == "\u20acx:")
    // malformed escapes pass through literally
    assert(Tables.unescapePathName("100%fun%2") == "100%fun%2")
  }

  test("unescapePathName on the SHOW PARTITIONS shape of an emoji " +
      "partition value — raw surrogate pair + escapes decode losslessly") {
    // Hive/Spark path-escaping leaves non-ASCII RAW and escapes the
    // special chars around it, so a partition value like "\ud83d\ude00:x 1"
    // lists as "\ud83d\ude00%3Ax%201". The old per-char byte round-trip
    // mangled the surrogate pair to "??" and the value read as
    // permanently missing (re-backfill churn). This container's
    // POSIX-locale JVM cannot write emoji PATHS at all, so the pin
    // drives the decoder on the exact listed string rather than a
    // filesystem round-trip.
    val value = "\ud83d\ude00:x 1"
    val listed = "\ud83d\ude00%3Ax%201"
    assert(Tables.unescapePathName(listed) == value)
    // identity on a fully-raw value (no escapes at all)
    assert(Tables.unescapePathName("\ud83d\ude00") == "\ud83d\ude00")
  }

  test("mergeSqlText mirrors the reference MERGE shape from the staging " +
      "schema; the default quoted mode survives reserved-word columns") {
    Tables.dropTable(spark, "t_msql_stage")
    Tables.loadOverwrite(
      Seq((1L, "a", 2.0)).toDF("id", "name", "score"), "t_msql_stage")
    // reference-shape mode: bare identifiers, exactly the reference's
    // interpolation (omnichannel_to_bq.py:170-182)
    val bare = Tables.mergeSqlText(spark, "t_msql_stage", "t_msql_main",
      "id", quoteIdentifiers = false)
    assert(bare ==
      """MERGE `t_msql_main` T
        |USING `t_msql_stage` S
        |ON T.id = S.id
        |WHEN MATCHED THEN UPDATE SET name = S.name, score = S.score
        |WHEN NOT MATCHED THEN INSERT (id, name, score) VALUES (S.id, S.name, S.score)"""
        .stripMargin)
    // default mode: column identifiers quoted — the online seam a
    // production deployment ships (a reserved-word column breaks the
    // reference's bare interpolation)
    val got = Tables.mergeSqlText(spark, "t_msql_stage", "t_msql_main", "id")
    assert(got ==
      """MERGE `t_msql_main` T
        |USING `t_msql_stage` S
        |ON T.`id` = S.`id`
        |WHEN MATCHED THEN UPDATE SET `name` = S.`name`, `score` = S.`score`
        |WHEN NOT MATCHED THEN INSERT (`id`, `name`, `score`) VALUES (S.`id`, S.`name`, S.`score`)"""
        .stripMargin)
    intercept[IllegalArgumentException] {
      Tables.mergeSqlText(spark, "t_msql_stage", "t_msql_main", "nope")
    }
    Tables.dropTable(spark, "t_msql_stage")
    // reserved-word column: quoted text holds it safely
    Tables.dropTable(spark, "t_msql_rsv")
    Tables.loadOverwrite(
      Seq((1L, "x")).toDF("id", "from"), "t_msql_rsv")
    val rsv = Tables.mergeSqlText(spark, "t_msql_rsv", "t_msql_main", "id")
    assert(rsv.contains("UPDATE SET `from` = S.`from`"), rsv)
    Tables.dropTable(spark, "t_msql_rsv")
  }

  test("scd2Lookup validity-horizon hint: identical output, and closed " +
      "history behind the horizon prunes at the partition listing") {
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    Seq("t_scdh", "t_scdh__part_stage").foreach(Tables.dropTable(spark, _))
    Tables.loadScd2(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t_scdh",
      ts("2030-01-01T00:00:00Z"), partitioned = true)
    Tables.upsertScd2(spark, Seq((1L, "a2")).toDF("id", "v"), "t_scdh",
      "id", ts("2030-01-02T00:00:00Z"))
    Tables.upsertScd2(spark, Seq((2L, "b2")).toDF("id", "v"), "t_scdh",
      "id", ts("2030-01-04T00:00:00Z"))
    // facts all at/after 01-03: the 01-02-closed version can never match
    val facts = Seq(
      (1L, ts("2030-01-03T12:00:00Z")),
      (2L, ts("2030-01-03T12:00:00Z")), // still version "b" (closed 01-04)
      (2L, ts("2030-01-04T12:00:00Z"))).toDF("id", "probe")
    val plain = Tables.scd2Lookup(spark, facts, "t_scdh", "id", "probe")
    val hinted = Tables.scd2Lookup(spark, facts, "t_scdh", "id", "probe",
      noFactsBefore = Some(ts("2030-01-03T00:00:00Z")))
    assert(rows(hinted.orderBy("id", "probe")) ==
      rows(plain.orderBy("id", "probe")))
    assert(rows(hinted.orderBy("id", "probe")) == Seq(
      Seq(1L, ts("2030-01-03T12:00:00Z"), "a2"),
      Seq(2L, ts("2030-01-03T12:00:00Z"), "b"),
      Seq(2L, ts("2030-01-04T12:00:00Z"), "b2")))
    // the hinted plan never lists the 01-02 partition; the 01-04
    // partition (reachable by the lateness window) stays
    val files = hinted.inputFiles.toSeq
    assert(!files.exists(_.contains("valid_to_date=2030-01-02")),
      "history behind the horizon must prune at the directory listing")
    assert(files.exists(_.contains("valid_to_date=2030-01-04")))
    Seq("t_scdh", "t_scdh__part_stage").foreach(Tables.dropTable(spark, _))
  }

  test("upsertIntoTable / deleteKeys on a partitioned main rewrite only " +
      "the touched partitions — untouched partition files identical") {
    import org.apache.spark.sql.functions.col
    import org.apache.hadoop.fs.Path
    Seq("t_prune", "t_prune__part_stage")
      .foreach(Tables.dropTable(spark, _))
    // four date partitions, two keys each
    val rowsIn = for (d <- 1 to 4; i <- 0 to 1)
      yield (d * 10L + i, s"v$d$i", s"2030-01-0$d")
    Tables.loadPartitioned(rowsIn.toDF("id", "v", "day"), "t_prune", "day")
    val conf = spark.sparkContext.hadoopConfiguration
    def census(days: Seq[String]): Seq[(String, Long, Long)] =
      spark.table("t_prune").inputFiles.toSeq
        .filter(f => days.exists(d => f.contains(s"day=$d")))
        .sorted.map { f =>
          val st = new Path(f).getFileSystem(conf).getFileStatus(new Path(f))
          (f, st.getModificationTime, st.getLen)
        }
    val untouched = Seq("2030-01-01", "2030-01-02")
    val before = census(untouched)
    assert(before.nonEmpty)
    Thread.sleep(1100)
    // upsert: update a key in day 3, insert a new key into day 4 —
    // days 1 and 2 are neither read targets nor write targets
    assert(Tables.upsertIntoTable(spark,
      Seq((30L, "V30", "2030-01-03"), (45L, "v45", "2030-01-04"))
        .toDF("id", "v", "day"), "t_prune", "id") == 9L)
    assert(census(untouched) == before,
      "upsert must not rewrite partitions its keys never touch")
    assert(rows(spark.table("t_prune")
        .filter(col("id").isin(30L, 45L)).orderBy("id")) ==
      Seq(Seq(30L, "V30", "2030-01-03"), Seq(45L, "v45", "2030-01-04")))
    // a key MOVING partitions still vacates its old one when alone:
    // move both day-3 keys to day 4 — day 3 must drop, days 1/2 intact
    Thread.sleep(1100)
    val before2 = census(untouched)
    assert(Tables.upsertIntoTable(spark,
      Seq((30L, "V30", "2030-01-04"), (31L, "v31", "2030-01-04"))
        .toDF("id", "v", "day"), "t_prune", "id") == 9L)
    assert(census(untouched) == before2)
    assert(spark.table("t_prune")
      .filter(col("day") === "2030-01-03").isEmpty)
    assert(!spark.sql("SHOW PARTITIONS `t_prune`").collect()
      .map(_.getString(0)).exists(_.contains("2030-01-03")),
      "fully-vacated partition must be dropped, not left stale")
    // delete: erase the day-4 keys — days 1/2 files still untouched,
    // day 4 fully vacates and drops
    Thread.sleep(1100)
    val before3 = census(untouched)
    assert(Tables.deleteKeys(spark,
      Seq(30L, 31L, 40L, 41L, 45L).toDF("id"), "t_prune", "id") == 4L)
    assert(census(untouched) == before3,
      "delete must not rewrite partitions holding none of the keys")
    assert(!spark.sql("SHOW PARTITIONS `t_prune`").collect()
      .map(_.getString(0)).exists(_.contains("2030-01-04")))
    assert(rows(spark.table("t_prune").orderBy("id")) == Seq(
      Seq(10L, "v10", "2030-01-01"), Seq(11L, "v11", "2030-01-01"),
      Seq(20L, "v20", "2030-01-02"), Seq(21L, "v21", "2030-01-02")))
    // deleting keys that exist nowhere is a no-op (empty touched set)
    assert(Tables.deleteKeys(spark, Seq(999L).toDF("id"), "t_prune",
      "id") == 4L)
    Seq("t_prune", "t_prune__part_stage")
      .foreach(Tables.dropTable(spark, _))
  }

  test("upsertIntoTable stablePartitions: reads AND writes only the " +
      "staging partitions; the contract violation is the documented one") {
    import org.apache.spark.sql.functions.col
    import org.apache.hadoop.fs.Path
    Seq("t_stab", "t_stab__part_stage")
      .foreach(Tables.dropTable(spark, _))
    val rowsIn = for (d <- 1 to 3; i <- 0 to 1)
      yield (d * 10L + i, s"v$d$i", s"2030-01-0$d")
    Tables.loadPartitioned(rowsIn.toDF("id", "v", "day"), "t_stab", "day")
    val conf = spark.sparkContext.hadoopConfiguration
    def census(days: Seq[String]): Seq[(String, Long, Long)] =
      spark.table("t_stab").inputFiles.toSeq
        .filter(f => days.exists(d => f.contains(s"day=$d")))
        .sorted.map { f =>
          val st = new Path(f).getFileSystem(conf).getFileStatus(new Path(f))
          (f, st.getModificationTime, st.getLen)
        }
    val before = census(Seq("2030-01-01", "2030-01-02"))
    Thread.sleep(1100)
    // correct use: staged keys stay in their partition — same result as
    // the default path, untouched partitions byte-identical
    assert(Tables.upsertIntoTable(spark,
      Seq((30L, "V30", "2030-01-03"), (35L, "v35", "2030-01-03"))
        .toDF("id", "v", "day"), "t_stab", "id",
      stablePartitions = true) == 7L)
    assert(census(Seq("2030-01-01", "2030-01-02")) == before)
    assert(rows(spark.table("t_stab")
        .filter(col("day") === "2030-01-03").orderBy("id")) ==
      Seq(Seq(30L, "V30", "2030-01-03"), Seq(31L, "v31", "2030-01-03"),
        Seq(35L, "v35", "2030-01-03")))
    // contract violation: key 10 actually lives in day 1 but is staged
    // into day 2 under the promise — documented outcome is an INSERT
    // alongside the old row, not a move (why the flag is opt-in)
    Tables.upsertIntoTable(spark,
      Seq((10L, "MOVED", "2030-01-02")).toDF("id", "v", "day"),
      "t_stab", "id", stablePartitions = true)
    assert(spark.table("t_stab").filter(col("id") === 10L).count() == 2L)
    Seq("t_stab", "t_stab__part_stage")
      .foreach(Tables.dropTable(spark, _))
  }

  test("SCD2 partitioned layout composes with retention and erasure: " +
      "expirePartitions drops old history metadata-only; deleteKeys " +
      "erases a key's full version history pruned") {
    import org.apache.spark.sql.functions.col
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    Seq("t_scdr", "t_scdr__part_stage")
      .foreach(Tables.dropTable(spark, _))
    Tables.loadScd2(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t_scdr",
      ts("2030-01-01T00:00:00Z"), partitioned = true)
    Tables.upsertScd2(spark, Seq((1L, "a2")).toDF("id", "v"), "t_scdr",
      "id", ts("2030-01-02T00:00:00Z"))
    Tables.upsertScd2(spark, Seq((1L, "a3"), (2L, "b2")).toDF("id", "v"),
      "t_scdr", "id", ts("2030-03-05T00:00:00Z"))
    // retention: drop history closed before 2030-02 — metadata-only,
    // current tier (null partition) untouched by the lexicographic test
    assert(Tables.expirePartitions(spark, "t_scdr", "valid_to_date",
      keepFrom = "2030-02-01") == Seq("2030-01-02"))
    assert(rows(spark.table("t_scdr").orderBy("id", "valid_from")
        .select("id", "v")) == Seq(
      Seq(1L, "a2"), Seq(1L, "a3"), Seq(2L, "b"), Seq(2L, "b2")))
    // GDPR: erase key 1's ENTIRE version history (current + closed)
    // through the pruned delete — key 2's versions survive, and the
    // date partition key 1 never touched (2030-04-07, closed by key
    // 2's second re-version) is not rewritten: the null partition
    // prunes like any other, no full-rewrite fallback
    import org.apache.hadoop.fs.Path
    Tables.upsertScd2(spark, Seq((2L, "b3")).toDF("id", "v"), "t_scdr",
      "id", ts("2030-04-07T00:00:00Z"))
    val conf = spark.sparkContext.hadoopConfiguration
    def census(): Seq[(String, Long, Long)] =
      spark.table("t_scdr").inputFiles.toSeq
        .filter(_.contains("valid_to_date=2030-04-07"))
        .sorted.map { f =>
          val st = new Path(f).getFileSystem(conf).getFileStatus(new Path(f))
          (f, st.getModificationTime, st.getLen)
        }
    val before = census()
    assert(before.nonEmpty)
    Thread.sleep(1100)
    assert(Tables.deleteKeys(spark, Seq(1L).toDF("id"), "t_scdr",
      "id") == 3L)
    assert(census() == before,
      "a history partition without the erased key must not be rewritten")
    assert(rows(spark.table("t_scdr").orderBy("id", "valid_from")
        .select("id", "v")) ==
      Seq(Seq(2L, "b"), Seq(2L, "b2"), Seq(2L, "b3")))
    Seq("t_scdr", "t_scdr__part_stage")
      .foreach(Tables.dropTable(spark, _))
  }

  test("upsertIntoTable pruned path creates a brand-new partition for " +
      "staging rows whose value the table has never seen") {
    import org.apache.spark.sql.functions.col
    Seq("t_newp", "t_newp__part_stage").foreach(Tables.dropTable(spark, _))
    Tables.loadPartitioned(
      Seq((1L, "a", "2030-01-01")).toDF("id", "v", "day"), "t_newp", "day")
    assert(Tables.upsertIntoTable(spark,
      Seq((2L, "b", "2030-06-30")).toDF("id", "v", "day"), "t_newp",
      "id", stablePartitions = true) == 2L)
    assert(rows(spark.table("t_newp").orderBy("id")) ==
      Seq(Seq(1L, "a", "2030-01-01"), Seq(2L, "b", "2030-06-30")))
    assert(spark.sql("SHOW PARTITIONS `t_newp`").collect()
      .map(_.getString(0)).toSet ==
      Set("day=2030-01-01", "day=2030-06-30"))
    Seq("t_newp", "t_newp__part_stage").foreach(Tables.dropTable(spark, _))
  }

  test("orphan managed-table dirs (dead former process, no catalog " +
      "entry) are cleared: loads and staged swaps succeed, not " +
      "LOCATION_ALREADY_EXISTS") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.TableIdentifier
    // simulate a dead run's leftovers: dirs at the default locations of
    // tables this catalog has never heard of — DROP TABLE IF EXISTS
    // no-ops on them, so only location-aware clearing can recover
    def plantOrphan(table: String): Path = {
      val loc = new Path(
        spark.sessionState.catalog.defaultTablePath(TableIdentifier(table)))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new Path(loc, "part-orphan"))
      loc
    }
    val names = Seq("t_orph", "t_orphb", "t_orphb__swap_tmp",
      "t_orphb__swap_backup")
    names.foreach(Tables.dropTable(spark, _))
    try {
      plantOrphan("t_orph")
      Tables.loadOverwrite(Seq((1L, "a")).toDF("id", "v"), "t_orph")
      assert(rows(spark.table("t_orph")) == Seq(Seq(1L, "a")))
      // first build of a staged bucketed swap with orphans at BOTH the
      // scratch locations and the main — the exact poisoned-warehouse
      // state that killed the tiered folds under a recycled pid
      Seq("t_orphb", "t_orphb__swap_tmp", "t_orphb__swap_backup")
        .foreach(plantOrphan)
      Tables.stageBucketedSwap(Seq((2L, "b")).toDF("id", "v"), "t_orphb",
        "id", numBuckets = 2)
      Tables.commitSwaps(spark, Seq("t_orphb"))
      assert(rows(spark.table("t_orphb")) == Seq(Seq(2L, "b")))
    } finally names.foreach(Tables.dropTable(spark, _))
  }

  test("an orphan directory at the partitioned stage location (dead " +
      "former process) is cleared: partitioned upsert, delete and " +
      "compaction succeed, not LOCATION_ALREADY_EXISTS") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.TableIdentifier
    def plantOrphan(table: String): Path = {
      val loc = new Path(
        spark.sessionState.catalog.defaultTablePath(TableIdentifier(table)))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new Path(loc, "part-orphan"))
      loc
    }
    val t = "t_orphp"
    val stage = s"${t}__part_stage"
    Seq(t, stage).foreach(Tables.dropTable(spark, _))
    try {
      Tables.loadPartitioned(
        Seq((1L, "a", "d1"), (2L, "b", "d1"), (3L, "c", "d2"))
          .toDF("id", "v", "day"), t, "day")
      plantOrphan(stage)
      assert(Tables.upsertIntoTable(spark,
        Seq((2L, "B", "d1"), (4L, "d", "d3")).toDF("id", "v", "day"), t,
        "id") == 4L)
      assert(rows(spark.table(t).orderBy("id")) == Seq(
        Seq(1L, "a", "d1"), Seq(2L, "B", "d1"), Seq(3L, "c", "d2"),
        Seq(4L, "d", "d3")))
      plantOrphan(stage)
      assert(Tables.deleteKeys(spark, Seq(3L).toDF("id"), t, "id") == 3L)
      assert(rows(spark.table(t).orderBy("id")) == Seq(
        Seq(1L, "a", "d1"), Seq(2L, "B", "d1"), Seq(4L, "d", "d3")))
      assert(spark.sql(s"SHOW PARTITIONS `$t`").collect()
        .map(_.getString(0)).toSeq.sorted == Seq("day=d1", "day=d3"))
      plantOrphan(stage)
      val (_, after) = Tables.compactTable(spark, t, targetFiles = 1)
      assert(after == 2) // one file in each of the two partitions
      assert(rows(spark.table(t).orderBy("id")) == Seq(
        Seq(1L, "a", "d1"), Seq(2L, "B", "d1"), Seq(4L, "d", "d3")))
      assert(!spark.catalog.tableExists(stage))
    } finally Seq(t, stage).foreach(Tables.dropTable(spark, _))
  }

  test("upsertIntoTable / deleteKeys on a two-column partitioned main " +
      "rewrite only the touched tuple — every other tuple's files " +
      "identical") {
    import org.apache.spark.sql.functions.col
    import org.apache.hadoop.fs.Path
    val t = "t_prune2"
    Tables.dropTable(spark, t)
    // five (p1, p2) tuples, two with the null (Hive default) p1
    Seq((1L, "a", Some("p"), "x"), (2L, "b", Some("p"), "x"),
        (3L, "c", Some("p"), "y"), (4L, "d", Some("q"), "x"),
        (5L, "e", None: Option[String], "x"), (6L, "f", None, "y"))
      .toDF("id", "v", "p1", "p2")
      .write.format("parquet").partitionBy("p1", "p2").saveAsTable(t)
    val conf = spark.sparkContext.hadoopConfiguration
    def census(dirs: Seq[String]): Seq[(String, Long, Long)] =
      spark.table(t).inputFiles.toSeq
        .filter(f => dirs.exists(d => f.contains(s"/$d/")))
        .sorted.map { f =>
          val st = new Path(f).getFileSystem(conf).getFileStatus(new Path(f))
          (f, st.getModificationTime, st.getLen)
        }
    val nullP1 = "p1=__HIVE_DEFAULT_PARTITION__"
    // upsert: update key 1 in (p, x) — only that tuple is rewritten
    val others1 = Seq("p1=p/p2=y", "p1=q/p2=x", s"$nullP1/p2=x",
      s"$nullP1/p2=y")
    val before1 = census(others1)
    assert(before1.size == 4)
    Thread.sleep(1100) // mtime granularity can be 1 s on some filesystems
    assert(Tables.upsertIntoTable(spark,
      Seq((1L, "A", "p", "x")).toDF("id", "v", "p1", "p2"), t, "id") == 6L)
    assert(census(others1) == before1,
      "a two-column upsert must not rewrite tuples its keys never touch")
    // delete: erase key 5, the only row of (null, x) — that tuple drops,
    // every other tuple keeps its files
    val others2 = Seq("p1=p/p2=x", "p1=p/p2=y", "p1=q/p2=x",
      s"$nullP1/p2=y")
    val before2 = census(others2)
    Thread.sleep(1100)
    assert(Tables.deleteKeys(spark, Seq(5L).toDF("id"), t, "id") == 5L)
    assert(census(others2) == before2,
      "a two-column delete must not rewrite tuples holding none of the keys")
    assert(spark.table(t)
      .filter(col("p1").isNull && col("p2") === "x").isEmpty)
    assert(rows(spark.table(t).orderBy("id").select("id", "v", "p1", "p2")) ==
      Seq(Seq(1L, "A", "p", "x"), Seq(2L, "b", "p", "x"),
        Seq(3L, "c", "p", "y"), Seq(4L, "d", "q", "x"),
        Seq(6L, "f", null, "y")))
    Tables.dropTable(spark, t)
  }
}
