package graft.tables

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit,
  max, min, pmod, round, shiftleft, shiftright, sum, xxhash64}
import org.apache.spark.sql.types.StructType

import graft.operators.Relational

/**
 * Managed-table catalog operations — the reference's BigQuery dataset
 * surface re-expressed against the Spark catalog (SURVEY.md §2.1-S5..S8).
 */
object Tables {

  /** Backtick-quote each dot-separated part of a (possibly db-qualified)
   * table name: `db.tbl` -> `` `db`.`tbl` ``. Quoting the whole string at
   * once would fuse `db.tbl` into ONE identifier in the default database. */
  private def q(name: String): String =
    name.split('.').map(p => s"`$p`").mkString(".")

  /** `db.tbl` -> `db.tbl<suffix>` (suffix goes on the table part only). */
  private def suffixed(name: String, suffix: String): String = {
    val parts = name.split('.')
    (parts.init :+ (parts.last + suffix)).mkString(".")
  }

  /** List table names in a database (reference: omnichannel_to_bq.py:132-141). */
  def listTables(spark: SparkSession, db: String = "default"): Seq[String] =
    spark.catalog.listTables(db).collect().map(_.name).toSeq

  /** Introspect a table's schema — drives upsert column alignment the same
   * way the reference's MERGE codegen reads the staging schema
   * (omnichannel_to_bq.py:170-172). */
  def tableSchema(spark: SparkSession, table: String): StructType =
    spark.table(table).schema

  /**
   * Schema diff between two frames — the evolution gate run before an
   * upsert or a snapshot promotion: one row per column that was added,
   * removed, or changed type, `(col_name, change, old_type, new_type)`
   * with `change ∈ {added, removed, type_changed}`. Empty result =
   * schemas compatible by name and type (column ORDER is not a change:
   * the merge paths align by name). Driver-side over the two schema
   * objects — no data is read.
   */
  def schemaDiff(oldSchema: StructType, newSchema: StructType)
                (spark: SparkSession): DataFrame = {
    import spark.implicits._
    val o = oldSchema.fields.map(f => f.name -> f.dataType.sql).toMap
    val n = newSchema.fields.map(f => f.name -> f.dataType.sql).toMap
    val rows =
      (n.keySet -- o.keySet).toSeq.sorted.map(c =>
        (c, "added", null: String, n(c))) ++
      (o.keySet -- n.keySet).toSeq.sorted.map(c =>
        (c, "removed", o(c), null: String)) ++
      (o.keySet & n.keySet).toSeq.sorted
        .filter(c => o(c) != n(c))
        .map(c => (c, "type_changed", o(c), n(c)))
    rows.toDF("col_name", "change", "old_type", "new_type")
  }

  /**
   * Backfill planner for a partitioned table: which of the `expected`
   * partition values are MISSING — the hole census an incremental
   * date-partitioned load runs before deciding what to backfill.
   * Reads only the catalog's partition listing (metadata, bounded by
   * the table's partition count), never the data. Returns the missing
   * values sorted.
   */
  def missingPartitions(spark: SparkSession, table: String,
                        partitionCol: String,
                        expected: Seq[String]): Seq[String] = {
    // SHOW PARTITIONS emits Hive path-escaped values (space -> %20,
    // ':' -> %3A, ...); unescape before comparing against the caller's
    // raw values or a special-char partition would read as permanently
    // missing and re-backfill (rewrite-churn) on every run
    val have = spark.sql(s"SHOW PARTITIONS ${q(table)}")
      .collect()
      .map(_.getString(0))
      .flatMap(_.split('/').find(_.startsWith(partitionCol + "="))
        .map(s => unescapePathName(s.substring(partitionCol.length + 1))))
      .toSet
    expected.filterNot(have.contains).sorted
  }

  /** Inverse of Hive's partition-path escaping: decode `%XX` byte
   * sequences (UTF-8) back to the raw partition value. Malformed
   * escapes pass through literally, matching Hive's lenient decoder.
   * Non-escape chars append as CHARS (never through a per-char byte
   * round-trip): a surrogate half encoded alone is U+FFFD, so an emoji
   * in a partition value — which the escaper passes through raw —
   * would decode as "??" and read as permanently missing, the exact
   * re-backfill churn this decoder exists to prevent. Only maximal
   * consecutive `%XX` runs go through the byte decoder, so multi-byte
   * UTF-8 sequences split across several escapes still reassemble. */
  private[graft] def unescapePathName(path: String): String = {
    if (!path.contains('%')) return path
    val sb = new java.lang.StringBuilder(path.length)
    val bytes = new java.io.ByteArrayOutputStream(path.length)
    def flush(): Unit = if (bytes.size > 0) {
      sb.append(new String(bytes.toByteArray,
        java.nio.charset.StandardCharsets.UTF_8))
      bytes.reset()
    }
    var i = 0
    while (i < path.length) {
      val c = path.charAt(i)
      if (c == '%' && i + 2 < path.length &&
          isHex(path.charAt(i + 1)) && isHex(path.charAt(i + 2))) {
        bytes.write(Integer.parseInt(path.substring(i + 1, i + 3), 16))
        i += 3
      } else {
        flush()
        sb.append(c)
        i += 1
      }
    }
    flush()
    sb.toString
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
      (c >= 'A' && c <= 'F')

  /**
   * Backfill EXECUTION on top of [[missingPartitions]]: load exactly
   * the missing `expected` partition values from `source` into the
   * table (dynamic overwrite — present partitions untouched). Source
   * rows for partitions that already exist are never written, so a
   * re-run after a partial failure resumes where it stopped
   * (idempotent per partition). Returns the values actually
   * backfilled, sorted.
   */
  def backfillPartitions(spark: SparkSession, source: DataFrame,
                         table: String, partitionCol: String,
                         expected: Seq[String]): Seq[String] = {
    val missing = missingPartitions(spark, table, partitionCol, expected)
    if (missing.nonEmpty) {
      loadPartitioned(
        source.filter(col(partitionCol).cast("string").isin(missing: _*)),
        table, partitionCol)
      spark.catalog.refreshTable(table)
    }
    missing
  }

  /**
   * Small-file audit of a managed table: per partition directory (or
   * the table root when unpartitioned), the file count, total bytes,
   * and average file size — the census that decides WHERE
   * [[compactTable]] is worth running (a streaming sink accretes one
   * file per micro-batch; open/footer costs dominate once files are
   * KB-sized). Metadata-only: one filesystem listing per partition
   * directory, no data read. Emits (partition, n_files, total_bytes,
   * avg_bytes) as a local Seq, bounded by the partition count.
   */
  def smallFileAudit(spark: SparkSession, table: String)
      : Seq[(String, Long, Long, Long)] = {
    import org.apache.hadoop.fs.Path
    val files = spark.table(table).inputFiles
    val byDir = files.groupBy { f =>
      val p = new Path(f).getParent.toString
      val i = p.indexOf('=')
      if (i >= 0) p.substring(p.lastIndexOf('/', i) + 1) else "<root>"
    }
    val conf = spark.sparkContext.hadoopConfiguration
    byDir.toSeq.map { case (part, fs) =>
      val sizes = fs.map { f =>
        val p = new Path(f)
        p.getFileSystem(conf).getFileStatus(p).getLen
      }
      val total = sizes.sum
      (part, fs.length.toLong, total, total / fs.length)
    }.sortBy(_._1)
  }

  /** Drop-if-exists (reference: omnichannel_to_bq.py:193-201). Returns
   * whether the table existed. */
  def dropTable(spark: SparkSession, table: String): Boolean = {
    val existed = spark.catalog.tableExists(table)
    spark.sql(s"DROP TABLE IF EXISTS ${q(table)}")
    existed
  }

  /**
   * Delete an ORPHAN managed-table directory: `table` has no catalog
   * entry, but its default warehouse location exists on disk. Such a
   * directory is garbage from a dead former process — a crash after the
   * filesystem write but before the metastore commit, or a metastore
   * that died with its process (observed concretely: two JVMs reusing
   * one warehouse path, where the second's empty catalog makes
   * `DROP TABLE IF EXISTS` a no-op that leaves the first's directory
   * to break every subsequent `CREATE`/`RENAME` at that location with
   * LOCATION_ALREADY_EXISTS). Under the engine's single-writer contract
   * for managed tables the deletion is safe: no live catalog entry
   * means no live reader can resolve the path. No-op when the table
   * exists (its location is then owned by the catalog) or the
   * directory is absent.
   */
  private def clearOrphanLocation(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.catalyst.TableIdentifier
      val loc = new Path(
        spark.sessionState.catalog.defaultTablePath(TableIdentifier(table)))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  /**
   * Full overwrite load — the reference's WRITE_TRUNCATE path
   * (omnichannel_to_bq.py:143-165). Parquet managed table; Spark's
   * insert-overwrite commits via a staged job-commit protocol, so a failed
   * load never leaves a truncated table (fixes the reference's
   * truncate-then-load non-atomicity, SURVEY.md §4.2).
   */
  def loadOverwrite(df: DataFrame, table: String): Unit = {
    clearOrphanLocation(df.sparkSession, table)
    df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)
  }

  /**
   * Overwrite load into a BUCKETED managed table: rows are hash-bucketed
   * (and optionally sorted) by `bucketCol` at write time, so joins and
   * aggregations on that column between tables bucketed the same way run
   * with NO shuffle exchange — at 100 TB, pre-bucketing the main table on
   * its upsert key turns every incremental merge's shuffle into a local
   * zipped read. See TablesSpec for the plan-level proof (no Exchange
   * under the join).
   */
  def loadBucketed(df: DataFrame, table: String, bucketCol: String,
                   numBuckets: Int, sorted: Boolean = true): Unit = {
    clearOrphanLocation(df.sparkSession, table)
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, bucketCol)
    (if (sorted) w.sortBy(bucketCol) else w).saveAsTable(table)
  }

  /**
   * Overwrite load into a PARTITIONED managed table: rows land under one
   * directory per distinct `partitionCol` value, so any query filtering on
   * that column reads only the matching directories (partition pruning —
   * `PartitionFilters` in the scan, zero I/O for pruned dates). The
   * standard layout for time-series fact tables at 100 TB: the reference's
   * `[since, to)` incremental loads become per-date directory replacements
   * instead of full-table rewrites. Dynamic overwrite mode replaces ONLY
   * the partitions present in `df`, leaving others untouched.
   */
  def loadPartitioned(df: DataFrame, table: String,
                      partitionCol: String): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      df.write.mode(SaveMode.Overwrite).format("parquet")
        .partitionBy(partitionCol).saveAsTable(table)
    } else {
      // insertInto + dynamic mode replaces only the partitions present in
      // df. Catalog-table inserts read the SESSION conf (the per-write
      // option is ignored on this path), so set it for the write and
      // restore the caller's value after.
      // insertInto matches columns by POSITION — align to table schema.
      val ordered = spark.table(table).schema.fieldNames.map(df.col).toSeq
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try
        df.select(ordered: _*).write.mode(SaveMode.Overwrite).insertInto(table)
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  /**
   * Literal MERGE-statement text generation — the reference's SQL-text
   * half of the upsert (omnichannel_to_bq.py:170-182), kept as a
   * first-class artifact for the ONLINE seam: a deployment that still
   * lands the merge in an external warehouse (the reference submits
   * this text to BigQuery) ships exactly this string, while the local
   * execution path runs the equivalent [[graft.operators.Relational
   * .upsertPlan]]. Shape mirrors the reference exactly: introspect the
   * STAGING table's schema, update every non-key column from `S`,
   * insert all columns —
   * {{{
   * MERGE `main` T
   * USING `staging` S
   * ON T.key = S.key
   * WHEN MATCHED THEN UPDATE SET c1 = S.c1, ...
   * WHEN NOT MATCHED THEN INSERT (key, c1, ...) VALUES (S.key, S.c1, ...)
   * }}}
   * Table names are backtick-quoted like the reference's
   * `` `project.dataset.table` `` interpolation; column names come from
   * the catalog, not the caller, so the text cannot smuggle injected
   * identifiers beyond what the schema already holds.
   *
   * By default COLUMN identifiers are backtick-quoted too
   * (`quoteIdentifiers = true`) — the reference interpolates bare
   * names, so a column named with a reserved word (`from`, `select`) or
   * holding unusual characters would break its statement; the quoted
   * form is what a production online seam should ship. Pass
   * `quoteIdentifiers = false` for the reference's literal bare-name
   * shape (both shapes are string-pinned in TablesSpec). Backticks
   * inside an identifier are escaped by doubling, the shared
   * BigQuery/Spark convention.
   */
  def mergeSqlText(spark: SparkSession, stagingTable: String,
                   mainTable: String, keyField: String = "id",
                   quoteIdentifiers: Boolean = true): String = {
    val allCols = tableSchema(spark, stagingTable).fieldNames.toSeq
    require(allCols.contains(keyField),
      s"staging table '$stagingTable' has no key column '$keyField'")
    def qc(c: String): String =
      if (quoteIdentifiers) "`" + c.replace("`", "``") + "`" else c
    val updateCols = allCols.filterNot(_ == keyField)
    val setClause = updateCols.map(c => s"${qc(c)} = S.${qc(c)}").mkString(", ")
    val insertCols = allCols.map(qc).mkString(", ")
    val insertVals = allCols.map(c => s"S.${qc(c)}").mkString(", ")
    s"""MERGE `$mainTable` T
       |USING `$stagingTable` S
       |ON T.${qc(keyField)} = S.${qc(keyField)}
       |WHEN MATCHED THEN UPDATE SET $setClause
       |WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)"""
      .stripMargin
  }

  /**
   * Staged upsert into a managed table (reference "update" path,
   * omnichannel_to_bq.py:280-304): duplicate-staging-key guard (mirrors
   * BigQuery MERGE's error), anti-join + union plan, then write-new +
   * swap so the main table is never read and overwritten in one job
   * (SURVEY.md §7.2 atomicity note). Returns the post-merge row count —
   * the reference's COUNT(*) verification (omnichannel_to_bq.py:186-187).
   *
   * Swap protocol (single-writer assumed, like the reference's interactive
   * use): write `tmp` -> rename main -> `backup` -> rename `tmp` -> main ->
   * drop `backup`. A crash between the renames leaves BOTH the full merged
   * result (`tmp`) and the original (`backup`) on disk; recovery = rename
   * whichever is present back to `mainTable`. At no point is the only copy
   * of the data mid-overwrite.
   *
   * Scale: on a SINGLE-column-partitioned main, the merge is PRUNED —
   * the only partitions read and rewritten are those the staging rows
   * land in plus those the staged keys' CURRENT rows live in. Untouched
   * partitions are never read or rewritten (file-listing-pinned in
   * TablesSpec), so a daily incremental merge into a date-partitioned
   * 100 TB fact table WRITES the touched days, not the table. Finding
   * where the staged keys currently live still READS the main's
   * (key, partition) columns table-wide — a column-pruned scan, far
   * cheaper than a rewrite but not partition-bounded. When the caller
   * can promise `stablePartitions` — a key's partition value never
   * changes, the natural contract for event-date-partitioned facts —
   * that discovery scan is skipped entirely and the merge reads AND
   * writes only the partitions present in staging (measured: flat in
   * table size, BENCH_scaling.md round-14 entry). Under that promise a
   * staged key whose current row actually lives elsewhere would be
   * INSERTED alongside its old row instead of moved — the flag is an
   * explicit contract, not a heuristic. Null partition values prune
   * like any other (the null partition reads via `IS NULL` and drops
   * via `PARTITION (col = null)` — measured supported); only
   * multi-column layouts fall back to the full [[replaceWith]]
   * rewrite.
   *
   * Layers: this entry point guards and counts; [[mergeUnique]] merges.
   * The guard runs only when the main exists, since the missing-main
   * load has nothing to match against. The count is a job over the
   * merged table. [[graft.streaming.Streams.upsertSink]] calls
   * [[mergeUnique]] directly: its micro-batch comes out of
   * `dedupeLatest`, which cannot hold a key twice, and it has no use
   * for the count.
   */
  def upsertIntoTable(spark: SparkSession, staging: DataFrame,
                      mainTable: String, key: String,
                      stablePartitions: Boolean = false): Long = {
    if (spark.catalog.tableExists(mainTable))
      Relational.assertUniqueKeys(staging, key)
    mergeUnique(spark, staging, mainTable, key, stablePartitions)
    spark.table(mainTable).count()
  }

  /** The merge of [[upsertIntoTable]] without its duplicate-key guard
   * and post-merge count. `staging` must hold each key at most once (a
   * null key counts as one key), as `Relational.dedupeLatest` output
   * does; a repeated key would land twice. A missing main is created by
   * [[loadOverwrite]]; otherwise the merge is the pruned partitioned
   * replace, [[replaceWith]] or the rename swap, as described on
   * [[upsertIntoTable]]. `broadcastStaging` is passed to
   * `Relational.upsertPlan`: a caller that has sized `staging` within the
   * broadcast threshold sets it, because the planner has no estimate for
   * a frame landed from a micro-batch. */
  private[graft] def mergeUnique(spark: SparkSession, staging: DataFrame,
                                 mainTable: String, key: String,
                                 stablePartitions: Boolean = false,
                                 broadcastStaging: Boolean = false): Unit =
    if (!spark.catalog.tableExists(mainTable)) {
      loadOverwrite(staging, mainTable)
    } else {
      val main = spark.table(mainTable)
      import scala.jdk.CollectionConverters._
      val partCols = spark.catalog.listColumns(mainTable).collectAsList()
        .asScala.filter(_.isPartition).map(_.name).toSeq
      val pruned: Option[Seq[Any]] =
        if (partCols.size != 1) None
        else {
          val pc = partCols.head
          // partitions holding the staged keys' current rows (they may
          // vacate) ∪ partitions the staging rows land in; under the
          // stablePartitions contract the former ⊆ the latter, so the
          // table-wide discovery semi join is skipped
          val touchedDf =
            if (stablePartitions) staging.select(col(pc))
            else main
              .join(staging.select(col(key)).distinct(), Seq(key),
                "left_semi")
              .select(col(pc))
              .union(staging.select(col(pc)))
          Some(touchedDf.distinct().collect().map(_.get(0)).toSeq)
        }
      pruned match {
        case Some(vals) if vals.isEmpty => () // empty staging: no-op
        case Some(vals) =>
          val pc = partCols.head
          val inTouched = main.filter(partValuesFilter(pc, vals))
          prunedPartitionedReplace(spark,
            Relational.upsertPlan(inTouched, staging, key, broadcastStaging),
            mainTable,
            pc, vals)
        case None =>
          replaceWith(spark,
            Relational.upsertPlan(main, staging, key, broadcastStaging),
            mainTable, partCols)
      }
    }

  /** Rewrite ONLY the `touched` partition values (all non-null) of a
   * single-column-partitioned main with `mergedTouched` — the pruned
   * sibling of [[replaceWith]]'s partitioned branch, shared by
   * [[upsertIntoTable]] and [[deleteKeys]]: stage the touched rows
   * (the frame reads the main it replaces), dynamic-overwrite the
   * partitions present, then DROP touched values the replacement no
   * longer contains (fully-vacated partitions — leaving them would
   * resurrect their old rows). Crash between the overwrite and the
   * drops leaves vacated partitions stale; re-running the same
   * upsert/delete heals (their keys are still present and re-resolve
   * to the same touched set) — the same rerun-heals window as
   * [[replaceWith]]'s vacated pass. */
  private def prunedPartitionedReplace(spark: SparkSession,
                                       mergedTouched: DataFrame,
                                       mainTable: String, partCol: String,
                                       touched: Seq[Any]): Unit = {
    val tmp = suffixed(mainTable, "__prune_stage")
    spark.sql(s"DROP TABLE IF EXISTS ${q(tmp)}")
    mergedTouched.write.mode(SaveMode.Overwrite).format("parquet")
      .partitionBy(partCol).saveAsTable(tmp)
    loadPartitioned(spark.table(tmp), mainTable, partCol)
    val present = spark.table(tmp).select(col(partCol)).distinct()
      .collect().map(_.get(0)).toSet
    touched.filterNot(present.contains)
      .foreach(v => dropPartition(spark, mainTable, Seq(partCol -> v)))
    spark.sql(s"DROP TABLE ${q(tmp)}")
    spark.catalog.refreshTable(mainTable)
  }

  /** `ALTER TABLE … DROP IF EXISTS PARTITION` for one partition, given
   * as (column, value) pairs. A null value renders as `` `c` = null ``,
   * which addresses the Hive default partition; a quoted `'null'`
   * would match nothing. Other values are quoted with `\` and `'`
   * escaped. */
  private def dropPartition(spark: SparkSession, table: String,
                            spec: Seq[(String, Any)]): Unit = {
    val parts = spec.map {
      case (c, null) => s"`$c` = null"
      case (c, v) =>
        val esc = String.valueOf(v).replace("\\", "\\\\").replace("'", "\\'")
        s"`$c` = '$esc'"
    }
    spark.sql(s"ALTER TABLE ${q(table)} DROP IF EXISTS " +
      s"PARTITION (${parts.mkString(", ")})")
  }

  /** `partCol ∈ vals` with null-aware semantics: a plain `isin` never
   * matches null, so a null touched value (the Hive default partition)
   * adds an explicit `IS NULL` leg. */
  private def partValuesFilter(pc: String, vals: Seq[Any]): Column = {
    val nonNull = vals.filter(_ != null)
    val base =
      if (nonNull.isEmpty) lit(false) else col(pc).isin(nonNull: _*)
    if (vals.exists(_ == null)) base || col(pc).isNull else base
  }

  /** Write a fully-merged replacement frame over a managed main:
   * rename swap for unpartitioned mains; for partitioned mains, dynamic
   * overwrite of the present partitions plus an explicit drop of
   * VACATED partitions (values the replacement no longer contains) —
   * shared by [[upsertIntoTable]] and [[deleteKeys]]. */
  private def replaceWith(spark: SparkSession, merged: DataFrame,
                          mainTable: String,
                          partCols: Seq[String]): Unit = {
    if (partCols.isEmpty) writeSwapped(spark, merged, mainTable)
      else {
        // partitioned main: rename swap corrupts HMS partition locations
        // (see compactTable) — materialize the merge to a staging table,
        // then dynamic-overwrite.
        val tmp = suffixed(mainTable, "__upsert_stage")
        spark.sql(s"DROP TABLE IF EXISTS ${q(tmp)}")
        merged.write.mode(SaveMode.Overwrite).format("parquet")
          .partitionBy(partCols: _*).saveAsTable(tmp)
        // Dynamic overwrite replaces only the partitions PRESENT in the
        // merged frame. A staging row that changes its partition-column
        // value vacates its old partition: if nothing else lives there,
        // the merged frame has no rows for it, the overwrite leaves it
        // untouched, and the key would exist in two partitions. Detect
        // vacated partitions (old values absent from merged) and drop
        // them explicitly — both distinct frames and the collect are
        // bounded by the table's partition count, not its rows.
        val pcols = partCols.map(col)
        val vacated = spark.table(mainTable).select(pcols: _*).distinct()
          .except(spark.table(tmp).select(pcols: _*).distinct())
          .collect()
        loadPartitioned(spark.table(tmp), mainTable, partCols.head)
        vacated.foreach(r =>
          dropPartition(spark, mainTable, partCols.zip(r.toSeq)))
        spark.sql(s"DROP TABLE ${q(tmp)}")
        spark.catalog.refreshTable(mainTable)
      }
  }

  /** The SCD2 partition column: `date_format(valid_to, 'yyyy-MM-dd')`
   * in the session timezone — null (the Hive default partition) for
   * CURRENT versions, the closing date for history. */
  private[graft] val Scd2PartCol = "valid_to_date"

  /** `effectiveTs` rendered as the partition-value string, with the
   * same session-timezone semantics as `date_format(ts, 'yyyy-MM-dd')`
   * — driver-side, no job. */
  private def scd2PartValue(spark: SparkSession,
                            ts: java.sql.Timestamp): String =
    java.time.Instant.ofEpochMilli(ts.getTime)
      .atZone(java.time.ZoneId.of(
        spark.sessionState.conf.sessionLocalTimeZone))
      .toLocalDate.toString

  /**
   * Initial load of an SCD Type 2 (history-keeping) dimension table:
   * every row becomes the CURRENT version — `valid_from = effectiveTs`,
   * `valid_to = null`. See [[upsertScd2]] for the versioned merge.
   *
   * `partitioned = true` lays the table out by a derived
   * `valid_to_date` column (`date_format(valid_to, 'yyyy-MM-dd')`,
   * null for current versions) — the 100 TB layout: closed history
   * lands in stable per-date partitions that later merges NEVER
   * rewrite (the [[upsertScd2]] pruned path), and the current tier is
   * one partition-pruned scan.
   */
  def loadScd2(df: DataFrame, table: String,
               effectiveTs: java.sql.Timestamp,
               partitioned: Boolean = false): Unit = {
    val versioned = df
      .withColumn("valid_from", lit(effectiveTs))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    if (!partitioned) loadOverwrite(versioned, table)
    else versioned
      .withColumn(Scd2PartCol,
        org.apache.spark.sql.functions.date_format(
          col("valid_to"), "yyyy-MM-dd"))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .partitionBy(Scd2PartCol).saveAsTable(table)
  }

  /**
   * SCD Type 2 upsert — the history-keeping dimension merge (Kimball's
   * slowly-changing-dimension type 2): a staged row whose attributes
   * CHANGED closes the key's current version (`valid_to = effectiveTs`)
   * and opens a new one (`valid_from = effectiveTs, valid_to = null`);
   * an identical staged row is a no-op (no phantom versions); a new key
   * opens its first version. Attribute comparison is null-safe
   * column-wise equality over every non-key attribute, so the change
   * test is exact and engine-invariant. Staging must carry exactly the
   * key + attribute columns; duplicate staging keys are rejected (the
   * [[upsertIntoTable]] guard). The table is replaced via the same
   * crash-safe [[replaceWith]] protocol. Returns the number of NEWLY
   * OPENED versions (changed + new keys) — counted off the
   * current-tier⋈staging join BEFORE the swap, so the return is
   * bounded by the current tier plus staging and never costs a
   * full-table action (a post-merge `count()` here would file-list
   * every history partition on the pruned 100 TB layout, contradicting
   * the merge-cost contract below).
   *
   * Scale: ONE full-outer join between the CURRENT tier and staging —
   * closed, kept, and opened versions all derive from that single
   * joined frame. On a `valid_to_date`-partitioned table (the
   * [[loadScd2]] `partitioned = true` layout) the merge is PRUNED end
   * to end: the current tier reads one partition (the null
   * `valid_to_date`), the only partitions WRITTEN are the null one and
   * `date(effectiveTs)` (where newly closed versions land, unioned
   * with any versions already closed that date), and every other
   * closed-history partition is never read or rewritten — at 100 TB
   * the merge cost tracks the CURRENT tier plus one day of closures,
   * not table size (file-listing-pinned in TablesSpec). Unpartitioned
   * tables keep the full-rewrite path with the history tier riding
   * through as a union leg.
   */
  def upsertScd2(spark: SparkSession, staging: DataFrame,
                 table: String, key: String,
                 effectiveTs: java.sql.Timestamp): Long = {
    Relational.assertUniqueKeys(staging, key)
    mergeScd2(spark, staging, table, key, effectiveTs)
  }

  /** The merge of [[upsertScd2]] without its duplicate-key guard: the
   * same contract checks, versioning and return. `staging` must hold
   * each key at most once, as the `Relational.dedupeLatest` output of
   * [[graft.streaming.Streams.scd2Sink]] does. */
  private[graft] def mergeScd2(spark: SparkSession, staging: DataFrame,
                               table: String, key: String,
                               effectiveTs: java.sql.Timestamp): Long = {
    val full = spark.table(table)
    val attrCols = full.columns
      .filterNot(c => c == key || c == "valid_from" || c == "valid_to" ||
        c == Scd2PartCol)
      .toSeq
    require(attrCols.nonEmpty,
      s"SCD2 table '$table' has no attribute columns beyond the key + " +
        "version columns: there is nothing to version (the change test " +
        "is a reduction over attributes and would be vacuous)")
    require(staging.columns.toSet == (attrCols.toSet + key),
      s"staging must carry exactly the key + attribute columns " +
        s"(${(attrCols.toSet + key).toSeq.sorted.mkString(", ")})")
    import scala.jdk.CollectionConverters._
    val partCols = spark.catalog.listColumns(table).collectAsList()
      .asScala.filter(_.isPartition).map(_.name).toSeq
    val pruned = partCols == Seq(Scd2PartCol)
    // on the partitioned layout, filter on the PARTITION column so the
    // current tier is one pruned directory, not a full-table scan
    val cur =
      if (pruned) full.filter(col(Scd2PartCol).isNull)
      else full.filter(col("valid_to").isNull)
    val o = cur.select((key +: attrCols).map(c => col(c).as(s"o_$c")) :+
      col("valid_from").as("o_valid_from"): _*)
    val n = staging.select((key +: attrCols).map(c => col(c).as(s"n_$c")): _*)
    val j = o.join(n, col(s"o_$key") === col(s"n_$key"), "full_outer")
    val changed = attrCols
      .map(c => !(col(s"o_$c") <=> col(s"n_$c")))
      .reduce(_ || _)
    val oPresent = col(s"o_$key").isNotNull
    val nPresent = col(s"n_$key").isNotNull
    def oRow(validTo: Column) = (col(s"o_$key").as(key) +:
      attrCols.map(c => col(s"o_$c").as(c))) :+
      col("o_valid_from").as("valid_from") :+ validTo.as("valid_to")
    val closed = j.filter(oPresent && nPresent && changed)
      .select(oRow(lit(effectiveTs)): _*)
    val kept = j.filter(oPresent && (!nPresent || !changed))
      .select(oRow(lit(null).cast("timestamp")): _*)
    val opened = j.filter(nPresent && (!oPresent || changed))
      .select((col(s"n_$key").as(key) +:
        attrCols.map(c => col(s"n_$c").as(c))) :+
        lit(effectiveTs).as("valid_from") :+
        lit(null).cast("timestamp").as("valid_to"): _*)
    val ordered = full.schema.fieldNames.toSeq
    // count opened versions BEFORE any write: `opened`'s lineage reads
    // the pre-merge table, and both merge paths replace the partitions
    // it reads (the swap would make a post-write count see merged data)
    val nOpened = opened.count()
    if (!pruned) {
      val hist = full.filter(col("valid_to").isNotNull)
      val merged = hist.select(ordered.map(col): _*)
        .unionByName(closed).unionByName(kept).unionByName(opened)
      replaceWith(spark, merged, table, partCols)
    } else {
      // PRUNED path: only two partitions change — null (current tier:
      // kept + opened) and date(effectiveTs) (newly closed versions,
      // plus whatever already closed that date — same-date history
      // must union in because dynamic overwrite REPLACES the
      // partition). Every other history partition is never touched.
      // SCD2 never vacates a partition (versions only move from the
      // null partition into a date partition), so no vacated-drop pass
      // is needed, unlike replaceWith's general branch.
      val effDate = scd2PartValue(spark, effectiveTs)
      val sameDate = full.filter(col(Scd2PartCol) === effDate)
        .select(ordered.map(col): _*)
      def withPart(df: DataFrame) = df
        .withColumn(Scd2PartCol,
          org.apache.spark.sql.functions.date_format(
            col("valid_to"), "yyyy-MM-dd"))
        .select(ordered.map(col): _*)
      val touched = sameDate.unionByName(withPart(closed))
        .unionByName(withPart(kept)).unionByName(withPart(opened))
      // the touched frame READS the main table (cur + sameDate), so it
      // must materialize to a stage before the dynamic overwrite — a
      // crash mid-stage leaves the main untouched
      val tmp = suffixed(table, "__scd2_stage")
      spark.sql(s"DROP TABLE IF EXISTS ${q(tmp)}")
      touched.write.mode(SaveMode.Overwrite).format("parquet")
        .partitionBy(Scd2PartCol).saveAsTable(tmp)
      loadPartitioned(spark.table(tmp), table, Scd2PartCol)
      spark.sql(s"DROP TABLE ${q(tmp)}")
      spark.catalog.refreshTable(table)
    }
    nOpened
  }

  /**
   * Time-travel read of an SCD Type 2 table: the dimension EXACTLY as
   * it stood at `asOf` — the version whose `[valid_from, valid_to)`
   * range covers the instant, per key. This is what the history tier
   * buys: any past state reconstructs with one partition-prunable
   * filter, no snapshots kept around. Version columns drop from the
   * output (the snapshot IS a plain dimension frame).
   */
  def scd2Snapshot(spark: SparkSession, table: String,
                   asOf: java.sql.Timestamp): DataFrame = {
    val t = spark.table(table)
    // on the partitioned layout, `valid_to > asOf` implies
    // `valid_to_date >= date(asOf)` — add the coarse twin on the
    // PARTITION column so history closed before the probe date prunes
    // at the directory listing, never the row filter
    val base =
      if (t.columns.contains(Scd2PartCol))
        t.filter(col(Scd2PartCol).isNull ||
          col(Scd2PartCol) >= lit(scd2PartValue(spark, asOf)))
      else t
    base
      .filter(col("valid_from") <= lit(asOf) &&
        (col("valid_to").isNull || col("valid_to") > lit(asOf)))
      .drop("valid_from", "valid_to", Scd2PartCol)
  }

  /**
   * Point-in-time dimension lookup over an SCD Type 2 table — the
   * feature-store join that prevents training-data leakage: each fact
   * row joins the dimension version that was valid AT ITS OWN event
   * time (`valid_from <= ts < valid_to`), never today's attributes.
   * Left join: a fact before the key's first version (or with no key)
   * keeps null attributes — visible, not silently dropped. Emits the
   * fact columns plus the dimension's attribute columns.
   *
   * Scale: an equi hash join on the key with the validity range as a
   * residual filter — versions per key are few, so the residual is
   * cheap; the fact side is never range-exploded.
   *
   * `noFactsBefore` is the validity-horizon pruning hint: when the
   * CALLER guarantees every fact's `factTs >= t`, versions closed
   * before `t` (`valid_to <= t`) can never satisfy `valid_to > factTs`
   * and are filtered out of the dimension side up front — on the
   * [[loadScd2]] partitioned layout that is a PARTITION filter
   * (`valid_to_date >= date(t)` — closed history behind the horizon is
   * never even listed), and on any layout it is a parquet
   * min/max-skippable row filter. An incremental enrichment job whose
   * facts trail the present by hours joins a current-tier-sized
   * dimension slice instead of all history. Output is identical with
   * or without the hint (TablesSpec pin) — it only removes versions
   * that could not match under the caller's guarantee.
   */
  def scd2Lookup(spark: SparkSession, facts: DataFrame, table: String,
                 key: String, factTs: String,
                 noFactsBefore: Option[java.sql.Timestamp] = None)
      : DataFrame = {
    val dim0 = spark.table(table)
    val dim = noFactsBefore.fold(dim0) { t =>
      val coarse =
        if (dim0.columns.contains(Scd2PartCol))
          col(Scd2PartCol).isNull ||
            col(Scd2PartCol) >= lit(scd2PartValue(spark, t))
        else lit(true)
      dim0.filter(coarse &&
        (col("valid_to").isNull || col("valid_to") > lit(t)))
    }
    val attrCols = dim.columns
      .filterNot(c => c == key || c == "valid_from" || c == "valid_to" ||
        c == Scd2PartCol)
      .toSeq
    val d = dim.select((key +: attrCols).map(c => col(c).as(s"__d_$c")) ++
      Seq(col("valid_from").as("__vf"), col("valid_to").as("__vt")): _*)
    facts.join(d,
        facts(key) === col(s"__d_$key") &&
          col("__vf") <= facts(factTs) &&
          (col("__vt").isNull || col("__vt") > facts(factTs)),
        "left")
      .select(facts.columns.map(facts(_)) ++
        attrCols.map(c => col(s"__d_$c").as(c)): _*)
  }

  /**
   * Staged key DELETION — the retraction half of the merge surface
   * (GDPR erasure, takedown feeds, bad-batch rollback): anti-join the
   * main table against the key set and replace it via the same
   * crash-safe protocol as [[upsertIntoTable]] ([[replaceWith]]:
   * rename swap, or dynamic overwrite with vacated-partition drop on
   * partitioned mains — a partition whose every row is deleted is
   * DROPPED, not left stale). Returns the remaining row count so the
   * caller can assert `before - |keys ∩ table|`. Run [[recoverSwap]]
   * on restart, as with every swap-protocol write.
   *
   * Scale: one anti-join shuffled on the key (broadcast when the key
   * set is small — the usual erasure-request shape) plus the rewrite.
   * On a single-column-partitioned main the rewrite is PRUNED to the
   * partitions that actually HOLD the doomed keys (one semi join +
   * a partition-count-bounded distinct to find them) — a GDPR erasure
   * of a handful of users rewrites the days those users touched, not
   * the 100 TB table. Fully-vacated partitions drop; untouched
   * partitions are never read or rewritten (file-listing-pinned).
   * Null partition values prune like any other (see
   * [[upsertIntoTable]]) — erasing a key from a [[loadScd2]]
   * partitioned dimension rewrites the current tier plus only the
   * dates holding that key's closed versions. Multi-column layouts
   * fall back to the full [[replaceWith]] rewrite.
   */
  def deleteKeys(spark: SparkSession, keys: DataFrame, mainTable: String,
                 key: String): Long = {
    val main = spark.table(mainTable)
    val keySet = keys.select(col(key)).distinct()
    import scala.jdk.CollectionConverters._
    val partCols = spark.catalog.listColumns(mainTable).collectAsList()
      .asScala.filter(_.isPartition).map(_.name).toSeq
    def remainingOf(df: DataFrame) = df
      .join(keySet, Seq(key), "left_anti")
      // anti-join puts the key column first; realign to the table schema
      .select(main.schema.fieldNames.map(col): _*)
    val pruned: Option[Seq[Any]] =
      if (partCols.size != 1) None
      else Some(main.join(keySet, Seq(key), "left_semi")
        .select(col(partCols.head)).distinct()
        .collect().map(_.get(0)).toSeq)
    pruned match {
      case Some(vals) if vals.isEmpty => () // no doomed keys: no-op
      case Some(vals) =>
        val pc = partCols.head
        prunedPartitionedReplace(spark,
          remainingOf(main.filter(partValuesFilter(pc, vals))),
          mainTable, pc, vals)
      case None =>
        replaceWith(spark, remainingOf(main), mainTable, partCols)
    }
    spark.table(mainTable).count()
  }

  /**
   * Retention enforcement for a partitioned table: drop every
   * partition whose value sorts strictly BELOW `keepFrom` — a
   * metadata-only operation (no data scan, no rewrite), which is why
   * retention policies at 100 TB partition by date in the first place.
   * Comparison is lexicographic over the partition VALUE string: use
   * ISO date values (`yyyy-MM-dd`), where lexicographic =
   * chronological. Returns the dropped values, sorted. Rows inside the
   * boundary partition are kept whole — partition-granular retention
   * by contract (delete row-level stragglers with [[deleteKeys]]).
   */
  def expirePartitions(spark: SparkSession, table: String,
                       partitionCol: String,
                       keepFrom: String): Seq[String] = {
    val values = spark.sql(s"SHOW PARTITIONS ${q(table)}")
      .collect()
      .map(_.getString(0))
      .flatMap(_.split('/').find(_.startsWith(partitionCol + "="))
        .map(_.substring(partitionCol.length + 1)))
      .toSeq.distinct
    val expired = values.filter(_ < keepFrom).sorted
    expired.foreach(v => dropPartition(spark, table, Seq(partitionCol -> v)))
    if (expired.nonEmpty) spark.catalog.refreshTable(table)
    expired
  }

  /**
   * Small-file compaction: rewrite a managed table into `targetFiles`
   * shards via the same crash-safe tmp/backup swap as the upsert path.
   * Streaming/incremental sinks accrete one file per micro-batch per
   * partition; at 100 TB that is millions of KB-sized files whose
   * open/footer costs dominate scans — periodic compaction to
   * row-group-sized shards is routine table maintenance. `sortCol`
   * optionally range-sorts while rewriting (total sort = range
   * exchange), clustering the table for pruning on that column.
   * Partitioned tables keep their partition layout (and pruning), with
   * `targetFiles` applied per partition value. Returns
   * (filesBefore, filesAfter).
   *
   * Partitioned tables do NOT go through the rename swap: HMS partition
   * locations are absolute, so renaming a partitioned managed table
   * leaves its partitions pointing at the old paths (and dropping the
   * backup would delete data the renamed-in table now owns — measured,
   * not theoretical). They compact via a staging table + per-partition
   * dynamic overwrite instead: one extra data write, same crash
   * safety (job-commit staging on the overwrite).
   */
  def compactTable(spark: SparkSession, table: String, targetFiles: Int,
                   sortCol: Option[String] = None): (Int, Int) = {
    require(targetFiles >= 1, "targetFiles >= 1")
    val before = spark.table(table).inputFiles.length
    val df = spark.table(table)
    // a partitioned table must stay partitioned — a plain rewrite would
    // silently flatten the layout and break partition pruning for every
    // downstream reader. targetFiles then applies PER PARTITION.
    import scala.jdk.CollectionConverters._
    val partCols = spark.catalog.listColumns(table).collectAsList()
      .asScala.filter(_.isPartition).map(_.name).toSeq
    val shaped = (sortCol, partCols) match {
      case (Some(c), Seq()) =>
        df.repartitionByRange(targetFiles, col(c)).sortWithinPartitions(c)
      case (None, Seq()) => df.repartition(targetFiles)
      case (s, pcs) =>
        // targetFiles applies per partition VALUE: shuffle on the
        // partition columns plus a row-level bucket so each value's rows
        // land in at most targetFiles tasks. The bucket MUST be a pure
        // function of row content: a positional source (MID, rand) can
        // re-evaluate differently when a lost shuffle block replays the
        // map task, duplicating/dropping rows in the rewrite — the
        // SPARK-23207 failure class.
        val bucket = pmod(xxhash64(df.columns.map(col).toSeq: _*),
          lit(targetFiles.toLong))
        val shuffled = df.repartition((pcs.map(col) :+ bucket): _*)
        s.fold(shuffled)(c => shuffled.sortWithinPartitions(c))
    }
    if (partCols.isEmpty) writeSwapped(spark, shaped, table)
    else {
      val tmp = suffixed(table, "__compact_tmp")
      spark.sql(s"DROP TABLE IF EXISTS ${q(tmp)}")
      shaped.write.mode(SaveMode.Overwrite).format("parquet")
        .partitionBy(partCols: _*).saveAsTable(tmp)
      loadPartitioned(spark.table(tmp), table, partCols.head)
      spark.sql(s"DROP TABLE ${q(tmp)}")
      spark.catalog.refreshTable(table)
    }
    (before, spark.table(table).inputFiles.length)
  }

  /**
   * Z-order (Morton-curve) compaction: rewrite an UNPARTITIONED table
   * into ~`targetFiles` files clustered on the interleaved bit pattern
   * of `zCols`, so parquet row-group/file min-max statistics are tight
   * on EVERY z-ordered column at once. A single-column sort
   * ([[compactTable]] with `sortCol`) gives perfect pruning on that
   * column and none on any other; z-ordering trades a little pruning on
   * each column for usable pruning on all of them — the multi-dimension
   * data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER BY).
   *
   * Mechanics: each column is scaled to `bits` bits by its global
   * min/max (one tiny aggregate — two doubles per column on the
   * driver), bits interleave column-round-robin into one BIGINT, and
   * the rewrite is a range exchange + in-partition sort on that key —
   * the same two-shuffle shape as any total sort, no driver data path.
   * Linear min/max scaling assumes roughly uniform values; heavily
   * skewed columns should be pre-ranked (or the skew accepted as
   * coarser pruning on that column). Nulls scale to bucket 0.
   *
   * The queryable (integer-exact, oracle-checked) two-column assignment
   * and per-bucket pruning envelopes live in
   * [[graft.operators.Layout]].
   */
  def zorderCompact(spark: SparkSession, table: String, zCols: Seq[String],
                    targetFiles: Int, bits: Int = 16): (Int, Int) = {
    require(zCols.size >= 2, "z-order needs at least 2 columns")
    require(bits >= 1 && bits * zCols.size <= 62,
      "bits * zCols.size must fit a positive BIGINT")
    // the rename-swap write would silently flatten a partitioned layout
    // (same constraint as compactTable's unpartitioned branch)
    import scala.jdk.CollectionConverters._
    require(!spark.catalog.listColumns(table).collectAsList()
      .asScala.exists(_.isPartition),
      s"zorderCompact supports unpartitioned tables only: $table")
    val df = spark.table(table)
    val before = df.inputFiles.length
    val mm = df.agg(
      zCols.map(c => min(col(c).cast("double")).as(s"__mn_$c")).head,
      (zCols.tail.map(c => min(col(c).cast("double")).as(s"__mn_$c")) ++
        zCols.map(c => max(col(c).cast("double")).as(s"__mx_$c"))): _*)
      .collect()(0)
    // empty table (or all-null z column): nothing to cluster — no-op
    if (mm.anyNull) return (before, before)
    val top = (1L << bits) - 1
    val z = zCols.zipWithIndex.map { case (c, j) =>
      val mn = mm.getAs[Double](s"__mn_$c")
      val mx = mm.getAs[Double](s"__mx_$c")
      val scaled =
        if (mx > mn)
          round((coalesce(col(c).cast("double"), lit(mn)) - mn)
            / (mx - mn) * top).cast("long")
        else lit(0L)
      (0 until bits).map { b =>
        shiftleft(shiftright(scaled, b).bitwiseAND(lit(1L)),
          b * zCols.size + j)
      }.reduce[Column](_ + _)
    }.reduce[Column](_ + _)
    val shaped = df.withColumn("__z", z)
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    writeSwapped(spark, shaped, table)
    (before, spark.table(table).inputFiles.length)
  }

  /**
   * Hilbert-curve compaction — [[zorderCompact]] with the Morton
   * interleave swapped for the `graft_hilbert` index
   * ([[graft.plans.HilbertIndex]]; the session must register
   * [[graft.plans.GraftExtensions]]): rewrite an unpartitioned table
   * into `targetFiles` files clustered along the 2-D Hilbert curve of
   * the two key columns. Consecutive curve positions are always grid
   * neighbors, so per-file min/max envelopes are tighter than Morton's
   * (whose Z jumps stretch a file's bounding box across the diagonal) —
   * the strongest two-column data-skipping layout this catalog writes.
   * Same protocol as [[zorderCompact]]: double-scaled cells from global
   * bounds (nulls pinned to the minimum), range-exchange on the index +
   * in-partition sort, crash-safe rename swap. Returns
   * (filesBefore, filesAfter); empty/all-null tables are a no-op.
   */
  def hilbertCompact(spark: SparkSession, table: String,
                     xCol: String, yCol: String,
                     targetFiles: Int, bits: Int = 16): (Int, Int) = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    import scala.jdk.CollectionConverters._
    require(!spark.catalog.listColumns(table).collectAsList()
      .asScala.exists(_.isPartition),
      s"hilbertCompact supports unpartitioned tables only: $table")
    val df = spark.table(table)
    val before = df.inputFiles.length
    val mm = df.agg(
      min(col(xCol).cast("double")).as("__mnx"),
      min(col(yCol).cast("double")).as("__mny"),
      max(col(xCol).cast("double")).as("__mxx"),
      max(col(yCol).cast("double")).as("__mxy"))
      .collect()(0)
    if (mm.anyNull) return (before, before)
    val top = (1L << bits) - 1
    def cell(c: String, mn: Double, mx: Double): Column =
      if (mx > mn)
        round((coalesce(col(c).cast("double"), lit(mn)) - mn)
          / (mx - mn) * top).cast("long")
      else lit(0L)
    val cx = cell(xCol, mm.getAs[Double]("__mnx"), mm.getAs[Double]("__mxx"))
    val cy = cell(yCol, mm.getAs[Double]("__mny"), mm.getAs[Double]("__mxy"))
    val shaped = df
      .withColumn("__cx", cx).withColumn("__cy", cy)
      .withColumn("__h", expr(s"graft_hilbert(__cx, __cy, $bits)"))
      .repartitionByRange(targetFiles, col("__h"))
      .sortWithinPartitions("__h")
      .drop("__cx", "__cy", "__h")
    writeSwapped(spark, shaped, table)
    (before, spark.table(table).inputFiles.length)
  }

  /**
   * Additive aggregate partials of `df` — the persistable shape of a
   * MATERIALIZED ROLLUP: one row per key tuple carrying the row count
   * `n` and exact DECIMAL(38,0) sums (`sum_<col>`) of each value
   * column. The value columns must be INTEGRAL (pre-quantized — the
   * corpus-wide micro/milli-unit rule): integer partials from disjoint
   * row sets merge by plain addition, which is what makes the rollup
   * incrementally maintainable; float sums would drift with merge
   * order. Nulls sum as 0 but still count into `n`.
   */
  def aggPartials(df: DataFrame, keyCols: Seq[String],
                  sumCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "aggPartials needs at least one key column")
    val dec = "decimal(38,0)"
    val aggs = count(lit(1)).cast(dec).as("n") +: sumCols.map(c =>
      coalesce(sum(col(c).cast(dec)), lit(0).cast(dec)).as(s"sum_$c"))
    df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Build (or rebuild) a materialized additive rollup of `df` as a
   * bucketed table — the serve-from-preaggregate pattern that makes a
   * 100 TB metric dashboard a key-cardinality scan instead of a fact
   * scan. Bucketed by the first key column, so serving joins/groupBys
   * on that key read the table exchange-free at the bucket layout.
   * Written via the staged swap ([[stageBucketedSwap]] +
   * [[commitSwaps]]): a crash never leaves a half-written main.
   */
  def writeAggTable(df: DataFrame, table: String, keyCols: Seq[String],
                    sumCols: Seq[String], numBuckets: Int = 8): Unit = {
    stageBucketedSwap(aggPartials(df, keyCols, sumCols), table,
      keyCols.head, numBuckets)
    commitSwaps(df.sparkSession, Seq(table))
  }

  /**
   * Fold a DELTA batch into a materialized rollup — incremental view
   * maintenance for the additive aggregate class: the delta reduces to
   * its own partials, unions with the CURRENT key-cardinality table,
   * and re-merges by key. Cost is O(|rollup| + |delta|) — the base
   * FACT rows are never rescanned, which is the entire point versus
   * recomputing the aggregate. Runs [[recoverSwap]] at entry (the
   * drilled crash-window protocol), then replaces the table via the
   * staged swap.
   *
   * NOT idempotent per delta (addition double-counts a replayed
   * batch): callers must track delta consumption transactionally —
   * e.g. drive it from a streaming checkpoint, or prune consumed delta
   * partitions only after [[commitSwaps]] returns, the
   * [[graft.streaming.Streams]] fold pattern. Single-writer, like
   * every swap-protocol table.
   */
  def refreshAggTable(spark: SparkSession, delta: DataFrame, table: String,
                      keyCols: Seq[String], sumCols: Seq[String],
                      numBuckets: Int = 8): Unit = {
    recoverSwap(spark, table)
    val merged = spark.table(table)
      .unionByName(aggPartials(delta, keyCols, sumCols))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("n")).as("n"),
        sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c")): _*)
    stageBucketedSwap(merged, table, keyCols.head, numBuckets)
    commitSwaps(spark, Seq(table))
  }

  /**
   * Crash recovery for the [[upsertIntoTable]]/[[compactTable]] rename
   * swap — the documented restore-from-`backup`/`tmp` procedure as code,
   * one case per crash window of [[writeSwapped]]:
   *   - main MISSING, `__swap_tmp` present (crash between the two
   *     renames): roll FORWARD — `tmp` holds the complete merged result,
   *     so it becomes main and any `backup` is dropped;
   *   - main MISSING, only `__swap_backup` present (tmp lost with the
   *     crash, e.g. its write never committed): roll BACK — the original
   *     returns as main and the merge is simply un-applied, to be rerun;
   *   - main PRESENT with leftover `tmp`/`backup` (crash before the
   *     first rename, or after the second rename before the backup
   *     drop): main is authoritative — drop the leftovers.
   * Idempotent: a clean state is a no-op. Returns true when anything was
   * repaired. Single-writer, like the swap itself: run it on restart
   * BEFORE the first upsert, never concurrently with one.
   */
  def recoverSwap(spark: SparkSession, mainTable: String): Boolean = {
    val tmp = suffixed(mainTable, "__swap_tmp")
    val backup = suffixed(mainTable, "__swap_backup")
    val hasMain = spark.catalog.tableExists(mainTable)
    val hasTmp = spark.catalog.tableExists(tmp)
    val hasBackup = spark.catalog.tableExists(backup)
    if (!hasMain && hasTmp) {
      spark.sql(s"ALTER TABLE ${q(tmp)} RENAME TO ${q(mainTable)}")
      if (hasBackup) spark.sql(s"DROP TABLE ${q(backup)}")
      spark.catalog.refreshTable(mainTable)
      true
    } else if (!hasMain && hasBackup) {
      spark.sql(s"ALTER TABLE ${q(backup)} RENAME TO ${q(mainTable)}")
      spark.catalog.refreshTable(mainTable)
      true
    } else if (hasMain && (hasTmp || hasBackup)) {
      if (hasTmp) spark.sql(s"DROP TABLE ${q(tmp)}")
      if (hasBackup) spark.sql(s"DROP TABLE ${q(backup)}")
      true
    } else false
  }

  /** Replace `mainTable`'s contents with `df` via write-new + rename swap
   * (see [[upsertIntoTable]]'s protocol note: a crash between renames
   * leaves both the new table and the backup recoverable on disk;
   * [[recoverSwap]] is that recovery).
   * UNPARTITIONED tables only — HMS partition locations do not survive
   * a table rename (see [[compactTable]]). */
  private def writeSwapped(spark: SparkSession, df: DataFrame,
                           mainTable: String): Unit = {
    val tmp = suffixed(mainTable, "__swap_tmp")
    val backup = suffixed(mainTable, "__swap_backup")
    spark.sql(s"DROP TABLE IF EXISTS ${q(tmp)}")
    spark.sql(s"DROP TABLE IF EXISTS ${q(backup)}")
    // orphan dirs at either scratch location (no catalog entry, dead
    // former process) would fail the CTAS / rename below
    clearOrphanLocation(spark, tmp)
    clearOrphanLocation(spark, backup)
    df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(tmp)
    spark.sql(s"ALTER TABLE ${q(mainTable)} RENAME TO ${q(backup)}")
    spark.sql(s"ALTER TABLE ${q(tmp)} RENAME TO ${q(mainTable)}")
    spark.sql(s"DROP TABLE ${q(backup)}")
    // the session's relation cache still points at the pre-swap file
    // listing for mainTable; without a refresh the next read fails with
    // FILE_NOT_EXIST (observed under repeated foreachBatch upserts)
    spark.catalog.refreshTable(mainTable)
  }

  /**
   * Stage `df` as the swap-tmp of a BUCKETED table — step 1 of the
   * two-phase [[commitSwaps]] protocol that replaces a SET of tables
   * near-atomically. [[loadBucketed]] alone is a drop-and-recreate
   * (`SaveMode.Overwrite` `saveAsTable`): a crash mid-write leaves the
   * table missing or half-written, and for a multi-table layout like
   * [[graft.operators.Dedup.writeBandedIndex]]'s `_bands`/`_sigs` pair a
   * crash BETWEEN the two writes leaves them skewed. Staging writes every
   * table's full replacement to `<table>__swap_tmp` first (mains
   * untouched, crash here costs only a leftover tmp that [[recoverSwap]]
   * drops), then [[commitSwaps]] promotes them all with back-to-back
   * metadata renames.
   */
  def stageBucketedSwap(df: DataFrame, table: String, bucketCol: String,
                        numBuckets: Int, sorted: Boolean = true): Unit = {
    val spark = df.sparkSession
    val tmp = suffixed(table, "__swap_tmp")
    val backup = suffixed(table, "__swap_backup")
    spark.sql(s"DROP TABLE IF EXISTS ${q(tmp)}")
    spark.sql(s"DROP TABLE IF EXISTS ${q(backup)}")
    clearOrphanLocation(spark, tmp)
    clearOrphanLocation(spark, backup)
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, bucketCol)
    (if (sorted) w.sortBy(bucketCol) else w).saveAsTable(tmp)
  }

  /**
   * Step 2 of the staged bucketed swap: promote every previously staged
   * `<table>__swap_tmp` over its main via the [[writeSwapped]] rename
   * protocol (rename main -> `backup`, tmp -> main, drop backup; bucket
   * spec is catalog metadata and survives the rename). All data writes
   * happened in [[stageBucketedSwap]], so the crash window here is a few
   * metadata operations per table:
   *   - within one table's swap: exactly the drilled [[recoverSwap]]
   *     windows — run [[recoverSwap]] on each table on restart;
   *   - BETWEEN tables: earlier tables new, later tables old — each
   *     individually intact, but the set is skewed until the caller's
   *     recovery (for the signature indexes: re-run the fold, which is
   *     idempotent because delta partitions are pruned only after the
   *     commit completes).
   * Fails fast (before touching anything) if any staged tmp is missing.
   * A missing main is fine — first build of the table set.
   */
  def commitSwaps(spark: SparkSession, tables: Seq[String]): Unit = {
    tables.foreach { table =>
      require(spark.catalog.tableExists(suffixed(table, "__swap_tmp")),
        s"commitSwaps: no staged swap-tmp for $table — " +
          "stageBucketedSwap every table before committing")
    }
    tables.foreach { table =>
      val tmp = suffixed(table, "__swap_tmp")
      val backup = suffixed(table, "__swap_backup")
      if (spark.catalog.tableExists(table))
        spark.sql(s"ALTER TABLE ${q(table)} RENAME TO ${q(backup)}")
      // first build (no main to rename away): an orphan dir at the main
      // location — dead former process, see clearOrphanLocation — would
      // fail the promote rename with LOCATION_ALREADY_EXISTS
      else clearOrphanLocation(spark, table)
      spark.sql(s"ALTER TABLE ${q(tmp)} RENAME TO ${q(table)}")
      spark.sql(s"DROP TABLE IF EXISTS ${q(backup)}")
      spark.catalog.refreshTable(table)
    }
  }
}
