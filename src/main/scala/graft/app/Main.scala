package graft.app

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Relational
import graft.schema.Normalize
import graft.sources.rest.RestIngest
import graft.tables.Tables

/**
 * CLI pipeline runner — the reference's Tkinter orchestration re-expressed
 * as subcommands (reference: omnichannel_to_bq.py:203-311; SURVEY.md
 * §2.11 C1-C6; the CLI form is the reference's own roadmap, README.md:119).
 *
 *   load   --input <parquet dir|json url template> --table T
 *          [--since ISO --to ISO] [--ts-col created_at] [--preview]
 *   upsert ... --key id --staging S
 *
 * Flow (new/update paths, omnichannel_to_bq.py:233-304): fetch -> normalize
 * -> sort -> optional preview -> abort-on-empty -> overwrite-load | staged
 * upsert (staging table -> merge -> drop staging, with drop in a finally so
 * a failed merge still cleans up — reference :189-191). A REST fetch lands
 * its pages once ([[RestIngest.readJson]]); every later step reads that
 * snapshot, so each page is requested once per run.
 */
object Main {

  case class Config(action: String = "", input: String = "", table: String = "",
                    key: String = "id", staging: String = "",
                    since: Option[String] = None, to: Option[String] = None,
                    tsCol: String = "created_at", preview: Boolean = false,
                    objKey: String = "deals", partitionByDate: Boolean = false,
                    index: String = "", corpus: String = "",
                    kind: String = "span", w: Int = 8, avgTokens: Int = 16,
                    idCol: String = "doc_id", textCol: String = "text",
                    bucketedBase: Option[String] = None,
                    recallSample: Int = 0, recallK: Int = 10)

  /** ISO input parsing at the app boundary (reference get_iso_from_input,
   * omnichannel_to_bq.py:15-26): accepts `yyyy-MM-dd` or
   * `yyyy-MM-dd HH:mm:ss`, canonicalizes to the latter. */
  def parseIso(s: String): String = {
    val t = s.trim
    val dt =
      if (t.length == 10) LocalDateTime.parse(t + " 00:00:00",
        DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      else LocalDateTime.parse(t.replace('T', ' '),
        DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    dt.format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
  }

  def parseArgs(args: Seq[String]): Config = {
    require(args.nonEmpty &&
      Set("load", "upsert", "verify-index").contains(args.head),
      "usage: load|upsert --input <src> --table <name> [options] | " +
        "verify-index --index <dir|table-base> [--corpus <parquet dir>] " +
        "[--kind span|chunk|ivf|pq] [--w N] [--avg-tokens N] " +
        "[--id-col c] [--text-col c] [--bucketed-base tbl] " +
        "[--recall-sample N --recall-k K] " +
        "(ivf/pq: --index is the write{Ivf,Pq}Index table base; " +
        "--corpus only for span/chunk audits and the pq recall probe)")
    var c = Config(action = args.head)
    var rest = args.tail.toList
    while (rest.nonEmpty) rest match {
      case "--input" :: v :: t   => c = c.copy(input = v.trim); rest = t
      case "--table" :: v :: t   => c = c.copy(table = v.trim); rest = t // F8 .trim
      case "--key" :: v :: t     => c = c.copy(key = v.trim); rest = t
      case "--staging" :: v :: t => c = c.copy(staging = v.trim); rest = t
      case "--since" :: v :: t   => c = c.copy(since = Some(parseIso(v))); rest = t
      case "--to" :: v :: t      => c = c.copy(to = Some(parseIso(v))); rest = t
      case "--ts-col" :: v :: t  => c = c.copy(tsCol = v.trim); rest = t
      case "--obj-key" :: v :: t => c = c.copy(objKey = v.trim); rest = t
      case "--preview" :: t      => c = c.copy(preview = true); rest = t
      case "--partition-by-date" :: t =>
        c = c.copy(partitionByDate = true); rest = t
      case "--index" :: v :: t   => c = c.copy(index = v.trim); rest = t
      case "--corpus" :: v :: t  => c = c.copy(corpus = v.trim); rest = t
      case "--kind" :: v :: t    => c = c.copy(kind = v.trim); rest = t
      case "--w" :: v :: t       => c = c.copy(w = v.trim.toInt); rest = t
      case "--avg-tokens" :: v :: t =>
        c = c.copy(avgTokens = v.trim.toInt); rest = t
      case "--id-col" :: v :: t  => c = c.copy(idCol = v.trim); rest = t
      case "--text-col" :: v :: t => c = c.copy(textCol = v.trim); rest = t
      case "--bucketed-base" :: v :: t =>
        c = c.copy(bucketedBase = Some(v.trim)); rest = t
      case "--recall-sample" :: v :: t =>
        c = c.copy(recallSample = v.trim.toInt); rest = t
      case "--recall-k" :: v :: t =>
        c = c.copy(recallK = v.trim.toInt); rest = t
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown argument: $other")
      case Nil => ()
    }
    if (c.action == "verify-index") {
      require(c.index.nonEmpty, "--index is required")
      require(Set("span", "chunk", "ivf", "pq").contains(c.kind),
        s"--kind must be span, chunk, ivf or pq, got '${c.kind}'")
      // span/chunk audit against the source corpus; the ivf/pq audits
      // are self-contained (the index holds what they need — vectors
      // for ivf, structural invariants for pq)
      require(c.corpus.nonEmpty || c.kind == "ivf" || c.kind == "pq",
        "--corpus is required for span/chunk audits")
      // the vector indexes key on vec_id by convention; an explicit
      // --id-col still wins for either kind
      if ((c.kind == "ivf" || c.kind == "pq") && c.idCol == "doc_id")
        c = c.copy(idCol = "vec_id")
      if (c.recallSample > 0) {
        require(c.kind == "ivf" || c.kind == "pq",
          "--recall-sample applies to the ivf/pq audits only")
        require(c.kind == "ivf" || c.corpus.nonEmpty,
          "the pq recall probe needs --corpus (codes are lossy — " +
            "ground truth cannot be reconstructed from the index)")
      }
    } else {
      require(c.input.nonEmpty, "--input is required")
      require(c.table.nonEmpty, "--table is required")
    }
    if (c.action == "upsert" && c.staging.isEmpty)
      c = c.copy(staging = c.table + "_staging")
    c
  }

  /**
   * The `verify-index` subcommand: run the QUIESCED reconciliation
   * audit ([[graft.streaming.Streams.verifySpanIndex]] /
   * [[verifyChunkIndex]]) of a live streaming dedup index against the
   * actual corpus — the operational handle for the sinks' documented
   * composite-hash residual. Prints every colliding composite (expected:
   * none) and returns the residual count; [[main]] exits non-zero on a
   * non-empty residual so the audit gates in a cron the same way a
   * failed check does. Format mismatches fail loudly inside the audit
   * itself (the index's `_format` gate) — an incompatible index can
   * never report a clean zero here.
   *
   * The VECTOR index kinds: `--kind ivf` recomputes a
   * bounded sample of cell assignments against the live routing table
   * ([[graft.operators.Similarity.verifyIvfIndex]] — catches
   * generation leaks and out-of-band edits), `--kind pq` checks every
   * structural invariant the lossy codes table can support
   * ([[graft.operators.Similarity.verifyPqIndex]]). Both print the
   * index generation and calibrated nprobe, take `--index` as the
   * TABLE BASE rather than a path, and need no `--corpus`.
   */
  def verifyIndex(spark: SparkSession, c: Config): Long = {
    import graft.streaming.Streams
    import graft.operators.Similarity
    val residual = c.kind match {
      case "span" => Streams.verifySpanIndex(spark, c.index,
        spark.read.parquet(c.corpus),
        w = c.w, textCol = c.textCol, bucketedBase = c.bucketedBase)
      case "chunk" => Streams.verifyChunkIndex(spark, c.index,
        spark.read.parquet(c.corpus),
        avgTokens = c.avgTokens, idCol = c.idCol, textCol = c.textCol)
      case "ivf" =>
        // `--index` names the table BASE (the writeIvfIndex baseTable),
        // not a path; report the routing metadata alongside the audit
        println(s"[graft] ivf index '${c.index}': gen=" +
          Similarity.ivfGeneration(spark, c.index) +
          " cal_nprobe=" +
          Similarity.calibratedNprobe(spark, c.index)
            .map(_.toString).getOrElse("(uncalibrated)") +
          // the durable calibration CONTRACT (drives the default
          // recalibration at retrain) and the workload fingerprint
          // (drives the autoNprobe shift guard)
          " contract=" +
          Similarity.ivfCalibrationSpec(spark, c.index)
            .map(s => f"target=${s.target}%.2f,z=${s.marginZ}%.2f")
            .getOrElse("(none)") +
          " fingerprint=" +
          (if (Similarity.ivfCalibrationFingerprint(spark, c.index)
            .isDefined) "yes" else "no"))
        Similarity.verifyIvfIndex(spark, c.index, idCol = c.idCol)
      case "pq" =>
        // the refined-path (nprobe, shortlist) pair and the encoding
        // kind beside the ADC calibration — an operator diagnosing
        // recall wants all three at a glance
        println(s"[graft] pq index '${c.index}': gen=" +
          Similarity.pqGeneration(spark, c.index) +
          " kind=" +
          (if (Similarity.pqIsResidual(spark, c.index)) "residual(IVFADC)"
           else "raw") +
          " cal_nprobe=" +
          Similarity.calibratedPqNprobe(spark, c.index)
            .map(_.toString).getOrElse("(uncalibrated)") +
          " cal_ref=" +
          Similarity.calibratedRefined(spark, c.index)
            .map { case (np, s) => s"(nprobe=$np,shortlist=$s)" }
            .getOrElse("(uncalibrated)") +
          // contract + fingerprint, as for the ivf kind
          " contract=" +
          (Similarity.pqCalibrationSpec(spark, c.index, refined = true)
            .map(s => f"refined_target=${s.target}%.2f,z=${s.marginZ}%.2f")
            .orElse(Similarity.pqCalibrationSpec(spark, c.index,
              refined = false)
              .map(s => f"target=${s.target}%.2f,z=${s.marginZ}%.2f")))
            .getOrElse("(none)") +
          " fingerprint=" +
          (if (Similarity.pqCalibrationFingerprint(spark, c.index)
            .isDefined) "yes" else "no"))
        Similarity.verifyPqIndex(spark, c.index, idCol = c.idCol)
    }
    // optional live QUALITY replay beside the structural audit — a
    // small held-out recall probe through the index's own serving
    // config, so an operator can audit drift after a retrain (the
    // persisted calibration is the build-time promise; this is the
    // measured now)
    if (c.recallSample > 0 && (c.kind == "ivf" || c.kind == "pq")) {
      val corpus =
        if (c.kind == "pq") Some(spark.read.parquet(c.corpus)) else None
      val (r, n, mode) = Similarity.measureIndexRecall(spark, c.index,
        c.kind, corpus, k = c.recallK, sample = c.recallSample,
        idCol = c.idCol)
      println(f"[graft] measured recall@${c.recallK}%d = $r%.4f " +
        f"over $n%d truth rows (held-out sample=${c.recallSample}%d, " +
        s"mode=$mode)")
    }
    // the audit output is ≤ one row per index composite that collides —
    // expected empty; bounded by actual collisions, never corpus-sized
    val rows = residual.collect()
    rows.foreach(r => System.err.println(s"[graft] RESIDUAL: $r"))
    println(s"[graft] verify-index(${c.kind}) over ${c.index}: " +
      s"${rows.length} colliding composite(s)" +
      (if (rows.isEmpty) " — clean" else " — HAND-REVIEW the rows above"))
    rows.length.toLong
  }

  /** Fetch stage: JSON URL templates go through the paginated DSv2 source
   * (+ JSON materialization); anything else is read as parquet. */
  def fetch(spark: SparkSession, c: Config): DataFrame = {
    val fetched =
      if (c.input.contains("{page}"))
        RestIngest.readJson(spark, Map("url" -> c.input, "objKey" -> c.objKey,
          "tsField" -> c.tsCol) ++
          c.since.map("since" -> _) ++ c.to.map("to" -> _))
      else {
        val df0 = spark.read.parquet(c.input)
        // TIMESTAMP(NANOS) parquet columns surface as BIGINT under the
        // nanosAsLong session conf — convert to a real timestamp so the
        // time-range literals compare as timestamps, not longs
        val df =
          if (df0.columns.contains(c.tsCol) &&
              df0.schema(c.tsCol).dataType == org.apache.spark.sql.types.LongType)
            df0.withColumn(c.tsCol,
              org.apache.spark.sql.functions.expr(s"timestamp_micros(`${c.tsCol}` div 1000)"))
          else df0
        (c.since, c.to) match {
          case (Some(s), Some(t)) if df.columns.contains(c.tsCol) =>
            Relational.timeRange(df, c.tsCol, s, t)
          case _ => df
        }
      }
    fetched
  }

  /** Runs the pipeline; returns the final row count. Throws on failure;
   * returns -1 on abort-on-empty (reference :243-244 shows a dialog and
   * stops before any table is touched). */
  def run(spark: SparkSession, c: Config): Long = {
    val df = Relational.sortByCreatedAt(
      Normalize.normalize(fetch(spark, c)), c.tsCol)
    if (df.isEmpty) {
      System.err.println(s"[graft] no data fetched for range " +
        s"[${c.since.getOrElse("-inf")}, ${c.to.getOrElse("+inf")}) — aborting")
      return -1L
    }
    if (c.preview) df.show(5, truncate = false)
    c.action match {
      case "load" =>
        if (c.partitionByDate && df.columns.contains(c.tsCol)) {
          // date-partitioned lakehouse layout: later [since, to) loads
          // replace only the dates present in the batch (dynamic
          // overwrite) and dt filters prune at the scan
          val dt = org.apache.spark.sql.functions
            .substring(org.apache.spark.sql.functions.col(c.tsCol), 1, 10)
          Tables.loadPartitioned(df.withColumn("dt", dt), c.table, "dt")
        } else Tables.loadOverwrite(df, c.table)
        spark.table(c.table).count()
      case "upsert" =>
        // restart hygiene: if a previous run crashed mid-swap, restore the
        // main table from tmp/backup BEFORE staging a new merge
        if (Tables.recoverSwap(spark, c.table))
          System.err.println(
            s"[graft] recovered ${c.table} from an interrupted swap")
        // reference update path: stage, merge, drop staging even on failure
        Tables.loadOverwrite(df, c.staging)
        try {
          // the reference prints its generated MERGE before running it
          // (omnichannel_to_bq.py:183) — same artifact here in the
          // reference's literal bare-identifier shape; an online
          // deployment should ship mergeSqlText's default QUOTED form
          println("[graft] merge SQL:\n" +
            Tables.mergeSqlText(spark, c.staging, c.table, c.key,
              quoteIdentifiers = false))
          Tables.upsertIntoTable(spark, spark.table(c.staging), c.table,
            c.key)
        } finally Tables.dropTable(spark, c.staging)
    }
  }

  def main(args: Array[String]): Unit = {
    val c =
      try parseArgs(args.toSeq)
      catch { case e: IllegalArgumentException =>
        System.err.println(s"[graft] ${e.getMessage}")
        sys.exit(2)
      }
    val spark = graft.GraftSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (c.action == "verify-index") {
      val residual = verifyIndex(spark, c)
      spark.stop()
      if (residual > 0) sys.exit(3)
    } else {
      val n = run(spark, c)
      if (n >= 0) println(s"[graft] ${c.action} into '${c.table}' complete; " +
        s"COUNT(*) = $n")
      spark.stop()
      if (n < 0) sys.exit(1)
    }
  }
}
