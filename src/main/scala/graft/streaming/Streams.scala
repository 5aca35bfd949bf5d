package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.functions.TextFns
import graft.operators.{Curation, Dedup, Relational, Sessions, Similarity, TextAnalysis}
import graft.schema.Normalize
import graft.tables.Tables

/**
 * Structured Streaming surface. The reference has no streaming (Kafka is
 * its explicit future work, README.md:103-117); this is the §2.9 mapping
 * from SURVEY.md: the SAME batch operators (normalize, dedupe, upsert)
 * applied per micro-batch, plus the event-time primitives a streaming
 * ingest needs (watermarked windowed aggregation, stateful sessions).
 *
 * Scale notes: windowed aggregation state is bounded by the watermark
 * (late rows beyond it are dropped and their state evicted); the
 * foreachBatch upsert reuses the batch anti-join plan and broadcasts a
 * micro-batch that fits the planner's broadcast threshold, so the main
 * table is scanned once without a shuffle.
 */
object Streams {

  /** Streaming normalize — the batch rule table applied to a stream
   * (narrow projection, so it is trivially streamable). */
  def normalizeStream(stream: DataFrame, tsAsString: Boolean = true): DataFrame =
    Normalize.normalize(stream, tsAsString)

  /**
   * Watermarked tumbling-window counts per key column: the canonical
   * event-time aggregation (append mode emits a window once the watermark
   * passes its end; state for closed windows is evicted).
   */
  def windowedCounts(stream: DataFrame, tsCol: String, keyCol: String,
                     windowLength: String = "10 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(keyCol), col("n"))

  /** One sessionization input/output row pair. */
  case class Event(user_id: Long, ts: Timestamp)
  case class Session(user_id: Long, start: Timestamp, end: Timestamp,
                     n_events: Long)
  /** Internal session accumulator (public: codegen'd encoders cannot
   * access private classes). */
  case class SessionState(start: Long, end: Long, n: Long)

  /**
   * Gap-based sessionization via flatMapGroupsWithState with EVENT-TIME
   * timeouts: a session closes when a later event for the key arrives past
   * the gap (in-batch split) or when the watermark passes `end + gap`
   * (idle-key eviction). State per key is one (start, end, count) triple —
   * O(active users), not O(events) — and the watermark bounds it.
   * (Processing-time timeouts would keep the engine scheduling batches
   * forever, which also livelocks processAllAvailable in tests.)
   */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 watermarkDelay: String = "10 seconds")
                (implicit spark: SparkSession): Dataset[Session] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(user, new Timestamp(s.start), new Timestamp(s.end), s.n))
          } else {
            val sorted = rows.map(_.ts.getTime).toSeq.sorted
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(s.copy(end = t, n = s.n + 1))
                case Some(s) =>
                  closed ::= Session(user, new Timestamp(s.start), new Timestamp(s.end), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // must exceed the current watermark or Spark rejects it
              state.setTimeoutTimestamp(
                math.max(s.end + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }
  }

  /**
   * Watermarked streaming deduplication: drop re-deliveries of the same
   * key (e.g. at-least-once sources re-emitting event ids). State holds
   * one entry per key seen within the watermark horizon and is evicted
   * as event time advances — bounded by rate x watermark, the only way
   * exactly-once-per-key dedup works on an unbounded stream.
   */
  def dedupStream(stream: DataFrame, keyCol: String, tsCol: String,
                  watermark: String = "10 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /**
   * Watermarked STREAM-STREAM interval join: each left event picks up the
   * right-side events for its key from the trailing `windowSeconds`
   * (`left.ts - window <= right.ts <= left.ts`) — e.g. purchases enriched
   * with same-user signups of the last day, both sides unbounded streams.
   *
   * The explicit time bound is what makes this executable at scale: with
   * both sides watermarked, the state store only retains right rows until
   * the left watermark passes `right.ts + windowSeconds` (and vice versa),
   * so state is bounded by rate x window, not by stream length.
   *
   * Precondition: right columns must not collide with left column names
   * (rename before calling — same contract as [[Relational.asofJoin]]).
   */
  def intervalJoinStream(left: DataFrame, lKey: String, lTs: String,
                         right: DataFrame, rKey: String, rTs: String,
                         windowSeconds: Long,
                         watermark: String = "10 seconds"): DataFrame =
    left.withWatermark(lTs, watermark)
      .join(right.withWatermark(rTs, watermark),
        col(lKey) === col(rKey) &&
          col(rTs) >= col(lTs) - expr(s"INTERVAL $windowSeconds SECONDS") &&
          col(rTs) <= col(lTs))
      .drop(rKey)

  /**
   * Streaming upsert sink: each micro-batch is deduped to its latest row
   * per key (micro-batches can carry several updates for one key) and
   * merged into the managed table with the batch upsert — exactly-once per
   * key per batch under the default checkpointed micro-batch semantics.
   *
   * Per batch: the deduped batch is landed once with an eager
   * `localCheckpoint`, and the same job counts its rows through an
   * `observe` metric, so the source and the dedupe window run once and
   * no separate emptiness job runs (zero rows skips the merge). A batch
   * read from one input partition is deduped in that partition, without
   * a shuffle; a wider batch shuffles on the key as before. A
   * micro-batch carries no size estimate, so the sink sizes the landed
   * frame itself, rows × `schema.defaultSize`, and broadcasts it into
   * the anti-join when that is within the session's
   * `spark.sql.autoBroadcastJoinThreshold`, the planner's own rule: the
   * main table is then scanned once with no shuffle. A larger batch, or
   * a disabled threshold, keeps the shuffle join. The landed blocks are
   * released once the merge has committed.
   *
   * The sink calls the merge layer, `Tables.mergeUnique`, not
   * `Tables.upsertIntoTable`, so it runs neither the duplicate-key guard
   * nor the post-merge count: `dedupeLatest` keeps one row per key (one
   * null-key row too), so the guard could never fire, and the count
   * would be thrown away. The merge itself is the same code
   * `Main.run upsert` runs.
   */
  def upsertSink(stream: DataFrame, table: String, key: String,
                 orderCol: String, checkpointDir: String): StreamingQuery = {
    // foreachBatch executes in a CLONED session: a refreshTable inside the
    // batch session does not invalidate the stream owner's relation cache,
    // which would then resolve the post-swap table to deleted files
    // (FILE_NOT_EXIST). Refresh the owning session explicitly per batch.
    val owner = stream.sparkSession
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        // one input partition: coalesce(1) states it, and the dedupe
        // window's key clustering then needs no shuffle
        val input =
          if (batch.rdd.getNumPartitions == 1) batch.coalesce(1) else batch
        val landedRows = new Observation()
        val landed = Relational.dedupeLatest(input, key, orderCol)
          .observe(landedRows, count(lit(1)).as("rows"))
          .localCheckpoint()
        try {
          val rows = landedRows.get("rows").asInstanceOf[Long]
          if (rows > 0) {
            val fits = BigInt(rows) * landed.schema.defaultSize <=
              s.sessionState.conf.autoBroadcastJoinThreshold
            Tables.mergeUnique(s, landed, table, key, broadcastStaging = fits)
            owner.catalog.refreshTable(table)
          }
        } finally Dedup.unpersistCheckpoint(landed)
      }
      .start()
  }

  /**
   * Streaming windowed top-k tokens — the trending-terms feed over a
   * document stream. Tokens explode per event, count under a watermarked
   * tumbling window, and each finalized window's top `k` land in one
   * parquet partition per micro-batch.
   *
   * Correctness lever: in APPEND mode a window is emitted exactly once,
   * after the watermark passes its end — so every row of a window
   * arrives in the same micro-batch and the in-batch rank IS the
   * window's final answer (no cross-batch merge, no re-ranking).
   * State is bounded by the watermark (distinct tokens per open window);
   * the per-batch rank windows only over finalized rows, which are
   * top-k-sized inputs, not the stream.
   */
  def topTokensSink(stream: DataFrame, outPath: String,
                    checkpointDir: String, k: Int = 5,
                    tsCol: String = "ts", textCol: String = "text",
                    windowLength: String = "10 minutes",
                    watermark: String = "10 minutes"): StreamingQuery = {
    import graft.functions.TextFns
    val counts = stream
      .select(col(tsCol), explode(TextFns.tokens(textCol)).as("token"))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength), col("token"))
      .agg(count(lit(1)).as("n"))
    counts.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val w = Window.partitionBy("window")
            .orderBy(col("n").desc, col("token").asc)
          batch
            .withColumn("rank", row_number().over(w).cast("long"))
            .filter(col("rank") <= k)
            .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"),
              col("token"), col("n"), col("rank"))
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          ()
        }
      }
      .start()
  }

  /**
   * Streaming per-group distinct-key estimation with BOUNDED state: each
   * micro-batch folds its keys into a k-minimum-values sketch per group
   * ([[graft.functions.MinKLongs]] — at most k longs of aggregation
   * state, map-side combined), merges it with the persisted running
   * sketch, and emits the running distinct estimate per group. A
   * streaming `count(DISTINCT key)` holds EVERY key ever seen in state;
   * the sketch holds k longs per group forever. Below k distinct keys
   * the estimate is exact; keys re-delivered across batches collapse in
   * the sketch union, never double-counted. Hashes are
   * [[TextFns.mixedKeyHash]], so the estimate arithmetic matches
   * [[graft.operators.Relational.kmvOverlapEstimate]] exactly.
   *
   * Exactly-once despite foreachBatch's at-least-once contract: the
   * MERGED sketch is written to `sketchPath/batch=<id>` (overwrite), and
   * a batch always merges from the LATEST partition with id smaller than
   * its own — a replayed batch re-reads the same predecessor and
   * rewrites itself deterministically; partitions it had already written
   * are superseded, never re-read. Estimates land under
   * `outPath/batch=<id>` by the same protocol.
   *
   * Scale: batch work is one narrow hash projection and one sketch
   * aggregate (at most k longs per group per mapper cross the shuffle);
   * persisted state is groups × k longs; the merge is an array
   * union-sort-truncate over the previous 1-partition state — no driver
   * data path anywhere. Both sketch read-backs pass the schema the sink
   * already holds, so neither runs a parquet schema-inference job.
   */
  def distinctSink(stream: DataFrame, sketchPath: String, outPath: String,
                   checkpointDir: String, groupCol: String = "source",
                   keyCol: String = "doc_id",
                   k: Int = 64): StreamingQuery = {
    val mod = TextFns.HashMod
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val mink = graft.functions.MinKLongs.udaf(k)
          val bs = batch
            .select(col(groupCol).as("grp"),
              TextFns.mixedKeyHash(keyCol).as("h"))
            .groupBy("grp").agg(mink(col("h")).as("sk"))
          val root = new Path(sketchPath)
          val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
          val prev = batchIds(fs, root).filter(_ < batchId)
          val merged = prev.sorted.lastOption match {
            case None => bs
            case Some(p) =>
              s.read.schema(bs.schema).parquet(s"$sketchPath/batch=$p").as("o")
                .join(bs.as("b"), Seq("grp"), "full_outer")
                .select(col("grp"), expr(
                  s"""slice(array_sort(array_union(
                     |  coalesce(o.sk, CAST(array() AS ARRAY<BIGINT>)),
                     |  coalesce(b.sk, CAST(array() AS ARRAY<BIGINT>)))),
                     |  1, $k)""".stripMargin).as("sk"))
          }
          merged.write.mode("overwrite")
            .parquet(s"$sketchPath/batch=$batchId")
          s.read.schema(merged.schema).parquet(s"$sketchPath/batch=$batchId")
            .select(col("grp").as(groupCol),
              when(expr("size(sk)") < k,
                expr("CAST(size(sk) AS DOUBLE)"))
                .otherwise(expr(
                  s"CAST(${k - 1} AS DOUBLE) * $mod / element_at(sk, $k)"))
                .as("distinct_estimate"))
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          ()
        }
      }
      .start()
  }

  /**
   * Band-tree reconciliation for the [[nearDupSink]]/[[intakeSink]] index
   * protocol: the `<indexPath>__bands` tree is DERIVED state (band rows of
   * the persisted signatures), and candidate generation reads ONLY the
   * bands tree — so a sig-index batch partition with no matching band
   * partition (an index written by a pre-band version of the sink, or a
   * crash between the signature write and the band write) would silently
   * drop those corpus documents from near-dup detection. Each micro-batch
   * therefore:
   *   - backfills band rows for any sig batch partition missing from the
   *     bands tree (one banding pass over just that partition — the same
   *     work the writing batch would have done);
   *   - prunes band partitions whose sig partition no longer exists
   *     (e.g. [[compactIndex]] folded the sig tree into `batch=-1`;
   *     stale band rows are correctness-safe — their candidates die at
   *     the signature verify join — but they double-count bucket sizes
   *     under `maxBucketSize` and waste candidate work).
   * Steady state is two directory listings and zero data work, so the
   * self-heal costs nothing when the trees agree.
   */
  private[streaming] def reconcileBands(s: SparkSession, indexPath: String,
                                        bandsPath: String, numHashes: Int,
                                        bands: Int, idCol: String,
                                        currentBatch: Long): Unit = {
    val idx = new Path(indexPath)
    val bnd = new Path(bandsPath)
    val fs = idx.getFileSystem(s.sparkContext.hadoopConfiguration)
    val sigBatches = batchIds(fs, idx).toSet
    val bandBatches = batchIds(fs, bnd).toSet
    (sigBatches - currentBatch -- bandBatches).foreach { b =>
      Dedup.minhashBandRows(s.read.parquet(s"$indexPath/batch=$b"),
        numHashes, bands, idCol)
        .write.mode("overwrite").parquet(s"$bandsPath/batch=$b")
    }
    (bandBatches - currentBatch -- sigBatches).foreach { b =>
      fs.delete(new Path(bnd, s"batch=$b"), true)
    }
  }

  /**
   * Near-dup pairs of the current batch against BOTH tiers of a banded
   * signature index — the one candidate/verify plan of [[nearDupSink]],
   * [[intakeSink]], [[clustersSink]] and [[embeddingNearDupSink]], for
   * the signature `family`:
   *   - DELTA tier: `corpusSigs`/`corpusBands`, the `batch=<id>` parquet
   *     trees but the batch's own ([[otherBatches]]; the whole index when
   *     never compacted) via [[Dedup.pairsAgainstDelta]] — O(batch x
   *     delta), and delta stays micro-batch-sized once compaction runs on
   *     cadence. The MinHash sinks pass their persisted bands tree; the
   *     embedding sink bands its signature delta;
   *   - BULK tier (when `bucketedBase` is set and the tables exist): the
   *     bucketed `_bands`/`_sigs` tables of a fold via
   *     [[Dedup.pairsAgainstIndex]] — the corpus-scale side joins AT ITS
   *     BUCKETING, zero Exchange on the index side (plan-asserted in
   *     StreamsSpec), with new x new pairs left to the delta call.
   * The tiers hold disjoint rows by the compaction protocol; the final
   * distinct covers the crash window where a fold wrote the bulk tables
   * but had not yet pruned the corresponding delta partitions
   * (batch-sized frame, so the insurance is cheap).
   *
   * `maxBucketSize` is evaluated per tier (each call sizes only its own
   * population): a bucket split across tiers can exceed the cap without
   * tripping it until compaction unifies it — recall-only slack in the
   * window between folds, same contract direction as every other cap.
   */
  private[streaming] def tieredPairs(s: SparkSession, family: Dedup.SigFamily,
                                     newSigs: DataFrame, newBands: DataFrame,
                                     corpusSigs: DataFrame,
                                     corpusBands: DataFrame,
                                     bucketedBase: Option[String],
                                     maxBucketSize: Option[Int]): DataFrame = {
    val deltaPairs = Dedup.pairsAgainstDelta(family, newSigs, newBands,
      corpusSigs, corpusBands, maxBucketSize)
    bucketedBase match {
      case Some(base) =>
        requireBulkPair(s, base)
        if (s.catalog.tableExists(base + "_bands"))
          deltaPairs.union(Dedup.pairsAgainstIndex(family, newSigs, base,
            maxBucketSize, includeNewPairs = false)).distinct()
        else deltaPairs
      case None => deltaPairs
    }
  }

  /** The delta tier a micro-batch pairs against: every `batch=<id>`
   * partition under `path` but the batch's own, so a replayed batch
   * never pairs against its earlier write. */
  private[streaming] def otherBatches(s: SparkSession, path: String,
                                      batchId: Long): DataFrame =
    s.read.option("basePath", path).parquet(path)
      .filter(col("batch") =!= batchId).drop("batch")

  /** One micro-batch of the MinHash index protocol that [[nearDupSink]],
   * [[clustersSink]] and [[intakeSink]] share: check the index format,
   * sign `docs` once into `indexPath/batch=<id>`, band the signatures read
   * back from it (one signing pass per document, ever) into
   * `<indexPath>__bands/batch=<id>`, [[reconcileBands]], and pair the batch
   * against both index tiers ([[tieredPairs]]). Every write overwrites its
   * `batch=<id>` dir, so a replayed batch rewrites itself. Returns the
   * landed signatures and the pairs. */
  private def minhashBatchPairs(docs: DataFrame, batchId: Long,
                                opName: String, indexPath: String, n: Int,
                                numHashes: Int, bands: Int, idCol: String,
                                textCol: String, estThreshold: Double,
                                maxBucketSize: Option[Int],
                                bucketedBase: Option[String])
      : (DataFrame, DataFrame) = {
    val s = docs.sparkSession
    // signatures only co-match when (shingle n, hash count) agree; a
    // param drift is the same silent-never-match hazard as the span
    // index's h2 bump, so the stamp pins the parameters
    ensureIndexFormat(s, indexPath, s"minhash-v1:n=$n:h=$numHashes", opName)
    val bandsPath = indexPath + "__bands"
    Dedup.minhashSignatures(docs, n, numHashes, idCol, textCol)
      .write.mode("overwrite").parquet(s"$indexPath/batch=$batchId")
    val newSigs = s.read.parquet(s"$indexPath/batch=$batchId")
    Dedup.minhashBandRows(newSigs, numHashes, bands, idCol)
      .write.mode("overwrite").parquet(s"$bandsPath/batch=$batchId")
    reconcileBands(s, indexPath, bandsPath, numHashes, bands, idCol, batchId)
    val family = Dedup.minhashFamily(numHashes, bands, idCol, estThreshold)
    (newSigs, tieredPairs(s, family, newSigs,
      s.read.parquet(s"$bandsPath/batch=$batchId"),
      otherBatches(s, indexPath, batchId), otherBatches(s, bandsPath, batchId),
      bucketedBase, maxBucketSize))
  }

  /** The bulk tier is a two-table set (`_bands`/`_sigs`) replaced via the
   * staged swap — after [[graft.tables.Tables.recoverSwap]] both exist or
   * neither does. Exactly one existing means an unrecovered crash (or a
   * foreign half-built layout); silently degrading to delta-only here
   * would make the whole folded corpus vanish from admission, so FAIL. */
  private def requireBulkPair(s: SparkSession, base: String): Unit = {
    val hasBands = s.catalog.tableExists(base + "_bands")
    val hasSigs = s.catalog.tableExists(base + "_sigs")
    if (hasBands != hasSigs)
      throw new IllegalStateException(
        s"bulk index for '$base' is half-present (bands=$hasBands, " +
          s"sigs=$hasSigs): run Tables.recoverSwap on both tables and " +
          "re-run the bucketed fold before resuming the stream")
  }

  /**
   * Streaming incremental near-duplicate detection over a GROWING corpus:
   * each micro-batch of documents is MinHash-signed once, near-dup-checked
   * against the signature index accumulated from every earlier batch
   * ([[Dedup.incrementalNearDupsFromSigs]] — new-vs-corpus plus
   * new-vs-new, never corpus-vs-corpus again), and its signatures are then
   * added to the index. Pairs land under `pairsPath`, the index under
   * `indexPath` — both parquet, both partitioned by ingest batch.
   *
   * Exactly-once despite foreachBatch's at-least-once contract: every
   * write goes to a `batch=<id>` partition in OVERWRITE mode, so a
   * replayed micro-batch rewrites its own partitions instead of appending
   * duplicates, and the index read EXCLUDES the current batch id — on the
   * first run that partition does not exist yet, on a replay it holds this
   * very batch's signatures and must not act as corpus (the ids would
   * collide and re-verify every pair against itself).
   *
   * Scale: per micro-batch, the work is the uncapped incremental join —
   * O(|batch| * bands) broadcastable rows against the index — plus one
   * index-partition listing; corpus text is never re-read, and BOTH the
   * signatures and the banded (id, band, bucket) rows are computed
   * exactly once per document per successful batch: band rows persist
   * next to the signatures (`<indexPath>__bands`, same batch-partition
   * protocol), so the per-batch candidate join reads 3 small columns
   * from the band index instead of re-banding every corpus sig array —
   * O(batch) banding work per ingest instead of O(corpus). The bands
   * tree is reconciled against the sig tree every batch
   * ([[reconcileBands]]): a pre-band index or a crash between the two
   * writes is backfilled instead of silently dropping corpus documents
   * from candidate generation. For a
   * quiesced corpus, [[graft.operators.Dedup.writeBandedIndex]] is the
   * co-located bucketed layout batch jobs join shuffle-free.
   */
  def nearDupSink(stream: DataFrame, indexPath: String, pairsPath: String,
                  checkpointDir: String, estThreshold: Double = 0.5,
                  n: Int = 3, numHashes: Int = 128, bands: Int = 32,
                  idCol: String = "doc_id", textCol: String = "text",
                  maxBucketSize: Option[Int] = None,
                  bucketedBase: Option[String] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          minhashBatchPairs(batch, batchId, "nearDupSink", indexPath, n,
            numHashes, bands, idCol, textCol, estThreshold, maxBucketSize,
            bucketedBase)._2
            .write.mode("overwrite").parquet(s"$pairsPath/batch=$batchId")
        }
      }
      .start()

  /**
   * Streaming EMBEDDING near-dup over a growing vector corpus — the
   * vector-space twin of [[nearDupSink]], with an index of EIGHT BYTES
   * per corpus vector: each micro-batch is signed once
   * ([[Dedup.embeddingSignatures]], the fused hyperplane-sign packing),
   * the signatures land under `batch=<id>` (the idempotent
   * index-partition protocol), and the batch's near-dup pairs against
   * the accumulated signature index (plus itself) are computed by
   * signature hamming — corpus vectors are never re-read, never even
   * stored by the sink. The batch pairs through the MinHash sinks'
   * [[tieredPairs]] with the hyperplane family; uncapped, its banding is
   * pigeonhole-exact against the hamming contract
   * ([[Dedup.incrementalEmbeddingNearDupsFromSigs]]).
   *
   * Exactly-once under foreachBatch's at-least-once contract: sigs and
   * pairs both land in `batch=<id>` partitions in overwrite mode, and
   * the index read EXCLUDES the current batch id — a replayed
   * micro-batch rewrites itself and never pairs against its own
   * earlier write.
   *
   * Scale: state per corpus vector is one BIGINT (the floor for any
   * near-dup index); per batch, O(|batch| x numBands) band rows join
   * the banded index — O(batch) incremental work at a steady corpus.
   * Compact the partition tree with [[compactIndex]] (distinct reduce)
   * on cadence like every other signature index.
   */
  def embeddingNearDupSink(stream: DataFrame, indexPath: String,
                           pairsPath: String, checkpointDir: String,
                           maxHamming: Int = 20, numBands: Int = 21,
                           totalPlanes: Int = 63, dim: Int = 64,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           maxBucketSize: Option[Int] = None,
                           bucketedBase: Option[String] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          // hyperplane signs only co-match under identical (planes, dim)
          // — and the plane family is seed-derived, so the stamp pins
          // the whole signature space (same hazard class as the span h2)
          ensureIndexFormat(s, indexPath,
            s"hyperplane-v1:p=$totalPlanes:d=$dim", "embeddingNearDupSink")
          Dedup.embeddingSignatures(batch, totalPlanes, dim, idCol, vecCol)
            .write.mode("overwrite").parquet(s"$indexPath/batch=$batchId")
          // read back: one signing pass per vector, ever
          val newSigs = s.read.parquet(s"$indexPath/batch=$batchId")
          val corpusSigs = otherBatches(s, indexPath, batchId)
          val family =
            Dedup.hyperplaneFamily(numBands, totalPlanes, idCol, maxHamming)
          tieredPairs(s, family, newSigs, family.bandRows(newSigs), corpusSigs,
            family.bandRows(corpusSigs), bucketedBase, maxBucketSize)
            .write.mode("overwrite").parquet(s"$pairsPath/batch=$batchId")
        }
      }
      .start()

  /**
   * Streaming near-dup CLUSTER maintenance over a growing corpus — the
   * streaming twin of [[Dedup.nearDupClusters]]: each micro-batch runs
   * the [[nearDupSink]] pipeline (sign once, band, pair new-vs-corpus +
   * new-vs-new against the accumulated index) and then folds the new
   * pairs into a persisted labeling by min-label propagation over the
   * STAR graph — the previous labeling as depth-1 (id ↔ label) edges
   * plus the batch's pair edges. The snapshot at
   * `labelsPath/batch=<latest>` therefore always equals what the batch
   * operator would compute over every document ever ingested: labels
   * are the min reachable doc id across ALL pairs seen so far,
   * including merges where a new document BRIDGES two old clusters.
   *
   * Exactly-once: sigs/bands/pairs follow [[nearDupSink]]'s
   * batch-partition overwrite protocol; labels are a FULL snapshot per
   * batch, merged from the latest PREDECESSOR partition (< batchId, the
   * [[distinctSink]] protocol) — a replayed batch re-reads the same
   * predecessor and overwrites its own snapshot, never compounding.
   *
   * Scale: star edges keep the propagation diameter at O(1) for old
   * components regardless of their size — convergence needs rounds
   * proportional to the NEW merge chains only, and each round is one
   * join keyed on 8-byte node ids. A snapshot is two longs per
   * document (the floor for any clustering state). Old snapshots are
   * compaction fodder exactly like the sig index ([[compactIndex]]).
   */
  def clustersSink(stream: DataFrame, indexPath: String, labelsPath: String,
                   checkpointDir: String, estThreshold: Double = 0.5,
                   n: Int = 3, numHashes: Int = 128, bands: Int = 32,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxBucketSize: Option[Int] = None,
                   maxRounds: Int = 20,
                   bucketedBase: Option[String] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val pairs = minhashBatchPairs(batch, batchId, "clustersSink",
            indexPath, n, numHashes, bands, idCol, textCol, estThreshold,
            maxBucketSize, bucketedBase)._2
            .select(col("doc_a"), col("doc_b"))
          // previous labeling (latest snapshot strictly before this batch
          // — replay-safe) as star edges, plus this batch's pair edges
          val root = new Path(labelsPath)
          val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
          val prevIds = batchIds(fs, root).filter(_ < batchId)
          val prev = prevIds.sorted.lastOption match {
            case None => s.emptyDataFrame
              .select(lit(0L).as("id"), lit(0L).as("label")).limit(0)
            case Some(p) => s.read.parquet(s"$labelsPath/batch=$p")
              .select(col(idCol).as("id"), col("cluster_id").as("label"))
          }
          val starEdges = prev.filter(col("id") =!= col("label"))
            .select(col("id").as("src"), col("label").as("dst"))
          val pairEdges = pairs
            .select(col("doc_a").as("src"), col("doc_b").as("dst"))
          val edges = starEdges
            .union(starEdges.select(col("dst").as("src"), col("src").as("dst")))
            .union(pairEdges)
            .union(pairEdges.select(col("dst").as("src"), col("src").as("dst")))
          val init = prev.union(
            batch.select(col(idCol).cast("long").as("id"))
              .join(prev.select(col("id")), Seq("id"), "left_anti")
              .select(col("id"), col("id").as("label")))
          Dedup.propagateMinLabels(edges, init, maxRounds)
            .select(col("id").as(idCol), col("label").as("cluster_id"))
            .write.mode("overwrite").parquet(s"$labelsPath/batch=$batchId")
          ()
        }
      }
      .start()

  /**
   * Streaming chunk-level exact dedup over a GROWING corpus — the
   * streaming twin of [[Dedup.dedupChunks]] for continuously-crawled
   * ingest: each micro-batch is CDC-chunked ([[Curation.cdcChunks]] —
   * edit-stable boundaries, so a re-crawled page that gained a paragraph
   * still dedups everything after it), chunks already present in the
   * accumulated hash index are dropped, surviving documents (reassembled
   * from kept chunks) land under `outPath`, and the batch's distinct
   * chunk hashes join the index.
   *
   * Winner rule: within a batch, lowest (doc id, chunk position) — the
   * [[Dedup.dedupChunks]] contract; across batches, earlier arrival wins
   * (a chunk seen in any prior batch drops this batch's copy).
   *
   * Exactly-once under foreachBatch's at-least-once contract: both
   * writes go to `batch=<id>` partitions in overwrite mode, and the
   * index read EXCLUDES the current batch id, so a replayed micro-batch
   * rewrites its own partitions and never dedups against itself.
   *
   * Hash contract (FORMAT VERSION — since round 16, the
   * [[spanDedupSink]] rule): WITHIN a batch the winner is decided on
   * actual chunk TEXT (the [[Dedup.dedupChunks]] contract — a
   * destructive drop must not act on a collision); ACROSS batches the
   * index stores the 128-bit composite (h, h2) = xxhash64(text) +
   * xxhash64(1L, text) — h2 chains a salt long through the hash state
   * before the text, an independently-seeded second 64-bit hash for
   * EVERY input. (The round-15 h2 = xxhash64(reverse(text)) was NOT:
   * reverse fixes palindromes, and a chunk of one repeated token — the
   * most boilerplate-prone shape — is a palindrome, silently degrading
   * the bound to 2^-64 exactly where collisions matter most — ADVICE
   * r15.) A chunk is dropped only when BOTH match (residual ~n²/2^129
   * — cross-batch text verify would mean storing chunk text in the
   * index). Pre-round-16 indexes (the reverse h2 or the pre-round-15
   * single 30-bit hash) are incompatible; rebuild them.
   *
   * Scale: the index holds 16 bytes per chunk — never chunk text — one
   * row per distinct chunk PER BATCH that carried it (the corpus read
   * re-distincts), so it grows with chunk appearances, not corpus bytes;
   * on re-crawl-heavy streams compact it periodically with a distinct
   * rewrite, exactly like small-file table maintenance. The chunking
   * pass is recomputed for the reassembly job (twice per batch, linear
   * in BATCH size) — deliberately traded against persisting corpus text
   * in the index.
   */
  def chunkDedupSink(stream: DataFrame, indexPath: String, outPath: String,
                     checkpointDir: String, avgTokens: Int = 16,
                     idCol: String = "doc_id",
                     textCol: String = "text"): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          ensureIndexFormat(s, indexPath, SpanIndexFormat, "chunkDedupSink")
          def segs = Curation.cdcChunks(batch, avgTokens, idCol, textCol)
            .select(col(idCol).as("id"), col("chunk_id").as("pos"),
              col("chunk_text").as("seg"),
              xxhash64(col("chunk_text")).as("h"),
              xxhash64(lit(1L), col("chunk_text")).as("h2"))
          segs.select("h", "h2").distinct()
            .write.mode("overwrite").parquet(s"$indexPath/batch=$batchId")
          val corpus = s.read
            .option("basePath", indexPath).parquet(indexPath)
            .filter(col("batch") =!= batchId).select("h", "h2").distinct()
          val winners = segs.groupBy("seg")
            .agg(min(struct(col("id"), col("pos"))).as("w"))
            .select(col("seg"), col("w.id").as("wid"), col("w.pos").as("wpos"))
          segs.join(winners, "seg")
            .join(corpus.withColumn("__seen", lit(1)), Seq("h", "h2"), "left")
            .withColumn("keep", col("id") === col("wid")
              && col("pos") === col("wpos") && col("__seen").isNull)
            .groupBy(col("id"))
            .agg(
              count(lit(1)).as("n_chunks"),
              coalesce(sum(when(col("keep"), 1L).otherwise(0L)), lit(0L))
                .as("n_kept"),
              array_join(transform(
                array_sort(collect_list(
                  when(col("keep"), struct(col("pos"), col("seg"))))),
                c => c("seg")), " ").as("text_kept"))
            .select(col("id").as(idCol), col("n_chunks"), col("n_kept"),
              col("text_kept"))
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          ()
        }
      }
      .start()

  /**
   * Streaming exact-substring span REMOVAL over a growing corpus — the
   * streaming twin of [[Dedup.removeDuplicatedSpans]] (Lee et al.
   * ACL'22 semantics) for continuously-crawled ingest: each
   * micro-batch's documents drop every `w`-token window already held
   * by an earlier batch (earlier arrival owns) or by a lower doc id
   * within the batch, the cleaned documents land under
   * `outPath/batch=<id>` as (idCol, n_tokens, n_removed, clean_text),
   * and the batch's distinct window hashes join the index.
   *
   * Ownership rule: within a batch, lowest doc id (the batch
   * operator's rule); across batches, earlier arrival wins — so when
   * doc ids are assigned monotonically with arrival (the natural crawl
   * ingest shape), the union of batch outputs equals
   * [[Dedup.removeDuplicatedSpans]] over the concatenated corpus for
   * ANY batch split (StreamLaws pins it).
   *
   * Exactly-once under foreachBatch's at-least-once contract: both
   * writes go to `batch=<id>` partitions in overwrite mode, and the
   * index read EXCLUDES the current batch id, so a replayed
   * micro-batch rewrites its own partitions and never removes against
   * its own windows.
   *
   * Hash contract (FORMAT VERSION — since round 16): the index stores
   * TWO independent window hashes per distinct window, `h` = xxhash64
   * of the window text (the join/bucket key) and `h2` = xxhash64 with
   * a salt long chained through the hash state before the text
   * (`xxhash64(1L, text)`) — an independently-seeded second 64-bit
   * hash for EVERY input; both are one cheap native hash, not the
   * 3-fold reproducible poly family the oracle-checked operators need.
   * (The round-15 h2 hashed the REVERSED text; reverse fixes
   * palindromes, and a window of one repeated token — common
   * boilerplate — is a palindrome, so h2 == h added zero entropy
   * exactly on the hottest windows and the bound silently degraded to
   * 2^-64 there — ADVICE r15.) A window is flagged only when BOTH
   * match — a 128-bit composite, false-removal probability ~n²/2^129
   * (~10^-12 even at 10^13 windows). This is the documented divergence
   * from the batch [[Dedup.removeDuplicatedSpans]], which verifies
   * ACTUAL window text: cross-batch text verification would require
   * storing window strings in the index, defeating the bounded-state
   * design, so the streaming twin accepts the negligible
   * composite-hash residual instead — and [[verifySpanIndex]] audits
   * that residual against the actual corpus on demand. Indexes
   * persisted under the round-15 reverse-text h2 or the pre-round-15
   * single 30-bit hash are incompatible — REBUILD them (the
   * [[Dedup.embeddingSignatures]] format-version precedent).
   *
   * Scale: the index holds 16 bytes per distinct window, never text —
   * one row per distinct window per batch that carried it; compact it
   * periodically with a distinct rewrite (or fold it into a bucketed
   * table with the [[compactIndexBucketed]] LSM pattern when the
   * per-batch join shuffle on the index side starts to dominate). The
   * window explode is linear in batch tokens, paid twice (index write
   * + flag join), exactly the batch operator's cost profile; the
   * survivor rebuild is the O(len + removed) sorted-merge of
   * [[graft.plans.DropPositions]], linear even for one fully-duplicated
   * mega-document.
   */
  def spanDedupSink(stream: DataFrame, indexPath: String, outPath: String,
                    checkpointDir: String, w: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text",
                    bucketedBase: Option[String] = None): StreamingQuery = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          ensureIndexFormat(s, indexPath, SpanIndexFormat, "spanDedupSink")
          // a replayed batch whose windows were already FOLDED into the
          // bulk would flag its own singletons as duplicates (the index
          // is membership-only — no id to tell self from other). The
          // fold is quiesced, so this only happens when the operator
          // folded over an uncommitted batch; fail loudly, don't
          // silently empty documents.
          val folded = compactedThrough(s, indexPath)
          if (batchId <= folded) throw new IllegalStateException(
            s"spanDedupSink batch $batchId was already folded into the " +
              s"bulk tier (compacted through $folded): re-cleaning it " +
              "against its own windows would remove every token. Fold " +
              "only over a fully-committed checkpoint (stop the stream, " +
              "processAllAvailable, then compactSpanIndex).")
          val winTxt = s"concat_ws(' ', slice(t, i, $w))"
          def toks = batch.select(col(idCol).as("id"),
            TextFns.tokens(textCol).as("t"))
          def wins = toks.select(col("id"), explode(expr(
              s"""CASE WHEN size(t) >= $w THEN
                 |  transform(sequence(1, size(t) - ${w - 1}),
                 |            i -> struct(i AS i, xxhash64($winTxt) AS h,
                 |                        xxhash64(1L, $winTxt) AS h2))
                 |ELSE CAST(array()
                 |  AS ARRAY<STRUCT<i: INT, h: BIGINT, h2: BIGINT>>) END"""
                .stripMargin)).as("s"))
            .select(col("id"), col("s.i").as("i"), col("s.h").as("h"),
              col("s.h2").as("h2"))
          wins.select("h", "h2").distinct()
            .write.mode("overwrite").parquet(s"$indexPath/batch=$batchId")
          val delta = s.read.option("basePath", indexPath).parquet(indexPath)
            .filter(col("batch") =!= batchId).select("h", "h2").distinct()
          val ownedInBatch = wins.groupBy("h", "h2")
            .agg(min("id").as("__own"), max("id").as("__mx"))
            .filter(col("__own") =!= col("__mx"))
            .select(col("h"), col("h2"), col("__own"))
          // bulk tier joins SEPARATELY so it joins at its own bucketing
          // (batch side shuffles to the buckets, bulk side never moves —
          // a union with the delta would destroy that). The bulk join
          // key stays the single bucket column `h`; the h2 verify is a
          // post-join filter, so a 63-bit collision inside the bulk
          // (two h2 rows under one h) merely duplicates start positions
          // that graft_span_cover's merge pass absorbs (the cover of a
          // multiset of starts equals the cover of its set — the actual
          // invariant this bulk join relies on since the collect_list
          // + span-cover rewrite).
          val withBulk = bucketedBase match {
            case Some(base) if s.catalog.tableExists(base + "_winhash") =>
              wins.join(s.table(base + "_winhash")
                .select(col("h"), col("h2").as("__h2b")), Seq("h"), "left")
            case _ => wins.withColumn("__h2b", lit(null).cast("bigint"))
          }
          val removed = withBulk
            .join(delta.withColumn("__seen", lit(1)), Seq("h", "h2"), "left")
            .join(ownedInBatch, Seq("h", "h2"), "left")
            .filter(col("__seen").isNotNull || col("__h2b") === col("h2") ||
              (col("__own").isNotNull && col("id") =!= col("__own")))
            // 4-byte starts aggregate per doc; the cover expands once in
            // codegen (the batch operator's graft_span_cover shape) —
            // never an exploded |occurrences| x w position stream
            .groupBy("id")
            .agg(collect_list(col("i")).as("__starts"))
            .select(col("id"), expr(
              s"graft_span_cover(array_sort(__starts), $w)").as("__rem"))
          toks.join(removed, Seq("id"), "left")
            .withColumn("__rem",
              coalesce(col("__rem"), expr("CAST(array() AS ARRAY<INT>)")))
            .select(col("id").as(idCol),
              size(col("t")).cast("long").as("n_tokens"),
              size(col("__rem")).cast("long").as("n_removed"),
              coalesce(expr("graft_drop_positions(t, __rem)"), lit(""))
                .as("clean_text"))
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          ()
        }
      }
      .start()
  }

  /**
   * Stream–static enrichment: join a stream against a batch dimension
   * frame (user profiles, rate tables, allow-lists). Stream–static joins
   * need no watermark and no stream-side state — each micro-batch joins
   * the dim as of its own execution, so a dim refresh (table overwrite)
   * is picked up by the NEXT batch without restarting the query. The
   * dim side is broadcast: the stream never shuffles, which is the only
   * join shape that keeps a low-latency trigger low-latency. Inner mode
   * drops unmatched stream rows (allow-list semantics); left keeps them
   * with nulls (enrichment semantics).
   */
  def enrichStream(stream: DataFrame, dim: DataFrame, key: String,
                   joinType: String = "left"): DataFrame = {
    require(joinType == "left" || joinType == "inner",
      "stream-static enrichment supports left or inner")
    stream.join(broadcast(dim), Seq(key),
      if (joinType == "left") "left_outer" else "inner")
  }

  /**
   * Streaming INTAKE sink — the full training-data admission pipeline as
   * one micro-batch sink, the streaming twin of
   * [[graft.operators.Curation.intakePipeline]]: per batch,
   *   1. quality gate: [[graft.operators.TextAnalysis.qualityScore]] ≥
   *      `minQualityMicro` (micro-units; integer compare, engine-exact);
   *   2. sign survivors once and persist signatures + band rows under
   *      `batch=<id>` (the [[nearDupSink]] idempotent index protocol);
   *   3. near-dup admission: a survivor is REJECTED if it matches any
   *      smaller-id quality-surviving document — admitted OR itself
   *      rejected (the index keeps every signed document). Rejection is
   *      therefore TRANSITIVE: if B was rejected as a near-dup of A, a
   *      later C matching only B is also rejected — the same outcome as
   *      the batch pipeline's cluster-representative rule, where A, B and
   *      C share one near-dup cluster and only its first member survives.
   *      First-seen wins within a batch (smaller id);
   *   4. admitted documents land under `outPath/batch=<id>` (overwrite —
   *      a replayed batch rewrites itself).
   *
   * Ingest contract: batch ids must be LARGER than every corpus id (the
   * rejected-side rule reads pair direction from id order). A violating
   * batch would silently ADMIT near-dups, so the sink checks the pair
   * frame every batch and fails loudly on any pair whose larger side is a
   * corpus document — the exact pairs the admission rule would misread.
   *
   * Scale: the quality gate is a narrow codegen'd projection; signing is
   * once per surviving document ever; the candidate join is the O(batch ·
   * bands) incremental shape against the persisted band index — corpus
   * text is never re-read, corpus sigs never re-banded; the contract
   * check and the rejected-id rule share one persisted batch-sized pair
   * frame (no second candidate join). `maxBucketSize` is the same
   * post-batch band-bucket population cap as every other LSH candidate
   * path (AQE skew-join measurably never engages for these joins). With
   * `bucketedBase` set and [[compactIndexBucketed]] run on cadence, the
   * corpus-scale index side joins at its bucketing with zero Exchange
   * ([[tieredPairs]]).
   */
  def intakeSink(stream: DataFrame, indexPath: String, outPath: String,
                 checkpointDir: String, minQualityMicro: Long = 300000L,
                 estThreshold: Double = 0.5, n: Int = 3,
                 numHashes: Int = 128, bands: Int = 32,
                 idCol: String = "doc_id",
                 textCol: String = "text",
                 maxBucketSize: Option[Int] = None,
                 bucketedBase: Option[String] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val kept = batch.join(
            TextAnalysis.qualityScore(batch, idCol)
              .select(col(idCol),
                expr("CAST(round(quality_score * 1000000) AS BIGINT)")
                  .as("__qm"))
              .filter(col("__qm") >= minQualityMicro)
              .select(idCol),
            idCol, "left_semi")
          val (newSigs, landed) = minhashBatchPairs(kept, batchId,
            "intakeSink", indexPath, n, numHashes, bands, idCol, textCol,
            estThreshold, maxBucketSize, bucketedBase)
          val pairs = landed.persist()
          try {
            // batch ids are larger than all corpus ids by ingest contract,
            // and within the batch first-seen (smaller id) wins: a doc is
            // rejected iff it is the LARGER side of any pair. Every pair
            // has at least one batch side (incremental contract), so a
            // pair whose larger side is NOT in the batch is exactly an
            // id-ordering violation — fail loudly instead of silently
            // admitting that near-dup.
            val batchIds = newSigs.select(col(idCol))
            val violations = pairs.select(col("doc_b").as(idCol))
              .join(batchIds, Seq(idCol), "left_anti")
            val vio = violations.limit(1).collect()
            if (vio.nonEmpty)
              throw new IllegalStateException(
                s"intakeSink batch $batchId violates the id-ordering " +
                s"contract: corpus doc ${vio.head.get(0)} has a larger id " +
                "than a batch near-dup partner; batch ids must exceed all " +
                "corpus ids or the admission rule misreads pair direction")
            val rejected = pairs.select(col("doc_b").as(idCol))
              .join(batchIds, idCol, "left_semi").distinct()
            kept.join(rejected, Seq(idCol), "left_anti")
              .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          } finally pairs.unpersist()
          ()
        }
      }
      .start()

  /**
   * Maintenance compaction for the `batch=<id>`-partitioned streaming
   * indexes ([[nearDupSink]] signatures, [[chunkDedupSink]] chunk
   * hashes, [[anomalySink]] daily counts): fold every batch partition
   * through `reduce` into a single `batch=-1` partition, swapped in with
   * the same write-new → rename → drop-backup protocol as
   * [[graft.tables.Tables]] table maintenance (a crash between renames
   * leaves both the compacted tree and the original on disk, the
   * original under `__compact_backup`; RECOVERY = just re-run this
   * compaction — entry restores a missing main from the backup before
   * anything is deleted, drilled in StreamsSpec). The
   * sinks' exclude-current-batch reads keep working unchanged: real
   * batch ids are non-negative, so `batch=-1` is always visible to
   * them.
   *
   * Run QUIESCED (stream stopped), like any table maintenance — the
   * operation re-lays the whole directory. At 100 TB cadence this is
   * the same small-file/merge hygiene as `compactTable`, applied to the
   * append-per-batch index trees, and it is what keeps a re-crawl-heavy
   * chunk index from growing with chunk APPEARANCES instead of distinct
   * chunks.
   *
   * `reduce` receives the index rows without the `batch` column and
   * must return the same schema: `_.distinct()` for hash/signature
   * indexes, a key-summing aggregate for the counts index.
   *
   * Replay safety for SUMMING indexes: folding `batch=<id>` partitions
   * into `batch=-1` destroys the batch-id idempotency key — if a
   * micro-batch wrote its partition but its checkpoint commit was not
   * recorded before the stream quiesced, the post-compaction restart
   * replays it into a fresh `batch=<id>` partition whose rows are
   * already inside `batch=-1`, double-counting a summing index
   * (distinct-reduced indexes are immune). So compaction records the
   * max folded batch id in a `_compacted_through` marker (written into
   * the new tree BEFORE the atomic swap, so marker and fold appear
   * together), and the fold sinks' guard ([[foldSink]]) consults it
   * via [[compactedThrough]] to skip re-contributing batches ≤ the
   * marker.
   */
  def compactIndex(spark: SparkSession, indexPath: String)
                  (reduce: DataFrame => DataFrame): Unit = {
    val main = new Path(indexPath)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(indexPath + "__compact_tmp")
    val backup = new Path(indexPath + "__compact_backup")
    // entry recovery: a crash between the two swap renames leaves NO
    // main and the original under __compact_backup (the documented
    // crash window). "Re-run the compaction" must be the complete
    // recovery procedure, so restore the original FIRST — a blind
    // backup delete here would destroy the only copy of the index.
    // (The compacted __compact_tmp is always recomputable; prefer the
    // original.)
    if (!fs.exists(main) && fs.exists(backup)) {
      if (!fs.rename(backup, main)) throw new java.io.IOException(
        s"compactIndex recovery: cannot restore $backup to $main")
    }
    fs.delete(tmp, true)
    fs.delete(backup, true)
    val all = spark.read.option("basePath", indexPath).parquet(indexPath)
    val maxBatch = all.agg(max(col("batch")).cast("long")).head.getLong(0)
    val compacted = reduce(all.drop("batch"))
    compacted.write.mode("overwrite")
      .parquet(new Path(tmp, "batch=-1").toString)
    // batch=-1 rows from an earlier compaction fold straight through;
    // the stamp carries the earlier watermark forward with them
    stampCompactedThrough(spark, indexPath, tmp, maxBatch)
    // the swap replaces the WHOLE tree: carry the format stamp into the
    // new tree or a compaction would strip it and the next sink open
    // would refuse a perfectly-current index as unstamped
    readIndexFormat(spark, indexPath).foreach { f =>
      val fo = fs.create(new Path(tmp, FormatFile), true)
      try fo.write(f.getBytes("UTF-8")) finally fo.close()
    }
    if (!fs.rename(main, backup))
      throw new java.io.IOException(s"compactIndex: cannot move $main aside")
    if (!fs.rename(tmp, main)) {
      fs.rename(backup, main) // roll back; tmp left for inspection
      throw new java.io.IOException(s"compactIndex: cannot move $tmp in")
    }
    fs.delete(backup, true)
  }

  /**
   * Generic compaction for the COUNTER/metadata-fold sinks
   * ([[dsirSink]], [[privacyAuditSink]], [[trendSink]], [[driftSink]] /
   * [[driftByGroupSink]] / [[mixDriftSink]] counts, [[latenessSink]],
   * [[constraintSink]], [[encodingAuditSink]], [[cardSink]]'s langs
   * leg): without it, every micro-batch adds a `batch=<id>` dir
   * FOREVER and the per-batch fold reads O(n_batches) dirs — O(n²) cumulative over a sink's lifetime
   * (a 10 s trigger for a month is ~260k dirs). This folds the whole
   * tree into one `batch=-1` partition via group-by-key partial sums
   * (plus optional max columns for high-watermark fields like
   * [[latenessSink]]'s `max_ts_us`), stamps the `_compacted_through`
   * marker, and prunes — [[compactIndex]]'s swap protocol verbatim, so
   * crash recovery is "re-run the fold". The sinks keep working
   * unchanged: their folds re-aggregate over `batch=-1` plus the
   * batches since, and [[foldSink]]'s replay guard refuses any batch
   * id at or below the marker (the summing-index double-count hazard
   * documented on [[compactIndex]]).
   *
   * Run QUIESCED over a fully-committed checkpoint (stop the stream,
   * processAllAvailable first), like every compaction here.
   *
   * Scale: the fold input is (key-space × batches) counter rows,
   * never corpus rows; after it, per-batch fold input is key-space +
   * O(batches since last fold) — bounded by compaction cadence instead
   * of stream lifetime.
   */
  def compactCounterPartials(spark: SparkSession, partialsPath: String,
                             keyCols: Seq[String], sumCols: Seq[String],
                             maxCols: Seq[String] = Nil): Unit = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(sumCols.nonEmpty || maxCols.nonEmpty,
      "need at least one sum or max column")
    compactIndex(spark, partialsPath) { df =>
      val aggs = sumCols.map(c => sum(col(c)).as(c)) ++
        maxCols.map(c => max(col(c)).as(c))
      df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
        // restore the tree's column order so batch=-1 parquet matches
        // the per-batch partials' schema exactly
        .select(df.columns.map(col): _*)
    }
  }

  /**
   * Compaction for [[budgetSelectSink]]'s metadata partials — and the
   * state-size win counters cannot have: the fold keeps, per group,
   * only the DECISION PREFIX — the sorted rows up to AND INCLUDING the
   * first budget-crossing row — so persisted state becomes
   * budget-bounded (kept rows + one crossing row per group, for
   * positive costs) instead of stream-length-bounded.
   *
   * Why the prefix and not the bare kept set: an unpicked row's cost
   * still sits inside every later row's cumulative prefix. Dropping
   * the crossing row would let a future lower-score arrival read a
   * cumulative cost the true history never had — e.g. budget 12 with
   * A(cost 2) picked and B(cost 11) crossing at 13: prune B away and a
   * later C(cost 8) folds to cum 10 ≤ 12 and is wrongly admitted,
   * where full history rejects it at 21. KEEPING the crossing row is
   * exact: any row sorting after it — now or in any future batch —
   * inherits a prefix max already over budget and is excluded either
   * way, and such a row's own cost only influences rows after itself,
   * all equally doomed, so dropping THOSE loses nothing (costs
   * non-negative — the sink's documented contract; null costs already
   * fail loudly in [[graft.operators.Curation.budgetSelect]]).
   * StreamLaws pins pruned-state pick = full-history pick for any
   * batch split, late evictions included.
   *
   * Same [[compactIndex]] swap + `_compacted_through` marker protocol;
   * run QUIESCED over a fully-committed checkpoint. The sink's replay
   * guard refuses folded batch ids — a replayed folded batch would
   * re-add rows whose survivors are already inside `batch=-1`.
   */
  def compactBudgetSelectPartials(spark: SparkSession, partialsPath: String,
                                  groupCol: String, orderCol: String,
                                  costCol: String, budget: Long,
                                  idCol: String = "doc_id"): Unit =
    compactIndex(spark, partialsPath) { df =>
      val w = Window.partitionBy(groupCol)
        .orderBy(col(orderCol).desc, col(idCol).asc)
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = w.rowsBetween(Window.unboundedPreceding, -1)
      // keep a row iff no STRICT predecessor already crossed — this
      // retains the first crossing row itself and drops everything
      // after it
      df.withColumn("__cum", sum(col(costCol)).over(run))
        .withColumn("__preMax", max(col("__cum")).over(pre))
        .filter(col("__preMax").isNull || col("__preMax") <= budget)
        .select(df.columns.map(col): _*)
    }

  /**
   * Compaction for [[cardSink]]'s three partial legs: `langs` sum-folds
   * per language, `vocab`/`texts` keep only the k smallest DISTINCT
   * hashes (the KMV merge property: the k-min of a union lives inside
   * the union of per-batch k-min sets, so dropping everything beyond
   * the global k-min loses nothing). Each leg gets its own `batch=-1` +
   * marker via [[compactIndex]]; the sink's replay guard checks the
   * `langs` leg (all three are compacted together here, and langs is
   * the summing leg where a replay would double-count — the k-min legs
   * are distinct-reduced and immune).
   */
  def compactCardPartials(spark: SparkSession, partialsPath: String,
                          k: Int = 256): Unit = {
    compactCounterPartials(spark, s"$partialsPath/langs",
      keyCols = Seq("lang"), sumCols = Seq("n_docs", "n_tokens"))
    Seq("vocab", "texts").foreach { leg =>
      compactIndex(spark, s"$partialsPath/$leg")(
        _.select("h").distinct().orderBy(col("h")).limit(k))
    }
  }

  /**
   * Compaction of a [[nearDupSink]]/[[intakeSink]]/[[clustersSink]]
   * signature index into the BUCKETED bulk tier: folds every `batch=<id>`
   * partition (plus any previously-folded bulk) through distinct into the
   * [[Dedup.writeBandedIndex]] two-table layout, then prunes the folded
   * delta partitions. After this runs, steady-state admission joins the
   * corpus-scale side AT ITS BUCKETING — zero Exchange on the index side
   * of [[tieredPairs]]'s bulk call — and the path tree only ever holds
   * the batches since the last fold. This is the LSM shape a 100 TB
   * streaming index wants: per-batch appends stay cheap path writes, the
   * once-per-cadence fold pays the one bucketing shuffle for the whole
   * corpus, and every micro-batch in between reads the bulk in place.
   *
   * Run QUIESCED (stream stopped), like [[compactIndex]]. The fold and
   * its crash protocol are [[foldBulkTier]]'s: the two bulk tables
   * replace in one staged swap ([[graft.tables.Tables.stageBucketedSwap]]
   * x2 + one [[graft.tables.Tables.commitSwaps]]), and after a crash the
   * complete recovery is to re-run the fold before resuming the stream.
   * Until then [[tieredPairs]] refuses to run if only one bulk table
   * exists rather than silently dropping the folded corpus from
   * admission; documents left in both tiers by a crash after the commit
   * are tolerated (a != b guard + final distinct). Signature indexes are
   * distinct-reduced, so the summing-index replay hazard of
   * [[compactIndex]] does not arise; the marker is still written for
   * observability and monotone bookkeeping.
   */
  def compactIndexBucketed(spark: SparkSession, indexPath: String,
                           baseTable: String, numHashes: Int = 128,
                           bands: Int = 32, numBuckets: Int = 32,
                           idCol: String = "doc_id"): Unit =
    foldBulkTier(spark, indexPath, baseTable + "_sigs",
      Seq(baseTable + "_bands"), Seq(idCol, "sig"), pruneBandsTree = true)(
      Dedup.writeBandedIndex(_, baseTable, numHashes, bands, numBuckets,
        idCol))

  /** [[compactIndexBucketed]] for the EMBEDDING signature index
   * ([[embeddingNearDupSink]]): folds the `batch=<id>` partitions (plus
   * any previously-folded bulk) into the
   * [[Dedup.writeEmbeddingBandedIndex]] two-table layout, by the same
   * [[foldBulkTier]]. The embedding sink keeps no separate band tree
   * (bands derive from the 8-byte signatures), so only sig partitions
   * prune. */
  def compactEmbeddingIndexBucketed(spark: SparkSession, indexPath: String,
                                    baseTable: String, numBands: Int = 21,
                                    totalPlanes: Int = 63,
                                    numBuckets: Int = 32,
                                    idCol: String = "vec_id"): Unit =
    foldBulkTier(spark, indexPath, baseTable + "_sigs",
      Seq(baseTable + "_bands"), Seq(idCol, "sig"), pruneBandsTree = false)(
      Dedup.writeEmbeddingBandedIndex(_, baseTable, numBands, totalPlanes,
        numBuckets, idCol))

  /**
   * Compaction of a [[spanDedupSink]] window-hash index into its
   * BUCKETED bulk tier: folds every `batch=<id>` partition (plus any
   * previously-folded bulk) through distinct into `<base>_winhash`
   * ((h, h2) rows — the sink's composite-hash format), bucketed on `h`,
   * then prunes the folded delta partitions — the same LSM shape as
   * [[compactIndexBucketed]]. After
   * this runs, the sink's flag join reads the corpus-scale window set
   * AT ITS BUCKETING (only the batch side shuffles) and the path tree
   * only holds batches since the last fold.
   *
   * Run QUIESCED (stream stopped). The fold and its crash protocol are
   * [[foldBulkTier]]'s (one staged swap of `<base>_winhash`; re-run the
   * fold to recover). Windows left in both tiers by a crash after the
   * commit are tolerated by the sink's membership-only flag join
   * (duplicate flag rows collapse in the position set).
   */
  def compactSpanIndex(spark: SparkSession, indexPath: String,
                       baseTable: String, numBuckets: Int = 32): Unit = {
    val bulk = baseTable + "_winhash"
    foldBulkTier(spark, indexPath, bulk, Nil, Seq("h", "h2"),
      pruneBandsTree = false) { staged =>
      Tables.stageBucketedSwap(staged, bulk, "h", numBuckets)
      Tables.commitSwaps(spark, Seq(bulk))
    }
  }

  /**
   * QUIESCED reconciliation audit for [[spanDedupSink]]'s composite-hash
   * residual: re-checks every (h, h2) composite the index holds against
   * the ACTUAL window text of `corpus` and reports the collisions — index
   * composites whose matching corpus windows carry ≥ 2 DISTINCT texts,
   * i.e. exactly the entries that could have made the sink remove a
   * window the batch operator's text verify would have kept. Expected
   * EMPTY (~n²/2^129 composites collide); a non-empty result names the
   * windows to hand-review, turning the sink's documented
   * text-exactness divergence from [[Dedup.removeDuplicatedSpans]] into
   * a measurable, auditable number instead of a standing unknown.
   *
   * `corpus` should be (a superset of) the documents the index was
   * built from — the audit is one-sided: it can only see collisions
   * whose witness texts are both in `corpus`. Output: one row per
   * colliding composite, (h, h2, n_texts, text_a, text_b) with two
   * distinct witness window texts. Pass `bucketedBase` to include the
   * [[compactSpanIndex]] bulk tier.
   *
   * Scale: one window explode over the corpus (the sink's own per-batch
   * cost shape, linear in corpus tokens), semi-joined down to composites
   * the index actually holds, then a (h, h2) aggregate whose min/max
   * text witnesses combine map-side — window text never collects to the
   * driver and never groups beyond one row per index composite.
   */
  def verifySpanIndex(spark: SparkSession, indexPath: String,
                      corpus: DataFrame, w: Int = 8,
                      textCol: String = "text",
                      bucketedBase: Option[String] = None): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    val winTxt = s"concat_ws(' ', slice(t, i, $w))"
    val wins = corpus
      .select(graft.functions.TextFns.tokens(textCol).as("t"))
      .select(explode(expr(
        s"""CASE WHEN size(t) >= $w THEN
           |  transform(sequence(1, size(t) - ${w - 1}),
           |            i -> struct(xxhash64($winTxt) AS h,
           |                        xxhash64(1L, $winTxt) AS h2,
           |                        $winTxt AS __wtxt))
           |ELSE CAST(array()
           |  AS ARRAY<STRUCT<h: BIGINT, h2: BIGINT, __wtxt: STRING>>) END"""
          .stripMargin)).as("s"))
      .select(col("s.h").as("h"), col("s.h2").as("h2"),
        col("s.__wtxt").as("__wtxt"))
    verifySpanWindows(spark, indexPath, wins, bucketedBase)
  }

  /** The chunk-level twin of [[verifySpanIndex]] for
   * [[chunkDedupSink]]'s index: re-chunks `corpus` with the SAME CDC
   * parameters the sink ran with and reports index composites whose
   * matching chunk texts differ — the entries that could have dropped
   * a chunk the batch [[Dedup.dedupChunks]] (text-keyed) would have
   * kept. Same one-sided contract, output shape, and scale posture as
   * the span audit. */
  def verifyChunkIndex(spark: SparkSession, indexPath: String,
                       corpus: DataFrame, avgTokens: Int = 16,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val chunks = Curation.cdcChunks(corpus, avgTokens, idCol, textCol)
      .select(xxhash64(col("chunk_text")).as("h"),
        xxhash64(lit(1L), col("chunk_text")).as("h2"),
        col("chunk_text").as("__wtxt"))
    verifySpanWindows(spark, indexPath, chunks, None)
  }

  /** [[verifySpanIndex]] / [[verifyChunkIndex]] over a pre-built
   * candidate frame (h, h2, __wtxt) — the seam the injected-collision
   * drill uses (a true 128-bit xxhash64 collision cannot be
   * constructed from text, so the test fabricates the frame;
   * production always goes through the public audits, whose hashes
   * match the sinks' by construction). */
  private[graft] def verifySpanWindows(spark: SparkSession,
                                       indexPath: String, wins: DataFrame,
                                       bucketedBase: Option[String])
      : DataFrame = {
    // The audit is only meaningful against a current-format index: an
    // incompatible tree's composites never match the recomputed hashes,
    // so the left_semi would drop everything and an EMPTY result would
    // read as a clean audit instead of a format mismatch (ADVICE r16).
    ensureIndexFormat(spark, indexPath, SpanIndexFormat, "verifySpanIndex")
    val main = new Path(indexPath)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasBatches = batchIds(fs, main).nonEmpty
    val emptyH = spark.range(0)
      .select(col("id").as("h"), col("id").as("h2"))
    val pathH =
      if (hasBatches) spark.read.option("basePath", indexPath)
        .parquet(indexPath).select("h", "h2")
      else emptyH
    val bulkH = bucketedBase match {
      case Some(base) if spark.catalog.tableExists(base + "_winhash") =>
        spark.table(base + "_winhash").select("h", "h2")
      case _ => emptyH
    }
    wins.join(pathH.union(bulkH).distinct(), Seq("h", "h2"), "left_semi")
      .groupBy("h", "h2")
      .agg(countDistinct(col("__wtxt")).as("n_texts"),
        min(col("__wtxt")).as("text_a"), max(col("__wtxt")).as("text_b"))
      .filter(col("text_a") =!= col("text_b"))
      .select("h", "h2", "n_texts", "text_a", "text_b")
  }

  /**
   * The LSM fold of a signature or window-hash index's `batch=<id>` tree
   * into its bucketed bulk tier, for [[compactIndexBucketed]],
   * [[compactEmbeddingIndexBucketed]] and [[compactSpanIndex]]:
   *   1. [[Tables.recoverSwap]] on the `companions` and the `bulk` table:
   *      a crash in an earlier fold's staged swap leaves recoverable
   *      states there, so "crash -> re-run the fold" is the complete
   *      recovery (the pattern of `Main.run` recovering before an
   *      upsert);
   *   2. the `cols` of the path tree plus the existing `bulk`,
   *      distinct-reduced (the indexes are sets, so a re-fold cannot
   *      double anything);
   *   3. staged to the scratch tree `<indexPath>__fold_tmp`: the fold
   *      reads the bulk it is about to overwrite, and Spark refuses
   *      overwrite-while-read plans;
   *   4. `write` replaces the bulk tables from the stage;
   *   5. the `_compacted_through` stamp, then the folded batch dirs prune
   *      (also under `<indexPath>__bands` with `pruneBandsTree`) — only
   *      after the commit, so a re-run fold rebuilds the same corpus.
   */
  private def foldBulkTier(spark: SparkSession, indexPath: String,
                           bulk: String, companions: Seq[String],
                           cols: Seq[String], pruneBandsTree: Boolean)
                          (write: DataFrame => Unit): Unit = {
    (companions :+ bulk).foreach(Tables.recoverSwap(spark, _))
    val main = new Path(indexPath)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = batchIds(fs, main)
    if (ids.isEmpty) return
    val path = spark.read.option("basePath", indexPath).parquet(indexPath)
      .select(cols.map(col): _*)
    val all =
      if (spark.catalog.tableExists(bulk))
        spark.table(bulk).select(cols.map(col): _*).union(path)
      else path
    val stage = new Path(indexPath + "__fold_tmp")
    fs.delete(stage, true)
    all.distinct().write.parquet(stage.toString)
    write(spark.read.parquet(stage.toString))
    fs.delete(stage, true)
    stampCompactedThrough(spark, indexPath, main, ids.max)
    val bnd = new Path(indexPath + "__bands")
    ids.foreach { b =>
      fs.delete(new Path(main, s"batch=$b"), true)
      if (pruneBandsTree) fs.delete(new Path(bnd, s"batch=$b"), true)
    }
  }

  /** Leading underscore: Spark's parquet reader ignores it as data. */
  private val MarkerFile = "_compacted_through"

  /** Leading underscore: Spark's parquet reader ignores it as data. */
  private[streaming] val FormatFile = "_format"

  /**
   * Hash-format stamp of the composite-hash streaming indexes
   * ([[spanDedupSink]] window index, [[chunkDedupSink]] chunk index):
   * v2 = (h = xxhash64(text), h2 = xxhash64(1L, text)), a salt-chained
   * second hash. The reverse-text h2 ("v1") and the older single-hash
   * trees are incompatible — and the failure mode of mixing them is
   * SILENT: an old-format composite never double-matches under the new
   * h2, so every historical duplicate survives unflagged, conservative
   * but unbounded recall loss. Sinks and audits therefore stamp the
   * format at index create and fail loudly on mismatch.
   */
  private[streaming] val SpanIndexFormat = "composite-hash-v2"

  /** The persisted format stamp of an index tree, if any. */
  def readIndexFormat(spark: SparkSession, indexPath: String): Option[String] = {
    val p = new Path(indexPath, FormatFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
      finally in.close()
    }
  }

  /**
   * Attest an index tree's hash format — the operator escape hatch for
   * a PRE-VERSIONING tree that is known (by provenance) to be written
   * by current-format code: stamp it, then run [[verifySpanIndex]] /
   * [[verifyChunkIndex]] against the full corpus to confirm. Sinks
   * stamp automatically at index create; this is only for migration.
   */
  def stampIndexFormat(spark: SparkSession, indexPath: String,
                       format: String): Unit = {
    val p = new Path(indexPath, FormatFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true) // creates parent dirs on a fresh tree
    try out.write(format.getBytes("UTF-8")) finally out.close()
  }

  /**
   * Open-time format gate: a stamped index must match `expected`
   * exactly; an UNSTAMPED tree that already carries `batch=` data is
   * refused too (unknown provenance — pre-versioning trees include the
   * incompatible round-15 h2). A fresh/empty tree is stamped here, so
   * every index created from round 17 on self-describes.
   */
  private[streaming] def ensureIndexFormat(spark: SparkSession,
                                           indexPath: String,
                                           expected: String,
                                           opName: String): Unit = {
    val main = new Path(indexPath)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readIndexFormat(spark, indexPath) match {
      case Some(found) if found == expected => ()
      case Some(found) => throw new IllegalStateException(
        s"$opName: index at $indexPath is format '$found'; this build " +
          s"reads/writes '$expected'. The two formats never co-match, so " +
          "joining them would silently flag NOTHING (every historical " +
          "duplicate survives). REBUILD the index: delete the tree and " +
          "replay the stream through the sink, then audit the residual " +
          "with verifySpanIndex/verifyChunkIndex.")
      case None =>
        if (batchIds(fs, main).nonEmpty) throw new IllegalStateException(
          s"$opName: index at $indexPath carries batch data but no " +
            s"'$FormatFile' marker — a pre-versioning tree of unknown " +
            "hash format. An old-format index never double-matches under " +
            "the current hashes, so every historical duplicate would " +
            "SURVIVE unflagged (silent recall loss). REBUILD it (delete " +
            "the tree and replay the stream), or — only if the tree is " +
            "known by provenance to be current-format — attest it with " +
            s"stampIndexFormat(spark, path, \"$expected\") and then audit " +
            "with verifySpanIndex/verifyChunkIndex against the full corpus.")
        else stampIndexFormat(spark, indexPath, expected)
    }
  }

  /**
   * Highest batch id folded into `batch=-1` by [[compactIndex]], or -1
   * if the index was never compacted. Batches ≤ this watermark are
   * already inside the compacted partition and must not re-contribute
   * to summing indexes on replay.
   */
  def compactedThrough(spark: SparkSession, indexPath: String): Long = {
    val p = new Path(indexPath, MarkerFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toLong
      finally in.close()
    }
  }

  /** Write the [[compactedThrough]] marker into `dir` (the tree about to
   * become `indexPath`, or `indexPath` itself): the highest folded batch
   * id, never below the watermark `indexPath` already carries. */
  private def stampCompactedThrough(spark: SparkSession, indexPath: String,
                                    dir: Path, folded: Long): Unit = {
    val mark = math.max(folded, compactedThrough(spark, indexPath))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(dir, MarkerFile), true)
    try out.write(mark.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Ids of the `batch=<id>` partition dirs directly under `root`; empty
   * when `root` does not exist. The one reader of that layout. */
  private def batchIds(fs: FileSystem, root: Path): Seq[Long] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)

  /**
   * The exactly-once protocol every fold sink shares, written once.
   * Per micro-batch: land `partial(batch)` under
   * `partialsPath/batch=<id>`, read the whole partials tree back (with
   * its `batch` partition column) and write `fold(tree, id)` to
   * `outPath/batch=<id>`.
   *
   *   - Idempotency key: both writes OVERWRITE the `batch=<id>` dir, so
   *     a micro-batch re-run under foreachBatch's at-least-once contract
   *     rewrites its own output instead of adding to it.
   *   - Watermark guard ([[isNewBatch]]): a compaction
   *     ([[compactIndex]], [[compactCounterPartials]],
   *     [[compactBudgetSelectPartials]]) folds the tree into `batch=-1`
   *     and records the highest folded id in the `_compacted_through`
   *     marker. That destroys the key for every folded id: replaying
   *     one would land a fresh `batch=<id>` beside rows already inside
   *     `batch=-1`, and a summing tree would count them twice (a fact
   *     tree would hold them twice). So empty batches and ids at or
   *     below the marker are skipped.
   *   - Single delivery: the key is the batch id, not the row. A record
   *     the SOURCE re-delivers under a new batch id is a new
   *     contribution, so sinks whose folds sum or rank must be fed each
   *     record once.
   */
  private[streaming] def foldSink(stream: DataFrame, partialsPath: String,
                                  outPath: String, checkpointDir: String)
                                 (partial: DataFrame => DataFrame)
                                 (fold: (DataFrame, Long) => DataFrame)
      : StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (isNewBatch(batch, batchId, partialsPath)) {
          partial(batch).write.mode("overwrite")
            .parquet(s"$partialsPath/batch=$batchId")
          val tree = batch.sparkSession.read
            .option("basePath", partialsPath).parquet(partialsPath)
          fold(tree, batchId).write.mode("overwrite")
            .parquet(s"$outPath/batch=$batchId")
        }
      }
      .start()

  /** [[foldSink]]'s replay guard, shared with the sinks that keep their
   * own foreachBatch: the batch is non-empty and its id is above the
   * `_compacted_through` marker under `markerPath`. */
  private def isNewBatch(batch: DataFrame, batchId: Long,
                         markerPath: String): Boolean =
    !batch.isEmpty && batchId > compactedThrough(batch.sparkSession, markerPath)

  /**
   * Streaming volume-anomaly monitor — the streaming twin of
   * [[graft.operators.Sessions.countAnomaly]] for a live ingest: each
   * micro-batch contributes its per-(day, type) event counts to a
   * growing daily-counts index, total counts are re-assembled from the
   * index, and the integer-exact 3σ trailing-baseline test re-evaluates
   * for the days the batch touched (a late-arriving sliver re-opens its
   * day and the day's verdict is recomputed against the same baseline
   * rule as batch).
   *
   * The counts index sums, so it relies on [[foldSink]]'s watermark
   * guard after a [[compactIndex]] fold. Consumers aggregate
   * `countsPath` by (day, event_type) and read verdicts as
   * last-batch-wins per day.
   *
   * Scale: the index holds (day, type, n) rows — days × types per
   * batch, never event rows; re-assembly is one hash aggregate over
   * that tiny index, and the window test runs on days × types rows.
   */
  def anomalySink(stream: DataFrame, countsPath: String, anomPath: String,
                  checkpointDir: String, baselineDays: Int = 7,
                  sigmas: Int = 3, typeCol: String = "event_type",
                  tsCol: String = "ts"): StreamingQuery =
    foldSink(stream, countsPath, anomPath, checkpointDir)(
      _.groupBy(to_date(col(tsCol)).as("day"), col(typeCol))
        .agg(count(lit(1)).as("n"))) { (tree, batchId) =>
      val touched = tree.filter(col("batch") === batchId)
        .select(col("day")).distinct()
      val totals = tree.groupBy("day", typeCol)
        .agg(sum("n").cast("long").as("n_events"))
      Sessions.countAnomalyFromTotals(totals, baselineDays, sigmas, typeCol)
        .join(touched, Seq("day"), "leftsemi")
    }

  /**
   * Streaming distribution-drift monitor — the streaming twin of
   * [[graft.operators.Curation.ksDrift]] for a live ingest: is the
   * stream's value distribution drifting away from a fixed REFERENCE
   * corpus (the distribution the model was trained on)? Each
   * micro-batch contributes its per-value counts to a growing counts
   * index, and the CUMULATIVE stream distribution re-tests against the
   * reference — a persisted [[graft.operators.Curation.valueCounts]]
   * parquet, aggregated once from the reference corpus, never re-read
   * at corpus width. One verdict row per batch lands under
   * `batch=<id>` in `driftPath`: (n_a, n_b, n_values, d_cross,
   * d_micro) with the reference as side a — consumers read
   * last-batch-wins; the verdict sequence converges to the batch
   * [[graft.operators.Curation.ksDrift]] over the concatenated input
   * (StreamLaws asserts final-verdict equality for arbitrary splits).
   *
   * The counts index sums; replays follow [[foldSink]].
   *
   * Scale: per batch, one batch-sized aggregate plus a
   * value-space-sized (not corpus-sized) merge against the reference
   * counts — the ingest corpus itself is never re-read.
   */
  def driftSink(stream: DataFrame, refCountsPath: String,
                countsPath: String, driftPath: String,
                checkpointDir: String,
                valueCol: String = "value"): StreamingQuery =
    foldSink(stream, countsPath, driftPath, checkpointDir)(
      Curation.valueCounts(_, valueCol)) { (tree, _) =>
      val observed = tree.groupBy("v").agg(sum("n").cast("long").as("n"))
      Curation.ksDriftFromCounts(
        tree.sparkSession.read.parquet(refCountsPath), observed)
    }

  /**
   * Per-group streaming drift monitor — [[driftSink]] sliced by a group
   * column ([[graft.operators.Curation.ksDriftByGroup]]'s streaming
   * twin): each micro-batch lands as per-(group, value) counts, the
   * cumulative observed counts compare against a persisted per-group
   * reference, and one KS verdict row PER GROUP writes under
   * `driftPath/batch=<id>` — the shape that catches one upstream feed
   * going bad while the corpus-wide statistic still looks healthy.
   * Replays follow [[foldSink]]; same null-drop contract as
   * [[graft.operators.Curation.valueCounts]].
   *
   * Scale: per batch, one batch-sized aggregate plus a
   * (group × value-space)-sized merge against the reference counts —
   * the grouped assembled cumulative pass, so no single-task window at
   * any group or value cardinality.
   */
  def driftByGroupSink(stream: DataFrame, refCountsPath: String,
                       countsPath: String, driftPath: String,
                       checkpointDir: String,
                       valueCol: String = "value",
                       grpCol: String = "source"): StreamingQuery =
    foldSink(stream, countsPath, driftPath, checkpointDir)(
      Curation.valueCountsByGroup(_, valueCol, grpCol)) { (tree, _) =>
      val observed = tree.groupBy(grpCol, "v")
        .agg(sum("n").cast("long").as("n"))
      Curation.ksDriftByGroupFromCounts(
        tree.sparkSession.read.parquet(refCountsPath), observed, grpCol)
    }

  /**
   * Streaming DSIR profile maintenance — [[graft.operators.Curation
   * .dsirWeights]]'s distribution half as a live sink: the stream
   * carries documents tagged `corpus ∈ {raw, target}`, each micro-batch
   * lands its per-corpus bucket-count partials under
   * `partialsPath/batch=<id>` (bucket counts are plain sums; replays
   * follow [[foldSink]]), and the cumulative per-bucket LLR table —
   * recomputed from folded counts with the same micro-floored
   * arithmetic as the batch operator, never averaged — rewrites to
   * `llrPath/batch=<id>`. Downstream selection reads the
   * newest LLR table and scores candidate documents with one broadcast
   * join; as the target domain's sample grows, the selection
   * distribution sharpens within a batch of landing.
   *
   * Scale: per batch, one batch-sized gram explosion reduced to
   * `buckets`-bounded partials; the fold reads (2 × buckets × batches)
   * counter rows, never documents.
   */
  def dsirSink(stream: DataFrame, partialsPath: String, llrPath: String,
               checkpointDir: String, buckets: Int = 1024,
               corpusCol: String = "corpus",
               textCol: String = "text"): StreamingQuery =
    foldSink(stream, partialsPath, llrPath, checkpointDir) { batch =>
      Seq("raw", "target").map { c =>
        Curation.dsirBucketCounts(
          batch.filter(col(corpusCol) === c), buckets, textCol)
          .withColumn("corpus", lit(c))
      }.reduce(_ unionByName _)
    } { (tree, _) =>
      val all = tree.groupBy("corpus", "b").agg(sum("n").as("n"))
      Curation.dsirLlrFromCounts(
        all.filter(col("corpus") === "raw").select("b", "n"),
        all.filter(col("corpus") === "target").select("b", "n"),
        buckets)
    }

  /**
   * Streaming ranking-quality monitor — [[graft.operators.Similarity
   * .rankingEval]]'s live twin for a serving tier: the stream carries
   * top-k rows tagged `side ∈ {truth, candidate}` (ground-truth rows
   * from an exact offline pass, candidate rows from the quantized/IVF/
   * PQ serving path), each micro-batch lands its rows under
   * `partialsPath/batch=<id>`, and the cumulative per-query
   * nDCG/MRR verdict — recomputed by the exact batch operator over the
   * folded rows, never averaged across batches — rewrites to
   * `evalPath/batch=<id>`. A quantization regression or an index gone
   * stale moves the cumulative ndcg_permille within one batch of the
   * affected queries landing.
   *
   * State is top-k rows per (query, side) — OUTPUT-bounded, tiny next
   * to the corpora that produced them, the same order as the frames
   * [[graft.operators.Similarity.rankingEval]] already joins. Replays
   * follow [[foldSink]]; compact the tree on cadence with
   * `compactIndex(spark, partialsPath)(identity)` (rows are facts, not
   * sums — the fold is small-file hygiene).
   *
   * Scale: per batch, one tree fold of (k × queries-seen × 2) rows +
   * the batch operator's output-bounded joins — corpora are never read.
   */
  def rankingEvalSink(stream: DataFrame, partialsPath: String,
                      evalPath: String, checkpointDir: String,
                      k: Int, sideCol: String = "side",
                      queryCol: String = "query_id",
                      neighborCol: String = "neighbor_id",
                      rankCol: String = "rank"): StreamingQuery = {
    require(k >= 1, s"k must be >= 1, got $k")
    foldSink(stream, partialsPath, evalPath, checkpointDir)(
      _.select(col(sideCol), col(queryCol), col(neighborCol),
        col(rankCol).cast("long").as(rankCol))) { (tree, _) =>
      val all = tree.drop("batch")
      graft.operators.Similarity.rankingEval(
        all.filter(col(sideCol) === "truth").drop(sideCol),
        all.filter(col(sideCol) === "candidate").drop(sideCol),
        k, queryCol, neighborCol, rankCol)
    }
  }

  /**
   * Streaming SCD Type 2 dimension maintenance — a CDC/attribute feed
   * folds into the history-keeping table per micro-batch: the batch
   * dedupes to latest-per-key by its event-time column, its effective
   * timestamp is the batch's MAX event time (event-time, so
   * replay-stable — never the wall clock), and the merge of
   * [[graft.tables.Tables.upsertScd2]] applies the versions. The sink
   * calls that merge without its duplicate-key guard
   * (`Tables.mergeScd2`): the deduped batch holds each key once, so
   * the guard's aggregate could never fire. At-least-once safety
   * comes from the merge itself: a replayed batch re-stages identical
   * attributes, and the null-safe change test makes every row a no-op
   * — no phantom versions, no watermark file needed. Run [[graft.tables.Tables.recoverSwap]] on
   * restart, as with every swap-protocol table.
   *
   * Event-time monotonicity: the effective timestamp is assumed
   * non-decreasing across micro-batches. A batch of pure late
   * stragglers (max event time EARLIER than the table's newest
   * `valid_from`) would otherwise close versions with
   * `valid_to < valid_from` and show attributes at instants before
   * they applied — so the effective timestamp is CLAMPED up to the
   * table's current `max(valid_from)`: the late change applies "as of
   * now in table time", never retroactively rewriting history.
   *
   * The clamp boundary is CACHED in driver state, not re-aggregated
   * per micro-batch: `max(valid_from)` only advances through this
   * sink's own merges (single-writer — the swap-protocol contract),
   * so the dimension is read once at the first non-empty batch and
   * the boundary then carries forward — a possibly-large dimension
   * never pays a table-sized aggregate per batch. The cached boundary
   * advances to a batch's `effective` ONLY when the merge actually
   * wrote versions at it: a no-change batch (nothing opened, nothing
   * closed) leaves no `valid_from = effective` row in the table, so
   * advancing on it would cache a boundary the table never held and a
   * restart (which re-derives from the table) would clamp differently
   * than the no-crash path. "Wrote versions" is the merge's own return
   * value — the merge returns the number of opened versions, counted
   * current-tier-bounded (never a post-merge full-table count), and
   * every opened version carries
   * `valid_from = effective`, so `opened > 0` is exactly the advance
   * condition. A restarted sink re-initializes from the table, so a
   * replayed batch clamps against at-least the boundary it saw before
   * the crash.
   */
  def scd2Sink(stream: DataFrame, table: String, checkpointDir: String,
               key: String, tsCol: String = "ts"): StreamingQuery = {
    // cloned-session refresh rule (see upsertSink): invalidate the
    // OWNER session's relation cache after each swap
    val owner = stream.sparkSession
    // boundary cache (see scaladoc); None = not yet initialized,
    // Some(null) = table absent/empty at init (no clamp floor yet)
    val boundary = new java.util.concurrent.atomic.AtomicReference[
      Option[java.sql.Timestamp]](None)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val batchMax = batch.agg(max(col(tsCol))).head()
            .getTimestamp(0)
          // a non-empty batch whose every event timestamp is null has
          // no event time to version by: fail with the column named
          // rather than NPE inside the clamp comparison
          if (batchMax == null) throw new IllegalStateException(
            s"scd2Sink: non-empty micro-batch has all-null '$tsCol' " +
              "values — every row needs an event timestamp to place " +
              "its version on the validity timeline")
          if (boundary.get.isEmpty) {
            if (!s.catalog.tableExists(table)) boundary.set(Some(null))
            else {
              scd2BoundaryReads.incrementAndGet()
              boundary.set(Some(s.table(table)
                .agg(max(col("valid_from"))).head().getTimestamp(0)))
            }
          }
          // monotonicity clamp (see scaladoc): never regress below the
          // table's newest version boundary
          val tblMax = boundary.get.orNull
          val effective =
            if (tblMax != null && batchMax.before(tblMax)) tblMax
            else batchMax
          // latest-per-key by event time; ties break over the attribute
          // columns so the staged row is deterministic under replay
          val staging = graft.operators.Relational
            .dedupeLatest(batch, key, tsCol,
              tieBreak = batch.columns.toSeq
                .filterNot(c => c == key || c == tsCol))
            .drop(tsCol)
          if (!s.catalog.tableExists(table)) {
            graft.tables.Tables.loadScd2(staging, table, effective)
            // initial load: every row's valid_from IS effective
            boundary.set(Some(effective))
          } else {
            val opened = graft.tables.Tables.mergeScd2(s, staging,
              table, key, effective)
            // advance only if the merge opened versions — a no-change
            // batch leaves no valid_from = effective row, so the
            // boundary must keep the table's real maximum
            if (opened > 0L) boundary.set(Some(effective))
          }
          owner.catalog.refreshTable(table)
          ()
        }
      }
      .start()
  }

  /** Test pin for [[scd2Sink]]'s boundary cache: counts the clamp
   * boundary's table reads — exactly one per sink lifetime (outside
   * the merge itself), never one per micro-batch. */
  private[graft] val scd2BoundaryReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /**
   * Streaming point-in-time enrichment — [[graft.tables.Tables
   * .scd2Lookup]]'s streaming twin: each micro-batch of facts joins
   * the SCD2 dimension version that was valid AT EACH FACT'S OWN event
   * time (never today's attributes — the anti-leakage feature-store
   * join), landing under `outPath/batch=<id>`. There is no partials
   * tree, so the sink keeps its own foreachBatch, but a replayed batch
   * rewrites its own directory and [[foldSink]]'s guard
   * ([[isNewBatch]], marker under `outPath`) applies.
   *
   * The dimension is read AS OF each batch's processing — facts enrich
   * against the versions the dimension held when the batch landed,
   * which is exactly the batch-`scd2Lookup`-over-concatenated-input
   * semantics when the dimension is maintained by a quiesced
   * [[scd2Sink]] (StreamLaws pins the equality). A dimension merge
   * racing a batch is the usual single-writer caveat, not a new one.
   *
   * Scale: per batch, one equi hash join on the key with the validity
   * range as a residual — the batch side is micro-batch-sized, so the
   * join broadcasts it. The batch's MIN event time (one batch-sized
   * aggregate) feeds [[graft.tables.Tables.scd2Lookup]]'s
   * validity-horizon hint: versions closed before the batch's oldest
   * fact can never match, so on the [[graft.tables.Tables.loadScd2]]
   * partitioned layout each batch joins only the current tier plus the
   * history partitions its own lateness window can reach — never all
   * history.
   */
  def scd2EnrichSink(stream: DataFrame, table: String, outPath: String,
                     checkpointDir: String, key: String,
                     factTs: String = "ts"): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (isNewBatch(batch, batchId, outPath)) {
          val horizon = Option(
            batch.agg(min(col(factTs))).head().getTimestamp(0))
          graft.tables.Tables.scd2Lookup(batch.sparkSession, batch,
            table, key, factTs, noFactsBefore = horizon)
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          ()
        }
      }
      .start()

  /**
   * Streaming bounded-state uniform sample — [[graft.operators
   * .Relational.hashSample]]'s streaming twin: each micro-batch lands
   * its OWN k-smallest-hash rows under `partialsPath/batch=<id>`
   * (k rows per batch — bounded; replays follow [[foldSink]]), and the
   * cumulative sample — the k smallest over all batch partials,
   * EXACTLY the batch sample of the concatenated input by the min-k
   * merge property — rewrites to `samplePath/batch=<id>`. The always-fresh debugging/telemetry
   * sample every pipeline wants, at k rows per batch of state instead
   * of a growing reservoir.
   */
  def sampleSink(stream: DataFrame, partialsPath: String,
                 samplePath: String, checkpointDir: String,
                 idCol: String = "doc_id", k: Int = 50): StreamingQuery =
    foldSink(stream, partialsPath, samplePath, checkpointDir)(
      Relational.hashSample(_, idCol, k))(
      (tree, _) => tree.drop("batch")
        .orderBy(col("sample_hash"), col(idCol)).limit(k))

  /**
   * Streaming metric-TREND monitor — [[graft.operators.Relational
   * .groupedTrend]]'s streaming twin: the five moment sums are plain
   * sums, so each micro-batch lands its [[graft.operators.Relational
   * .trendPartials]] under `partialsPath/batch=<id>` (additive;
   * replays follow [[foldSink]]) and the cumulative per-group OLS
   * slope — recomputed from folded sums with the same exact DECIMAL
   * arithmetic, never averaged across batches — rewrites to
   * `auditPath/batch=<id>`. A metric that starts
   * drifting bends the cumulative slope within a batch of landing.
   */
  def trendSink(stream: DataFrame, partialsPath: String,
                auditPath: String, checkpointDir: String,
                grpCol: String = "event_type", xCol: String = "x_s",
                yCol: String = "v_milli"): StreamingQuery =
    foldSink(stream, partialsPath, auditPath, checkpointDir)(
      Relational.trendPartials(_, grpCol, xCol, yCol))(
      (tree, _) => Relational.trendFromPartials(tree, grpCol))

  /**
   * Streaming feed-freshness monitor — [[graft.operators.Sessions
   * .latenessAudit]]'s streaming twin: each micro-batch lands its
   * per-source (n, max_ts_us) partials under `partialsPath/batch=<id>`
   * (count is a sum, newest-event is a max — both associative, so the
   * fold is exact for any batch split; replays follow [[foldSink]]),
   * and the cumulative audit — lag against the corpus-wide newest —
   * rewrites to `auditPath/batch=<id>`. A feed that stops sending shows a
   * growing lag within one batch of everyone else advancing.
   *
   * Scale: per batch, one batch-sized aggregate; the fold reads
   * (sources × batches) counter rows, never events.
   */
  def latenessSink(stream: DataFrame, partialsPath: String,
                   auditPath: String, checkpointDir: String,
                   grpCol: String = "event_type",
                   tsCol: String = "ts"): StreamingQuery =
    foldSink(stream, partialsPath, auditPath, checkpointDir)(
      _.groupBy(grpCol).agg(count(lit(1)).as("n"),
        max(unix_micros(col(tsCol))).as("max_ts_us"))) { (tree, _) =>
      val folded = tree.groupBy(grpCol)
        .agg(sum("n").cast("long").as("n"),
          max("max_ts_us").cast("long").as("max_ts_us"))
      val top = folded.agg(max(col("max_ts_us")).as("__top"))
      folded.crossJoin(broadcast(top))
        .select(col(grpCol), col("n"), col("max_ts_us"),
          (col("__top") - col("max_ts_us")).as("lag_us"))
    }

  /**
   * Streaming CHECK-constraint monitor — [[graft.operators.Relational
   * .constraintAudit]]'s streaming twin: per batch, the per-constraint
   * violation counters (pure sums; replays follow [[foldSink]]) land
   * under `partialsPath/batch=<id>` and the cumulative audit — with
   * `violations_permille` recomputed from folded totals, never averaged
   * across batches — rewrites to `auditPath/batch=<id>`. The bad-deploy alarm: an upstream change
   * that starts violating an expectation moves the cumulative permille
   * within one batch.
   */
  def constraintSink(stream: DataFrame, partialsPath: String,
                     auditPath: String, checkpointDir: String,
                     constraints: Seq[(String, String)]): StreamingQuery =
    foldSink(stream, partialsPath, auditPath, checkpointDir)(
      Relational.constraintAudit(_, constraints)
        .select("constraint", "n_rows", "n_violations")) { (tree, _) =>
      tree.groupBy("constraint")
        .agg(sum("n_rows").cast("long").as("n_rows"),
          sum("n_violations").cast("long").as("n_violations"))
        .select(col("constraint"), col("n_rows"), col("n_violations"),
          when(col("n_rows") > 0,
            expr("n_violations * 1000 DIV n_rows"))
            .as("violations_permille"))
    }

  /**
   * Streaming category-MIX drift monitor — [[driftSink]]'s categorical
   * twin ([[graft.operators.Curation.chi2Drift]] streaming): each
   * micro-batch lands its per-category counts under
   * `countsPath/batch=<id>`, the cumulative observed mix compares
   * against a persisted [[graft.operators.Curation.catCounts]]
   * reference, and one chi-square verdict row writes under
   * `driftPath/batch=<id>` — the language/source-mix alarm KS cannot
   * express (no ordered domain). Replays follow [[foldSink]]; same
   * null-drop contract as [[graft.operators.Curation.catCounts]].
   *
   * Scale: per batch, one batch-sized aggregate + a category-space
   * merge — no window anywhere in the statistic.
   */
  def mixDriftSink(stream: DataFrame, refCountsPath: String,
                   countsPath: String, driftPath: String,
                   checkpointDir: String,
                   catCol: String = "lang"): StreamingQuery =
    foldSink(stream, countsPath, driftPath, checkpointDir)(
      Curation.catCounts(_, catCol)) { (tree, _) =>
      val observed = tree.groupBy("cat").agg(sum("n").cast("long").as("n"))
      Curation.chi2DriftFromCounts(
        tree.sparkSession.read.parquet(refCountsPath), observed)
    }

  /**
   * Streaming materialized-rollup sink — the streaming twin of
   * [[graft.tables.Tables.writeAggTable]]/[[graft.tables.Tables
   * .refreshAggTable]]: each micro-batch lands its additive partials
   * under `partialsPath/batch=<id>`, then the SERVED rollup table
   * rebuilds from the key-cardinality partial tree via the staged
   * bucketed swap, so readers always see a complete consistent
   * generation. Per-batch cost: one batch-sized aggregate + a
   * partials-sized merge — base fact rows are never rescanned. Compact
   * the partial tree on a cadence (quiesced) with
   * [[compactIndex]]`(partialsPath)(additive groupBy-sum reduce)`.
   *
   * Replays follow [[foldSink]] (overwrite + the [[isNewBatch]] guard)
   * — this IS the transactional delta consumption the batch refresh
   * documents as caller responsibility. The sink ends in a table swap,
   * not a `batch=<id>` write, so it keeps its own foreachBatch.
   */
  def rollupSink(stream: DataFrame, table: String, partialsPath: String,
                 checkpointDir: String, keyCols: Seq[String],
                 sumCols: Seq[String], numBuckets: Int = 8): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (isNewBatch(batch, batchId, partialsPath)) {
          val s = batch.sparkSession
          graft.tables.Tables.aggPartials(batch, keyCols, sumCols)
            .write.mode("overwrite").parquet(s"$partialsPath/batch=$batchId")
          val merged = s.read
            .option("basePath", partialsPath).parquet(partialsPath)
            .groupBy(keyCols.map(col): _*)
            .agg(sum(col("n")).as("n"),
              sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c")): _*)
          graft.tables.Tables.stageBucketedSwap(merged, table,
            keyCols.head, numBuckets)
          graft.tables.Tables.commitSwaps(s, Seq(table))
          ()
        }
      }
      .start()

  /**
   * Streaming encoding-health monitor — [[graft.operators.TextAnalysis
   * .encodingAudit]]'s streaming twin: every counter in the audit is
   * ADDITIVE (doc counts, char counts, non-ASCII/replacement/control
   * totals), so each micro-batch lands its per-source partial counters
   * under `partialsPath/batch=<id>` and the cumulative audit — with
   * `ascii_permille` recomputed from the folded totals, never averaged
   * across batches — writes to `auditPath/batch=<id>`. This is the
   * transcoding-break ALARM shape: an upstream encoding break shows up
   * as a non-ASCII/replacement-char jump in the affected source within
   * one batch of landing. The partials sum; replays follow
   * [[foldSink]].
   *
   * Scale: per batch, one batch-sized narrow projection + aggregate;
   * the fold reads (sources × batches) counter rows, never text.
   */
  def encodingAuditSink(stream: DataFrame, partialsPath: String,
                        auditPath: String, checkpointDir: String,
                        srcCol: String = "source",
                        textCol: String = "text"): StreamingQuery =
    foldSink(stream, partialsPath, auditPath, checkpointDir)(
      TextAnalysis.encodingAudit(_, srcCol, textCol)
        .drop("ascii_permille")) { (tree, _) =>
      tree.groupBy(srcCol)
        .agg(sum("n_docs").cast("long").as("n_docs"),
          sum("n_chars").cast("long").as("n_chars"),
          sum("non_ascii_docs").cast("long").as("non_ascii_docs"),
          sum("non_ascii_chars").cast("long").as("non_ascii_chars"),
          sum("replacement_chars").cast("long").as("replacement_chars"),
          sum("control_chars").cast("long").as("control_chars"))
        .withColumn("ascii_permille",
          when(col("n_chars") > 0,
            expr("(n_chars - non_ascii_chars) * 1000 DIV n_chars")))
    }

  /**
   * Streaming privacy gate — maintain the combined k-anonymity /
   * l-diversity / t-closeness verdict
   * ([[graft.operators.Curation.privacyAuditFromCounts]]) over a live
   * corpus with BOUNDED state: each micro-batch lands its
   * (quasi…, sensitive) row counts under `partialsPath/batch=<id>`
   * (additive partials — counts of a union are sums of counts), and the
   * cumulative verdict re-derives from the folded partial tree into
   * `auditPath/batch=<id>`. State is (classes × domain) counter rows,
   * never documents; the corpus is read exactly once, as it streams by.
   * The verdict is the one the batch audits would emit over the
   * concatenated input for ANY batch split (StreamLaws pins it — all
   * arithmetic is the same integer/DECIMAL math, folded counts in place
   * of grouped rows). The partials sum; replays follow [[foldSink]].
   *
   * This is the monitor a release pipeline wants: the k/l/t gate stays
   * current per micro-batch, and a breach (a quasi-identifier
   * combination going re-identifiable, homogeneous, or skewed as data
   * accumulates) surfaces one batch after it happens instead of at the
   * next full-corpus audit.
   */
  def privacyAuditSink(stream: DataFrame, partialsPath: String,
                       auditPath: String, checkpointDir: String,
                       quasiCols: Seq[String], sensitiveCol: String,
                       k: Long, l: Long, tMicro: Long): StreamingQuery = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    val classCols = (quasiCols :+ sensitiveCol).map(col)
    foldSink(stream, partialsPath, auditPath, checkpointDir)(
      _.groupBy(classCols: _*).agg(count(lit(1)).as("n"))) { (tree, _) =>
      Curation.privacyAuditFromCounts(
        tree.groupBy(classCols: _*).agg(sum(col("n")).as("n")),
        quasiCols, sensitiveCol, "n", k, l, tMicro)
    }
  }

  /**
   * Streaming budget-capped best-first selection — the live twin of
   * [[graft.operators.Curation.budgetSelect]]: as documents stream in,
   * maintain per group the CURRENT best-first pick under the budget.
   * Selection is not append-only (a better late document evicts a
   * worse early pick), so the sink persists per-document selection
   * METADATA — (group, id, order, cost), three scalars per document,
   * never text — as additive `batch=<id>` partials and recomputes the
   * exact window pass over the folded metadata each batch into
   * `outPath/batch=<id>`. The latest batch dir is therefore always the
   * one-shot [[graft.operators.Curation.budgetSelect]] over everything
   * seen (StreamLaws pins it for any batch split).
   *
   * Replays follow [[foldSink]], including its single-delivery
   * contract: doc ids must be unique across batches — a re-delivered
   * id under a NEW batch id would double-count.
   *
   * Scale: state is 3 scalars per document seen — the same order as a
   * dedup signature index; the per-batch recompute is one window pass
   * over metadata, not over text. When even metadata-scale recompute
   * is too hot per batch, run the same fold on a cadence instead (the
   * pick only needs to be current when someone reads it). A mega-group
   * burst pays the folded metadata's serialized per-group sort EVERY
   * micro-batch — exactly the shape [[graft.operators.Curation
   * .budgetSelect]]'s `preThin` bounds — so the flag threads through
   * (its self-gate makes leaving it on cost small batches nothing; the
   * `preThin = plain` ScalaCheck law guarantees the sink's output is
   * unchanged either way).
   */
  def budgetSelectSink(stream: DataFrame, partialsPath: String,
                       outPath: String, checkpointDir: String,
                       groupCol: String, orderCol: String,
                       costCol: String, budget: Long,
                       idCol: String = "doc_id",
                       preThin: Boolean = false,
                       preThinMinRows: Long = 0L): StreamingQuery = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    foldSink(stream, partialsPath, outPath, checkpointDir)(
      _.select(col(groupCol), col(idCol), col(orderCol), col(costCol)))(
      (tree, _) => Curation.budgetSelect(tree.drop("batch"), groupCol,
        orderCol, costCol, budget, idCol, preThin, preThinMinRows))
  }

  /**
   * Streaming dataset card — maintain the corpus release summary
   * ([[graft.operators.Curation.datasetCardSketch]]'s shape) over a
   * live document stream with BOUNDED state: each micro-batch lands
   * three partial frames under `partialsPath` —
   *   - `langs/batch=<id>`: per-language (n_docs, n_tokens), additive;
   *   - `vocab/batch=<id>`: the batch's `k` smallest distinct token
   *     hashes ([[graft.functions.MinKLongs]] — ≤ k rows per batch);
   *   - `texts/batch=<id>`: the `k` smallest distinct text hashes —
   * and the cumulative card re-derives from the partial tree
   * ([[cardFromPartials]]) into `cardPath/batch=<id>`. The KMV merge
   * property makes this exact *as a sketch*: the k smallest distinct
   * hashes of a union are found inside the union of per-batch k-min
   * sets, so the folded estimate equals the one-shot
   * [[graft.operators.Curation.datasetCardSketch]] estimate over the
   * concatenated corpus (StreamLaws pins it). Distinct texts are
   * likewise a KMV ESTIMATE here — exact streaming dup-rate would need
   * unbounded distinct state, precisely what this sink refuses to hold.
   *
   * Emits per batch: (n_docs, n_tokens, vocab_estimate,
   * distinct_texts_estimate, lang_counts). It writes three partial legs,
   * so it keeps its own foreachBatch, but replays follow [[foldSink]]:
   * every dir is overwritten per batch id, and the [[isNewBatch]]
   * guard reads the marker of the summing `langs` leg.
   *
   * Scale: per batch, one batch-sized aggregate per partial; the card
   * re-derive reads (languages × batches) + (k × batches) rows — never
   * the corpus.
   */
  def cardSink(stream: DataFrame, partialsPath: String, cardPath: String,
               checkpointDir: String, k: Int = 256,
               textCol: String = "text",
               langCol: String = "lang"): StreamingQuery = {
    import graft.functions.TextFns
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // replay guard on the langs leg (the summing leg — see
        // compactCardPartials): a folded batch must not re-contribute
        if (isNewBatch(batch, batchId, s"$partialsPath/langs")) {
          val s = batch.sparkSession
          val mink = graft.functions.MinKLongs.udaf(k)
          batch
            .withColumn("__n", size(TextFns.tokens(textCol)).cast("long"))
            .groupBy(col(langCol).as("lang"))
            .agg(count(lit(1)).as("n_docs"),
              coalesce(sum(col("__n")), lit(0L)).as("n_tokens"))
            .write.mode("overwrite")
            .parquet(s"$partialsPath/langs/batch=$batchId")
          batch.select(explode(TextFns.tokens(textCol)).as("__tok"))
            .select(TextFns.polyHash("__tok").as("h"))
            .agg(mink(col("h")).as("hs"))
            .select(explode(col("hs")).as("h"))
            .write.mode("overwrite")
            .parquet(s"$partialsPath/vocab/batch=$batchId")
          batch.select(TextFns.polyHash(textCol).as("h"))
            .agg(mink(col("h")).as("hs"))
            .select(explode(col("hs")).as("h"))
            .write.mode("overwrite")
            .parquet(s"$partialsPath/texts/batch=$batchId")
          cardFromPartials(s, partialsPath, k)
            .write.mode("overwrite").parquet(s"$cardPath/batch=$batchId")
          ()
        }
      }
      .start()
  }

  /** Fold a [[cardSink]] partial tree into the one-row cumulative card —
   * also the recovery path: the card for ANY point in time re-derives
   * from the partials alone. */
  def cardFromPartials(spark: SparkSession, partialsPath: String,
                       k: Int = 256): org.apache.spark.sql.DataFrame = {
    val kmv = graft.functions.KmvSketch.udaf(k)
    val langs = spark.read
      .option("basePath", s"$partialsPath/langs")
      .parquet(s"$partialsPath/langs")
      .groupBy("lang")
      .agg(sum("n_docs").cast("long").as("__c"),
        sum("n_tokens").cast("long").as("__t"))
    val totals = langs.agg(
      coalesce(sum(col("__c")), lit(0L)).as("n_docs"),
      coalesce(sum(col("__t")), lit(0L)).as("n_tokens"))
    val langStr = langs.agg(array_join(transform(
      array_sort(collect_list(struct(col("lang"), col("__c")))),
      x => concat(x("lang"), lit(":"), x("__c").cast("string"))), ",")
      .as("lang_counts"))
    val vocab = spark.read
      .option("basePath", s"$partialsPath/vocab")
      .parquet(s"$partialsPath/vocab")
      .agg(kmv(col("h")).as("vocab_estimate"))
    val texts = spark.read
      .option("basePath", s"$partialsPath/texts")
      .parquet(s"$partialsPath/texts")
      .agg(kmv(col("h")).as("distinct_texts_estimate"))
    totals.crossJoin(vocab).crossJoin(texts).crossJoin(langStr)
      .select(col("n_docs"), col("n_tokens"), col("vocab_estimate"),
        col("distinct_texts_estimate"), col("lang_counts"))
  }

  /**
   * Streaming IVF ingest — grow a [[graft.operators.Similarity
   * .writeIvfIndex]] ANN index from a live vector stream: each
   * micro-batch is classified against the FROZEN routing table
   * ([[graft.operators.Similarity.ivfDeltaAssign]], one narrow
   * projection per batch) and lands as `_cells`-shaped rows under
   * `deltaPath/batch=<id>`. Queries see the full tiered corpus through
   * [[graft.operators.Similarity.ivfTopKTiered]]; [[compactIvfDelta]]
   * folds the delta tree into the bucketed bulk on cadence. Centroids
   * never move per batch — cell drift is a periodic retrain/rebuild
   * decision, like every index layout choice here. The replay and
   * generation contracts are [[deltaSink]]'s.
   */
  def ivfIngestSink(stream: DataFrame, baseTable: String,
                    deltaPath: String, checkpointDir: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): StreamingQuery = {
    // collect the frozen routing table ONCE at sink start (nlist rows,
    // with the half-present-index guard) — not per micro-batch: the
    // sink's own contract freezes centroids for its lifetime
    val cents = Similarity.ivfRouting(stream.sparkSession, baseTable)
    deltaSink(stream, Ivf, baseTable, deltaPath, checkpointDir)(
      Similarity.ivfDeltaAssign(_, cents, idCol, vecCol))
  }

  /**
   * Streaming PQ ingest for the [[graft.operators.Similarity
   * .writePqIndex]] index: each micro-batch encodes against the FROZEN
   * centroids + codebooks ([[graft.operators.Similarity.pqDeltaAssign]],
   * one narrow projection) and lands as `_pqcodes`-shaped rows under
   * `deltaPath/batch=<id>`. Queries see the tiered corpus through
   * [[graft.operators.Similarity.ivfPqTopKTiered]]; [[compactPqDelta]]
   * folds on cadence. The replay and generation contracts are
   * [[deltaSink]]'s.
   */
  def pqIngestSink(stream: DataFrame, baseTable: String,
                   deltaPath: String, checkpointDir: String,
                   dim: Int = 64, idCol: String = "vec_id",
                   vecCol: String = "embedding"): StreamingQuery = {
    val spark0 = stream.sparkSession
    val (cents, books) = Similarity.pqRouting(spark0, baseTable)
    // residual (IVFADC) indexes encode deltas the same way the bulk
    // was encoded — the stamp rides the meta, captured once at start
    // (a rebuild that flips it also bumps gen, which the per-batch
    // check already refuses)
    val res0 = Similarity.pqIsResidual(spark0, baseTable)
    deltaSink(stream, Pq, baseTable, deltaPath, checkpointDir)(
      Similarity.pqDeltaAssign(_, cents, books, dim, idCol, vecCol,
        residual = res0))
  }

  /**
   * Fold an [[ivfIngestSink]] delta tree into the bucketed bulk `_cells`
   * table — the ANN sibling of [[compactIndexBucketed]]; the protocol is
   * [[foldDelta]]'s. Run QUIESCED — stream stopped AND no tiered queries
   * in flight (the prune deletes files a planned query may have
   * listed). Run it BEFORE any [[graft.operators.Similarity
   * .writeIvfIndex]] retrain: delta cell ids belong to the routing
   * generation that assigned them.
   */
  def compactIvfDelta(spark: SparkSession, deltaPath: String,
                      baseTable: String, numBuckets: Int = 8,
                      idCol: String = "vec_id"): Unit =
    foldDelta(spark, Ivf, deltaPath, baseTable, numBuckets, idCol)

  /** Fold a [[pqIngestSink]] delta tree into the bulk `_pqcodes` table —
   * [[foldDelta]], under [[compactIvfDelta]]'s run-quiesced contract. */
  def compactPqDelta(spark: SparkSession, deltaPath: String,
                     baseTable: String, numBuckets: Int = 8,
                     idCol: String = "vec_id"): Unit =
    foldDelta(spark, Pq, deltaPath, baseTable, numBuckets, idCol)

  /** An ANN index family with a streaming delta tier: the suffix of its
   * bulk table (bucketed on `cell`, the table the delta folds into), the
   * suffix of the companion table holding the routing generation, and
   * that generation's reader. */
  private final case class DeltaFamily(name: String, bulk: String,
                                       meta: String,
                                       generation: (SparkSession, String) => Long)

  private val Ivf = DeltaFamily("IVF", "_cells", "_centroids",
    Similarity.ivfGeneration)
  private val Pq = DeltaFamily("PQ", "_pqcodes", "_pqmeta",
    Similarity.pqGeneration)

  /**
   * The generation-guarded delta sink of both ANN ingest sinks. At start
   * it reads the index's routing generation, refuses a delta tree it
   * cannot safely extend ([[requireDeltaGeneration]]) and stamps the
   * tree with that generation's `_routing_gen.<n>` marker, so a fold can
   * refuse a stale tree even after the sink that wrote it is gone. Per
   * micro-batch it re-reads the generation — a rebuild under a running
   * sink bumps it, and the sink fails loudly rather than keep appending
   * rows that point into a dead centroid generation (silently wrong
   * probes) — then overwrites `deltaPath/batch=<id>` with
   * `assign(batch)`, so a replayed micro-batch rewrites itself.
   */
  private def deltaSink(stream: DataFrame, fam: DeltaFamily,
                        baseTable: String, deltaPath: String,
                        checkpointDir: String)
                       (assign: DataFrame => DataFrame): StreamingQuery = {
    val spark0 = stream.sparkSession
    val gen0 = fam.generation(spark0, baseTable)
    requireDeltaGeneration(spark0, fam, baseTable, deltaPath, gen0)
    writeRoutingGenMarker(spark0, deltaPath, gen0)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val g = fam.generation(batch.sparkSession, baseTable)
          if (g != gen0) throw new IllegalStateException(
            s"${fam.name} index '$baseTable' was rebuilt under this sink " +
              s"(generation $gen0 -> $g): this sink's rows belong to a " +
              "dead centroid generation. Stop the sink, fold the delta, " +
              "rebuild quiesced, restart.")
          assign(batch).write.mode("overwrite")
            .parquet(s"$deltaPath/batch=$batchId")
        }
      }
      .start()
  }

  /**
   * The delta tier's generation guard, run by [[deltaSink]] at start and
   * by [[foldDelta]]: delta rows carry the cell ids (and codes) of the
   * routing generation that assigned them, which the tree's
   * `_routing_gen.<n>` marker records. A tree holding unfolded batches
   * may be extended or folded only under that same generation `gen`. A
   * marker from another generation means the rows point into dead
   * centroids; a missing marker (deleted, or a partially-cleaned tree)
   * means their generation is unknown. Either refuses: restamping or
   * folding would launder the rows past this guard and bake
   * dead-generation cells into the bulk. An empty tree passes.
   */
  private def requireDeltaGeneration(spark: SparkSession, fam: DeltaFamily,
                                     baseTable: String, deltaPath: String,
                                     gen: => Long): Unit = {
    val root = new Path(deltaPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (batchIds(fs, root).nonEmpty)
      readRoutingGenMarker(spark, deltaPath) match {
        case Some(dg) =>
          val g = gen
          if (dg != g) throw new IllegalStateException(
            s"delta tree at '$deltaPath' holds unfolded batches assigned " +
              s"under ${fam.name} generation $dg but index '$baseTable' is " +
              s"at generation $g: those rows belong to dead centroids. " +
              "Never fold or extend a tree across a rebuild: re-assign its " +
              "vectors against the current index or drop the tree.")
        case None => throw new IllegalStateException(
          s"delta tree at '$deltaPath' holds unfolded batches but no " +
            "routing-generation marker: their assigning generation is " +
            "unknown, so they can be neither folded nor extended. " +
            "Re-assign the vectors or drop the orphan tree.")
      }
  }

  /**
   * The quiesced fold of a delta tree into its family's bucketed bulk
   * table, for [[compactIvfDelta]] and [[compactPqDelta]]:
   *   1. [[Tables.recoverSwap]] on the bulk and companion tables, so
   *      "re-run the fold" is the complete crash recovery;
   *   2. the generation guard ([[requireDeltaGeneration]]);
   *   3. bulk ∪ delta, one row per id by precedence (bulk = -1) < batch
   *      id: the delta beats the bulk and the highest batch wins, so an
   *      id in both tiers (a replayed batch, the crash window) or updated
   *      in two batches between folds keeps its newest row, never a
   *      plan-dependent one. Within one batch an id appears once (a
   *      duplicate inside one micro-batch is the caller's data bug);
   *   4. one staged bucketed swap of the bulk table (centroids and
   *      codebooks are immutable between rebuilds, so only it swaps);
   *   5. the folded batch dirs prune after the commit. A crash between
   *      the two leaves rows in both tiers, which the tiered queries'
   *      precedence dedup and a re-run fold both collapse.
   */
  private def foldDelta(spark: SparkSession, fam: DeltaFamily,
                        deltaPath: String, baseTable: String,
                        numBuckets: Int, idCol: String): Unit = {
    val bulkTable = baseTable + fam.bulk
    Tables.recoverSwap(spark, bulkTable)
    Tables.recoverSwap(spark, baseTable + fam.meta)
    val root = new Path(deltaPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = batchIds(fs, root)
    if (ids.isEmpty) return
    requireDeltaGeneration(spark, fam, baseTable, deltaPath,
      fam.generation(spark, baseTable))
    val bulk = spark.table(bulkTable)
    val cols = bulk.schema.fieldNames.toSeq.map(col)
    val delta = spark.read.option("basePath", deltaPath).parquet(deltaPath)
      .select(cols :+ col("batch").cast("long").as("__batch"): _*)
    val w = Window.partitionBy(idCol).orderBy(col("__batch").desc)
    val all = bulk
      .select(cols: _*).withColumn("__batch", lit(-1L))
      .union(delta)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(cols: _*)
    Tables.stageBucketedSwap(all, bulkTable, "cell", numBuckets)
    Tables.commitSwaps(spark, Seq(bulkTable))
    ids.foreach(b => fs.delete(new Path(root, s"batch=$b"), true))
  }

  /**
   * The tiered corpus of an ANN index, read by [[graft.operators
   * .Similarity.ivfTopKTiered]] and [[graft.operators.Similarity
   * .ivfPqTopKTiered]]: the bulk table projected to `cols` and, when the
   * delta tree holds a committed batch, its union with the delta
   * projected the same way, every row tagged with a `__prec` precedence
   * (bulk = -1, delta = its batch id — [[foldDelta]]'s ordering, so a
   * query ranks against the row the next fold keeps). A `batch=` dir can
   * hold only an in-flight `_temporary` (mid-first-write, or a crash
   * there), so only a committed data file counts, and the delta is read
   * with the bulk table's schema: an uncommitted-only tree yields no
   * rows, never a schema-inference error, and the tiered read keeps
   * serving during ingest. Returns the corpus and whether it carries the
   * delta tier.
   */
  private[graft] def tieredCorpus(spark: SparkSession, bulkTable: String,
                                  deltaPath: String, cols: Seq[Column])
      : (DataFrame, Boolean) = {
    val bulk = spark.table(bulkTable).select(cols: _*)
    val root = new Path(deltaPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = batchIds(fs, root).exists { b =>
      fs.listStatus(new Path(root, s"batch=$b")).exists { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    }
    if (!committed) (bulk, false)
    else (bulk.withColumn("__prec", lit(-1L)).union(
      spark.read.schema(spark.table(bulkTable).schema)
        .option("basePath", deltaPath).parquet(deltaPath)
        .select(cols :+ col("batch").cast("long").as("__prec"): _*)), true)
  }

  // NOTE: no "=" in the name — Spark's hidden-file filter keeps
  // underscore-prefixed paths that contain "=" (partition-dir lookalikes),
  // and the schema-merge pass would then try to read the marker as parquet
  private val RoutingGenPrefix = "_routing_gen."

  /** Write (replacing any prior) the `_routing_gen.<n>` marker file in
   * the delta root. */
  private def writeRoutingGenMarker(
      spark: SparkSession, deltaPath: String, gen: Long): Unit = {
    val root = new Path(deltaPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    readRoutingGenMarker(spark, deltaPath).foreach(g =>
      fs.delete(new Path(root, s"$RoutingGenPrefix$g"), false))
    fs.create(new Path(root, s"$RoutingGenPrefix$gen"), true).close()
  }

  /** The delta tree's recorded routing generation, if any sink stamped
   * one. */
  private def readRoutingGenMarker(
      spark: SparkSession, deltaPath: String): Option[Long] = {
    val root = new Path(deltaPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) None
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(RoutingGenPrefix))
      .map(_.stripPrefix(RoutingGenPrefix).toLong)
      .sorted.lastOption
  }
}
