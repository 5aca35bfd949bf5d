package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.functions.TextFns
import graft.sources.topic.FileTopicSource
import graft.streaming.Streams
import graft.tables.Tables

/**
 * A closed loop with one producer: it appends a seeded batch of deal
 * records to a file topic, waits until both sinks have committed it, and
 * appends the next, for the run's measuring time and at least
 * `MinAppends` times. Two queries read the topic: `Streams.upsertSink`
 * into the preloaded base table, and `Streams.distinctSink` (distinct
 * customers per event type). Each append is one micro-batch per sink, so
 * an append's latency is the per-batch cost of the streaming layer.
 */
object StreamIngest {
  val Table = "stream_deals"
  val MinAppends = 10
  /** Untimed appends first: the cold first batch, then enough for the JIT
   * to settle (append times keep falling for about eight appends). */
  val WarmAppends = 8
  val AppendRows = 100
  /** More appends than any run sends; they are generated up front. */
  private val MaxAppends = 200
  private val K = 64 // the distinct sink's default sketch size

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A data batch of one query: when it started and committed (epoch
   * µs), the input rows Spark reports for it, and its phase times. */
  final case class Batch(startUs: Long, commitUs: Long, rows: Long, durations: Map[String, Long])

  def batches(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val t = java.time.Instant.parse(p.timestamp)
      val startUs = t.getEpochSecond * 1000000L + t.getNano / 1000
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Batch(startUs, startUs + d.getOrElse("triggerExecution", 0L) * 1000, p.numInputRows, d)
    }

  /** The topic offset (records in partition 0) the query has committed. */
  private def committed(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => Option(p.sources.head.endOffset))
      .flatMap(o => Option(mapper.readTree(o).get("0"))).map(_.asLong).getOrElse(0L)

  private def awaitOffset(qs: Seq[StreamingQuery], target: Long, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime + (timeoutS * 1e9).toLong
    while (!qs.forall(q => committed(q) >= target) && System.nanoTime < deadline) {
      qs.foreach(q => q.exception.foreach(e => throw e))
      Thread.sleep(5)
    }
    qs.forall(q => committed(q) >= target)
  }

  private def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val base = Deals.base(Harness.BaseRows)
    val baseRows = base.map(_.normalized)
    val appends = Deals.streamAppends(base, ctx.seed, MaxAppends, AppendRows)
    val frame = Product.frame(spark, baseRows)
    val (_, preloadS) = Units.timed(Tables.loadOverwrite(frame, Table))

    val topic = ctx.work.resolve("topic").toString
    val sketch = ctx.work.resolve("sketch").toString
    val out = ctx.work.resolve("distinct").toString
    val parsed = spark.readStream.format(classOf[FileTopicSource].getName)
      .option("path", topic).load()
      .select(from_json(col("value"), StructType.fromDDL(NormRow.ddl)).as("r")).select("r.*")
    val (qs, startS) = Units.timed(Seq(
      Streams.upsertSink(parsed, Table, "id", "created_at",
        ctx.work.resolve("cp-upsert").toString),
      Streams.distinctSink(parsed, sketch, out, ctx.work.resolve("cp-distinct").toString,
        groupCol = "event_type", keyCol = "customer_id")))
    var offset = 0L
    var sent = 0
    // one append, then wait until both sinks have committed it
    def appendAndAwait(): Unit = {
      require(sent < appends.size, "ran out of generated appends")
      FileTopicSource.append(topic, 0, appends(sent).map(_.json))
      offset += appends(sent).size
      sent += 1
      require(awaitOffset(qs, offset, 60), s"append $sent was not committed within 60 s")
    }
    try {
      val noCheck = (_: Any) => Option.empty[String]
      val warm = (-1 to -WarmAppends by -1).map(i =>
        Units.once(ctx, i, traced = false, "append")(())(appendAndAwait())(noCheck))
      val runs = Units.loop(ctx, MinAppends, "append")(_ => ())(_ => appendAndAwait())(
        (_, v) => noCheck(v))
      qs.foreach(_.stop())

      val all = warm ++ runs
      val perQuery = qs.map(batches)
      val expected = Checks.merge(baseRows, appends.take(sent).flatten)
      val verdict = Checks.table(Product.rows(spark, Table), expected).orElse(Checks.estimates(
        actualEstimates(ctx, out), expectedEstimates(ctx, appends.take(sent).flatten)))
      verdict.foreach(r => ctx.log(s"stream check failed: $r"))
      // the final state cannot tell which append went wrong: a wrong state fails them all
      val failed = if (verdict.nonEmpty) all.size else all.count(!_.ok)
      def batchMs(bs: Seq[Batch]) = bs.map(b => (b.commitUs - b.startUs) / 1000.0)
      val setupS = ctx.sessionS + preloadS + startS + warm.map(_.seconds).sum
      ctx.log(f"setup ${setupS}%.2f s (session ${ctx.sessionS}%.2f s, warm-up " +
        warm.map(r => f"${r.seconds}%.2f").mkString(" ") + " s); appends " +
        runs.map(r => f"${r.seconds}%.2f").mkString(" "))

      // progress timestamps are whole milliseconds
      val timedUpsert = perQuery.head.filter(_.startUs >= runs.head.startUs - 1000)
      val e2e = EndToEnd(Stats.median(batchMs(timedUpsert)) / 1000, setupS, 1.0, all.size, failed,
        runs.map(_.seconds * 1000))
      val layers = if (!ctx.trace) Map.empty[String, Double] else {
        val spans = ctx.tracer.rec.all
        val traced = runs.filter(_.traced)
        def in(r: UnitRun)(b: Batch) = b.startUs >= r.startUs - 1000 && b.startUs < r.endUs
        val perAppend = traced.map { r =>
          val bs = perQuery.map(_.filter(in(r)))
          Layers.within(ctx, spans, r.startUs, r.endUs) ++ Map(
            "app.heap_peak_mb" -> r.heapMb,
            "stream.batches" -> bs.map(_.size).sum.toDouble,
            "stream.rows_per_batch" -> Stats.mean(bs.flatten.map(_.rows.toDouble)),
            "stream.upsert_batch_ms" -> batchMs(bs.head).sum,
            "stream.fold_batch_ms" -> batchMs(bs(1)).sum,
            "stream.wal_commit_ms" -> bs.flatten.map(b =>
              (b.durations.getOrElse("walCommit", 0L) + b.durations.getOrElse("commitOffsets", 0L))
                .toDouble).sum)
        }
        Layers.medians(perAppend) ++ Map(
          "app.first_run_s" -> warm.head.seconds,
          "stream.state_bytes" -> Seq("cp-upsert", "cp-distinct", "sketch")
            .map(d => bytesUnder(ctx.work.resolve(d))).sum.toDouble,
          "trace.overhead_ratio" -> Layers.overhead(runs))
      }
      Outcome(all.size, failed, e2e, layers)
    } finally qs.foreach(q => if (q.isActive) q.stop())
  }

  /** The distinct sink's latest per-type estimates. */
  private def actualEstimates(ctx: Ctx, out: String): Map[String, Double] = {
    val last = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("batch="))
      .maxBy(_.stripPrefix("batch=").toLong)
    ctx.spark.read.parquet(s"$out/$last").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  /** The same sketch computed in batch over every appended record: the
   * `K` smallest distinct key hashes per type, and the sink's estimator. */
  private def expectedEstimates(ctx: Ctx, rows: Seq[NormRow]): Map[String, Double] =
    Product.frame(ctx.spark, rows)
      .select(col("event_type").as("grp"), TextFns.mixedKeyHash("customer_id").as("h"))
      .distinct().groupBy("grp").agg(expr(s"slice(array_sort(collect_list(h)), 1, $K)").as("sk"))
      .select(col("grp"), when(expr("size(sk)") < K, expr("CAST(size(sk) AS DOUBLE)"))
        .otherwise(expr(s"CAST(${K - 1} AS DOUBLE) * ${TextFns.HashMod} / element_at(sk, $K)")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
}
