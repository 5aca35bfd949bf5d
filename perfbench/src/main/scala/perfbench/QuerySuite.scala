package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Random, Try}

import graft.SparkEntry

/** A fixed slice of `graft.SparkEntry.queries` over the sf0.01 fixtures,
 * each query written to the `noop` sink. No REST and no table writes:
 * the operators, plans and functions layers do all the work. */
object QuerySuite {

  /** A job-heavy query (25 jobs) and a CPU-heavy query with few jobs (7):
   * a cut in jobs per query should move the first and leave the second. */
  val Queries: Seq[String] = Seq("mad_outliers", "minhash_lsh")

  /** Row counts and content digests recorded from the seed commit. */
  lazy val recorded: Map[String, (Long, Long)] = {
    val in = getClass.getResourceAsStream("/query_digests.tsv")
    if (in == null) Map.empty
    else try new String(in.readAllBytes(), UTF_8).linesIterator.filter(_.nonEmpty).map { l =>
      val Array(q, n, d) = l.split('\t')
      q -> (n.toLong, d.toLong)
    }.toMap finally in.close()
  }

  final case class Timed(query: String, seconds: Double, startUs: Long, endUs: Long, ok: Boolean)

  /** Runs the suite. With `recordTo`, the cold pass's row counts and
   * digests are written there (how `query_digests.tsv` was made). */
  def run(ctx: Ctx, recordTo: Option[String]): Outcome = {
    val dir = ctx.root.resolve("perfbench/fixtures/sf0.01").toString
    val order = new Random(ctx.seed).shuffle(Queries)

    // Setup: one cold pass that also checks every query's output.
    val (checked, coldS) = Units.timed(order.map { q =>
      q -> Try {
        val rows = SparkEntry.queries(q)(ctx.spark, dir).collect()
        (rows.length.toLong, Checks.digest(rows.map(Checks.canonical)))
      }
    })
    recordTo.foreach(path => Files.write(Paths.get(path), checked.sortBy(_._1).map {
      case (q, r) => s"$q\t${r.get._1}\t${r.get._2}\n"
    }.mkString.getBytes(UTF_8)))
    val checkFailures = checked.count { case (q, r) =>
      val verdict = r.fold(e => Some(s"$q threw $e"),
        { case (n, d) => Checks.query(q, n, d, recorded) })
      verdict.foreach(v => ctx.log(s"query check failed: $v"))
      verdict.nonEmpty
    }

    val times = mutable.Map[Int, Seq[Timed]]()
    // a traced run needs an untraced pass on each side of its traced one
    val runs = Units.loop(ctx, if (ctx.trace) 3 else 2, "pass")(_ => ()) { pass =>
      times(pass) = order.map { q =>
        val s = Clock.nowUs
        val t0 = System.nanoTime
        val ok = Try(SparkEntry.queries(q)(ctx.spark, dir).write.format("noop")
          .mode("overwrite").save()).isSuccess
        Timed(q, (System.nanoTime - t0) / 1e9, s, Clock.nowUs, ok)
      }
    } { (pass, _) =>
      val failed = times(pass).filterNot(_.ok).map(_.query)
      if (failed.isEmpty) None else Some(s"failed: ${failed.mkString(", ")}")
    }

    val all = runs.flatMap(r => times(r.index))
    ctx.log(f"setup: session ${ctx.sessionS}%.2f s, cold pass ${coldS}%.2f s; " +
      all.map(t => f"${t.query} ${t.seconds}%.2f").mkString(", "))
    val attempted = checked.size + all.size
    val failed = checkFailures + all.count(!_.ok)
    // one pass is the sum of the per-query medians over the passes
    val passS = order.map(q => Stats.median(all.filter(_.query == q).map(_.seconds))).sum
    val e2e = EndToEnd(passS, ctx.sessionS + coldS, 1.0, attempted, failed,
      all.map(_.seconds * 1000))
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val rec = ctx.tracer.rec
      val traced = runs.filter(_.traced)
      traced.foreach(r => times(r.index).foreach(t => rec.add(Span(s"q${r.index}.${t.query}",
        s"u${r.index}", rec.run, "query", t.query, t.startUs, t.endUs))))
      val spans = rec.all
      def jobsIn(lo: Long, hi: Long) =
        spans.filter(s => s.kind == "job" && s.startUs >= lo && s.startUs < hi)
      val perPass = traced.map { r =>
        val unit = spans.find(_.id == s"u${r.index}").get
        Layers.within(ctx, spans, r.startUs, r.endUs) ++ Map(
          "app.run_s" -> unit.durUs / 1e6,
          "app.driver_gap_s" -> Span.selfUs(unit, jobsIn(r.startUs, r.endUs)) / 1e6,
          "app.heap_peak_mb" -> r.heapMb) ++
          times(r.index).flatMap(t => Seq(
            s"query_s.${t.query}" -> t.seconds,
            s"jobs.${t.query}" -> jobsIn(t.startUs, t.endUs).size.toDouble))
      }
      Layers.medians(perPass) ++ Map(
        "app.first_run_s" -> coldS,
        "trace.overhead_ratio" -> Layers.overhead(runs))
    }
    Outcome(attempted, failed, e2e, layers, Queries.flatMap(q =>
      Seq(s"query_s.$q" -> "s", s"jobs.$q" -> "count")).toMap)
  }
}
