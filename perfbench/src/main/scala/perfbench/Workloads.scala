package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** What one run reports: ops attempted and failed, the end-to-end
 * metrics and (in a traced run) the per-layer ones. `units` gives the unit
 * of each reported metric that `BENCHMARK.json` does not declare. */
final case class Outcome(attempted: Int, failed: Int, endToEnd: Map[String, Double],
                         layers: Map[String, Double], units: Map[String, String] = Map.empty)

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val root: Path, val work: Path, val sessionS: Double,
                val tracer: Tracer, val modules: Modules) {
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** One timed unit of work. */
final case class UnitRun(index: Int, traced: Boolean, startUs: Long, endUs: Long,
                         seconds: Double, ok: Boolean, heapMb: Double)

object Units {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  /** Runs `op` once, timed, between an untimed `prepare` and an untimed
   * `check`. An op fails if it throws or its check returns a reason. */
  def once(ctx: Ctx, index: Int, traced: Boolean, name: String)(prepare: => Unit)(
      op: => Any)(check: Any => Option[String]): UnitRun = {
    prepare
    if (traced) ctx.tracer.enable()
    heapPools.foreach(_.resetPeakUsage())
    val startUs = Clock.nowUs
    val t0 = System.nanoTime
    val result = Try(op)
    val secs = (System.nanoTime - t0) / 1e9
    val endUs = Clock.nowUs
    val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    if (traced) {
      ctx.tracer.disable()
      ctx.tracer.rec.add(Span(s"u$index", "", ctx.tracer.rec.run, "unit", name, startUs, endUs))
    }
    val verdict = result match {
      case Success(v) => Try(check(v)).fold(e => Some(s"check threw $e"), identity)
      case Failure(e) => Some(s"threw $e")
    }
    verdict.foreach(r => ctx.log(s"$name unit $index failed: $r"))
    UnitRun(index, traced, startUs, endUs, secs, verdict.isEmpty, heapMb)
  }

  /** Repeats units for the run's measuring time and at least `min` times.
   * A traced run alternates untraced and traced units, so the two can be
   * compared for the tracing overhead. */
  def loop(ctx: Ctx, min: Int, name: String)(prepare: Int => Unit)(op: Int => Any)(
      check: (Int, Any) => Option[String]): Seq[UnitRun] = {
    val t0 = System.nanoTime
    val runs = Seq.newBuilder[UnitRun]
    var i = 0
    while (i < min || (System.nanoTime - t0) / 1e9 < ctx.seconds) {
      val k = i
      runs += once(ctx, k, ctx.trace && k % 2 == 1, name)(prepare(k))(op(k))(check(k, _))
      i += 1
    }
    runs.result()
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime
    val v = f
    (v, (System.nanoTime - t0) / 1e9)
  }
}

/** Maps a job's call site (`save at Tables.scala:230`) to the program
 * module whose file made the call, from the checkout's source tree. */
final class Modules(root: Path) {
  private val byFile: Map[String, String] = {
    val base = root.resolve("src/main/scala/graft")
    if (!Files.isDirectory(base)) Map.empty
    else Files.walk(base).iterator().asScala.filter(_.toString.endsWith(".scala")).map { f =>
      val dir = base.relativize(f.getParent).toString.replace('\\', '/')
      val module = dir match {
        case "" => "entry"
        case d if d.startsWith("sources/") => d.stripPrefix("sources/").takeWhile(_ != '/')
        case d => d.takeWhile(_ != '/')
      }
      f.getFileName.toString -> module
    }.toMap
  }
  def of(callSite: String): String = {
    val file = callSite.split(" at ").last.takeWhile(_ != ':')
    byFile.getOrElse(file, "other")
  }
}

/** Per-layer figures computed from the spans of traced units. */
object Layers {
  val JobModules: Seq[String] = Seq("rest", "app", "tables", "operators", "streaming")

  /** The layer figures of one interval `[lo, hi)`: Spark work started in
   * it, table commands and server requests in it. */
  def within(ctx: Ctx, spans: Seq[Span], lo: Long, hi: Long): Map[String, Double] = {
    val jobs = spans.filter(s => s.kind == "job" && s.startUs >= lo && s.startUs < hi)
    val jobIds = jobs.map(_.id).toSet
    val stages = spans.filter(s => s.kind == "stage" && jobIds(s.parent))
    def sum(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
    val tasks = sum("tasks")
    val runS = sum("run_ms") / 1000
    val wallS = (hi - lo) / 1e6
    val table = spans.filter(s => s.kind == "table" && s.endUs > lo && s.endUs <= hi)
    val writes = table.filter(_.attrs.getOrElse("write", 0.0) > 0)
    val byModule = jobs.groupBy(j => ctx.modules.of(j.name)).map { case (m, js) => m -> js.size }
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> tasks,
      "spark.tasks_per_stage" -> (if (stages.isEmpty) 0.0 else tasks / stages.size),
      "spark.executor_run_s" -> runS,
      "spark.executor_cpu_s" -> sum("cpu_ns") / 1e9,
      "spark.core_util" -> (if (wallS <= 0) 0.0 else runS / (wallS * Harness.Cores)),
      "spark.shuffle_read_bytes" -> sum("shuffle_read_bytes"),
      "spark.shuffle_write_bytes" -> sum("shuffle_write_bytes"),
      "spark.spill_bytes" -> sum("spill_bytes"),
      "spark.stage_skew_max" -> (stages.map(_.attrs.getOrElse("skew", 1.0)) :+ 1.0).max,
      "spark.job_busy_s" -> Stats.coveredWithin(jobs.map(j => (j.startUs, j.endUs)), lo, hi) / 1e6,
      "tables.commands" -> table.size.toDouble,
      "tables.write_s" -> writes.map(_.durUs).sum / 1e6,
      "tables.catalog_s" -> table.filterNot(writes.contains).map(_.durUs).sum / 1e6,
      "tables.rows_written" -> writes.map(_.attrs.getOrElse("rows", 0.0)).sum,
      "tables.bytes_written" -> writes.map(_.attrs.getOrElse("bytes", 0.0)).sum,
      "tables.files_written" -> writes.map(_.attrs.getOrElse("files", 0.0)).sum,
    ) ++ JobModules.map(m => s"spark.jobs.$m" -> byModule.getOrElse(m, 0).toDouble) ++
      Map("spark.jobs.other" ->
        byModule.filter { case (m, _) => !JobModules.contains(m) }.values.sum.toDouble)
  }

  /** Server-side figures of one unit's requests. A retry is a request
   * for a page whose previous request in the unit was refused. */
  def rest(served: Seq[Served]): Map[String, Double] = {
    val refused = served.filter(_.status != 200).map(s => (s.range, s.page, s.ordinal)).toSet
    val pages = served.map(s => (s.range, s.page)).distinct.size
    Map(
      "rest.requests" -> served.size.toDouble,
      "rest.distinct_pages" -> pages.toDouble,
      "rest.reads_per_page" -> (if (pages == 0) 0.0 else served.size.toDouble / pages),
      "rest.retries" -> served.count(s => refused((s.range, s.page, s.ordinal - 1))).toDouble,
      "rest.faults_served" -> served.count(_.status != 200).toDouble,
      "rest.bytes_served" -> served.map(_.bytes.toDouble).sum,
      "rest.fetch_busy_s" -> Stats.unionLength(served.map(s => (s.startUs, s.endUs))) / 1e6)
  }

  /** The median of each figure over several units. */
  def medians(perUnit: Seq[Map[String, Double]]): Map[String, Double] =
    if (perUnit.isEmpty) Map.empty
    else perUnit.flatMap(_.keys).distinct.map(k =>
      k -> Stats.median(perUnit.map(_.getOrElse(k, 0.0)))).toMap

  def overhead(runs: Seq[UnitRun]): Double = {
    val (t, u) = runs.partition(_.traced)
    if (t.isEmpty || u.isEmpty) 0.0
    else Stats.median(t.map(_.seconds)) / Stats.median(u.map(_.seconds))
  }
}

/** The end-to-end figures every workload reports. */
object EndToEnd {
  def apply(wallS: Double, setupS: Double, requestsPerPage: Double, attempted: Int,
            failed: Int, latenciesMs: Seq[Double]): Map[String, Double] = Map(
    "wall_s" -> wallS,
    "setup_s" -> setupS,
    "api_requests_per_page" -> requestsPerPage,
    "ok_ratio" -> (attempted - failed).toDouble / attempted,
    "latency_p50_ms" -> Stats.median(latenciesMs))
}

/** Helpers shared by the workloads that run the product path. */
object Product {
  val Table = "deals"

  def frame(spark: SparkSession, rows: Seq[NormRow]): DataFrame =
    spark.createDataFrame(rows.map(r => org.apache.spark.sql.Row(
      r.amount, r.createdAt, r.customerId, r.eventType, r.id, r.props)).asJava,
      StructType.fromDDL(NormRow.ddl))

  def rows(spark: SparkSession, table: String): Seq[NormRow] =
    spark.table(table).select("id", "created_at", "customer_id", "amount", "event_type", "props")
      .collect().toSeq.map(r => NormRow(r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5)))

  def tables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().toSeq.map(_.name)

  /** Setup check: the served pages parse back to exactly the rows. */
  def checkPages(server: PageServer, rows: Seq[Deal]): Unit = {
    val parsed = server.pages.flatMap(Deals.parsePage)
    require(parsed == rows, s"served pages do not parse back to the ${rows.size} source rows")
  }

  /** Starts the page server three times and keeps the last; returns it
   * with the median start time (page rendering included). */
  def startServer(rows: IndexedSeq[Deal], faults: FaultSchedule): (PageServer, Double) = {
    val starts = (1 to 3).map { _ => Units.timed(new PageServer(rows, Harness.DelayMs, faults)) }
    starts.init.foreach(_._1.stop())
    (starts.last._1, Stats.median(starts.map(_._2)))
  }
}
