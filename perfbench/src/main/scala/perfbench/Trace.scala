package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Command, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

object Clock {
  /** Wall clock in epoch microseconds, comparable with Spark's epoch-ms
   * event times. */
  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** One traced interval. `kind` is the layer boundary it was recorded at
 * (unit, job, stage, task, request, table, batch); `parent` names the
 * span that caused it ("" for a root). Times are epoch µs. */
final case class Span(id: String, parent: String, run: String, kind: String,
                      name: String, startUs: Long, endUs: Long,
                      attrs: Map[String, Double] = Map.empty) {
  def durUs: Long = endUs - startUs
  def json: String = Json.render(scala.collection.immutable.ListMap(
    "id" -> id, "parent" -> parent, "run" -> run, "kind" -> kind, "name" -> name,
    "start_us" -> startUs, "end_us" -> endUs, "attrs" -> attrs))
}

object Span {
  /** Self time: the span's duration minus the part of its interval that
   * its children cover. */
  def selfUs(span: Span, children: Seq[Span]): Long =
    span.durUs - Stats.coveredWithin(children.map(c => (c.startUs, c.endUs)),
      span.startUs, span.endUs)
}

/** Spans kept in memory for one run and written out when it ends. The
 * listeners record only while `on`. */
final class Recorder(val run: String) {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val seq = new AtomicLong()
  def nextId(prefix: String): String = s"$prefix${seq.incrementAndGet()}"
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq
  /** Writes every span as one JSON line. A span recorded without a parent
   * gets the unit span whose interval holds its start. */
  def write(path: java.nio.file.Path): Unit = {
    val spans = all
    val units = spans.filter(_.kind == "unit")
    val resolved = spans.map { s =>
      if (s.parent.nonEmpty || s.kind == "unit") s
      else s.copy(parent = units.find(u => s.startUs >= u.startUs && s.startUs < u.endUs)
        .map(_.id).getOrElse(""))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, resolved.sortBy(_.startUs).map(_.json).asJava)
  }
}

/** Jobs, stages and tasks as spans. A job span is named by the call site
 * of the SQL execution that ran it (`json at RestIngest.scala:23`), or
 * else by its result stage's name; its parent is filled in later from
 * the unit whose interval holds it. */
final class SparkTrace(rec: Recorder) extends SparkListener {
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val taskDur = new ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val execSite = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execSite.put(s.executionId, SparkTrace.callSite(s.description, s.details))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (rec.on) {
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execSite.get(id.toLong)))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("unknown")
    jobStart.put(e.jobId, (e.time * 1000, site))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (rec.on)
    Option(jobStart.remove(e.jobId)).foreach { case (start, site) =>
      rec.add(Span(s"j${e.jobId}", "", rec.run, "job", site, start, e.time * 1000))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (rec.on) {
    val info = e.taskInfo
    val stage = s"s${e.stageId}.${e.stageAttemptId}"
    taskDur.computeIfAbsent((e.stageId, e.stageAttemptId), _ => mutable.ArrayBuffer[Long]()) +=
      info.duration
    rec.add(Span(s"t${info.taskId}", stage, rec.run, "task", s"task ${info.index}",
      info.launchTime * 1000, info.finishTime * 1000))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (rec.on) {
    val si = e.stageInfo
    val tm = si.taskMetrics
    val durs = Option(taskDur.remove((si.stageId, si.attemptNumber()))).map(_.toSeq)
      .getOrElse(Nil).map(_.toDouble)
    val skew = if (durs.size < 2) 1.0
      else { val m = Stats.median(durs); if (m <= 0) 1.0 else durs.max / m }
    val attrs = Map("tasks" -> si.numTasks.toDouble) ++ (if (tm == null) Map.empty else Map(
      "run_ms" -> tm.executorRunTime.toDouble,
      "cpu_ns" -> tm.executorCpuTime.toDouble,
      "shuffle_read_bytes" -> tm.shuffleReadMetrics.totalBytesRead.toDouble,
      "shuffle_write_bytes" -> tm.shuffleWriteMetrics.bytesWritten.toDouble,
      "spill_bytes" -> (tm.memoryBytesSpilled + tm.diskBytesSpilled).toDouble,
      "skew" -> skew))
    val job = Option(stageJob.get(si.stageId)).map(j => s"j$j").getOrElse("")
    rec.add(Span(s"s${si.stageId}.${si.attemptNumber()}", job, rec.run, "stage", si.name,
      si.submissionTime.getOrElse(0L) * 1000, si.completionTime.getOrElse(0L) * 1000, attrs))
  }
}

object SparkTrace {
  private val Site = """.* at [^ ]+:\d+""".r
  private val Frame = """.*\(([^()]+\.(?:scala|java):\d+)\)""".r

  /** `json at RestIngest.scala:23`: the execution's description when it
   * is a call site, else the first frame outside Spark, Scala and the JDK
   * in its long call site (a streaming batch describes itself by query and
   * batch id instead). */
  def callSite(description: String, details: String): String = description match {
    case Site() => description
    case _ => Option(details).getOrElse("").linesIterator.map(_.trim)
      .filterNot(l => Seq("org.apache.spark.", "scala.", "java.").exists(l.startsWith))
      .collectFirst { case Frame(file) => s"batch at $file" }
      .getOrElse(description)
  }
}

/** Table commands as spans: file writes (with the rows, bytes and files
 * the write reports) and catalog commands such as rename and drop. A
 * save-as-table is counted once, by the file write it wraps. Writes to
 * the `noop` sink and plain queries are not table commands. */
final class TableTrace(rec: Recorder) extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (rec.on) {
      val end = Clock.nowUs
      val plan = qe.analyzed
      val name = plan.nodeName
      val kind = plan match {
        case _: InsertIntoHadoopFsRelationCommand => "write"
        case _ if name.contains("AsSelect") || name.startsWith("SaveAs") => ""
        case _: V2WriteCommand => "" // the noop sink; the program's tables are v1
        case _: Command => "catalog"
        case _ => ""
      }
      if (kind.nonEmpty) {
        val metrics = collect(qe.executedPlan) { case d: DataWritingCommandExec => d.cmd.metrics }
        def total(k: String) = metrics.flatMap(_.get(k)).map(_.value.toDouble).sum
        rec.add(Span(rec.nextId("c"), "", rec.run, "table", s"$kind $name",
          end - durationNs / 1000, end, Map(
            "write" -> (if (kind == "write") 1.0 else 0.0),
            "rows" -> total("numOutputRows"), "bytes" -> total("numOutputBytes"),
            "files" -> total("numFiles"))))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Micro-batch progress as spans: trigger start to trigger end, with the
 * phase durations the progress reports. */
final class StreamTrace(rec: Recorder) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = if (rec.on) {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp)
    val startUs = start.getEpochSecond * 1000000L + start.getNano / 1000
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
    rec.add(Span(rec.nextId("b"), "", rec.run, "batch", Option(p.name).getOrElse(p.id.toString),
      startUs, startUs + d.getOrElse("triggerExecution", 0.0).toLong * 1000,
      d ++ Map("batch_id" -> p.batchId.toDouble, "rows" -> p.numInputRows.toDouble)))
  }
}

/** The three listeners of a traced run. They are attached once, before
 * any stream starts (a stream's batches run in a cloned session, which
 * takes the query-execution listeners it was cloned with), and record
 * only between [[enable]] and [[disable]]. */
final class Tracer(spark: SparkSession, val rec: Recorder) {
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(new SparkTrace(rec))
    spark.listenerManager.register(new TableTrace(rec))
    spark.streams.addListener(new StreamTrace(rec))
  }

  /** Both switches first deliver every queued event, so each event is
   * judged by the state it was posted in. */
  def enable(): Unit = {
    org.apache.spark.BenchBridge.drainListeners(spark)
    rec.on = true
  }

  def disable(): Unit = {
    org.apache.spark.BenchBridge.drainListeners(spark)
    rec.on = false
  }
}
