package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import graft.GraftSession

/**
 * Benchmark entry point:
 *
 *   Harness --workload rest_load|rest_upsert|query_suite|stream_ingest
 *           --seed N --seconds S --trace 0|1 --root DIR --out FILE
 *           [--record-digests FILE]
 *
 * `--root` is the checkout; every file the run writes lies under it. The
 * result (one JSON object) goes to `--out`. An untraced run reports the
 * end-to-end metrics; a traced run reports the per-layer metrics and
 * writes its spans to `.bench_out/` in the checkout. The metric names and
 * units are the ones `BENCHMARK.json` declares.
 */
object Harness {
  val Cores = 4
  /** Deals in the base table: 20 pages of 500. */
  val BaseRows = 10000
  /** The page server's fixed service delay per request. */
  val DelayMs = 20

  val Workloads: Seq[String] = Seq("rest_load", "rest_upsert", "query_suite", "stream_ingest")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = opt("workload")
    require(Workloads.contains(workload),
      s"unknown workload '$workload'; one of ${Workloads.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val root = Paths.get(opt("root")).toAbsolutePath.normalize
    val work = root.resolve(".bench_run").resolve(s"$workload-${ProcessHandle.current.pid}-${System.nanoTime}")
    Files.createDirectories(work)
    // Every Spark path of the run lies in its own directory, so the
    // leftovers of a killed run can never collide with this one.
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    System.setProperty("spark.local.dir", work.resolve("local").toString)
    System.setProperty("spark.sql.streaming.numRecentProgressUpdates", "1000")

    // Each workload's session is built the way its product entry builds
    // one: Main.main's builder for the product path and the stream, the
    // Bench/Verify local session for the query suite.
    val (spark, sessionS) = Units.timed(
      if (workload == "query_suite") GraftSession.local(Cores)
      else GraftSession.builder().master(s"local[$Cores]")
        .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark, new Recorder(s"$workload-seed$seed"))
    if (trace) tracer.attach()
    val ctx = new Ctx(spark, seed, seconds, trace, root, work, sessionS, tracer, new Modules(root))
    try {
      val o = workload match {
        case "rest_load" => Rest.load(ctx)
        case "rest_upsert" => Rest.upsert(ctx)
        case "query_suite" => QuerySuite.run(ctx, opts.get("record-digests"))
        case "stream_ingest" => StreamIngest.run(ctx)
      }
      if (trace) tracer.rec.write(root.resolve(".bench_out").resolve(s"$workload-seed$seed-spans.jsonl"))
      val (values, declared) =
        if (trace) (o.layers, metricUnits(root, "per_layer"))
        else (o.endToEnd, metricUnits(root, "end_to_end"))
      val undeclared = (values.keySet -- declared.keySet).toSeq.sorted
      val unitless = undeclared.filterNot(o.units.contains)
      require(unitless.isEmpty, s"metrics with no unit: ${unitless.mkString(", ")}")
      // a per-layer metric the workload does not exercise reads 0; the
      // workloads run only by hand add metrics of their own
      val metrics = (declared ++ undeclared.map(k => k -> o.units(k))).map { case (name, unit) =>
        name -> ListMap("value" -> values.getOrElse(name, 0.0), "unit" -> unit)
      }
      val result = Json.render(ListMap("correct" -> (o.failed == 0), "attempted" -> o.attempted,
        "failed" -> o.failed, "metrics" -> metrics))
      Files.write(Paths.get(opt("out")), (result + "\n").getBytes(UTF_8))
      println(result)
    } finally {
      spark.stop()
      deleteTree(work)
    }
  }

  /** The metric names and units BENCHMARK.json declares in `section`. */
  private def metricUnits(root: Path, section: String): ListMap[String, String] = {
    val doc = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(root.resolve("BENCHMARK.json").toFile)
    ListMap(doc.get(section).elements().asScala.toSeq
      .map(m => m.get("name").asText -> m.get("unit").asText): _*)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator()
    val paths = scala.collection.mutable.ArrayBuffer[Path]()
    all.forEachRemaining(x => paths += x)
    paths.reverseIterator.foreach(Files.deleteIfExists)
  }
}
