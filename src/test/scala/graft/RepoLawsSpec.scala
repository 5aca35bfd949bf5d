package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level repo laws — invariants the type system cannot express,
 * pinned by scanning `src/main` so a regression fails `sbt test` with
 * the offending file:line.
 *
 * Law 1 (round 19/20): **no lazy `localCheckpoint`**. A lazily-marked
 * checkpoint whose FIRST materialization is driven by a
 * broadcast-exchange build job runs `RDD.doCheckpoint` on the exchange
 * thread, which deadlocks against the DAG-scheduler event loop on the
 * `RDDCheckpointData$` / RDD-monitor lock pair (jstack-confirmed in
 * round 19: `markCheckpointed` on `broadcast-exchange-220` vs
 * `getCacheLocs` on `dag-scheduler-event-loop`, driver parked forever
 * at zero CPU). The creating thread must materialize its own
 * checkpoint, so only the eager forms — `localCheckpoint()` /
 * `localCheckpoint(true, …)` — are legal in `src/main`.
 *
 * Law 2: **the fold replay guard is written once**. The streaming fold
 * sinks share one exactly-once protocol (`Streams.foldSink`): overwrite
 * `batch=<id>` dirs, and refuse ids at or below the `_compacted_through`
 * marker. A sink that re-types that skeleton by hand can drop the guard,
 * and then a replayed folded batch double-counts a summing tree. So the
 * guard comparison may appear once in `src/main`, and `Streams.scala`
 * may parse `batch=<id>` dir names only inside `batchIds`.
 */
class RepoLawsSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"expected to run from repo root; $root missing")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq
  }

  test("no lazy localCheckpoint(false, ...) anywhere in src/main") {
    val offenders = for {
      p <- mainSources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("localCheckpoint(false")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "lazy localCheckpoint found — the first materialization can land on a " +
        "broadcast-exchange thread and deadlock the driver (see RepoLawsSpec " +
        "scaladoc). Use the eager form:\n" + offenders.mkString("\n"))
  }

  test("the fold replay guard is written once") {
    val guards = for {
      p <- mainSources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("batchId > compactedThrough")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(guards.size <= 1,
      "the compactedThrough replay guard is copied — route the sink " +
        "through Streams.foldSink or Streams.isNewBatch:\n" +
        guards.mkString("\n"))
    val streams = Paths.get("src/main/scala/graft/streaming/Streams.scala")
    val lines = Files.readAllLines(streams).asScala.toIndexedSeq
    val defAt = lines.indexWhere(_.contains("def batchIds("))
    assert(defAt >= 0, s"$streams: the batchIds reader is gone")
    // the definition runs to the first blank line after its signature
    val defEnd = Some(lines.indexWhere(_.trim.isEmpty, defAt))
      .filter(_ >= 0).getOrElse(lines.size)
    val parsers = for {
      (line, i) <- lines.zipWithIndex
      if line.contains("startsWith(\"batch=\")") && (i < defAt || i > defEnd)
    } yield s"$streams:${i + 1}: ${line.trim}"
    assert(parsers.isEmpty,
      "batch=<id> dir names parsed outside Streams.batchIds:\n" +
        parsers.mkString("\n"))
  }
}
