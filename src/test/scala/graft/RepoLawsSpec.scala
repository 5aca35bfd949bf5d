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
 *
 * Law 3: **a managed table is replaced in one place**. `Tables` owns
 * one partition-column lookup (`partitionColumns`), one partitioned
 * stage write (`replacePartitions`, which clears an orphan stage
 * directory first) and one rename sequence (`commitSwaps`, plus the
 * crash repair `recoverSwap`). A hand-copied replace drifts: the four
 * stage copies this law replaced had lost the orphan-directory clear.
 *
 * Law 4: **every session is built by `GraftSession`**. The load-bearing
 * session config (extensions, UTC, nanosAsLong, the fork-free `file:`
 * filesystem) is set in `GraftSession.builder()` and nowhere else, so an
 * entry point that calls `SparkSession.builder()` itself silently runs
 * without it — without the filesystem, for one, every file it creates
 * forks a `chmod`. Code outside `GraftSession.scala` starts from
 * `GraftSession.builder()` or `GraftSession.local`.
 */
class RepoLawsSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"expected to run from repo root; $root missing")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq
  }

  /** Each line of `p` with its 1-based number and the name of the
   * member `def` it sits in (the last `  def`/`  private def` line above
   * it, at the two-space member indent of a top-level object). */
  private def linesByDef(p: Path): Seq[(String, Int, String)] = {
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r.unanchored
    Files.readAllLines(p).asScala.zipWithIndex
      .scanLeft(("", 0, "")) { case ((_, _, owner), (line, i)) =>
        val o = line match {
          case member(name) => name
          case _ => owner
        }
        (line, i + 1, o)
      }.tail.toSeq
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

  test("a managed table is replaced in one place") {
    val lookups = for {
      p <- mainSources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("listColumns(")
    } yield s"$p:${i + 1}: ${line.trim}"
    val tables = Paths.get("src/main/scala/graft/tables/Tables.scala")
    val lines = linesByDef(tables)
    val text = lines.map(_._1).toIndexedSeq
    val renames = lines.collect {
      case (line, n, owner) if line.contains("RENAME TO") &&
          !Set("commitSwaps", "recoverSwap")(owner) =>
        s"$tables:$n ($owner): ${line.trim}"
    }
    // a partitioned write into a stage: `.partitionBy(` in the writer
    // chain of a `saveAsTable(` whose target is not the caller's own
    // `table` (the partitioned loads create the main itself)
    val stages = lines.collect {
      case (line, n, owner) if line.contains("saveAsTable(") &&
          !line.contains("saveAsTable(table)") &&
          text.slice(math.max(0, n - 4), n).exists(_.contains(".partitionBy(")) &&
          owner != "replacePartitions" =>
        s"$tables:$n ($owner): ${line.trim}"
    }
    def section(title: String, hits: Seq[String]): Seq[String] =
      if (hits.isEmpty) Nil else title +: hits
    val offenders =
      section("partition columns looked up in more than one place — " +
        "call Tables.partitionColumns:", if (lookups.size > 1) lookups else Nil) ++
      section("a rename swap outside commitSwaps/recoverSwap — stage the " +
        "tmp table and call commitSwaps:", renames) ++
      section("a partitioned stage write outside replacePartitions:", stages)
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("every session is built by GraftSession") {
    val comment = "^\\s*(//|/?\\*)".r
    val offenders = for {
      p <- mainSources
      if p.getFileName.toString != "GraftSession.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("SparkSession.builder()") &&
        comment.findPrefixOf(line).isEmpty
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "a session built without GraftSession misses its load-bearing config " +
        "(see RepoLawsSpec scaladoc); start from GraftSession.builder():\n" +
        offenders.mkString("\n"))
  }
}
