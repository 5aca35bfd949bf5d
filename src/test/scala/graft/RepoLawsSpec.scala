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
 * guard comparison may appear once in `src/main`, and `batch=<id>` dir
 * names are parsed only inside `Streams.batchIds`, in all of `src/main`.
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
 *
 * Law 5: **a streaming index's delta tier is kept in one place**. Every
 * streaming index lands `batch=<id>` deltas beside a bucketed bulk and
 * folds them newest-first, the reference MERGE's newest-row-wins rule.
 * The steps of that protocol live in private helpers of `Streams`: the
 * `_routing_gen.` generation guard (`requireDeltaGeneration`), the
 * newest-batch precedence fold (`foldDelta`), the `__fold_tmp` stage
 * (`foldBulkTier`), the bulk-tier join (`tieredPairs`) and the MinHash
 * landing (`minhashBatchPairs`). Each may appear at most once in
 * `src/main`: a second copy is a twin that drifts (the IVF and PQ copies
 * of the guard had already grown different refusal texts).
 *
 * Law 6: **a banded signature index is kept in one place**. MinHash and
 * hyperplane signatures share one index: a `Dedup.SigFamily` says how a
 * signature bands and when two match, and the rest is written once — the
 * fused `bb` key (`SigFamily.fusedBandRows`), the `_bands` stage write
 * (`Dedup.writeBandedSigIndex`) and the one call `Streams` makes into an
 * against-index probe (`Streams.tieredPairs`). Each may appear at most
 * once in `src/main`, comment lines excluded: the two copies this law
 * replaced had drifted (the embedding sink's bulk tier dropped
 * `maxBucketSize`).
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
    val parsers = for {
      p <- mainSources
      (line, n, owner) <- linesByDef(p)
      if line.contains("startsWith(\"batch=\")") &&
        !(p.getFileName.toString == "Streams.scala" && owner == "batchIds")
    } yield s"$p:$n: ${line.trim}"
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

  /** A non-comment `src/main` line: `file:line: text`, its file name,
   * its text and the text of the line after it. */
  private case class CodeLine(where: String, file: String, text: String,
                              next: String)

  private def codeLines: Seq[CodeLine] = {
    val comment = "^\\s*(//|/?\\*)".r
    for {
      p <- mainSources
      lines = Files.readAllLines(p).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      if comment.findPrefixOf(line).isEmpty
    } yield CodeLine(s"$p:${i + 1}: ${line.trim}", p.getFileName.toString,
      line, lines.lift(i + 1).getOrElse(""))
  }

  /** The (step, its one helper, a line that writes the step) entries
   * written more than once, each with every site. */
  private def copiedSteps(steps: Seq[(String, String, CodeLine => Boolean)])
      : Seq[String] = {
    val code = codeLines
    steps.flatMap { case (step, helper, hit) =>
      val at = code.filter(hit).map(_.where)
      if (at.size <= 1) Nil
      else s"$step is written ${at.size} times — call $helper:" +: at
    }
  }

  test("a streaming index's delta tier is kept in one place") {
    val copied = copiedSteps(Seq(
      ("the _routing_gen. guard match", "Streams.requireDeltaGeneration",
        l => l.text.contains("readRoutingGenMarker(") &&
          l.text.contains(" match")),
      ("the newest-batch precedence fold", "Streams.foldDelta",
        _.text.contains("col(\"__batch\").desc")),
      ("the __fold_tmp stage", "Streams.foldBulkTier",
        _.text.contains("__fold_tmp")),
      ("the requireBulkPair( tier join", "Streams.tieredPairs",
        l => l.text.contains("requireBulkPair(") &&
          !l.text.contains("def requireBulkPair(")),
      ("the MinHash landing", "Streams.minhashBatchPairs",
        _.text.contains("Dedup.minhashBandRows(newSigs"))))
    assert(copied.isEmpty, copied.mkString("\n", "\n", ""))
  }

  test("a banded signature index is kept in one place") {
    val probeCall = """Dedup\.\w*AgainstIndex\(""".r
    val copied = copiedSteps(Seq(
      ("the fused bb key", "SigFamily.fusedBandRows",
        l => l.text.contains("fusedBucket") &&
          !l.text.contains("def fusedBucket")),
      ("a stageBucketedSwap( onto baseTable + \"_bands\"",
        "Dedup.writeBandedSigIndex",
        l => l.text.contains("stageBucketedSwap(") &&
          (l.text + l.next).contains("baseTable + \"_bands\"")),
      ("a Streams call into an against-index probe", "Streams.tieredPairs",
        l => l.file == "Streams.scala" &&
          probeCall.findFirstIn(l.text).isDefined)))
    assert(copied.isEmpty, copied.mkString("\n", "\n", ""))
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
