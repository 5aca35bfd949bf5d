package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import org.apache.commons.io.FileUtils
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.Streams
import graft.tables.Tables

/** The session's `file:` filesystem (`GraftSession.builder()` registers
 * [[ForkFreeLocalFileSystem]] and [[ForkFreeLocalFs]]) behaves as stock
 * `RawLocalFileSystem` under the same conf and umask, and the table-write
 * and streaming-commit paths start no `chmod` or `readlink` process. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  private def stock: RawLocalFileSystem = {
    val fs = new RawLocalFileSystem()
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def sessionFs: FileSystem = FileSystem.get(URI.create("file:///"), conf)

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  private def hp(p: NioPath): Path = new Path(p.toString)

  /** `body` over a fresh temporary directory, deleted afterwards (a
   * symlink inside is removed, not followed). */
  private def withTempDir[T](prefix: String)(body: NioPath => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally FileUtils.deleteDirectory(dir.toFile)
  }

  /** The command lines of the processes `body` started, from a JFR
   * `jdk.ProcessStart` recording around it. */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("forks", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(out)
    }
  }

  private def chmodOrReadlink(commands: Seq[String]): Seq[String] =
    commands.filter(c => Set("chmod", "readlink")
      .contains(c.trim.split("\\s+").head.split('/').last))

  test("the session's file: filesystem is the fork-free class on both APIs") {
    assert(sessionFs.getClass == classOf[ForkFreeLocalFileSystem],
      "a stock file: FileSystem was cached before the session existed")
    assert(sessionFs.asInstanceOf[ForkFreeLocalFileSystem].getRaw.getClass ==
      classOf[ForkFreeRawLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass ==
      classOf[ForkFreeLocalFs])
  }

  test("files and directories get the permission bits stock gives them") {
    withTempDir("perm") { dir =>
      val raw = stock
      val fs = sessionFs
      raw.create(hp(dir.resolve("stock.bin"))).close()
      fs.create(hp(dir.resolve("graft.bin"))).close()
      assert(mode(dir.resolve("graft.bin")) == mode(dir.resolve("stock.bin")))
      assert(raw.mkdirs(hp(dir.resolve("stock/a/b"))))
      assert(fs.mkdirs(hp(dir.resolve("graft/a/b"))))
      Seq("a", "a/b").foreach { sub =>
        assert(mode(dir.resolve(s"graft/$sub")) == mode(dir.resolve(s"stock/$sub")), sub)
      }
      // explicit modes, through the raw class and the session's API
      val forkFree = new ForkFreeRawLocalFileSystem()
      forkFree.initialize(URI.create("file:///"), conf)
      for (bits <- Seq(0x1ed, 0x1a0, 0x1c0, 0x184, 0x0, 0x1ff, 0x124);
           // FsCreateModes (FileContext's create) prints itself differently
           perm <- Seq(new FsPermission(bits.toShort), FsCreateModes.create(
             new FsPermission(bits.toShort), new FsPermission(0x1ff.toShort)))) {
        val s = Files.createTempFile(dir, "s", ""); val g = Files.createTempFile(dir, "g", "")
        raw.setPermission(hp(s), perm)
        forkFree.setPermission(hp(g), perm)
        assert(mode(g) == mode(s) && mode(g) == bits, f"$bits%o $perm")
      }
      val s = dir.resolve("stock-explicit"); val g = dir.resolve("graft-explicit")
      raw.create(hp(s), new FsPermission(0x1a0.toShort), false, 4096, 1.toShort,
        1L << 26, null).close()
      fs.create(hp(g), new FsPermission(0x1a0.toShort), false, 4096, 1.toShort,
        1L << 26, null).close()
      assert(mode(g) == mode(s))
    }
  }

  test("a sticky-bit setPermission still goes through the stock call") {
    withTempDir("sticky") { dir =>
      val forkFree = new ForkFreeRawLocalFileSystem()
      forkFree.initialize(URI.create("file:///"), conf)
      val s = Files.createDirectory(dir.resolve("stock"))
      val g = Files.createDirectory(dir.resolve("graft"))
      val sticky = new FsPermission(0x3ff.toShort) // 01777
      stock.setPermission(hp(s), sticky)
      forkFree.setPermission(hp(g), sticky)
      // NIO cannot set the sticky bit, so it is there only if super ran
      assert((mode(g) & 0x200) != 0)
      assert(mode(g) == mode(s))
    }
  }

  test("getFileLinkStatus matches stock on a file, a missing path and a symlink") {
    withTempDir("links") { dir =>
      val file = Files.write(dir.resolve("f.txt"), "abc".getBytes)
      val raw = stock
      val forkFree = new ForkFreeRawLocalFileSystem()
      forkFree.initialize(URI.create("file:///"), conf)
      def same(a: FileStatus, b: FileStatus): Unit = {
        assert(a.getPath == b.getPath)
        assert(a.getLen == b.getLen && a.isDirectory == b.isDirectory)
        assert(a.getModificationTime == b.getModificationTime)
        assert(a.isSymlink == b.isSymlink)
        assert(a.getPermission == b.getPermission)
      }
      same(forkFree.getFileLinkStatus(hp(file)), forkFree.getFileStatus(hp(file)))
      same(forkFree.getFileLinkStatus(hp(file)), raw.getFileLinkStatus(hp(file)))
      same(forkFree.getFileLinkStatus(hp(dir)), raw.getFileLinkStatus(hp(dir)))
      intercept[FileNotFoundException](raw.getFileLinkStatus(hp(dir.resolve("none"))))
      intercept[FileNotFoundException](forkFree.getFileLinkStatus(hp(dir.resolve("none"))))
      val link = Files.createSymbolicLink(dir.resolve("l.txt"), file)
      val ours = forkFree.getFileLinkStatus(hp(link))
      val theirs = raw.getFileLinkStatus(hp(link))
      assert(theirs.isSymlink && ours.isSymlink)
      assert(ours.getSymlink == theirs.getSymlink)
    }
  }

  test("rename matches the class the classpath registers for file: on a " +
      "missing, a file and a directory target") {
    val stockFs = FileSystem.getFileSystemClass("file", new Configuration())
      .getDeclaredConstructor().newInstance()
    assert(!stockFs.isInstanceOf[ForkFreeLocalFileSystem])
    stockFs.initialize(URI.create("file:///"), conf)
    def outcomes(fs: FileSystem, dir: NioPath): Seq[Any] = {
      def file(name: String) = {
        val p = hp(dir.resolve(name)); val out = fs.create(p)
        out.write(name.getBytes); out.close(); p
      }
      val intoMissing = fs.rename(file("a"), hp(dir.resolve("a2")))
      val ontoFile = fs.rename(file("b"), file("c"))
      fs.mkdirs(hp(dir.resolve("d")))
      val intoDir = fs.rename(file("e"), hp(dir.resolve("d")))
      val tree = Files.walk(dir).iterator().asScala.toSeq
        .map { p =>
          val name = dir.relativize(p).toString
          name -> (if (Files.isDirectory(p)) "/"
            else if (name.endsWith(".crc")) "crc"
            else new String(Files.readAllBytes(p)))
        }
        .sorted
      Seq(intoMissing, ontoFile, intoDir, tree)
    }
    val ours = withTempDir("mv-graft")(outcomes(sessionFs, _))
    val theirs = withTempDir("mv-stock")(outcomes(stockFs, _))
    assert(ours == theirs)
  }

  test("a table write and an unpartitioned upsert's rename swap fork no " +
      "chmod or readlink") {
    // control: the recording does see the chmod stock forks (native
    // chmod, when libhadoop loads, starts no process to see)
    if (!NativeIO.isAvailable) {
      val probe = Files.createTempFile("probe", ".bin")
      val seen = try processesStartedBy(stock.setPermission(hp(probe),
        new FsPermission(0x1a4.toShort))) finally Files.deleteIfExists(probe)
      assert(chmodOrReadlink(seen).nonEmpty, s"recorder saw no chmod: $seen")
    }

    val t = "local_fs_swap"
    Seq(t, s"${t}__swap_tmp", s"${t}__swap_backup").foreach(Tables.dropTable(spark, _))
    val started = processesStartedBy {
      Tables.loadOverwrite((1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"), t)
      assert(Tables.upsertIntoTable(spark,
        Seq((3L, "x"), (99L, "y")).toDF("id", "v"), t, "id") == 51L)
    }
    Seq(t, s"${t}__swap_tmp", s"${t}__swap_backup").foreach(Tables.dropTable(spark, _))
    assert(chmodOrReadlink(started).isEmpty, started.mkString("\n"))
  }

  test("a streaming upsert micro-batch and its checkpoint commit fork no " +
      "chmod or readlink") {
    implicit val sqlCtx = spark.sqlContext
    val t = "local_fs_stream"
    Tables.dropTable(spark, t)
    val mem = MemoryStream[(Long, String, Timestamp)]
    val at = Timestamp.valueOf("2024-01-01 00:00:00")
    mem.addData((1L, "a", at), (2L, "b", at))
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val started = withTempDir("cp") { cp =>
      try processesStartedBy {
        q = Streams.upsertSink(mem.toDF().toDF("id", "v", "ts"), t, "id", "ts",
          cp.toString)
        q.processAllAvailable()
        mem.addData((2L, "B", Timestamp.valueOf("2024-01-01 00:01:00")))
        q.processAllAvailable()
      } finally if (q != null) q.stop()
    }
    assert(rows(spark.table(t).select("id", "v").orderBy("id")) ==
      Seq(Seq(1L, "a"), Seq(2L, "B")))
    Tables.dropTable(spark, t)
    assert(chmodOrReadlink(started).isEmpty, started.mkString("\n"))
  }
}
