package graft.tools

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity
import graft.streaming.Streams
import graft.tables.Tables

/** Runs every delta-tier path of the streaming indexes (the IVF/PQ ingest
 * sinks, delta folds and tiered reads; the MinHash, embedding and span
 * sinks and their bulk-tier folds) on the sf0.001 fixtures and writes the
 * sorted rows of every fold's bulk table and sink output, plus the
 * `explain(true)` of the tiered reads, to one text file.
 *
 * Usage, from the root of a checkout, with this file copied to
 * `src/main/scala/graft/tools/Probe.scala`:
 *   sbt "runMain graft.tools.Probe <workDir> <outFile> <sfDir>"
 * `workDir` is emptied first. Expression ids (`#123`) and plan ids are
 * normalized in the explains; the checkout path is replaced by `<cwd>`.
 * Run it at two commits with the same `workDir` and diff the outputs
 * after normalizing the identity hashes of literal arrays (`[D@1f2e3d`). */
object Probe {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    FileUtils.deleteDirectory(new File(work))
    new File(work).mkdirs()
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sb = new StringBuilder
    val cwd = new File(".").getCanonicalPath
    def dump(name: String, df: DataFrame): Unit = {
      val rs = df.collect().map(_.toString).sorted
      sb ++= s"== rows $name (${rs.length})\n"
      rs.foreach(r => sb ++= r + "\n")
    }
    def explain(name: String, df: DataFrame): Unit = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf)(df.explain(true))
      val norm = buf.toString("UTF-8")
        .replace(cwd, "<cwd>")
        .replaceAll("#\\d+L?", "#N")
        .replaceAll("plan_id=\\d+", "plan_id=N")
      sb ++= s"== explain $name\n$norm\n"
    }
    def tree(p: String): DataFrame = spark.read.option("basePath", p).parquet(p)
    def run(q: StreamingQuery)(feeds: (() => Unit)*): Unit =
      try feeds.foreach { f => f(); q.processAllAvailable() } finally q.stop()
    def dir(n: String) = s"$work/$n"

    val sfDir = args(2)
    val emb = graft.sources.Fixtures.table(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val embRows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1).toSeq
    val docs = graft.sources.Fixtures.table(spark, sfDir, "documents")
      .select("doc_id", "text")
    val docRows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq
    val queries = emb.filter(col("vec_id") < 5)

    // ---- IVF -------------------------------------------------------------
    Seq("_cells", "_centroids").foreach(s => Tables.dropTable(spark, "pivf" + s))
    Similarity.writeIvfIndex(emb.filter(col("vec_id") < 100), "pivf",
      nlist = 16, numBuckets = 4)
    val ivfDelta = dir("ivfdelta")
    val memI = MemoryStream[(Long, Seq[Float])]
    run(Streams.ivfIngestSink(memI.toDF().toDF("vec_id", "embedding"),
      "pivf", ivfDelta, dir("ivfcp")))(
      () => memI.addData(embRows.filter(r => r._1 >= 100 && r._1 < 300): _*),
      () => memI.addData(embRows.filter(_._1 >= 300): _*))
    // an id updated in two newer batches plus a bulk vector planted in
    // the delta (the crash-window shape)
    spark.table("pivf_cells").filter(col("vec_id") === 0L)
      .withColumn("nrm", col("nrm") + 123.0)
      .write.mode("overwrite").parquet(s"$ivfDelta/batch=101")
    spark.table("pivf_cells").filter(col("vec_id") === 1L)
      .withColumn("vec_id", lit(0L))
      .write.mode("overwrite").parquet(s"$ivfDelta/batch=103")
    spark.table("pivf_cells").filter(col("vec_id") < 3L)
      .write.mode("overwrite").parquet(s"$ivfDelta/batch=99")
    val ivfT = Similarity.ivfTopKTiered(queries, "pivf", ivfDelta)
    explain("ivfTopKTiered", ivfT)
    dump("ivfTopKTiered", ivfT)
    Streams.compactIvfDelta(spark, ivfDelta, "pivf", numBuckets = 4)
    dump("pivf_cells after compactIvfDelta", spark.table("pivf_cells"))
    explain("ivfTopKTiered empty delta",
      Similarity.ivfTopKTiered(queries, "pivf", ivfDelta))

    // ---- PQ, raw and residual ---------------------------------------------
    Seq(false, true).foreach { residual =>
      val base = if (residual) "ppqres" else "ppqraw"
      Seq("_pqcodes", "_pqmeta").foreach(s => Tables.dropTable(spark, base + s))
      Similarity.writePqIndex(emb.filter(col("vec_id") < 100), base,
        nlist = 16, m = 4, kcent = 16, dim = 64, numBuckets = 4,
        residual = residual)
      val delta = dir(base + "delta")
      val mem = MemoryStream[(Long, Seq[Float])]
      run(Streams.pqIngestSink(mem.toDF().toDF("vec_id", "embedding"),
        base, delta, dir(base + "cp"), dim = 64))(
        () => mem.addData(embRows.filter(r => r._1 >= 100 && r._1 < 300): _*),
        () => mem.addData(embRows.filter(_._1 >= 300): _*))
      spark.table(base + "_pqcodes").filter(col("vec_id") < 3L)
        .write.mode("overwrite").parquet(s"$delta/batch=99")
      val t = Similarity.ivfPqTopKTiered(queries, base, delta, k = 10,
        nprobe = 16, dim = 64)
      explain(s"ivfPqTopKTiered $base", t)
      dump(s"ivfPqTopKTiered $base", t)
      Streams.compactPqDelta(spark, delta, base, numBuckets = 4)
      dump(s"${base}_pqcodes after compactPqDelta",
        spark.table(base + "_pqcodes"))
    }

    // ---- MinHash signature index: nearDup, clusters, intake ----------------
    Seq("pmh", "pcl", "pin").foreach(b =>
      Seq("_sigs", "_bands").foreach(s => Tables.dropTable(spark, b + s)))
    def minhashRound(base: String, out: String, cp: String)
                    (sink: (DataFrame, String, String, String) => StreamingQuery)
        : Unit = {
      val idx = dir(base + "idx")
      val mem = MemoryStream[(Long, String)]
      run(sink(mem.toDF().toDF("doc_id", "text"), idx, dir(out), dir(cp)))(
        () => mem.addData(docRows.filter(_._1 < 200): _*))
      Streams.compactIndexBucketed(spark, idx, base, numBuckets = 4)
      // resume over the folded bulk: later docs plus re-sent clones
      val clones = docRows.filter(_._1 < 5).map { case (i, t) => (i + 1000, t) }
      run(sink(mem.toDF().toDF("doc_id", "text"), idx, dir(out), dir(cp)))(
        () => mem.addData(docRows.filter(r => r._1 >= 200 && r._1 < 350): _*),
        () => mem.addData(clones: _*))
      Streams.compactIndexBucketed(spark, idx, base, numBuckets = 4)
      dump(s"${base}_sigs after compactIndexBucketed", spark.table(base + "_sigs"))
      dump(s"${base}_bands after compactIndexBucketed", spark.table(base + "_bands"))
      dump(s"$base sink output", tree(dir(out)))
    }
    minhashRound("pmh", "mhpairs", "mhcp")((s, i, o, c) =>
      Streams.nearDupSink(s, i, o, c, bucketedBase = Some("pmh")))
    minhashRound("pcl", "cllabels", "clcp")((s, i, o, c) =>
      Streams.clustersSink(s, i, o, c, bucketedBase = Some("pcl")))
    minhashRound("pin", "inout", "incp")((s, i, o, c) =>
      Streams.intakeSink(s, i, o, c, minQualityMicro = 0L,
        bucketedBase = Some("pin")))

    // ---- embedding signature index ----------------------------------------
    Seq("_sigs", "_bands").foreach(s => Tables.dropTable(spark, "pem" + s))
    val emIdx = dir("emidx")
    val memE = MemoryStream[(Long, Seq[Float])]
    def emSink() = Streams.embeddingNearDupSink(
      memE.toDF().toDF("vec_id", "embedding"), emIdx, dir("empairs"),
      dir("emcp"), maxHamming = 20, bucketedBase = Some("pem"))
    run(emSink())(() => memE.addData(embRows.filter(_._1 < 250): _*))
    Streams.compactEmbeddingIndexBucketed(spark, emIdx, "pem", numBuckets = 4)
    run(emSink())(
      () => memE.addData(embRows.filter(_._1 >= 250): _*),
      () => memE.addData(embRows.filter(_._1 < 5)
        .map { case (i, v) => (i + 1000, v) }: _*))
    Streams.compactEmbeddingIndexBucketed(spark, emIdx, "pem", numBuckets = 4)
    dump("pem_sigs after compactEmbeddingIndexBucketed", spark.table("pem_sigs"))
    dump("pem_bands after compactEmbeddingIndexBucketed", spark.table("pem_bands"))
    dump("embeddingNearDupSink pairs", tree(dir("empairs")))

    // ---- span window-hash index --------------------------------------------
    Seq("", "__swap_tmp", "__swap_backup").foreach(s =>
      Tables.dropTable(spark, "psp_winhash" + s))
    val spIdx = dir("spidx")
    val memS = MemoryStream[(Long, String)]
    def spSink() = Streams.spanDedupSink(memS.toDF().toDF("doc_id", "text"),
      spIdx, dir("spout"), dir("spcp"), w = 8, bucketedBase = Some("psp"))
    run(spSink())(() => memS.addData(docRows.filter(_._1 < 250): _*))
    Streams.compactSpanIndex(spark, spIdx, "psp", numBuckets = 4)
    run(spSink())(() => memS.addData(docRows.filter(_._1 >= 250): _*))
    Streams.compactSpanIndex(spark, spIdx, "psp", numBuckets = 4)
    dump("psp_winhash after compactSpanIndex", spark.table("psp_winhash"))
    dump("spanDedupSink output", tree(dir("spout")))

    Files.write(Paths.get(args(1)), sb.toString.getBytes("UTF-8"))
    println(s"PROBE wrote ${args(1)}")
    spark.stop()
  }
}
