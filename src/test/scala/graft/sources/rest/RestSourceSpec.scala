package graft.sources.rest

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

class RestSourceSpec extends SparkSpec {

  /** Write page files `page-N.json` with an objKey envelope; returns the
   * file URL template. */
  private def writePages(pages: Seq[Seq[String]], objKey: String = "deals"): String = {
    val dir: Path = Files.createTempDirectory("rest-pages")
    pages.zipWithIndex.foreach { case (objs, i) =>
      Files.writeString(dir.resolve(s"page-${i + 1}.json"),
        objs.mkString(s"""{"$objKey": [""", ",", "]}"))
    }
    s"file://$dir/page-{page}.json"
  }

  private def obj(id: Int, ts: String = "2024-01-05 00:00:00"): String =
    s"""{"id": $id, "created_at": "$ts"}"""

  test("striped pagination reads every page across partitions, stops at short page") {
    // 3 full pages of 4 + one short page; 3 partitions exercise striping
    val url = writePages(Seq(
      (1 to 4).map(obj(_)), (5 to 8).map(obj(_)),
      (9 to 12).map(obj(_)), Seq(obj(13))))
    val df = RestIngest.readJson(spark, Map(
      "url" -> url, "count" -> "4", "numPartitions" -> "3"))
    assert(rows(df.select("id")).flatten.map(_.asInstanceOf[Long]).sorted ==
      (1L to 13L))
  }

  test("empty first page yields an empty frame (abort-on-empty substrate)") {
    val url = writePages(Seq(Seq.empty))
    val df = RestIngest.read(spark, Map("url" -> url, "count" -> "4"))
    assert(df.count() == 0)
  }

  test("ragged pages union keys with nulls (reference pd.DataFrame semantics)") {
    val url = writePages(Seq(
      Seq("""{"id": 1, "a": "x"}""", """{"id": 2, "b": 7}"""),
      Seq("""{"id": 3, "a": "y", "c": true}""")))
    val df = RestIngest.readJson(spark, Map(
      "url" -> url, "count" -> "2", "numPartitions" -> "2"))
    assert(df.columns.sorted.toSeq == Seq("a", "b", "c", "id"))
    assert(df.count() == 3)
    assert(df.filter("a IS NULL").count() == 1) // id=2 has no 'a'
  }

  test("typed schema: JSON fields convert, missing keys null") {
    val url = writePages(Seq(Seq(
      """{"id": 1, "created_at": "2024-01-01 00:00:00", "v": 1.5, "ok": true}""",
      """{"id": 2}""")))
    val df = spark.read.format(classOf[PaginatedJsonSource].getName)
      .schema("id LONG, created_at STRING, v DOUBLE, ok BOOLEAN")
      .options(Map("url" -> url, "count" -> "500")).load()
    assert(rows(df.orderBy("id")) == Seq(
      Seq(1L, "2024-01-01 00:00:00", 1.5, true),
      Seq(2L, null, null, null)))
  }

  test("time-range pushdown: Catalyst routes the filter into the scan") {
    val url = writePages(Seq(Seq(
      obj(1, "2024-01-01 00:00:00"), obj(2, "2024-01-10 00:00:00"),
      obj(3, "2024-01-20 00:00:00"))))
    val df = spark.read.format(classOf[PaginatedJsonSource].getName)
      .schema("id LONG, created_at STRING")
      .options(Map("url" -> url, "count" -> "500", "tsField" -> "created_at"))
      .load()
      .filter("created_at >= '2024-01-05 00:00:00' AND created_at < '2024-01-15 00:00:00'")
    // the scan's description reports the range it absorbed
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("since=2024-01-05 00:00:00") &&
      plan.contains("to=2024-01-15 00:00:00"), s"scan did not absorb range:\n$plan")
    assert(rows(df.select("id")).flatten == Seq(2L))
  }

  test("since/to reach the API URL-encoded and decode to the bounds") {
    val spec = PageSpec(url = "http://h/d?page={page}&since={since}&to={to}",
      objKey = "deals", count = 500, maxRetries = 1, retryDelayMs = 0,
      timeoutMs = 1000, numPartitions = 1, tsField = None,
      since = Some("2024-01-05 00:00:00"), to = None)
    assert(spec.pageUrl(3) ==
      "http://h/d?page=3&since=2024-01-05+00%3A00%3A00&to=")
    val server = new PageServer((page, _) =>
      if (page == 1) Seq(obj(1, "2024-01-10 00:00:00")) else Nil)
    try {
      val df = RestIngest.readJson(spark, Map(
        "url" -> server.url("&since={since}&to={to}"), "maxRetries" -> "1",
        "tsField" -> "created_at", "since" -> "2024-01-05 00:00:00",
        "to" -> "2024-01-15 00:00:00"))
      assert(rows(df.select("id")).flatten == Seq(1L))
      assert(server.served.nonEmpty)
      server.served.foreach { q =>
        assert(q.get("since").contains("2024-01-05 00:00:00") &&
          q.get("to").contains("2024-01-15 00:00:00"), q)
      }
    } finally server.close()
  }

  test("retrying: succeeds after transient failures, throws on exhaustion") {
    val calls = new AtomicInteger(0)
    val v = PaginatedJsonSource.retrying(5, 0) { () =>
      if (calls.incrementAndGet() < 3) throw new RuntimeException("flaky")
      "ok"
    }
    assert(v == "ok" && calls.get() == 3)
    val ex = intercept[RuntimeException] {
      PaginatedJsonSource.retrying(4, 0) { () =>
        throw new RuntimeException("always down")
      }
    }
    assert(ex.getMessage.contains("after 4 attempts"))
  }
}
