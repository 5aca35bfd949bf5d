package perfbench

import java.net.{HttpURLConnection, URI}

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  private val base = Deals.base(2000)

  test("fault schedule and page rendering repeat for one seed and differ across seeds") {
    assert(FaultSchedule(7, 40, 0.05).faulted == FaultSchedule(7, 40, 0.05).faulted)
    assert(FaultSchedule(7, 40, 0.05).faulted != FaultSchedule(8, 40, 0.05).faulted)
    assert(FaultSchedule(7, 40, 0.05).faulted.size == 2)
    def pages(seed: Long) = Deals.renderPages(Deals.revision(base, seed), 500).map(_.toSeq)
    assert(pages(7) == pages(7))
    assert(pages(7) != pages(8))
    def stream(seed: Long) = Deals.streamAppends(base, seed, 5, 20)
    assert(stream(7) == stream(7))
    assert(stream(7) != stream(8))
  }

  test("served pages parse back to exactly the source rows") {
    val pages = Deals.renderPages(base, 500)
    assert(pages.size == 4)
    assert(pages.flatMap(Deals.parsePage) == base)
  }

  test("the page server honours page, count, since and to, and faults by ordinal") {
    val rows = Deals.base(1200)
    val server = new PageServer(rows, delayMs = 0, FaultSchedule(3, 3, 0.34))
    try {
      val url = server.url
      def get(page: Int, extra: String = ""): (Int, Seq[Deal]) = {
        val c = new URI(url.replace("{page}", page.toString).replace("{count}", "500") + extra)
          .toURL.openConnection().asInstanceOf[HttpURLConnection]
        val code = c.getResponseCode
        val body = if (code == 200) Deals.parsePage(c.getInputStream.readAllBytes()) else Nil
        c.disconnect()
        (code, body)
      }
      server.beginUnit(0)
      val faulted = FaultSchedule(3, 3, 0.34).faulted
      assert(faulted.size == 2)
      val first = (1 to 4).map(p => get(p))
      assert(first.map(_._1) == (1 to 4).map(p => if (faulted(p)) 503 else 200))
      val again = (1 to 4).map(p => get(p))
      assert(again.map(_._1).forall(_ == 200))
      assert(again.flatMap(_._2) == rows)
      assert(again(3)._2.isEmpty)
      server.beginUnit(1)
      val since = "2024-01-10 00:00:00"
      val to = "2024-01-20 00:00:00"
      val range = "&since=2024-01-10%2000%3A00%3A00&to=2024-01-20%2000%3A00%3A00"
      val ranged = Seq(get(1, range), get(1, range))
      assert(ranged.map(_._1) == Seq(if (faulted(1)) 503 else 200, 200))
      assert(ranged(1)._2 == rows.filter(d => d.createdAt >= since && d.createdAt < to).take(500))
      val log = server.served
      assert(Layers.rest(log.filter(_.unit == 0))("rest.retries") == 2.0)
    } finally server.stop()
  }

  test("each output check rejects a corrupted result") {
    val rows = base.map(_.normalized)
    assert(Checks.table(rows, rows).isEmpty)
    assert(Checks.table(rows.reverse, rows).isEmpty)
    assert(Checks.table(rows.tail, rows).nonEmpty)
    assert(Checks.table(rows.updated(5, rows(5).copy(amount = rows(5).amount + 1)), rows).nonEmpty)
    assert(Checks.table(rows.updated(5, rows(6)), rows).nonEmpty)

    val revision = Deals.revision(base, 7).map(_.normalized)
    val merged = Checks.merge(rows, revision)
    assert(merged.size > rows.size)
    assert(Checks.upsert(merged, rows, revision, Seq("deals")).isEmpty)
    assert(Checks.upsert(rows, rows, revision, Seq("deals")).nonEmpty)
    assert(Checks.upsert(merged, rows, revision, Seq("deals", "deals_staging")).nonEmpty)
    assert(Checks.upsert(merged, rows, revision, Seq("deals", "deals__swap_tmp")).nonEmpty)

    val recorded = Map("q" -> (3L, 42L))
    assert(Checks.query("q", 3, 42, recorded).isEmpty)
    assert(Checks.query("q", 3, 41, recorded).nonEmpty)
    assert(Checks.query("q", 2, 42, recorded).nonEmpty)
    assert(Checks.query("other", 3, 42, recorded).nonEmpty)

    val est = Map("click" -> 10.0, "view" -> 12.5)
    assert(Checks.estimates(est, est).isEmpty)
    assert(Checks.estimates(est.updated("view", 12.6), est).nonEmpty)
    assert(Checks.estimates(est - "view", est).nonEmpty)
  }

  test("canonical values round floats so low-bit differences do not change the digest") {
    val a = Checks.digest(Seq(Checks.canonical(org.apache.spark.sql.Row(1L, 0.1 + 0.2, Seq(1.0)))))
    val b = Checks.digest(Seq(Checks.canonical(org.apache.spark.sql.Row(1L, 0.3, Seq(1.0)))))
    val c = Checks.digest(Seq(Checks.canonical(org.apache.spark.sql.Row(1L, 0.31, Seq(1.0)))))
    assert(a == b)
    assert(a != c)
  }

  test("median averages the two middle samples of an even-sized sample") {
    val xs = scala.util.Random.shuffle((1 to 40).map(_.toDouble))
    assert(Stats.median(xs) == 20.5)
    assert(Stats.median(xs :+ 41.0) == 21.0)
  }

  test("self time subtracts the union of the children, clipped to the parent") {
    val parent = Span("u1", "", "r", "unit", "run", 0, 100)
    val children = Seq(
      Span("j1", "u1", "r", "job", "a", 10, 30),
      Span("j2", "u1", "r", "job", "b", 20, 40), // overlaps j1
      Span("j3", "u1", "r", "job", "c", 90, 120)) // runs past the parent's end
    assert(Span.selfUs(parent, children) == 100 - 30 - 10)
    assert(Span.selfUs(parent, Nil) == 100)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
  }
}
