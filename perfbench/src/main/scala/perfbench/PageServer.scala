package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Which requests the server answers with HTTP 503: the first request
 * (ordinal 0) for each of `ceil(rate * pages)` pages picked by `seed`. */
final case class FaultSchedule(seed: Long, pages: Int, rate: Double) {
  val faulted: Set[Int] =
    if (rate <= 0 || pages <= 0) Set.empty
    else new scala.util.Random(seed * 1000003L + 4).shuffle((1 to pages).toVector)
      .take(math.ceil(rate * pages).toInt).toSet
  def fails(page: Int, ordinal: Int): Boolean = ordinal == 0 && faulted(page)
}

object FaultSchedule {
  val none: FaultSchedule = FaultSchedule(0, 0, 0)
}

/** One served request: the page and range asked for, how many earlier
 * requests in the same unit asked for that page (its ordinal), the
 * status, the body size and the server-side start and end (epoch µs). */
final case class Served(unit: Int, range: String, page: Int, ordinal: Int,
                        status: Int, bytes: Int, startUs: Long, endUs: Long)

/**
 * Stand-in for the omnichannel API: serves `rows` as `{"deals": [...]}`
 * pages from memory, honouring the `page`, `count`, `since` and `to`
 * query parameters (a deal is in range when `since <= created_at < to`).
 * Each request waits a fixed service delay. Bodies for the default page
 * size are rendered before the server starts.
 */
final class PageServer(rows: IndexedSeq[Deal], delayMs: Int, faults: FaultSchedule) {
  private val defaultCount = 500 // the REST source's default page size
  private val rendered = new ConcurrentHashMap[(String, String, Int), IndexedSeq[Array[Byte]]]()
  private val empty = Deals.page(Nil)
  private val ordinals = new ConcurrentHashMap[(String, Int), AtomicInteger]()
  private val log = new ConcurrentLinkedQueue[Served]()
  @volatile private var unit = 0

  private def pagesFor(since: String, to: String, count: Int): IndexedSeq[Array[Byte]] =
    rendered.computeIfAbsent((since, to, count), _ => Deals.renderPages(
      rows.filter(d => (since.isEmpty || d.createdAt >= since) && (to.isEmpty || d.createdAt < to)),
      count))

  /** The default-size page bodies of the unfiltered rows. */
  val pages: IndexedSeq[Array[Byte]] = pagesFor("", "", defaultCount)

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(Harness.Cores)
  server.setExecutor(pool)
  server.createContext("/deals", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String =
    s"http://127.0.0.1:${server.getAddress.getPort}/deals?page={page}&count={count}"

  /** Starts a new unit of work: request ordinals count from zero again,
   * so every unit meets the same fault schedule. */
  def beginUnit(id: Int): Unit = { ordinals.clear(); unit = id }

  def served: Seq[Served] = log.asScala.toSeq

  private def handle(ex: HttpExchange): Unit = {
    val start = Clock.nowUs
    try {
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&').toSeq
        .filter(_.contains('=')).map { kv =>
          val i = kv.indexOf('=')
          kv.substring(0, i) -> URLDecoder.decode(kv.substring(i + 1), UTF_8)
        }.toMap
      val page = q.getOrElse("page", "1").toInt
      val count = q.get("count").filter(_.nonEmpty).map(_.toInt).getOrElse(defaultCount)
      val since = q.getOrElse("since", "")
      val to = q.getOrElse("to", "")
      val range = s"$since|$to"
      val ordinal = ordinals.computeIfAbsent((range, page), _ => new AtomicInteger())
        .getAndIncrement()
      if (delayMs > 0) Thread.sleep(delayMs)
      val (status, body) =
        if (faults.fails(page, ordinal)) (503, "busy".getBytes(UTF_8))
        else {
          val ps = pagesFor(since, to, count)
          (200, if (page >= 1 && page <= ps.size) ps(page - 1) else empty)
        }
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, body.length.toLong)
      ex.getResponseBody.write(body)
      log.add(Served(unit, range, page, ordinal, status, body.length, start, Clock.nowUs))
    } finally ex.close()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
