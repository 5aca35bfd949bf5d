package graft.sources.rest

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/**
 * In-process JDK HTTP page API for offline REST tests. `GET /deals?page=N`
 * answers `{"deals": [...]}` holding the JSON objects `objects(page, hit)`
 * returns, where `hit` counts that page's requests from 1. Every request
 * served is counted, so a test can assert the API traffic a run paid for.
 */
final class PageServer(objects: (Int, Int) => Seq[String])
    extends AutoCloseable {
  private val hits = new ConcurrentHashMap[Int, AtomicInteger]()
  private val queries = new ConcurrentLinkedQueue[Map[String, String]]()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/deals", (ex: HttpExchange) => {
    val query = Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split('&')).map(_.split("=", 2)).map { kv =>
        URLDecoder.decode(kv(0), UTF_8) ->
          URLDecoder.decode(kv.lift(1).getOrElse(""), UTF_8)
      }.toMap
    queries.add(query)
    val page = query("page").toInt
    val hit = hits.computeIfAbsent(page, _ => new AtomicInteger).incrementAndGet()
    val body = objects(page, hit)
      .mkString("""{"deals": [""", ",", "]}").getBytes(UTF_8)
    ex.sendResponseHeaders(200, body.length)
    ex.getResponseBody.write(body)
    ex.close()
  })
  server.start()

  /** The `url` template of this server; `extra` extends its query string. */
  def url(extra: String = ""): String =
    s"http://127.0.0.1:${server.getAddress.getPort}/deals?page={page}$extra"

  def requests: Int = hits.values.asScala.map(_.get).sum
  def distinctPages: Int = hits.size
  /** Decoded query parameters of every request served, in arrival order. */
  def served: Seq[Map[String, String]] = queries.asScala.toSeq

  def reset(): Unit = { hits.clear(); queries.clear() }
  override def close(): Unit = server.stop(0)
}
