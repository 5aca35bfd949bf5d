package graft.sources.rest

import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * DataSource V2 scan over a paginated JSON API — the reference's core
 * ingest re-expressed as a distributed source
 * (reference: omnichannel_to_bq.py:33-61, SURVEY.md §2.1-S1/S2/S3, §3.3).
 *
 * Output schema is a single `value STRING` column, one row per element of
 * the page envelope's `objKey` array (compact-serialized JSON object).
 * Materialization to a typed table (S4) is a separate step —
 * [[RestIngest.readJson]] — mirroring how `spark.read.json` splits
 * line-reading from schema inference.
 *
 * Scale design:
 *  - **Striped pagination**: partition `i` of `p` fetches pages
 *    `i+1, i+1+p, i+1+2p, ...` and stops at the first empty or short page
 *    (a short page is the last — same termination as the reference's
 *    sequential loop, omnichannel_to_bq.py:46-60). Every page before the
 *    terminal one is owned by exactly one stripe, so coverage is exact
 *    while page fetches parallelize across executors — the reference's
 *    driver-side accumulation (`all_objs.extend`) never happens.
 *  - **In-reader retry** (S2): `maxRetries` attempts per page; exhaustion
 *    THROWS (task failure → Spark task retry) instead of silently keeping
 *    partial data — documented divergence from omnichannel_to_bq.py:55-57
 *    (SURVEY.md §7.4.3). HTTP 400, 401, 403 and 404 cannot succeed on a
 *    retry and throw at the first answer; 408, 429, 5xx and I/O errors
 *    are retried.
 *  - **Time-range pushdown** (S3): `tsField >= X` / `tsField < Y` filters
 *    are accepted into the scan, forwarded to the remote API via the
 *    `{since}`/`{to}` URL template slots AND re-checked row-by-row in the
 *    reader, so the pushdown is exact even against a server (or file
 *    fixture) that ignores the query parameters.
 *
 * URL template slots: `{page}`, `{count}`, `{since}`, `{to}` (the last two
 * URL-encoded, as query values). `file:` URLs are supported for offline
 * tests; a missing page file reads as an empty page (the filesystem
 * stand-in for the API's empty-array response).
 *
 * Options: `url` (required), `objKey` (default "deals"), `count` (500),
 * `maxRetries` (10), `retryDelayMs` (0), `numPartitions` (4),
 * `since`/`to` (optional ISO strings), `tsField` (optional; enables
 * pushdown + row filter).
 */
class PaginatedJsonSource extends TableProvider {
  /** Callers may pass a typed schema via `.schema(...)`; without one the
   * scan yields raw `value STRING` rows (one JSON object per row). */
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PaginatedJsonSource.rawSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PaginatedJsonTable(schema, properties.asScala.toMap)
}

object PaginatedJsonSource {
  val rawSchema: StructType = StructType(Seq(StructField("value", StringType)))

  /** HTTP statuses a retry cannot turn into a page: the request itself
   * is wrong, unauthorized, forbidden or names nothing. */
  private val FailFastStatuses: Set[Int] = Set(400, 401, 403, 404)

  /** A page fetch the API refused for good: thrown by [[fetchUrl]] and
   * rethrown by [[retrying]] without a further attempt. It still fails
   * the Spark task, so Spark's own task retry (`spark.task.maxFailures`,
   * 1 in local mode) may fetch the page again. */
  final class NonRetryableFetch(val status: Int, url: String)
      extends java.io.IOException(s"HTTP $status from $url (not retried)")

  /** Generic page-fetch retry loop (reference: omnichannel_to_bq.py:38-57
   * minus the partial-data-on-exhaustion). A [[NonRetryableFetch]] is
   * rethrown at once. Public for direct unit tests. */
  def retrying[T](maxRetries: Int, delayMs: Long)(attempt: () => T): T = {
    var tries = 0
    var last: Throwable = null
    while (tries < maxRetries) {
      try return attempt()
      catch {
        case e: NonRetryableFetch => throw e
        case e: Exception =>
          last = e
          tries += 1
          if (tries < maxRetries && delayMs > 0) Thread.sleep(delayMs)
      }
    }
    throw new RuntimeException(
      s"page fetch failed after $maxRetries attempts", last)
  }

  /** Fetch one page body. `file:` URLs: missing file = empty page (null). */
  def fetchUrl(url: String, timeoutMs: Int): String =
    if (url.startsWith("file:")) {
      val path = java.nio.file.Paths.get(new java.net.URI(url))
      if (!java.nio.file.Files.exists(path)) null
      else new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    } else {
      val conn = new java.net.URI(url).toURL.openConnection()
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      conn match {
        case http: java.net.HttpURLConnection =>
          val status = http.getResponseCode
          if (FailFastStatuses(status)) {
            Option(http.getErrorStream).foreach(_.close())
            throw new NonRetryableFetch(status, url)
          }
        case _ =>
      }
      val in = conn.getInputStream
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
}

private[rest] class PaginatedJsonTable(tableSchema: StructType,
                                       properties: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"paginated-json(${properties.getOrElse("url", "?")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PaginatedJsonScanBuilder(tableSchema, properties ++ options.asScala)
}

private[rest] class PaginatedJsonScanBuilder(tableSchema: StructType,
                                             options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters {
  private val tsField = options.get("tsField")
  private var since: Option[String] = options.get("since")
  private var to: Option[String] = options.get("to")
  private var pushed: Array[Filter] = Array.empty

  /** Accept `tsField >= X` / `tsField < Y` (string literals) — the only
   * predicates the remote API understands (SURVEY.md §2.1-S3). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case GreaterThanOrEqual(att, v: String) =>
        tsField.contains(att) && { since = Some(since.fold(v)(s => if (v > s) v else s)); true }
      case LessThan(att, v: String) =>
        tsField.contains(att) && { to = Some(to.fold(v)(t => if (v < t) v else t)); true }
      case _ => false
    }
    pushed = accepted
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new PaginatedJsonScan(
    tableSchema,
    PageSpec(
      url = options.getOrElse("url",
        throw new IllegalArgumentException("paginated-json requires a 'url' option")),
      objKey = options.getOrElse("objKey", "deals"),
      count = options.getOrElse("count", "500").toInt,
      maxRetries = options.getOrElse("maxRetries", "10").toInt,
      retryDelayMs = options.getOrElse("retryDelayMs", "0").toLong,
      timeoutMs = options.getOrElse("timeoutMs", "600000").toInt,
      numPartitions = options.getOrElse("numPartitions", "4").toInt,
      tsField = tsField, since = since, to = to))
}

private[rest] case class PageSpec(url: String, objKey: String, count: Int,
                                  maxRetries: Int, retryDelayMs: Long,
                                  timeoutMs: Int, numPartitions: Int,
                                  tsField: Option[String], since: Option[String],
                                  to: Option[String]) extends Serializable {
  /** The bounds are query values: encoded, since the canonical
   * `yyyy-MM-dd HH:mm:ss` form carries a space no URL may hold. */
  def pageUrl(page: Long): String = url
    .replace("{page}", page.toString)
    .replace("{count}", count.toString)
    .replace("{since}", encoded(since))
    .replace("{to}", encoded(to))

  private def encoded(v: Option[String]): String =
    v.fold("")(URLEncoder.encode(_, StandardCharsets.UTF_8))
}

private[rest] class PaginatedJsonScan(tableSchema: StructType, spec: PageSpec)
    extends Scan with Batch {
  override def readSchema(): StructType = tableSchema
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(tableSchema == PaginatedJsonSource.rawSchema,
      "streaming paginated-json supports the raw value STRING schema; " +
      "materialize types downstream with from_json")
    new PaginatedJsonMicroBatch(spec)
  }
  override def description(): String =
    s"PaginatedJsonScan(url=${spec.url}, since=${spec.since.getOrElse("-")}, " +
    s"to=${spec.to.getOrElse("-")}, partitions=${spec.numPartitions})"
  override def planInputPartitions(): Array[InputPartition] =
    (0 until spec.numPartitions).map(i => PageStripe(i): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new PageReaderFactory(tableSchema, spec)
}

private[rest] case class PageStripe(index: Int) extends InputPartition

private[rest] class PageReaderFactory(tableSchema: StructType, spec: PageSpec)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PageReader(tableSchema, spec, partition.asInstanceOf[PageStripe].index)
}

/** Reads pages `index+1, index+1+p, ...` until an empty or short page.
 * With the raw `value STRING` schema, rows are compact JSON object strings;
 * with a user schema, JSON fields convert to typed columns (missing/null
 * keys -> null, same as reference pd.DataFrame union-of-keys). */
private[rest] class PageReader(tableSchema: StructType, spec: PageSpec,
                               index: Int)
    extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper()
  private val raw = tableSchema == PaginatedJsonSource.rawSchema
  private var page = index + 1
  private var done = false
  private var iter: Iterator[com.fasterxml.jackson.databind.JsonNode] = Iterator.empty
  private var current: com.fasterxml.jackson.databind.JsonNode = _

  private def fetchNextPage(): Unit = {
    val body = PaginatedJsonSource.retrying(spec.maxRetries, spec.retryDelayMs) {
      () => PaginatedJsonSource.fetchUrl(spec.pageUrl(page), spec.timeoutMs)
    }
    page += spec.numPartitions
    val objs: Seq[com.fasterxml.jackson.databind.JsonNode] =
      if (body == null) Seq.empty
      else {
        val arr = mapper.readTree(body).get(spec.objKey)
        if (arr == null || !arr.isArray) Seq.empty
        else arr.elements().asScala.toSeq
      }
    if (objs.size < spec.count) done = true // short or empty page = the last
    val inRange: com.fasterxml.jackson.databind.JsonNode => Boolean =
      spec.tsField match {
        case None => _ => true
        case Some(f) => node =>
          val v = Option(node.get(f)).map(_.asText).orNull
          v != null && spec.since.forall(v >= _) && spec.to.forall(v < _)
      }
    iter = objs.filter(inRange).iterator
  }

  override def next(): Boolean = {
    while (!iter.hasNext && !done) fetchNextPage()
    if (iter.hasNext) { current = iter.next(); true } else false
  }

  private def convert(node: com.fasterxml.jackson.databind.JsonNode,
                      dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    if (node == null || node.isNull) null
    else dt match {
      case StringType  => UTF8String.fromString(
        if (node.isTextual) node.asText else node.toString)
      case LongType    => node.asLong
      case IntegerType => node.asInt
      case DoubleType  => node.asDouble
      case BooleanType => node.asBoolean
      case TimestampType =>
        // ISO with space or 'T'; micros since epoch, session TZ = UTC
        val t = java.time.LocalDateTime.parse(node.asText.replace(' ', 'T'))
        t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
          t.getNano / 1000L
      case other => throw new UnsupportedOperationException(
        s"paginated-json: unsupported column type $other")
    }
  }

  override def get(): InternalRow =
    if (raw) InternalRow(UTF8String.fromString(current.toString))
    else InternalRow.fromSeq(tableSchema.fields.toSeq.map(f =>
      convert(current.get(f.name), f.dataType)))
  override def close(): Unit = ()
}
