package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._
import scala.util.Random

/** One deal as the omnichannel API serves it. The keys make every branch
 * of the program's name-driven normalize fire: `id`, `customer_id` and
 * `amount` are INT-list names, `created_at` is a TIMESTAMP-list name, and
 * `event_type` and `props` take the string default. The API sends
 * `amount` as a decimal with two places. */
final case class Deal(id: Long, createdAt: String, customerId: Long,
                      amountCents: Long, eventType: String, props: String) {

  private def amountText: String = f"${amountCents / 100}%d.${amountCents % 100}%02d"

  def json: String =
    s"""{"id":$id,"created_at":${Json.str(createdAt)},"customer_id":$customerId,""" +
      s""""amount":$amountText,"event_type":${Json.str(eventType)},"props":${Json.str(props)}}"""

  /** The row normalize must make of this deal: the decimal amount is
   * cast to a whole number (truncated), everything else passes through. */
  def normalized: NormRow = NormRow(id, createdAt, customerId, amountCents / 100, eventType, props)
}

/** A table row in the normalized schema shared by every workload. */
final case class NormRow(id: Long, createdAt: String, customerId: Long,
                         amount: Long, eventType: String, props: String) {
  /** The same row as one topic record (JSON in the normalized schema). */
  def json: String =
    s"""{"id":$id,"created_at":${Json.str(createdAt)},"customer_id":$customerId,""" +
      s""""amount":$amount,"event_type":${Json.str(eventType)},"props":${Json.str(props)}}"""
}

object NormRow {
  /** The normalized table's schema, columns in the order JSON inference
   * gives them (alphabetical). */
  val ddl: String = "amount BIGINT, created_at STRING, customer_id BIGINT, " +
    "event_type STRING, id BIGINT, props STRING"
}

/** Seeded input generation. The base table comes from a fixed seed, so
 * every workload seed starts from the same state; the workload seed picks
 * only the revision, the fault schedule and the stream batches. */
object Deals {
  val Fmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val Start: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)
  val Days = 30
  /** The upsert window: the last six days of the base period. */
  val Since = "2024-01-25 00:00:00"
  val To = "2024-01-31 00:00:00"
  val EventTypes: Vector[String] = Vector("click", "view", "signup", "purchase", "error")
  val Customers = 1500
  private val BaseSeed = 42L

  private def rng(seed: Long, salt: Long): Random = new Random(seed * 1000003L + salt)
  private def at(second: Long): String = Start.plusSeconds(second).format(Fmt)

  /** `n` deals, ids `0 until n`, spread evenly over the 30 days. */
  def base(n: Int): IndexedSeq[Deal] = {
    val r = rng(BaseSeed, 1)
    val step = Days * 86400.0 / n
    (0 until n).map { i =>
      Deal(i, at((i * step + r.nextDouble() * step).toLong), r.nextInt(Customers),
        r.nextInt(50000), EventTypes(r.nextInt(EventTypes.size)),
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** A changed version of `d`: new amount, type and props, which carry
   * `rev` so a check can tell the revision from the original. */
  private def revise(d: Deal, r: Random, rev: Long): Deal =
    d.copy(amountCents = r.nextInt(50000), eventType = EventTypes(r.nextInt(EventTypes.size)),
      props = s"""{"k": ${r.nextInt(100)}, "rev": $rev}""")

  private def fresh(id: Long, second: Long, r: Random, rev: Long): Deal =
    Deal(id, at(second), r.nextInt(Customers), r.nextInt(50000),
      EventTypes(r.nextInt(EventTypes.size)), s"""{"k": ${r.nextInt(100)}, "rev": $rev}""")

  /** The API's revision of the upsert window: about 80% of the window's
   * deals changed, plus new ids making up about 20% of the revision. */
  def revision(base: IndexedSeq[Deal], seed: Long): IndexedSeq[Deal] = {
    val r = rng(seed, 2)
    val updates = base.filter(d => d.createdAt >= Since && d.createdAt < To)
      .filter(_ => r.nextDouble() < 0.8).map(revise(_, r, seed))
    val lo = java.time.Duration.between(Start, LocalDateTime.parse(Since, Fmt)).getSeconds
    val hi = java.time.Duration.between(Start, LocalDateTime.parse(To, Fmt)).getSeconds
    val added = (0 until math.round(updates.size * 0.25).toInt).map { j =>
      fresh(base.size + j, lo + (r.nextDouble() * (hi - lo)).toLong, r, seed)
    }
    (updates ++ added).sortBy(d => (d.createdAt, d.id))
  }

  /** `appends` batches of `size` records for the stream: about 80%
   * updates of base ids (no id is updated twice) and 20% new ids. */
  def streamAppends(base: IndexedSeq[Deal], seed: Long, appends: Int,
                    size: Int): IndexedSeq[IndexedSeq[NormRow]] = {
    val r = rng(seed, 3)
    val ids = r.shuffle(base.indices.toVector).iterator
    var nextNew = base.size.toLong
    val end = Days * 86400L
    (0 until appends).map { _ =>
      (0 until size).map { _ =>
        val d =
          if (r.nextDouble() < 0.8 && ids.hasNext) revise(base(ids.next()), r, seed)
          else { nextNew += 1; fresh(nextNew - 1, (r.nextDouble() * end).toLong, r, seed) }
        d.normalized
      }
    }
  }

  /** Page bodies `{"deals": [...]}` of `count` deals each, in order. */
  def renderPages(rows: IndexedSeq[Deal], count: Int): IndexedSeq[Array[Byte]] =
    rows.grouped(count).map(p => page(p)).toIndexedSeq

  def page(rows: Seq[Deal]): Array[Byte] =
    rows.map(_.json).mkString("{\"deals\":[", ",", "]}").getBytes(UTF_8)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parses a page body back into deals (the setup check's reader). */
  def parsePage(body: Array[Byte]): Seq[Deal] =
    mapper.readTree(body).get("deals").elements().asScala.map { n =>
      Deal(n.get("id").asLong, n.get("created_at").asText, n.get("customer_id").asLong,
        new java.math.BigDecimal(n.get("amount").asText).movePointRight(2).longValueExact,
        n.get("event_type").asText, n.get("props").asText)
    }.toSeq
}
