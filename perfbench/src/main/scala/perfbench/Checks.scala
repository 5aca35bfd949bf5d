package perfbench

import scala.util.hashing.MurmurHash3

/** Output checks. Each returns `None` when the output is right, or the
 * reason it is wrong. They work on collected values, so a test can hand
 * them a corrupted result directly. */
object Checks {

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s).toLong << 32) | (MurmurHash3.stringHash(s, 0x5bd1e995) & 0xffffffffL)

  /** Order-insensitive digest of a multiset of canonical rows. */
  def digest(rows: Iterable[String]): Long = rows.foldLeft(0L)(_ + hash64(_))

  private def rowText(r: NormRow): String = r.productIterator.mkString("\u0001")

  /** The table holds exactly `expected`: same count, no duplicated key,
   * same id set and same digest over every normalized column. */
  def table(actual: Seq[NormRow], expected: Seq[NormRow]): Option[String] = {
    val ids = actual.map(_.id)
    val dup = ids.size - ids.distinct.size
    if (actual.size != expected.size) Some(s"${actual.size} rows, expected ${expected.size}")
    else if (dup > 0) Some(s"$dup duplicated keys")
    else if (ids.toSet != expected.map(_.id).toSet) Some("id set differs")
    else if (digest(actual.map(rowText)) != digest(expected.map(rowText))) {
      val want = expected.map(r => r.id -> r).toMap
      val bad = actual.filter(r => !want.get(r.id).contains(r)).take(1)
      Some(s"column digest differs (e.g. $bad)")
    } else None
  }

  /** After an upsert: the table is the base overlaid with the revision
   * (so every revised row carries its revision and new ids are added),
   * and no staging or swap table is left behind. */
  def upsert(actual: Seq[NormRow], base: Seq[NormRow], revision: Seq[NormRow],
             tables: Seq[String]): Option[String] = {
    val leftover = tables.filter(t => t.contains("_staging") || t.contains("__swap_"))
    if (leftover.nonEmpty) Some(s"left behind: ${leftover.mkString(", ")}")
    else table(actual, merge(base, revision))
  }

  /** `base` with every row of `changes` replacing the row with its id. */
  def merge(base: Seq[NormRow], changes: Seq[NormRow]): Seq[NormRow] = {
    val byId = changes.map(r => r.id -> r).toMap
    base.filterNot(r => byId.contains(r.id)) ++ changes
  }

  /** A query's row count and content digest equal the recorded ones. */
  def query(name: String, rows: Long, digest: Long,
            recorded: Map[String, (Long, Long)]): Option[String] =
    recorded.get(name) match {
      case None => Some(s"$name: no recorded digest")
      case Some((n, _)) if n != rows => Some(s"$name: $rows rows, recorded $n")
      case Some((_, d)) if d != digest => Some(s"$name: digest $digest, recorded $d")
      case _ => None
    }

  /** Streaming distinct estimates equal the same sketch merge in batch. */
  def estimates(actual: Map[String, Double], expected: Map[String, Double]): Option[String] =
    if (actual.keySet != expected.keySet)
      Some(s"groups ${actual.keySet.toSeq.sorted}, expected ${expected.keySet.toSeq.sorted}")
    else expected.collectFirst {
      case (g, e) if math.abs(actual(g) - e) > 1e-9 * math.max(1.0, math.abs(e)) =>
        s"$g: estimate ${actual(g)}, expected $e"
    }

  /** Canonical text of one query output value. Floating-point values are
   * rounded to 6 significant digits, so a plan change that reorders a sum
   * cannot flip the digest through its low bits. */
  def canonical(v: Any): String = v match {
    case null => "null"
    case d: Double => roundFloat(d)
    case f: Float => roundFloat(f.toDouble)
    case b: java.math.BigDecimal => roundFloat(b.doubleValue)
    case b: scala.math.BigDecimal => roundFloat(b.toDouble)
    case r: org.apache.spark.sql.Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => canonical(k) + "->" + canonical(x) }.toSeq.sorted.mkString("{", ",", "}")
    case bytes: Array[Byte] => "0x" + bytes.map(b => f"$b%02x").mkString
    case xs: Iterable[_] => xs.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }

  private def roundFloat(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toString
}
