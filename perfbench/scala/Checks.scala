package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Output checks. Pure functions: `None` means the output is right, `Some`
  * says what is wrong. `ChecksTest` feeds each one a corrupted input. */
object Checks {

  private val mapper = new ObjectMapper()

  /** Canonical text of one row, for order-insensitive comparison
    * (decimals compared by value, not by scale). */
  def canon(values: Seq[Any]): String = values.map {
    case null => "null"
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case x => x.toString
  }.mkString("|")

  /** Multiset equality of two row sets given as canonical strings. */
  def sameRows(what: String, expected: Seq[String], actual: Seq[String]): Option[String] = {
    val (e, a) = (expected.sorted, actual.sorted)
    if (e == a) None
    else {
      val missing = e.diff(a).headOption.getOrElse("-")
      val extra = a.diff(e).headOption.getOrElse("-")
      Some(s"$what: ${e.size} rows expected, ${a.size} read; " +
        s"first missing [$missing], first unexpected [$extra]")
    }
  }

  private def parseArray(body: String): Either[String, Seq[JsonNode]] =
    try {
      val n = mapper.readTree(body)
      if (n == null || !n.isArray) Left("body is not a JSON array")
      else Right(n.elements().asScala.toSeq)
    } catch { case e: Exception => Left(s"body does not parse: ${e.getMessage.take(80)}") }

  private def cmp(a: JsonNode, b: JsonNode): Int =
    if (a == null || a.isNull) { if (b == null || b.isNull) 0 else -1 }
    else if (b == null || b.isNull) 1
    else if (a.isNumber && b.isNumber) a.decimalValue.compareTo(b.decimalValue)
    else a.asText.compareTo(b.asText)

  /** A `/store` read: a JSON array of row objects carrying every key, at
    * most `limit` of them, ascending on the key tuple. */
  def storeBody(body: String, limit: Int, keys: Seq[String]): Option[String] =
    parseArray(body) match {
      case Left(p) => Some(p)
      case Right(rows) =>
        if (rows.isEmpty) Some("store read returned no rows")
        else if (rows.size > limit) Some(s"${rows.size} rows for limit=$limit")
        else if (rows.exists(r => !r.isObject || keys.exists(k => !r.has(k))))
          Some("a row lacks a key column")
        else rows.sliding(2).collectFirst {
          case Seq(a, b) if keys.iterator.map(k => cmp(a.get(k), b.get(k)))
              .find(_ != 0).getOrElse(0) > 0 =>
            s"rows out of key order: ${keys.map(a.get).mkString(",")} before " +
              keys.map(b.get).mkString(",")
        }
    }

  /** The canonical rows of a JSON array body (each row re-serialized). */
  def jsonRows(body: String): Either[String, Seq[String]] =
    parseArray(body).map(_.map(_.toString))

  /** A `/query` response equals the rows computed once through the library
    * (row order is not part of a rollup's contract). */
  def queryBody(body: String, expected: Seq[String]): Option[String] =
    jsonRows(body) match {
      case Left(p) => Some(p)
      case Right(rows) => sameRows("query rows", expected, rows)
    }

  /** A write response: parses, and reports whether the tag committed. */
  def writeBody(body: String): Either[String, Boolean] =
    try {
      val n = mapper.readTree(body)
      if (n == null || !n.has("committed") || !n.has("version"))
        Left(s"write response lacks committed/version: ${body.take(120)}")
      else Right(n.get("committed").asBoolean)
    } catch { case e: Exception => Left(s"write response does not parse: ${body.take(120)}") }

  /** One ingest cycle folded exactly its drop: the engine read every row of
    * the drop once and the store's version advanced. */
  def dropFolded(dropRows: Long, readRows: Long, before: Long, after: Long): Option[String] =
    if (readRows != dropRows) Some(s"cycle read $readRows rows of a $dropRows-row drop")
    else if (after <= before) Some(s"store version stayed at $before after the cycle")
    else None
}
