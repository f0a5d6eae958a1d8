package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a query result that DuckDB output can be
  * rendered to identically (see `oracle/make_digests.py`): columns sorted
  * by name, each value rendered exactly (doubles as their full binary
  * expansion, timestamps as epoch microseconds, dates as epoch days),
  * rows sorted by their UTF-8 bytes, SHA-256 over the lot. */
object Digest {

  def render(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => b.toString
    case b: Byte => b.toString
    case s: Short => s.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => plain(d)
    case d: scala.math.BigDecimal => plain(d.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}:${render(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) "0"
    else plain(new java.math.BigDecimal(d))

  private def plain(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), (i.getNano / 1000).toLong)

  /** (row count, hex SHA-256) of rows whose columns are named `cols`. */
  def of(cols: Seq[String], rows: Seq[Seq[Any]]): (Long, String) = {
    val order = cols.indices.sortBy(cols(_))
    val lines = rows.map(r => order.map(i => render(r(i))).mkString("\u0001").getBytes(UTF_8))
      .sortWith((a, b) => java.util.Arrays.compareUnsigned(a, b) < 0)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(cols(_)).mkString("\u0001").getBytes(UTF_8))
    lines.foreach { l => md.update('\n'.toByte); md.update(l) }
    (rows.size.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  def of(df: DataFrame): (Long, String) =
    of(df.columns.toSeq, df.collect().toSeq.map(_.toSeq))

  /** Committed digests: `{"name": {"rows": n, "sha256": "..."}, ...}`. */
  def load(path: String): Map[String, (Long, String)] = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    n.fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("sha256").asText())
    }.toMap
  }
}
