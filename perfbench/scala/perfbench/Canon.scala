package perfbench

import java.math.{BigDecimal => JBig, RoundingMode}
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Canonical result digest, following the rules `tools/check.py` uses to
  * compare an engine result with its DuckDB oracle: columns in name order,
  * floats rounded to 9 decimals (NaN kept as `NaN`), every value
  * stringified, rows sorted. The digest is sha256 over the sorted rows, so
  * it is independent of partitioning and row order.
  */
object Canon {
  private def num(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isInfinite) v.toString
    else new JBig(v).setScale(9, RoundingMode.HALF_EVEN).stripTrailingZeros
      .toPlainString

  def value(v: Any): String = v match {
    case null => "None"
    case d: Double => num(d)
    // a float is rounded from its shortest decimal form, so the digest
    // does not depend on how the value was widened
    case f: Float =>
      if (f.isNaN) "NaN" else num(new JBig(java.lang.Float.toString(f)).doubleValue)
    case r: Row => r.toSeq.map(value).mkString("(", ", ", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ": " + value(x) }.sorted
        .mkString("{", ", ", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ", ", "]")
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case x => x.toString
  }

  /** (rows, sha256 hex) of a collected result with the given column names. */
  def digest(columns: Seq[String], rows: Array[Row]): (Long, String) = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001"))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}
