package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Canonical digest of a result set, computed identically by the runner
  * (`perfbench/reference.py`) over DuckDB rows: columns in lower-cased name
  * order, each value in a type-neutral text form (doubles as their IEEE
  * bits, decimals without trailing zeros, timestamps as epoch
  * microseconds), rows sorted, then SHA-256. Equal
  * digests mean the same multiset of rows, bit for bit. */
object Digest {
  private def value(v: Any): String = v match {
    case null => "N"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => decimal(b)
    case b: scala.math.BigDecimal => decimal(b.bigDecimal)
    case t: java.sql.Timestamp => micros(t.toInstant)
    case t: java.time.Instant => micros(t)
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "NaN" else f"${java.lang.Double.doubleToRawLongBits(d)}%016x"

  /** Timestamps as microseconds since the epoch (UTC). */
  private def micros(t: java.time.Instant): String =
    (t.getEpochSecond * 1000000L + t.getNano / 1000).toString

  private def decimal(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString

  /** Digest of already-collected rows of a result with these columns. */
  def of(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u001f"))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(lines.mkString("\n").getBytes("UTF-8"))
    s"${rows.length}:" + md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  /** The timed action: one collect that materializes every output column,
    * digested in the same call. */
  def materialize(df: DataFrame): (String, Long) = {
    val rows = df.collect()
    (of(df.columns.toSeq, rows), rows.length.toLong)
  }
}
