package perfbench

import org.apache.spark.sql.Row

/** Order-sensitive fingerprint of a query result: columns sorted by
  * name, floating values rounded half-even to 6 decimals from their
  * exact binary value (the rounding Python's `'%.6f'` applies), rows in
  * result order, then md5 over the text. Entries order their output
  * totally, so equal results give equal fingerprints.
  */
object Canon {
  def fmt(v: Any): String = v match {
    case null => "NULL"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => new java.math.BigDecimal(d)
        .setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString
    case f: Float => fmt(f.toDouble)
    case b: java.math.BigDecimal => b.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(fmt).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => fmt(k) + "=" + fmt(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case other => other.toString
  }

  /** (row count, md5 hex) of `rows` whose columns are named `names`. */
  def fingerprint(names: Seq[String], rows: Array[Row]): (Long, String) = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      md.update(order.map(i => fmt(r.get(i))).mkString("\u0001").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }
}
