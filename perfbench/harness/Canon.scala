package perfbench

import org.apache.spark.sql.Row

/** Canonical text of a collected result, shared with `canon.py`.
  *
  * Columns are ordered by name (the oracle compare sorts them the same
  * way); each value is written exactly, with a type-family tag, so two
  * results digest equal only when every value is identical: integers as
  * digits, floating point as the bit pattern of the double (a float is
  * widened first, as DuckDB's Python client widens FLOAT), decimals as
  * their plain string, timestamps as UTC epoch microseconds, dates as
  * epoch days. Row order is kept: every judged query has a total ORDER BY.
  */
object Canon {

  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b:1" else "b:0"
    case i: Byte => s"i:$i"
    case i: Short => s"i:$i"
    case i: Int => s"i:$i"
    case i: Long => s"i:$i"
    case i: java.math.BigInteger => s"i:$i"
    case f: Float => dbl(f.toDouble)
    case d: Double => dbl(d)
    case d: java.math.BigDecimal => "d:" + d.toPlainString
    case d: scala.math.BigDecimal => "d:" + d.bigDecimal.toPlainString
    case s: String => s"s${s.length}:$s"
    case t: java.sql.Timestamp =>
      "t:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "t:" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D:" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D:" + d.toEpochDay
    case b: Array[Byte] => "x:" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => "?" + other.getClass.getName + ":" + other
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "f:nan" else "f:" + java.lang.Double.doubleToLongBits(d)

  /** SHA-256 of the header (sorted column names) and every row. */
  def digest(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit =
      md.update((s + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    put(order.map(columns).mkString("|"))
    rows.foreach(r => put(order.map(i => value(r.get(i))).mkString("|")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
