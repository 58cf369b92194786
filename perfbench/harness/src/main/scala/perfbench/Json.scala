package perfbench

/** Minimal JSON writer for the harness output. Result values that JSON
  * cannot carry exactly are tagged: decimals as {"d": "<plain string>"},
  * timestamps and dates as {"t": "<ISO local date-time>"}, non-finite
  * doubles as {"f": "NaN" | "Infinity" | "-Infinity"}. */
object Json {
  /** Already-encoded JSON, inserted verbatim. */
  final case class Raw(json: String)

  def obj(kv: (String, Any)*): String = enc(kv.toMap)

  /** Converts one result cell to something `enc` writes losslessly. */
  def value(v: Any): Any = v match {
    case d: java.math.BigDecimal => Map("d" -> d.toPlainString)
    case t: java.sql.Timestamp => Map("t" -> t.toLocalDateTime.toString)
    case t: java.time.LocalDateTime => Map("t" -> t.toString)
    case d: java.sql.Date => Map("t" -> d.toLocalDate.atStartOfDay.toString)
    case x: Double if x.isNaN || x.isInfinite => Map("f" -> x.toString)
    case r: org.apache.spark.sql.Row => r.toSeq.map(value)
    case s: scala.collection.Seq[_] => s.map(value)
    case other => other
  }

  def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case Raw(j) => j
    case s: String => quote(s)
    case b: Boolean => b.toString
    case x: Double => x.toString
    case x: Float => x.toDouble.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Short => x.toString
    case x: Byte => x.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + enc(x) }
        .mkString("{", ",", "}")
    case s: scala.collection.Iterable[_] => s.map(enc).mkString("[", ",", "]")
    case a: Array[_] => a.map(enc).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
