package graft.bench

import org.apache.spark.sql.Row

/** Minimal JSON writer and reader for the benchmark's own files. */
object Json {
  /** Already-rendered JSON, embedded verbatim. */
  final case class Raw(text: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case n: Number => n.toString
    case r: Row => r.toSeq.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def arr(xs: Any*): String = xs.map(value).mkString("[", ",", "]")
  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Parses to plain Scala values: Map, List, String, BigInt, Double,
    * Boolean or null. */
  def parse(text: String): Any = {
    import org.json4s._
    def plain(v: JValue): Any = v match {
      case JObject(fs) => fs.map { case (k, x) => k -> plain(x) }.toMap
      case JArray(xs) => xs.map(plain)
      case JString(s) => s
      case JInt(i) => i
      case JLong(l) => BigInt(l)
      case JDouble(d) => d
      case JDecimal(d) => d.toDouble
      case JBool(b) => b
      case _ => null
    }
    plain(org.json4s.jackson.JsonMethods.parse(text))
  }
}
