package pipebench

import graft.Bench.jsonStr

/** Minimal JSON rendering for the result and trace files. */
object Json {

  /** Already-rendered JSON, embedded verbatim. */
  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case Raw(j) => j
    case null => "null"
    case s: String => jsonStr(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => jsonStr(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => jsonStr(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => jsonStr(k) + ":" + value(v) }.mkString("{", ",", "}")
}
