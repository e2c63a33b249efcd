package graftbench

/** Minimal JSON writer for the benchmark's own output (kept apart from the
  * program's `graft.serve.Json`, so a change there cannot alter how the
  * benchmark reports). */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def write(v: Any): String = {
    val sb = new StringBuilder
    w(v, sb)
    sb.toString
  }

  private def w(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => w(x, sb)
    case Obj(fs) =>
      sb.append('{')
      fs.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(", ")
        quote(k, sb); sb.append(": "); w(x, sb)
      }
      sb.append('}')
    case m: scala.collection.Map[_, _] => w(Obj(m.toSeq.map { case (k, x) => k.toString -> x }), sb)
    case s: String => quote(s, sb)
    case b: Boolean => sb.append(b)
    case i: Int => sb.append(i)
    case l: Long => sb.append(l)
    case d: Double => if (java.lang.Double.isFinite(d)) sb.append(d) else sb.append("null")
    case it: Iterable[_] =>
      sb.append('[')
      it.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(", "); w(x, sb) }
      sb.append(']')
    case other => quote(other.toString, sb)
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
