package perfbench

/** Minimal JSON writer for the raw result file (no JSON library is on the
  * runtime classpath that the benchmark may rely on). */
object Json {
  final case class Obj(fields: (String, Any)*) {
    def ++(o: Obj): Obj = Obj(fields ++ o.fields: _*)
  }

  def write(v: Any): String = {
    val sb = new StringBuilder
    emit(sb, v)
    sb.toString
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  private def emit(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => emit(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => emit(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case o: Obj =>
      sb.append('{')
      o.fields.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        str(sb, k); sb.append(':'); emit(sb, x)
      }
      sb.append('}')
    case m: scala.collection.Map[_, _] =>
      emit(sb, Obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*))
    case xs: Iterable[_] =>
      sb.append('[')
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); emit(sb, x) }
      sb.append(']')
    case xs: Array[_] => emit(sb, xs.toSeq)
    case other => str(sb, other.toString)
  }
}
