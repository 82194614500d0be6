package perfbench

/** Minimal JSON writer for the raw-result file run.py reads. Values are
  * Map[String, _], Seq[_], Array[_], String, Boolean, numbers or null.
  */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; emit(sb, v); sb.toString }

  private def emit(sb: StringBuilder, v: Any): Unit = v match {
    case null | None     => sb.append("null")
    case Some(x)         => emit(sb, x)
    case s: String       => str(sb, s)
    case b: Boolean      => sb.append(b)
    case d: Double       =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(java.lang.Double.toString(d))
    case f: Float        => emit(sb, f.toDouble)
    case n: Int          => sb.append(n)
    case n: Long         => sb.append(n)
    case n: BigInt       => sb.append(n.toString)
    case m: Map[_, _]    =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        str(sb, k.toString); sb.append(':'); emit(sb, x)
      }
      sb.append('}')
    case a: Array[_]     => emit(sb, a.toSeq)
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; emit(sb, x) }
      sb.append(']')
    case other           => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"'          => sb.append("\\\"")
      case '\\'         => sb.append("\\\\")
      case '\n'         => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c            => sb.append(c)
    }
    sb.append('"')
  }
}
