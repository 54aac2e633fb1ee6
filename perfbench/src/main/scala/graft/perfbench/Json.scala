package graft.perfbench

/** Minimal JSON writer for the result lines (numbers keep all their digits). */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
