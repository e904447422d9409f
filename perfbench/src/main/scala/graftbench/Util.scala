package graftbench

import java.nio.file.{Files, Path}

/** Small helpers shared by the workloads: order statistics, a JSON writer
  * for the result lines, timestamps and directory sizes.
  */
object Util {

  /** Linear-interpolated quantile (q in [0, 1]); NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try {
        var sum = 0L
        val it = st.iterator()
        while (it.hasNext) {
          val f = it.next()
          if (Files.isRegularFile(f)) sum += Files.size(f)
        }
        sum
      } finally st.close()
    }

  /** JSON text of a value built from Maps, Seqs, Strings, numbers, Booleans. */
  def json(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float             => json(f.toDouble)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(json).mkString("[", ",", "]")
    case other                => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }

  /** RFC 3339 UTC spelling the dialect's ASOF/UNTIL accept. */
  def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString
}
