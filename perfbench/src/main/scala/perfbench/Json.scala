package perfbench

/** Just enough JSON output for the records: maps, sequences, strings,
  * numbers, booleans. Doubles print with all their digits. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null                   => "null"
    case RawJson(j)             => j
    case s: String              => str(s)
    case b: Boolean             => b.toString
    case d: Double              => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float               => apply(f.toDouble)
    case n: Int                 => n.toString
    case n: Long                => n.toString
    case o: Option[_]           => o.fold("null")(apply)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]        => xs.map(apply).mkString("[", ",", "]")
    case p: Product if p.productArity == 0 => str(p.toString)
    case other                  => str(other.toString)
  }
}
