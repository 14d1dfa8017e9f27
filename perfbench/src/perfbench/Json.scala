package perfbench

/** Minimal JSON writer for the result line and span records. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => Gen.quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case other => throw new IllegalArgumentException(s"no JSON form for $other")
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${Gen.quote(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
