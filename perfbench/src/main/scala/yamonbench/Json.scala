package yamonbench

/** Minimal JSON values for the result line and the run records. Numbers
  * render with every digit the double carries (`Double.toString`), and
  * whole numbers without a fraction.
  */
object Json {
  sealed trait Value { def render: String }

  final case class Num(v: Double) extends Value {
    def render: String = {
      require(!v.isNaN && !v.isInfinite, s"non-finite number $v")
      if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
    }
  }

  final case class Str(s: String) extends Value {
    def render: String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case '\r' => b ++= "\\r"
        case '\t' => b ++= "\\t"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }
  }

  final case class Bool(v: Boolean) extends Value { def render: String = v.toString }

  final case class Arr(items: Seq[Value]) extends Value {
    def render: String = items.map(_.render).mkString("[", ", ", "]")
  }

  final case class Obj(fields: Seq[(String, Value)]) extends Value {
    def render: String =
      fields.map { case (k, v) => s"${Str(k).render}: ${v.render}" }
        .mkString("{", ", ", "}")
  }

  def obj(fields: (String, Value)*): Obj = Obj(fields)
}
