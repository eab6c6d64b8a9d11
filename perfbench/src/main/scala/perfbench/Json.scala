package perfbench

/** Just enough JSON to write the harness's result document. */
object Json {
  sealed trait Value { def render: String }

  final case class Str(s: String) extends Value {
    def render: String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }

  final case class Num(d: Double) extends Value {
    def render: String =
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
  }

  final case class Bool(b: Boolean) extends Value { def render: String = b.toString }

  final case class Arr(items: Value*) extends Value {
    def render: String = items.map(_.render).mkString("[", ",", "]")
  }

  final case class Obj(fields: (String, Value)*) extends Value {
    def render: String = fields.map { case (k, v) => Str(k).render + ":" + v.render }
      .mkString("{", ",", "}")
    def num(k: String): Double = fields.collectFirst { case (`k`, Num(d)) => d }.getOrElse(0.0)
  }

  def num(d: Double): Value = Num(d)

  import scala.language.implicitConversions
  implicit def fromString(s: String): Value = Str(s)
  implicit def fromDouble(d: Double): Value = Num(d)
  implicit def fromLong(l: Long): Value = Num(l.toDouble)
  implicit def fromInt(i: Int): Value = Num(i.toDouble)
  implicit def fromBoolean(b: Boolean): Value = Bool(b)
}
