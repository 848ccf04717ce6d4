package perfbench

/** The few JSON shapes the harness writes; no parsing needed here. */
object Json {
  sealed trait Value
  final case class Str(v: String) extends Value
  final case class Num(v: Double) extends Value
  final case class Bool(v: Boolean) extends Value
  case object Null extends Value
  /** Already-rendered JSON, e.g. a `Streams.lastAccounting` entry. */
  final case class Raw(v: String) extends Value
  final case class Arr(vs: Seq[Value]) extends Value
  final case class Obj(fields: (String, Value)*) extends Value {
    def ++(o: Obj): Obj = Obj(fields ++ o.fields: _*)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Value): String = v match {
    case Str(s) => quote(s)
    case Num(d) if d.isNaN || d.isInfinite => "null"
    case Num(d) => java.lang.Double.toString(d)
    case Bool(b) => b.toString
    case Null => "null"
    case Raw(s) => s
    case Arr(vs) => vs.map(render).mkString("[", ",", "]")
    case Obj(fs @ _*) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
  }
}
