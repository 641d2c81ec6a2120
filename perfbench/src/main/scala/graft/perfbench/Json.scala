package graft.perfbench

/** Minimal JSON writer for the harness's raw result file.
  * (`Warehouse.saveJsonReport` does not escape control characters, and
  * the oracle SQL the harness writes is multi-line.) */
object Json {
  sealed trait Value { def render: String }
  private final case class Raw(render: String) extends Value

  def str(s: String): Value = Raw("\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\"")
  def num(d: Double): Value =
    Raw(if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString)
  def num(l: Long): Value = Raw(l.toString)
  def bool(b: Boolean): Value = Raw(b.toString)
  def arr(vs: Seq[Value]): Value = Raw(vs.map(_.render).mkString("[", ",", "]"))
  def obj(kvs: (String, Value)*): Value =
    Raw(kvs.map { case (k, v) => str(k).render + ":" + v.render }.mkString("{", ",", "}"))
  def map(m: Map[String, Long]): Value =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*)

  def write(path: String, v: Value): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), v.render)
}
