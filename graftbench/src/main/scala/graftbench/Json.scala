package graftbench

import scala.collection.mutable

/** A JSON object written field by field; a later field replaces an
  * earlier one of the same name. */
final class Json {
  private val fields = mutable.LinkedHashMap.empty[String, String]

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case j: Json => j.render()
    case other => str(other.toString)
  }

  def field(name: String, v: Any): Unit = fields(name) = value(v)

  def ops(name: String, rs: Seq[Main.OpResult]): Unit = field(name, rs.map(opJson))

  def opJson(r: Main.OpResult): Map[String, Any] = Map("name" -> r.name,
    "s" -> r.seconds, "rows" -> r.rows, "hash" -> r.hash, "error" -> r.error,
    "jobs" -> r.jobs, "phases" -> r.phases)

  def passes(name: String, ps: Seq[Main.PassResult]): Unit =
    field(name, ps.map(p => Map("wall_s" -> p.wall, "ops" -> p.ops.map(opJson),
      "persisted_rdds" -> p.persistedRdds, "retained_mb" -> p.retainedMb)))

  def digests(name: String, ds: Seq[(String, Long, String)]): Unit =
    field(name, ds.map { case (k, n, h) => Map("name" -> k, "rows" -> n, "hash" -> h) })

  def render(): String = fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
