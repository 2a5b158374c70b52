package graftbench

import scala.collection.mutable

/** Minimal JSON object writer for the harness's result file. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]

  private def key(k: String): String = Json.quote(k) + ":"

  def num(k: String, v: Double): Json = { fields += key(k) + Json.number(v); this }
  def str(k: String, v: String): Json = { fields += key(k) + Json.quote(v); this }
  def nums(k: String, vs: Seq[Double]): Json = {
    fields += key(k) + vs.map(Json.number).mkString("[", ",", "]"); this
  }
  def strs(k: String, vs: Seq[String]): Json = {
    fields += key(k) + vs.map(Json.quote).mkString("[", ",", "]"); this
  }
  def obj(k: String, o: Json): Json = { fields += key(k) + o.render; this }

  def render: String = fields.mkString("{", ",", "}")
}

object Json {
  def number(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
