package graft.core

/** SQL text fragments shared by the compiler's probe and the planners. */
object Sql {

  /** Backtick-quote an identifier (reference: u_add_backticks.sql). */
  def q(name: String): String = "`" + name.replace("`", "``") + "`"

  /** `base` followed by a parameter's struct-key walk: base.`k1`.`k2`. */
  def withKeys(base: String, keys: Seq[String]): String =
    base + keys.map(k => "." + q(k)).mkString
}
