package graftbench

import graft.analyze.Compiler
import graft.parse.YamlLoader

/** Loads and compiles a YAML project without Spark and prints
  * `sources rules relations outputs`; used by the benchmark's tests to
  * show that every generated validate_wide project compiles.
  */
object ProjectCheck {
  def main(args: Array[String]): Unit = {
    val cp = new Compiler(YamlLoader.load(args(0))).compile()
    println(Seq(cp.sources.size, cp.sources.map(_.rules.size).sum,
      cp.relations.size, cp.outputs.size).mkString(" "))
  }
}
