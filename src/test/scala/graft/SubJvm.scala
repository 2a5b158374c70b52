package graft

/** Runs a main of the test classpath in a fresh JVM, for specs whose
  * subject is a pristine JVM or what one leaves behind when it exits.
  */
object SubJvm {
  /** The JDK 17 add-opens Spark needs outside spark-submit (as build.sbt's). */
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Runs `mainClass` with `args` under the extra `jvmArgs` until it
    * exits; returns its exit code and its stdout and stderr, merged.
    */
  def run(mainClass: String, args: Seq[String],
      jvmArgs: Seq[String] = Seq("-Xmx4g")): (Int, String) = {
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val cmd = Seq(javaBin) ++ addOpens ++ jvmArgs ++
      Seq("-cp", sys.props("java.class.path"), mainClass) ++ args
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    (proc.waitFor(), out)
  }
}
