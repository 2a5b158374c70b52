package graft

/** The starter YAML project shipped as the `runtime_project` resource:
  * `Main init` copies it out, and the driver's YAML-routed queries compile
  * it. Its file list is the `runtime_project.files` resource beside it.
  */
object RuntimeProject {
  private def resource(path: String): java.io.InputStream = {
    val in = getClass.getClassLoader.getResourceAsStream(path)
    require(in != null, s"missing resource $path")
    in
  }

  /** Copies every listed file to `dir`, replacing existing ones. */
  def copyTo(dir: java.nio.file.Path): Unit = {
    val list = scala.io.Source.fromInputStream(resource("runtime_project.files"), "UTF-8")
    val files = try list.getLines().map(_.trim).filter(_.nonEmpty).toList
      finally list.close()
    files.foreach { f =>
      val in = resource(s"runtime_project/$f")
      val target = dir.resolve(f)
      java.nio.file.Files.createDirectories(target.getParent)
      try java.nio.file.Files.copy(in, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
    }
  }
}
