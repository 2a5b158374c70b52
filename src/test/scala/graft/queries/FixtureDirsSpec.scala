package graft.queries

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The temp dirs the query fixtures keep while a JVM runs are gone once
  * it exits. Only a fresh JVM can show that, so the queries run in
  * [[FixtureDirsProbe]] with a `java.io.tmpdir` of this spec's own.
  */
class FixtureDirsSpec extends AnyFunSuite {
  test("a JVM that ran the fixture queries leaves no graft_* dir in its tmpdir") {
    val tmp = Files.createTempDirectory("fixture_dirs_spec")
    try {
      val (code, out) = graft.SubJvm.run("graft.queries.FixtureDirsProbe",
        Seq("/root/testdata/sf0.001"), Seq("-Xmx2g", s"-Djava.io.tmpdir=$tmp"))
      assert(code === 0, out.takeRight(2000))
      val made = out.linesIterator.find(_.startsWith("PROBE_DIRS "))
        .map(_.split(" ").toSeq.tail).getOrElse(fail(out.takeRight(2000)))
      Seq("graft_hub_mat", "graft_out_file", "graft_stream_src",
        "graft_chunk_src", "graft_runtime_project").foreach { p =>
        assert(made.exists(_.startsWith(p)), s"the probe made no $p dir: $made")
      }
      val left = tmp.toFile.list().filter(_.startsWith("graft_"))
      assert(left.isEmpty, s"left behind: ${left.sorted.mkString(", ")}")
    } finally graft.core.Dirs.deleteTree(tmp)
  }
}
