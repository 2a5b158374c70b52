package graft.exec

import graft.SampleProject
import graft.analyze.Compiler
import graft.queries.Fixtures
import org.scalatest.funsuite.AnyFunSuite

/** The emitted run script is pinned byte for byte: a refactor of the
  * emitter or of relation binding must leave every project's SQL as it
  * was. Each digest is the SHA-256 of `runSql(_.sourceTable)`, taken
  * before relation binding moved into `CompiledRelation`.
  */
class EmittedSqlDigestSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  test("sample project run.sql matches the pinned digest") {
    val cp = new Compiler(SampleProject.project).compile()
    assert(sha256(new SqlEmitter(cp).runSql(_.sourceTable)) ===
      "4329ef46e37020c9f90883092eaf1ba8598f1fcdf0d307041956906b0637f1d6")
  }

  test("runtime YAML project run.sql matches the pinned digest") {
    assert(sha256(new SqlEmitter(Fixtures.yamlCompiled).runSql(_.sourceTable)) ===
      "fe2f778568c3a3fe3400c25979da651d3c4e965df45f899d39393cc2acbc566d")
  }
}
