package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Every string the driver artifacts write is valid JSON that reads back
  * as the original text.
  */
class JsonStringSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("quote, backslash, tab, CR and other control chars are escaped") {
    val s = "a\"b\\c\td\re\u0001"
    assert(Verify.jsonString(s) === "\"a\\\"b\\\\c\\td\\re\\u0001\"")
    assert(mapper.readValue(Verify.jsonString(s), classOf[String]) === s)
  }

  test("fixture provenance escapes the file names it writes") {
    val dir = java.nio.file.Files.createTempDirectory("provenance_spec")
    try {
      val name = "a\"b\\c\td.parquet"
      java.nio.file.Files.createFile(dir.resolve(name))
      val json = mapper.readTree(Provenance.fixtureMtimesJson(dir.toString))
      assert(json.size() === 1)
      assert(json.fieldNames().next() === name)
    } finally graft.core.Dirs.deleteTree(dir)
  }
}
