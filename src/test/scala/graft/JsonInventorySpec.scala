package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** The one-JSON-codec STRUCTURAL INVARIANT: framework metadata (graph
  * models, backend records, tool output) is read and written through the
  * shared mapper in `graft.util.Json`, so its strictness (no trailing
  * tokens, checked field reads) holds everywhere. A source scan in the
  * SessionInventorySpec style: a second mapper anywhere in `src/main`
  * fails here. */
class JsonInventorySpec extends AnyFunSuite {

  private val codec = Paths.get("src/main/scala/graft/util/Json.scala")
  private val NewMapper = """new\s+([\w$]+\.)*ObjectMapper\b""".r

  test("json inventory: new ObjectMapper appears in src/main only inside util/Json.scala") {
    // also catches the fully qualified `new com.fasterxml.jackson.databind.ObjectMapper`
    val sites = SessionInventorySpec.sites(l => NewMapper.findFirstIn(l).isDefined)
    val stray = sites.filterNot(_._1 == codec)
    assert(stray.isEmpty, "ObjectMapper built outside util/Json.scala — use graft.util.Json: " +
      stray.map { case (p, n) => s"$p:$n" }.mkString(", "))
    assert(sites.count(_._1 == codec) === 1, "util/Json.scala must hold exactly one mapper")
  }
}
