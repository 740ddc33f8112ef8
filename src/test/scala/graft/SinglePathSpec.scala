package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scans that keep each path single: one parse doorway, one scratch
  * helper, and no SQL text run in the MCP server except through them. */
class SinglePathSpec extends AnyFunSuite {

  private def sources(root: String): Seq[(Path, Seq[String])] =
    Files.walk(Paths.get(root)).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readAllLines(p).asScala.toSeq).toSeq

  private def hits(root: String, token: String): Seq[String] =
    for ((p, lines) <- sources(root); (l, i) <- lines.zipWithIndex if l.contains(token))
      yield s"${p.getFileName}:${i + 1}"

  test("parsePlan occurs only in GraftShims") {
    val files = hits("src/main/scala", "parsePlan").map(_.takeWhile(_ != ':')).toSet
    assert(files == Set("GraftShims.scala"), hits("src/main/scala", "parsePlan"))
  }

  test("createTempDirectory occurs only in the scratch helper") {
    val found = hits("src/main/scala", "createTempDirectory")
    assert(found.size == 1 && found.head.startsWith("GraftSession.scala:"), found)
  }

  test("the MCP server runs no SQL text") {
    assert(hits("src/main/scala/graft/mcp", ".sql(").isEmpty)
  }
}
