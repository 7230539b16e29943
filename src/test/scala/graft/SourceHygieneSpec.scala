package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A literal NUL in source once shipped inside a `concat_ws` separator and
  * silently changed every doc_id; no file under `src/` may hold one. */
class SourceHygieneSpec extends AnyFunSuite {

  test("no file under src/ contains a NUL byte") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"expected the source tree at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
                finally walk.close()
    assert(files.nonEmpty)
    val withNul = files.filter(f => Files.readAllBytes(f).contains(0.toByte))
    assert(withNul.isEmpty, s"NUL bytes in: ${withNul.mkString(", ")}")
  }
}
