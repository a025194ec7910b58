package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps copy-pasted plumbing from growing back into the main sources one
  * copy at a time: sessions come from [[Session.local]], JSON strings are
  * escaped by json4s.
  */
class SourceLintSpec extends AnyFunSuite {
  private def linesContaining(needle: String): Seq[String] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex if line.contains(needle)
    } yield s"$f:${i + 1}: ${line.trim}"
  }

  test("src/main builds a SparkSession in exactly one place") {
    val hits = linesContaining("SparkSession.builder()")
    assert(hits.size == 1, hits.mkString("\n"))
  }

  test("src/main holds no hand-written JSON string escaper") {
    val hits = linesContaining("case c if c < ' '")
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
