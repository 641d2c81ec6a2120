package graft.views

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the crash-safe publish protocol in one place: only
  * [[Publish]] may build the `.new`/`.old` sibling of a published
  * path. A second hand-written swap elsewhere would fork the
  * protocol (and its crash recovery) again. */
class PublishSiblingsSpec extends AnyFunSuite {

  test("only the shared publish module builds a .new or .old sibling path") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.endsWith("graft/views/Publish.scala")))
    // a string literal ending in the suffix: ".old", path + ".new",
    // s"$path.old", s"${path}.new"
    val sibling = """\.(new|old)"""".r
    val offenders = sources
      .filterNot(_.endsWith("graft/views/Publish.scala"))
      .flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala
        lines.zipWithIndex.collect {
          case (line, i) if sibling.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }
    assert(offenders.isEmpty,
      s"swap siblings built outside graft.views.Publish — use Publish.replace " +
        s"or Publish.restore instead:\n${offenders.mkString("\n")}")
  }
}
