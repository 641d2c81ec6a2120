package graft

import scala.jdk.CollectionConverters._

/** Keeps the session profile in one place: only [[Defaults]] may call
  * the SparkSession builder. Every entry point — and the test session
  * every spec runs on — starts from [[Defaults.sessionBuilder]] and
  * adds only what it really overrides, so a setting added to the
  * profile reaches all of them and a test cannot pass on a profile
  * users never run. */
class SessionProfileSpec extends SparkSpec {

  test("only Defaults builds a SparkSession") {
    val self = "graft/SessionProfileSpec.scala"
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }
    assert(sources.exists(_.endsWith("graft/Defaults.scala")))
    assert(sources.exists(_.endsWith(self)))
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val offenders = sources
      .filterNot(p => p.endsWith("graft/Defaults.scala") || p.endsWith(self))
      .flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala
        lines.zipWithIndex.collect {
          case (line, i) if builder.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }
    assert(offenders.isEmpty,
      s"SparkSession built outside graft.Defaults — start from " +
        s"Defaults.sessionBuilder() instead:\n${offenders.mkString("\n")}")
  }

  test("the shared test session carries the product profile") {
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "4096")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
  }
}
