package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[Session.local]]: a hand-rolled
  * `SparkSession.builder()` registers neither graft's plan rules
  * (`GraftExtensions`) nor the codegen class-cache cap, so what it
  * measures is not the engine. Reads the sources by path relative to the
  * build root. */
class SessionBuilderLintSpec extends AnyFunSuite {

  test("SparkSession.builder() appears only in Session.scala") {
    val root = Paths.get("src/main/scala")
    val sources = Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(sources.nonEmpty, s"no sources under $root")
    val hits = for {
      p <- sources
      if p.getFileName.toString != "Session.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("SparkSession.builder()")
    } yield s"$p:${i + 1}"
    assert(hits.isEmpty, "hand-rolled session builders; use Session.local")
  }
}
