package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Source lints over `src/main/scala`, read by path relative to the build
  * root:
  *  - every main builds its session through [[Session.local]]: a
  *    hand-rolled `SparkSession.builder()` registers neither graft's plan
  *    rules (`GraftExtensions`) nor the codegen class-cache cap, so what
  *    it measures is not the engine;
  *  - file-commit protocols (attempt renames, directory swaps, commit
  *    markers) live in `graft.sources`: a Hadoop `FileSystem.rename`
  *    anywhere else is one more hand-rolled protocol that every crash
  *    test would have to cover;
  *  - parquet is read through `PsIO.parquet`: a schema-less
  *    `read.parquet(` anywhere else infers its schema in a Spark job
  *    while the query is only being composed (LazinessSpec);
  *  - no path names one checkout: a literal holding the checkout's
  *    absolute path makes every checkout on the host write the same
  *    fixture files, where
  *    `ExtQueries.FixtureRoot` gives each working directory its own;
  *  - the registry memoizes through its one `SessionCache`: a
  *    `ConcurrentHashMap` memo in ExtQueries throws when a fixture
  *    builds its dependency inside the mapping function, and never
  *    notices a changed data dir. */
class SessionBuilderLintSpec extends AnyFunSuite {

  private lazy val sources: List[Path] = {
    val root = Paths.get("src/main/scala")
    val all = Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(all.nonEmpty, s"no sources under $root")
    all
  }

  /** `path:line` of every line of a source outside `exempt` that `hit`s. */
  private def hits(exempt: Path => Boolean, hit: String => Boolean): List[String] =
    for {
      p <- sources
      if !exempt(p)
      (line, i) <- Files.readAllLines(p).asScala.toList.zipWithIndex
      if hit(line)
    } yield s"$p:${i + 1}"

  test("SparkSession.builder() appears only in Session.scala") {
    val found = hits(_.getFileName.toString == "Session.scala",
      _.contains("SparkSession.builder()"))
    assert(found.isEmpty, "hand-rolled session builders; use Session.local")
  }

  test("a Hadoop FileSystem.rename appears only under graft/sources") {
    val rename = """\b(fs|fs0|logFs)\.rename\(""".r
    val found = hits(_.startsWith(Paths.get("src/main/scala/graft/sources")),
      rename.findFirstIn(_).isDefined)
    assert(found.isEmpty,
      s"file renames outside graft.sources: ${found.mkString(", ")}")
  }

  test("a schema-less parquet read appears only in PsIO") {
    val read = """\bread\s*\.\s*(parquet\(|format\("parquet"\))""".r
    val found = hits(_.getFileName.toString == "PsIO.scala", { line =>
      val code = line.trim
      !code.startsWith("//") && !code.startsWith("*") && read.findFirstIn(code).isDefined
    })
    assert(found.isEmpty,
      s"schema-inferring parquet reads; use PsIO.parquet: ${found.mkString(", ")}")
  }

  test("no source names a path inside one checkout") {
    val checkout = Paths.get("").toAbsolutePath.toString
    val found = hits(_ => false, _.contains("\"" + checkout))
    assert(found.isEmpty,
      s"checkout-absolute paths; use ExtQueries.FixtureRoot: ${found.mkString(", ")}")
  }

  test("ExtQueries memoizes through SessionCache, not a ConcurrentHashMap") {
    val found = hits(_.getFileName.toString != "ExtQueries.scala",
      _.contains("ConcurrentHashMap"))
    assert(found.isEmpty,
      s"hand-rolled registry memos; use ExtQueries.once: ${found.mkString(", ")}")
  }
}
