package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Registry fixtures follow their data dir and their working directory:
  *  - a fixture is memoized with its data dir, so composing a query over
  *    a second dir and then the first again reads the first dir's rows,
  *    not the files the second dir left in the fixture's directory;
  *  - fixtures land under `target/tmp` of the process's working
  *    directory ([[ExtQueries.FixtureRoot]]), so a run started from
  *    another directory leaves this one's files alone. */
class FixtureRootSpec extends AnyFunSuite with SparkFixture {

  private val small = "/root/testdata/sf0.001"

  private def manifest(dir: String): Seq[String] =
    SparkEntry.queries("q_file_manifest")(spark, dir)
      .collect().map(_.toString).toSeq

  /** name -> (bytes, mtime) of every file in `dir`. */
  private def snapshot(dir: Path): Map[String, (Seq[Byte], Long)] =
    Using.resource(Files.list(dir))(_.iterator().asScala.toList).map { f =>
      f.getFileName.toString ->
        (Files.readAllBytes(f).toSeq, Files.getLastModifiedTime(f).toMillis)
    }.toMap

  private def rmTree(root: Path): Unit =
    Using.resource(Files.walk(root))(
      _.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.toList)
      .foreach(Files.delete)

  test("a fixture follows its data dir: sf0.001, sf0.01, then sf0.001 again") {
    val first = manifest(small)
    val other = manifest("/root/testdata/sf0.01")
    assert(first != other, "the two scale factors must give different manifests")
    assert(manifest(small) == first,
      "the third compose read the fixture the second data dir left behind")
  }

  test("a registry run from another working directory writes its " +
      "fixtures there and leaves ours untouched") {
    manifest(small)
    val ours = Paths.get(ExtQueries.ManifestFixtureDir)
    val before = snapshot(ours)
    assert(before.keys.exists(_.endsWith(".parquet")), s"no fixture at $ours")
    val cwd = Files.createTempDirectory("graft-fixture-root")
    try {
      // the child driver: a fresh JVM, its own session, its own cwd
      val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
      val log = cwd.resolve("child.log")
      val pb = new ProcessBuilder(Seq(javaBin, "-Xmx2g",
        "-cp", sys.props("java.class.path"), "graft.Probe",
        "q_file_manifest", small).asJava)
      pb.directory(cwd.toFile)
      pb.redirectErrorStream(true)
      pb.redirectOutput(ProcessBuilder.Redirect.to(log.toFile))
      val child = pb.start()
      try {
        assert(child.waitFor(4, java.util.concurrent.TimeUnit.MINUTES),
          s"child hung; log: ${new String(Files.readAllBytes(log))}")
        assert(child.exitValue() == 0,
          s"child failed; log: ${new String(Files.readAllBytes(log))}")
      } finally { child.destroyForcibly(); () }
      val theirs = cwd.resolve("target/tmp/documents_manifest")
      assert(Files.isDirectory(theirs) &&
        snapshot(theirs).keys.exists(_.endsWith(".parquet")),
        s"the child's fixture is not under its working directory: $theirs")
      assert(snapshot(ours) == before,
        s"the child rewrote this process' fixture at $ours")
    } finally rmTree(cwd)
  }
}
