package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards over `src/main/scala`: sessions are built in one
  * place, no main pins a core count, library packages read no
  * environment variable, and the raw testdata is read only through the
  * declared schemas — so a copied session builder, an env-gated profiler
  * hook or a schema-inferring read fails the suite instead of slipping
  * in. */
class SourceGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  /** (path relative to `graft/`, text) of every Scala source. */
  private lazy val sources: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString.replace('\\', '/') ->
        new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  /** Sources in `scope` (by relative path) whose text is a `hit`. */
  private def offenders(scope: String => Boolean, hit: String => Boolean): Seq[String] =
    sources.collect { case (rel, text) if scope(rel) && hit(text) => rel }.sorted

  test("SparkSession.builder is called only by the session factory and the contract mains") {
    assert(sources.nonEmpty)
    val allowed = Set("core/Session.scala", "Bench.scala", "Verify.scala")
    val found = offenders(!allowed(_), _.contains("SparkSession.builder"))
    assert(found.isEmpty, s"build sessions through graft.core.Session.local: $found")
  }

  test("no main hard-codes a local[32] master") {
    val found = offenders(_ => true, _.contains("\"local[32]\""))
    assert(found.isEmpty, s"local[32] literal in: $found")
  }

  test("library packages read no environment variable") {
    val libraryDirs = Seq("core", "model", "store", "state", "analytics",
      "functions", "streaming", "sources", "multimodal", "queries")
    val found = offenders(
      rel => libraryDirs.exists(d => rel.startsWith(d + "/")) && rel != "core/Session.scala",
      text => text.contains("sys.env") || text.contains("System.getenv"))
    assert(found.isEmpty, s"environment reads in library code: $found")
  }

  test("only core/Tables.scala reads the raw testdata parquet") {
    val found = offenders(_ != "core/Tables.scala",
      text => text.contains("read.parquet(s\"$sfDir/") || text.contains("read.parquet(s\"$dir/"))
    assert(found.isEmpty, s"read the raw tables through Tables.read (declared schemas): $found")
  }
}
