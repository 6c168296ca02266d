package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Structural guard for the gate-fixture publish protocol: every fixture in
  * `src/main/scala/graft/queries` is published by `QueryPack.fixtureDir`
  * (staged, then one rename) or `QueryPack.fixtureOnce` (completion marker
  * written last). A hand-rolled rename, staging name or marker elsewhere is
  * a second protocol whose crash and race handling nobody tests.
  */
class FixturePublishSuite extends AnyFunSuite {

  private val Publish = """renameTo\(|System\.nanoTime\(\)|createNewFile\(|Files\.createFile\(""".r

  private val Helpers = Seq("def fixtureDir(", "def fixtureOnce(")

  // a path built by hand beside QueryPack.wh misses its fingerprint suffix
  private val WarehousePrefix = "/tmp/graft-verify-wh-"

  /** Line indices of the two helpers in QueryPack.scala, from each `def` to
    * the brace that closes its body.
    */
  private def helperLines(lines: IndexedSeq[String]): Set[Int] =
    Helpers.map(d => lines.indexWhere(_.contains(d))).filter(_ >= 0).flatMap { start =>
      var (i, depth, opened) = (start, 0, false)
      while (!(opened && depth == 0)) {
        lines(i).foreach {
          case '{' => depth += 1; opened = true
          case '}' => depth -= 1
          case _ =>
        }
        i += 1
      }
      start until i
    }.toSet

  test("gate fixtures publish only through QueryPack.fixtureDir / fixtureOnce") {
    Seq("if (!staging.renameTo(fixture))", "val t = System.nanoTime()",
      "done.createNewFile(): Unit", "java.nio.file.Files.createFile(loaded.toPath)")
      .foreach(l => assert(Publish.findFirstIn(l).isDefined, l))
    val root = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val files = Files.list(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.contains(root.resolve("CatalogQueries.scala")), "scan missed CatalogQueries.scala")
    val hits = for {
      f: Path <- files.sortBy(_.toString)
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      allowed = if (f.getFileName.toString == "QueryPack.scala") helperLines(lines) else Set.empty[Int]
      (line, i) <- lines.zipWithIndex
      if !allowed(i) && Publish.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      hits.mkString("publish fixtures through QueryPack.fixtureDir / fixtureOnce:\n", "\n", ""))
    val queryPack = Files.readString(root.resolve("QueryPack.scala"))
    Helpers.foreach(d => assert(queryPack.contains(d), s"QueryPack.scala has no `$d`"))
  }

  test("only QueryPack.wh spells the gate warehouse path") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val queryPack = root.resolve("graft/queries/QueryPack.scala")
    val hits = for {
      f: Path <- Files.walk(root).iterator().asScala.toSeq.sortBy(_.toString)
      if f.toString.endsWith(".scala") && f != queryPack
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(WarehousePrefix)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("build warehouse paths with QueryPack.wh:\n", "\n", ""))
    assert(Files.readString(queryPack).contains(WarehousePrefix), "QueryPack.scala lost the warehouse path")
  }
}
