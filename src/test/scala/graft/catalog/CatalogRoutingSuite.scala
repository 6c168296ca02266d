package graft.catalog

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Structural guard for [[GraftCatalog]]: it only routes. Per-source table
  * operations live on [[CatalogUnit]], so the catalog names no concrete
  * unit class and no source type, and it walks an identifier to its
  * datasource in exactly one private resolver.
  */
class CatalogRoutingSuite extends AnyFunSuite {

  private val ConcreteUnit = """\b\w+CatalogUnit\b""".r

  test("GraftCatalog names no concrete unit or source type and resolves in one place") {
    assert(ConcreteUnit.findFirstIn("case j: JdbcCatalogUnit =>").isDefined)
    assert(ConcreteUnit.findFirstIn("(CatalogUnit, Seq[String])").isEmpty)
    val file = Paths.get("src/main/scala/graft/catalog/GraftCatalog.scala")
    assert(Files.isRegularFile(file), s"run from the repository root: ${file.toAbsolutePath}")
    val lines = Files.readAllLines(file).asScala.toIndexedSeq
    val named = lines.zipWithIndex.collect {
      case (l, i) if ConcreteUnit.findFirstIn(l).isDefined || l.contains("SourceType") =>
        s"$file:${i + 1}: ${l.trim}"
    }
    assert(named.isEmpty, named.mkString("route per-source work through CatalogUnit:\n", "\n", ""))
    val walks = lines.indices.filter(lines(_).contains("findParentDataSource("))
    assert(walks.size == 1, walks.map(i => s"$file:${i + 1}").mkString("one resolver walks: ", ", ", ""))
    val owner = lines.take(walks.head + 1).reverseIterator.map(_.trim)
      .find(l => """^(private |override )*def """.r.findFirstIn(l).isDefined)
    assert(owner.exists(_.startsWith("private def")), s"the walk sits in $owner")
  }
}
