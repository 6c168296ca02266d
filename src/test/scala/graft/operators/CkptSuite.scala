package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Structural guard for [[Ckpt]]: the one switch
  * (`spark.graft.checkpoint.reliable`) only covers every lineage cut while
  * every cut goes through `operators/Ckpt.scala`. A direct
  * `localCheckpoint` elsewhere would stay executor-local under the conf.
  */
class CkptSuite extends AnyFunSuite {

  // DataFrame cuts only: a Delta log's `handle.checkpoint(spark, v)` has
  // arguments other than an eager flag and does not match
  private val DirectCut =
    """\.localCheckpoint\(|\.checkpoint\(\s*((eager\s*=\s*)?(true|false))?\s*\)""".r

  test("no DataFrame lineage cut in src/main outside operators/Ckpt.scala") {
    Seq("df.localCheckpoint(true)", "df.checkpoint()", "df.checkpoint(eager = false)")
      .foreach(l => assert(DirectCut.findFirstIn(l).isDefined, l))
    assert(DirectCut.findFirstIn("val (v, rows) = handle.checkpoint(spark, v2)").isEmpty)
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val ckpt = root.resolve("graft/operators/Ckpt.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != ckpt).toSeq
    assert(files.contains(root.resolve("graft/operators/Dedup.scala")), "scan missed Dedup.scala")
    val hits = for {
      f: Path <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if DirectCut.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("cut lineage through Ckpt.cut / Ckpt.Loop:\n", "\n", ""))
  }
}
