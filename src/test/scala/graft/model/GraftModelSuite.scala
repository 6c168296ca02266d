package graft.model

import java.nio.file.Files

import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

/** Metastore writes publish whole specs: a write torn mid-stream leaves the
  * previous spec readable, and of two concurrent REGISTERs of one name
  * without OR REPLACE exactly one succeeds. Both run on [[FaultFs]], which
  * interrupts a chosen write deterministically.
  */
class GraftModelSuite extends AnyFunSuite {

  private val ns = Seq("datasource", "atomic")

  private def warehouse(): String =
    s"${FaultFs.Scheme}://${Files.createTempDirectory("graft-model").toAbsolutePath}"

  private def source(path: String, replace: Boolean = false): DataSourceSpec =
    DataSourceSpec("src", "PARQUET", ns, Map("path" -> path), replace = replace)

  test("a spec write torn mid-stream leaves the previous spec readable") {
    val model = new GraftModel(warehouse(), FaultFs.conf)
    model.saveDataSource(source("/v1"))
    FaultFs.arm(FaultFs.Tear("src_fs.json", after = 10))
    try {
      val e = intercept[java.io.IOException](model.saveDataSource(source("/v2", replace = true)))
      assert(e.getMessage.contains("torn write"))
    } finally FaultFs.disarm()
    assert(model.loadDataSource(ns, "src").map(_.options("path")) == Some("/v1"))
    // the next replace lands whole
    model.saveDataSource(source("/v3", replace = true))
    assert(model.loadDataSource(ns, "src").map(_.options("path")) == Some("/v3"))
  }

  test("of two interleaved REGISTERs of one name, exactly one succeeds") {
    val wh = warehouse()
    val (a, b) = (new GraftModel(wh, FaultFs.conf), new GraftModel(wh, FaultFs.conf))
    var second: Try[String] = null
    // writer B publishes just before writer A creates the spec file
    FaultFs.arm(FaultFs.Before("src_fs.json", () => second = Try(b.saveDataSource(source("/b")))))
    val first = try Try(a.saveDataSource(source("/a"))) finally FaultFs.disarm()
    assert(second != null, "writer B never ran")
    assert(second.isSuccess, second)
    assert(first.isFailure && first.failed.get.getMessage.contains("already exists"), first)
    assert(a.loadDataSource(ns, "src").map(_.options("path")) == Some("/b"))
  }
  test("a local replace drops the checksum a Hadoop write left, and its temp file") {
    val wh = Files.createTempDirectory("graft-model-local").toAbsolutePath.toString
    val model = new GraftModel(wh)
    // a spec written through Hadoop's checksummed local file system, as
    // older warehouses hold them: `.src_fs.json.crc` sits beside it
    val spec = new org.apache.hadoop.fs.Path(s"$wh/datasource/atomic/src_fs.json")
    val fs = spec.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val out = fs.create(spec, true)
    try out.write(org.json4s.jackson.Serialization.write(source("/v0"))(GraftModel.formats).getBytes("UTF-8"))
    finally out.close()
    assert(model.loadDataSource(ns, "src").map(_.options("path")) == Some("/v0"))
    model.saveDataSource(source("/v1", replace = true))
    assert(model.loadDataSource(ns, "src").map(_.options("path")) == Some("/v1"))
    assert(new java.io.File(s"$wh/datasource/atomic").list().toSeq.sorted == Seq("src_fs.json"))
  }
}
