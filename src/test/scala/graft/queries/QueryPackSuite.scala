package graft.queries

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** `QueryPack.t` reads parquet through the shared schema memo: a repeated
  * read of unchanged files runs no footer-inference job and yields the
  * schema and rows of an uncached read. The fixture-publish helpers survive
  * a failing writer and a racing build, and the planted-pair builder keeps
  * its key layout.
  */
class QueryPackSuite extends SparkTestBase {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("a second build of each operator_batch gate runs no Spark job") {
    val gates = Seq("text_gopher_quality", "text_gopher_repetition", "q_approx_percentile",
      "text_pii_scrub", "text_c4_clean")
    gates.foreach(g => graft.SparkEntry.queries(g)(spark, sf()))
    val jobs = gates.map(g => g -> jobsOf(graft.SparkEntry.queries(g)(spark, sf())))
    assert(jobs.forall(_._2 == 0), jobs.mkString(", "))
    // the listener does see the inference job an uncached read runs
    assert(jobsOf(spark.read.parquet(s"${sf()}/documents.parquet")) == 1)
  }

  test("a memo hit reads the schema and rows of an uncached read") {
    val dir = tmp("graft-qp-hive")
    spark.range(12).selectExpr("id AS k", "CAST(id AS STRING) AS v",
      "CAST(id % 3 AS INT) AS p", "CAST(id % 2 AS STRING) AS q")
      .write.partitionBy("p", "q").parquet(s"$dir/hive.parquet")
    for ((d, name) <- Seq(sf() -> "lineitem", sf() -> "events", dir -> "hive")) {
      QueryPack.t(spark, d, name)
      var hit: DataFrame = null
      assert(jobsOf { hit = QueryPack.t(spark, d, name) } == 0, name)
      val uncached = QueryPack.ltzTs(spark.read.parquet(s"$d/$name.parquet"))
      assert(hit.schema == uncached.schema, name)
      assert(rows(hit) == rows(uncached), name)
    }
    assert(QueryPack.t(spark, sf(), "events").schema("ts").dataType == TimestampType)
    // partition columns stay last, typed as partition discovery types them
    assert(QueryPack.t(spark, dir, "hive").schema.fields.toSeq.map(f => f.name -> f.dataType) ==
      Seq("k" -> LongType, "v" -> StringType, "p" -> IntegerType, "q" -> IntegerType))
  }

  test("rewriting a table at the same path with a new schema re-infers it") {
    val dir = tmp("graft-qp-ow")
    def columns = QueryPack.t(spark, dir, "kv").schema.fields.toSeq.map(f => f.name -> f.dataType)
    spark.range(3).selectExpr("id AS k", "CAST(id AS STRING) AS v").write.parquet(s"$dir/kv.parquet")
    assert(columns == Seq("k" -> LongType, "v" -> StringType))
    assert(columns == Seq("k" -> LongType, "v" -> StringType))
    spark.range(4).selectExpr("id AS k", "CAST(id AS DOUBLE) * 1.5 AS w", "CAST(id AS INT) AS x")
      .write.mode("overwrite").parquet(s"$dir/kv.parquet")
    assert(jobsOf(assert(columns == Seq("k" -> LongType, "w" -> DoubleType, "x" -> IntegerType))) == 1)
    assert(jobsOf(assert(columns == Seq("k" -> LongType, "w" -> DoubleType, "x" -> IntegerType))) == 0)
    assert(QueryPack.t(spark, dir, "kv").selectExpr("SUM(x)").head().getLong(0) == 6)
  }

  test("each inference conf variant keeps its own entry, and a failed inference stores none") {
    val dir = tmp("graft-qp-conf")
    // a raw NANOS file: Spark's own writer cannot produce one
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    val message = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 c (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/nanos/part-0.parquet"),
      spark.sparkContext.hadoopConfiguration)).withType(message).build()
    try w.write(new SimpleGroupFactory(message).newGroup().append("c", 1000000L)) finally w.close()
    val path = s"$dir/nanos"
    def read(nanosAsLong: String, caseSensitive: String = "false"): DataFrame =
      withConf("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong) {
        withConf("spark.sql.caseSensitive", caseSensitive)(QueryPack.parquet(spark, path))
      }

    assert(jobsOf(assert(read("true").schema("c").dataType == LongType)) == 1)
    assert(jobsOf(assert(read("true").schema("c").dataType == LongType)) == 0)
    // without the legacy conf the column is unreadable: the long-typed entry
    // must not be served, and the failure must not be stored
    for (_ <- 1 to 2) {
      val e = intercept[Exception](read("false"))
      assert(e.getMessage.contains("NANOS"), e.getMessage)
    }
    assert(jobsOf(read("true", caseSensitive = "true")) == 1)
    assert(jobsOf(read("true", caseSensitive = "true")) == 0)
    assert(jobsOf(assert(read("true").collect().head.getLong(0) == 1000000L)) == 1)
  }

  private def text(f: File): String = new String(Files.readAllBytes(f.toPath), UTF_8)

  private def put(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(UTF_8)): Unit
  }

  test("fixtureDir: a writer that throws publishes nothing and leaves no staging tree") {
    val parent = new File(tmp("graft-qp-fx"))
    val target = new File(parent, "fx")
    val e = intercept[IllegalStateException] {
      QueryPack.fixtureDir(target) { st =>
        put(new File(st, "nested/part"), "half")
        throw new IllegalStateException("writer died")
      }
    }
    assert(e.getMessage == "writer died")
    assert(parent.list().isEmpty, parent.list().mkString(", "))
    assert(QueryPack.fixtureDir(target)(st => put(new File(st, "a"), "whole")) == target)
    assert(text(new File(target, "a")) == "whole")
    // a published fixture is served as it is
    QueryPack.fixtureDir(target)(_ => fail("a published fixture was rebuilt"))
  }

  test("fixtureDir: two racing builds publish one tree and the loser's staging is gone") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val parent = new File(tmp("graft-qp-race"))
    val target = new File(parent, "fx")
    // each writer waits for the other, so both pass the exists() check
    // before either renames
    val bothWriting = new java.util.concurrent.CountDownLatch(2)
    def build(tag: String): Future[File] = Future {
      QueryPack.fixtureDir(target) { st =>
        put(new File(st, "who"), tag)
        put(new File(st, "nested/deeper/part"), tag)
        bothWriting.countDown()
        assert(bothWriting.await(60, java.util.concurrent.TimeUnit.SECONDS))
      }
    }
    Seq(build("a"), build("b")).foreach(f => assert(Await.result(f, 2.minutes) == target))
    assert(parent.list().toSeq == Seq("fx"), parent.list().mkString(", "))
    val winner = text(new File(target, "who"))
    assert(Set("a", "b")(winner))
    assert(text(new File(target, "nested/deeper/part")) == winner)
  }

  test("fixtureOnce: a missing marker clears the leftover and rebuilds; a marker skips") {
    val parent = new File(tmp("graft-qp-once"))
    val table = new File(parent, "t")
    val marker = new File(parent, "t.done")
    put(new File(table, "_log/0.json"), "crashed half-build")
    var builds = 0
    QueryPack.fixtureOnce(marker, clear = Seq(table)) {
      assert(!table.exists(), "the leftover was not cleared before the build")
      put(new File(table, "_log/0.json"), "complete")
      builds += 1
    }
    assert(builds == 1 && marker.isFile && text(new File(table, "_log/0.json")) == "complete")
    QueryPack.fixtureOnce(marker, clear = Seq(table)) { builds += 1 }
    assert(builds == 1 && text(new File(table, "_log/0.json")) == "complete")
    // a build that throws writes no marker
    val other = new File(parent, "u.done")
    intercept[IllegalStateException](QueryPack.fixtureOnce(other)(throw new IllegalStateException("x")))
    assert(!other.exists())
  }

  test("plantedPairs: every nation key, then a key+100 twin per key of the twinned region") {
    val nation = spark.read.parquet(s"${sf()}/nation.parquet")
      .select("n_nationkey", "n_regionkey").collect()
      .map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong))
    val pairs = QueryPack.plantedPairs(spark, sf(), twinRegion = 2) { (k, twin) =>
      Array(k.toByte, (if (twin) 1 else 0).toByte)
    }
    val twins = nation.collect { case (k, 2L) => k }
    assert(twins.nonEmpty)
    assert(pairs.map(_._1) == nation.map(_._1).toSeq ++ twins.map(_ + 100))
    assert(pairs.forall { case (id, p) =>
      p.toSeq == Seq((id % 100).toByte, (if (id >= 100) 1 else 0).toByte) })
  }
}
