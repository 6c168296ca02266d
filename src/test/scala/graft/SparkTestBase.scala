package graft

import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Shared local SparkSession with the graft extension + catalog wired in
  * (mirrors the reference's SparkExtensionsTestBase.scala:35-68).
  */
abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  // one warehouse per JVM: the SparkSession (and its cached catalog
  // instance) is shared across suites
  protected val warehouseDir: String = SparkTestBase.sharedWarehouse

  protected lazy val spark: SparkSession = {
    // sbt's forked test JVM loads classes through a URLClassLoader; Spark
    // resolves extension/catalog class names via the context classloader.
    Thread.currentThread().setContextClassLoader(getClass.getClassLoader)
    SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    .config("spark.sql.catalog.graft.warehouse", warehouseDir)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
    // re-point the shared session's catalog at THIS JVM's shared warehouse:
    // a previously-run suite may have installed its own (PlanSuite's gate
    // fixtures live under the verify warehouse), and suites must not
    // depend on execution order to see their registrations
    Graft.install(spark, warehouseDir)
  }

  override def afterAll(): Unit = {
    // keep the JVM-wide session (and shared warehouse) for sibling suites
    super.afterAll()
  }

  /** Sorted-row comparison (same purpose as the reference's vendored
    * checkAnswer, SparkExtensionsTestBase.scala:79-241).
    */
  protected def checkAnswer(df: DataFrame, expected: Seq[Row]): Unit = {
    val got = df.collect().toSeq.map(_.toString).sorted
    val want = expected.map(_.toString).sorted
    assert(got == want, s"\nexpected: ${want.mkString("\n")}\ngot: ${got.mkString("\n")}")
  }

  /** Spark jobs `body` submits from this thread. */
  protected def jobsOf(body: => Unit): Int = {
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("graft.test.jobs") == tag)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.jobs", tag)
    try { body; GraftTestBridge.drainListenerBus(sc); jobs.get() }
    finally {
      sc.setLocalProperty("graft.test.jobs", null)
      sc.removeSparkListener(listener)
    }
  }

  protected def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkTestBase {
  lazy val sharedWarehouse: String =
    Files.createTempDirectory("graft-model").toString
}
