package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** `graft.Bench`'s modes, driven on the shared test session at sf0.001. */
class BenchSuite extends SparkTestBase {

  private val cheap = "q6_forecast_revenue"

  test("steady returns reps positive timings for each gate") {
    val Seq(r) = Bench.steady(spark, Bench.select(cheap), sf(), reps = 3)
    assert(r.gate == cheap)
    assert(r.runs.length == 3 && r.runs.forall(_ > 0), r.runs)
    assert(r.median >= r.runs.min && r.median <= r.runs.max)
  }

  test("jobs records the run's jobs, and its gap is wall minus their sum") {
    val Seq(p) = Bench.jobs(spark, Bench.select(cheap), sf())
    assert(p.gate == cheap)
    assert(p.jobs.nonEmpty, p.report)
    assert(p.jobs.forall(j => j.seconds >= 0 && j.site.nonEmpty), p.report)
    assert(math.abs(p.gap - (p.wall - p.jobs.map(_.seconds).sum)) < 1e-9)
  }

  test("plans writes <gate>.txt with the physical plan") {
    val out = Files.createTempDirectory("graft-bench-plans").toString
    assert(Bench.plans(spark, Bench.select(cheap), sf(), out).isEmpty)
    val txt = Files.readString(Paths.get(out, s"$cheap.txt"))
    assert(txt.contains("== Physical Plan =="), txt)
  }

  test("an unknown gate name fails, naming the gate") {
    val e = intercept[IllegalArgumentException](Bench.select(s"$cheap,no_such_gate"))
    assert(e.getMessage.contains("no_such_gate"), e.getMessage)
    assert(!e.getMessage.contains(cheap), e.getMessage)
  }

  test("a gate that throws is listed as failed, not timed") {
    val gates: Map[String, Bench.Gate] = Map(
      cheap -> SparkEntry.queries(cheap),
      "boom_build" -> ((_, _) => throw new IllegalStateException("no plan")),
      "boom_run" -> ((s, _) => s.range(1).selectExpr("raise_error('at run') AS x")))
    val p = Bench.passes(spark, gates, sf())
    assert(p.failed == Seq("boom_build", "boom_run"))
    assert(p.count.keySet == Set(cheap) && p.noop.keySet == Set(cheap))
    val mapper = new ObjectMapper()
    val host = "\"host\":{}"
    val local = mapper.readTree(p.local(sf(), host))
    assert(local.fieldNames().asScala.toSet == Set("metric", "value", "unit", "n_gates", "sf",
      "total_noop", "host", "queries", "queries_noop", "failed"))
    assert(local.get("failed").elements().asScala.map(_.asText).toSeq == Seq("boom_build", "boom_run"))
    assert(local.get("queries").fieldNames().asScala.toSeq == Seq(cheap))
    assert(local.get("queries_noop").fieldNames().asScala.toSeq == Seq(cheap))
    assert(local.get("n_gates").asInt == 1)
    assert(local.get("value").asDouble == p.count(cheap))
    val summary = mapper.readTree(p.summary(sf(), host))
    assert(summary.fieldNames().asScala.toSet == Set("metric", "value", "unit", "n_gates", "sf",
      "total_noop", "host", "top10_slowest", "top10_slowest_noop", "failed"))
    assert(summary.get("top10_slowest").fieldNames().asScala.toSeq == Seq(cheap))
    assert(summary.get("failed").size == 2)
    val line = mapper.readTree(p.line(sf(), host))
    assert(line.get("queries").fieldNames().asScala.toSeq == Seq(cheap))
    assert(line.get("failed").size == 2)
  }
}
