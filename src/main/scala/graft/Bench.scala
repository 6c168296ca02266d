package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSQLBridge, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The one measurement entry point over the gates of [[SparkEntry.queries]].
  *
  * {{{
  *   sbt "runMain graft.Bench"                         # every gate, best of two passes
  *   sbt "runMain graft.Bench steady g1,g2 [reps]"     # warm-up, then reps (5) timed runs per gate
  *   sbt "runMain graft.Bench jobs g1,g2"              # the Spark jobs of one run per gate
  *   sbt "runMain graft.Bench plans outDir [g1,g2]"    # formatted plans, every gate by default
  * }}}
  * Environment: `SPARK_GRAFT_SF_DIR` (testdata, default /root/testdata/sf0.1),
  * `SPARK_GRAFT_CPUS` (`local[n]`, default 4), `SPARK_GRAFT_SHUFFLE_PARTITIONS`
  * (default: CPUS), and the default mode's output files `SPARK_GRAFT_BENCH_OUT`
  * and `SPARK_GRAFT_BENCH_SUMMARY_OUT`.
  *
  * Timed runs write the whole result to Spark's `noop` sink, the time a caller
  * waiting for every row sees. count() lets Catalyst prune every column the
  * count does not need (`text_gopher_quality` once read 0.86 s under count()
  * against 18-20 s delivered); the default mode keeps its count() timings only
  * so its JSON stays comparable with the pins in BASELINE.md. Perf claims
  * come from the declared benchmark, `perfbench/run.py`.
  */
object Bench {
  private[graft] type Gate = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val loadStart = loadavg(); val tStart = nowIso()
    def host = hostJson(loadStart, tStart)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // parsed before the session starts, so a bad gate list fails at once
    val mode: SparkSession => Unit = args.toList match {
      case Nil => spark =>
        val p = passes(spark, SparkEntry.queries, sfDir)
        val h = host
        println(p.line(sfDir, h))
        // the full per-gate record goes to a file as well: log capture
        // truncates long stdout lines
        write(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"), p.local(sfDir, h))
        write(sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY_OUT", "BENCH_SUMMARY.json"),
          p.summary(sfDir, h))
      case "steady" :: list :: reps =>
        val gates = select(list)
        val n = reps match {
          case Nil => 5
          case r :: Nil => r.toInt
          case _ => usage()
        }
        spark => println(steadyJson(steady(spark, gates, sfDir, n), host))
      case "jobs" :: list :: Nil =>
        val gates = select(list)
        spark => jobs(spark, gates, sfDir).foreach(p => println(p.report))
      case "plans" :: outDir :: list =>
        val gates = list match {
          case Nil => SparkEntry.queries
          case l :: Nil => select(l)
          case _ => usage()
        }
        spark => plans(spark, gates, sfDir, outDir)
      case _ => usage()
    }
    val spark = session()
    try mode(spark) finally spark.stop()
  }

  private def usage(): Nothing = throw new IllegalArgumentException(
    "usage: graft.Bench [steady <g1,g2,...> [reps] | jobs <g1,g2,...> | plans <outDir> [g1,g2,...]]")

  private def session(): SparkSession = {
    // sbt runMain loads app classes in a URLClassLoader; Spark resolves
    // extension/catalog class names via the context classloader.
    Thread.currentThread().setContextClassLoader(getClass.getClassLoader)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // partitions default to the thread count, but scale runs size them to
    // the data: at sf25 a 32-partition shuffle exhausts execution memory
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The gates named in a comma-separated list, in list order. An unknown
    * name fails, naming it.
    */
  private[graft] def select(list: String,
      all: Map[String, Gate] = SparkEntry.queries): ListMap[String, Gate] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown gate: ${unknown.mkString(", ")}")
    require(names.nonEmpty, "no gate named")
    ListMap.from(names.map(n => n -> all(n)))
  }

  private def deliver(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def logFailure(gate: String, e: Throwable): Unit =
    System.err.println(s"[bench] $gate failed: ${e.getMessage}")

  // ---- default mode: every gate, best of two passes ----

  /** Per-gate best-of-two seconds under count() and at the `noop` sink. A
    * gate that threw in any pass is only listed in `failed`.
    */
  private[graft] final case class Passes(count: Map[String, Double],
      noop: Map[String, Double], failed: Seq[String]) {
    private def compact(m: Map[String, Double]) =
      m.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    private def lines(m: Seq[(String, Double)]) =
      m.map { case (k, v) => s"""    "$k": $v""" }.mkString(",\n")
    private def failedJson = failed.map(g => s"\"$g\"").mkString("[", ", ", "]")
    private def head(sfDir: String, host: String) =
      s"""{\n  "metric": "total", "value": ${count.values.sum}, "unit": "sec",\n""" +
        s"""  "n_gates": ${count.size}, "sf": "$sfDir",\n""" +
        s"""  "total_noop": ${noop.values.sum},\n""" +
        s"""  $host,\n"""

    /** One stdout line with every timing. */
    def line(sfDir: String, host: String): String =
      s"""{"metric":"total","value":${count.values.sum},"unit":"sec","queries":${compact(count)},""" +
        s""""total_noop":${noop.values.sum},"queries_noop":${compact(noop)},""" +
        s""""failed":$failedJson,"sf":"$sfDir",$host}"""

    /** BENCH_LOCAL.json: every gate, sorted, one per line. */
    def local(sfDir: String, host: String): String =
      head(sfDir, host) +
        s"""  "queries": {\n${lines(count.toSeq.sortBy(_._1))}\n  },\n""" +
        s"""  "queries_noop": {\n${lines(noop.toSeq.sortBy(_._1))}\n  },\n""" +
        s"""  "failed": $failedJson\n}\n"""

    /** BENCH_SUMMARY.json: totals and the 10 slowest gates. */
    def summary(sfDir: String, host: String): String =
      head(sfDir, host) +
        s"""  "top10_slowest": {\n${lines(count.toSeq.sortBy(-_._2).take(10))}\n  },\n""" +
        s"""  "top10_slowest_noop": {\n${lines(noop.toSeq.sortBy(-_._2).take(10))}\n  },\n""" +
        s"""  "failed": $failedJson\n}\n"""
  }

  private[graft] def passes(spark: SparkSession, gates: Map[String, Gate],
      sfDir: String): Passes = {
    // warm up codegen/IO paths so the first timed gate isn't charged for
    // JVM + Spark bring-up
    spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count().collect()
    val bad = scala.collection.mutable.SortedSet.empty[String]
    // two passes, keep the per-gate minimum: steady-state plan execution
    // rather than first-touch JIT/setup costs. Gates read their tables
    // through the JVM-wide parquet schema memo (catalog.SchemaMemo), so only
    // the first build of a table runs the footer-inference job
    def best(run: DataFrame => Unit): Map[String, Double] = {
      def once(): Map[String, Double] = gates.flatMap { case (name, fn) =>
        try Some(name -> seconds(run(fn(spark, sfDir))))
        catch { case NonFatal(e) => logFailure(name, e); bad += name; None }
      }
      val (r1, r2) = (once(), once())
      r1.collect { case (k, v) if r2.contains(k) => k -> math.min(v, r2(k)) }
    }
    val count = best(df => df.count())
    val noop = best(deliver)
    Passes(count -- bad, noop -- bad, bad.toSeq)
  }

  // ---- steady: warm-up, then timed runs of each gate ----

  private[graft] final case class Steady(gate: String, runs: Seq[Double]) {
    def median: Double = {
      val s = runs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  }

  /** One untimed warm-up per gate (JIT, codegen, fixture builds), then
    * `reps` timed runs.
    */
  private[graft] def steady(spark: SparkSession, gates: Map[String, Gate], sfDir: String,
      reps: Int): Seq[Steady] = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    gates.toSeq.map { case (name, fn) =>
      deliver(fn(spark, sfDir))
      Steady(name, (1 to reps).map(_ => seconds(deliver(fn(spark, sfDir)))))
    }
  }

  private def steadyJson(rs: Seq[Steady], host: String): String =
    (rs.map { r =>
      f""""${r.gate}":{"min":${r.runs.min}%.3f,"median":${r.median}%.3f,""" +
        s""""runs":[${r.runs.map(t => f"$t%.3f").mkString(",")}]}"""
    } :+ host).mkString("{", ",", "}")

  // ---- jobs: the Spark jobs of one run per gate ----

  private[graft] final case class Job(id: Int, seconds: Double, site: String)

  private[graft] final case class Profile(gate: String, wall: Double, jobs: Seq[Job]) {
    def jobSeconds: Double = jobs.map(_.seconds).sum
    /** Serial driver time between and around the jobs. */
    def gap: Double = wall - jobSeconds
    def report: String =
      (f"PROFILE $gate wall=$wall%.3f s jobs=${jobs.length}" +:
        jobs.map(j => f"  job ${j.id}%4d  ${j.seconds}%7.3f s  ${j.site}") :+
        f"  sum(job wall)=$jobSeconds%.3f s (serial gap=$gap%.3f s)").mkString("\n")
  }

  private val RunTag = "graft.bench.run"

  /** Per gate: a warm-up, then one run whose jobs (DataFrame build
    * included) are recorded with their wall time and `callSite.short`.
    */
  private[graft] def jobs(spark: SparkSession, gates: Map[String, Gate],
      sfDir: String): Seq[Profile] = {
    val sc = spark.sparkContext
    val open = new ConcurrentHashMap[Int, (String, String, Long)]()
    val done = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Job]]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(RunTag))).foreach { tag =>
          // a job's result stage is named after its call site
          val site = Option(js.properties.getProperty("callSite.short"))
            .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
          open.put(js.jobId, (tag, site, js.time))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(open.remove(je.jobId)).foreach { case (tag, site, t0) =>
          done.computeIfAbsent(tag, _ => new ConcurrentLinkedQueue[Job]())
            .add(Job(je.jobId, (je.time - t0) / 1e3, site))
        }
    }
    sc.addSparkListener(listener)
    try gates.toSeq.map { case (name, fn) =>
      deliver(fn(spark, sfDir))
      val tag = java.util.UUID.randomUUID().toString
      sc.setLocalProperty(RunTag, tag)
      val wall = try seconds(deliver(fn(spark, sfDir))) finally sc.setLocalProperty(RunTag, null)
      GraftSQLBridge.drainListenerBus(spark)
      Profile(name, wall, Option(done.get(tag)).fold(Seq.empty[Job])(_.asScala.toSeq.sortBy(_.id)))
    } finally sc.removeSparkListener(listener)
  }

  // ---- plans: formatted physical plans ----

  /** Writes `<outDir>/<gate>.txt` for each gate (fixture-writing gates run
    * their setup as in Verify) and returns the gates that failed to plan.
    */
  private[graft] def plans(spark: SparkSession, gates: Map[String, Gate], sfDir: String,
      outDir: String): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    gates.toSeq.flatMap { case (name, fn) =>
      try {
        val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        write(s"$outDir/$name.txt", txt)
        None
      } catch { case NonFatal(e) => logFailure(name, e); Some(name) }
    }
  }

  private def write(path: String, s: String): Unit = Files.write(Paths.get(path), s.getBytes(UTF_8))

  // ---- host provenance: wall-clock and /proc/loadavg before/after a run,
  // so drift between runs can be told from a regression ----

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
    catch { case _: Exception => "" }

  private def nowIso(): String = java.time.Instant.now().toString

  private def hostJson(loadStart: String, tStart: String): String =
    s""""host":{"load_start":"$loadStart","load_end":"${loadavg()}",""" +
      s""""t_start":"$tStart","t_end":"${nowIso()}"}"""
}
