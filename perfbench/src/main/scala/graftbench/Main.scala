package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.Graft

/** The workload plan `run.py` writes: the seed-drawn operation stream and the
  * paths of this run. The JVM executes it and records what it observed;
  * checking and statistics happen in `run.py`.
  */
final class Plan(val json: JValue) {
  implicit val formats: Formats = DefaultFormats
  def str(k: String): String = (json \ k).extract[String]
  def int(k: String): Int = (json \ k).extract[Int]
  def strs(k: String): Seq[String] = (json \ k).extract[Seq[String]]
  def objs(k: String): Seq[JValue] = (json \ k) match {
    case JArray(xs) => xs
    case _ => Nil
  }
  val workload: String = str("workload")
  val seconds: Double = (json \ "seconds").extract[Double]
  val trace: Boolean = (json \ "trace").extract[Boolean]
  val cores: Int = int("cores")
  val setups: Int = int("setups")
  val data: String = str("data")
  val work: File = new File(str("work"))
  /** Execute every statement of the stream once instead of a timed loop. */
  val validate: Boolean = (json \ "validate").extractOpt[Boolean].getOrElse(false)
}

object Plan {
  def load(path: String): Plan = new Plan(JsonMethods.parse(new File(path)))
}

/** Operation records and named values, written out as one JSON object. */
final class Recorder {
  private val ops = ArrayBuffer.empty[JValue]
  private val values = ArrayBuffer.empty[JField]

  def jv(v: Any): JValue = v match {
    case null | None => JNull
    case Some(x) => jv(x)
    case j: JValue => j
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case i: Int => JLong(i.toLong)
    case l: Long => JLong(l)
    case d: Double => JDouble(d)
    case m: Map[_, _] => JObject(m.toList.map { case (k, x) => JField(k.toString, jv(x)) })
    case s: Iterable[_] => JArray(s.toList.map(jv))
    case a: Array[_] => JArray(a.toList.map(jv))
    case other => JString(other.toString)
  }

  def op(fields: (String, Any)*): Unit = synchronized {
    ops += JObject(fields.toList.map { case (k, v) => JField(k, jv(v)) })
  }
  def put(k: String, v: Any): Unit = synchronized { values += JField(k, jv(v)) }
  def size: Int = synchronized(ops.size)

  def write(f: File): Unit = synchronized {
    val all = JObject((JField("ops", JArray(ops.toList)) +: values).toList)
    Files.write(f.toPath, JsonMethods.compact(JsonMethods.render(all)).getBytes(UTF_8))
  }
}

/** One workload: set-up that `Main` repeats and times, a warm-up, and a
  * closed loop that runs until the deadline, resuming the stream where the
  * previous phase stopped.
  */
trait Workload {
  def setup(spark: SparkSession, dir: File): Unit
  /** Warms the set-up that serves the run. */
  def prepare(spark: SparkSession, rec: Recorder): Unit
  def run(spark: SparkSession, deadlineNs: Long, tr: Option[Tracer], rec: Recorder): Unit
  /** Checks of the final state, after the timed phases. */
  def finish(spark: SparkSession, rec: Recorder): Unit = ()
  def teardown(): Unit = ()
}

object Main {
  def session(plan: Plan, dir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${plan.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", plan.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Placeholders in plan SQL: the per-setup directory and the input data. */
  def subst(sql: String, plan: Plan, dir: File): String =
    sql.replace("${DIR}", dir.getPath).replace("${DATA}", plan.data)

  def vmHwmKb(): Long = {
    val status = new String(Files.readAllBytes(new File("/proc/self/status").toPath), UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }

  def main(args: Array[String]): Unit = {
    val plan = Plan.load(args(0))
    val out = new File(args(1))
    val rec = new Recorder
    val wl: Workload = plan.workload match {
      case "federated_sql" => new FederatedSql(plan)
      case "operator_batch" => new OperatorBatch(plan)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // Set-up is repeated from scratch (new session, empty warehouse, fresh
    // fixtures) so that setup_s is a median; the last one serves the run.
    // The first set-up includes the JVM's cold start.
    var spark: SparkSession = null
    def setupOnce(i: Int): Double = {
      if (spark != null) { wl.teardown(); spark.stop() }
      val dir = new File(plan.work, s"setup-$i")
      dir.mkdirs()
      val t0 = System.nanoTime()
      spark = session(plan, dir)
      Graft.install(spark, new File(dir, "warehouse").getPath)
      wl.setup(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    rec.put("setup_s", (1 to plan.setups).map(setupOnce))
    val w0 = System.nanoTime()
    wl.prepare(spark, rec)
    (1 to 5).foreach(_ => Yardstick.ms())
    rec.put("warmup_s", (System.nanoTime() - w0) / 1e9)
    val deadline = (s: Double) => System.nanoTime() + (s * 1e9).toLong

    val y1 = Yardstick.sample()
    val t0 = System.nanoTime()
    wl.run(spark, deadline(plan.seconds), None, rec)
    rec.put("run_s", (System.nanoTime() - t0) / 1e9)
    rec.put("yardstick_ms", Seq(y1, Yardstick.sample()))
    rec.put("untraced_ops", rec.size)
    rec.put("vmhwm_kb", vmHwmKb())

    if (plan.trace) traced(spark, plan, wl, rec, deadline)
    wl.finish(spark, rec)

    rec.put("master", spark.sparkContext.master)
    rec.put("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    rec.put("max_heap_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
    wl.teardown()
    spark.stop()
    rec.write(out)
    System.exit(0)
  }

  /** A second timed phase with listeners attached and spans recorded. */
  private def traced(spark: SparkSession, plan: Plan, wl: Workload, rec: Recorder,
      deadline: Double => Long): Unit = {
    val exec = new ExecListener
    val phases = new PhaseListener
    val tr = new Tracer
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(phases)
    val gcBefore = gcMs()
    val fs0 = FsStats.now()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    wl.run(spark, deadline(plan.seconds), Some(tr), rec)
    val wallS = (System.nanoTime() - t0) / 1e9
    val wall1 = System.currentTimeMillis()
    org.apache.spark.BenchBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(phases)
    val fs = FsStats.now() - fs0
    val mb = 1024.0 * 1024.0
    val qes = math.max(1L, phases.executions.get)
    def phase(p: String) = phases.phaseMs.get(p).map(_.get.toDouble).getOrElse(0.0) / qes
    rec.put("trace_wall_s", wallS)
    rec.put("trace_self_ms", tr.selfMs)
    rec.put("trace_spans", tr.spans.size)
    rec.put("layers", Map(
      "catalyst.parsing_ms" -> phase("parsing"),
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "catalyst.executions" -> phases.executions.get,
      "exec.jobs" -> exec.jobs.size,
      "exec.stages" -> exec.stagesTotal,
      "exec.stages_skipped" -> exec.stagesSkipped,
      "exec.tasks" -> exec.tasks.get,
      "exec.task_failures" -> exec.taskFailures.get,
      "exec.executor_run_s" -> exec.runMs.get / 1e3,
      "exec.executor_cpu_s" -> exec.cpuNs.get / 1e9,
      "exec.gc_s" -> exec.gcMs.get / 1e3,
      "exec.input_mb" -> exec.inputBytes.get / mb,
      "exec.shuffle_write_mb" -> exec.shuffleWrite.get / mb,
      "exec.shuffle_read_mb" -> exec.shuffleRead.get / mb,
      "exec.spill_mb" -> exec.spill.get / mb,
      "exec.driver_gap_s" -> exec.gapMs(wall0, wall1) / 1e3,
      "jvm.gc_s" -> (gcMs() - gcBefore) / 1e3,
      "fs.read_ops" -> fs.readOps,
      "fs.write_ops" -> fs.writeOps,
      "fs.bytes_written" -> fs.bytesWritten,
    ))
    rec.put("group_jobs", exec.jobs.values.groupBy(_.group).map { case (g, js) => g -> js.size })
    rec.put("job_starts", exec.jobs.values.map(_.start).toSeq.sorted)
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}
