package graftbench

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Row, SparkSession}
import org.json4s._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.{Graft, SparkEntry}
import graft.api.GraftApiServer
import graft.parser.GraftParser

/** Helpers shared by the workloads. */
object Run {
  def ms(from: Long, to: Long): Double = (to - from) / 1e6

  def err(e: Throwable): String = {
    val m = String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")
    s"${e.getClass.getSimpleName}: ${m.take(300)}"
  }

  /** Run one statement through graft's public entry and deliver every row. */
  def all(spark: SparkSession, sql: String): (Seq[String], Array[Row]) = {
    val df = Graft.sql(spark, sql)
    (df.columns.toSeq, df.collect())
  }

  def statements(plan: Plan, key: String, spark: SparkSession, dir: File): Unit =
    plan.strs(key).foreach(s => all(spark, Main.subst(s, plan, dir)))

  /** Files and bytes under a directory. */
  def du(f: File): (Long, Long) =
    if (f.isFile) (1L, f.length())
    else Option(f.listFiles()).toSeq.flatten.map(du).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }

  def walk(f: File): Seq[File] =
    if (f.isFile) Seq(f) else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
}

final case class SqlOp(id: Long, kind: String, sql: String, cols: Seq[String])

/** `federated_sql`: closed-loop reader clients, each POSTing one statement at
  * a time to an in-process `/api/q` and reading the whole streamed JSON
  * array, beside one writer session in the same process.
  */
final class FederatedSql(plan: Plan) extends Workload {
  private implicit val formats: Formats = DefaultFormats
  private val clients = (plan.json \ "clients").extract[Seq[Seq[SqlOp]]].map(_.toIndexedSeq)
  private val warm = (plan.json \ "warmup").extract[Seq[SqlOp]]
  private val pos = Array.fill(clients.size)(0)
  private val mapper = new ObjectMapper()
  private val serial = new Object
  private var api: GraftApiServer = _
  private var port = 0
  private val writer = new WriterSession(plan)

  def setup(spark: SparkSession, dir: File): Unit = {
    writer.dir = dir
    Run.statements(plan, "setup_sql", spark, dir)
    api = new GraftApiServer(spark, 0)
    port = api.start()
  }

  override def finish(spark: SparkSession, rec: Recorder): Unit = writer.finish(spark, rec)

  override def teardown(): Unit = if (api != null) { api.stop(); api = null }

  /** Each reader template once and the writer's first statements, on as
    * many threads as the timed phase uses.
    */
  def prepare(spark: SparkSession, rec: Recorder): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readers = clients.indices.map { c =>
      new Thread(() => warm.zipWithIndex.filter(_._2 % clients.size == c).foreach { case (op, _) =>
        val (code, _, _, body) = post(op.sql)
        if (code != 200) failures.add(s"($code) ${new String(body, UTF_8).take(300)}")
      })
    }
    val w = new Thread(() => writer.warmup(spark, rec))
    (readers :+ w).foreach(_.start())
    (readers :+ w).foreach(_.join())
    require(failures.isEmpty, s"warm-up statement failed: ${failures.peek()}")
  }

  /** (status, time headers arrived, time last byte arrived, body). */
  private def post(sql: String): (Int, Long, Long, Array[Byte]) = {
    val c = URI.create(s"http://127.0.0.1:$port/api/q").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "text/plain; charset=utf-8")
    val os = c.getOutputStream
    try os.write(sql.getBytes(UTF_8)) finally os.close()
    val code = c.getResponseCode
    val ttfb = System.nanoTime()
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val body = try in.readAllBytes() finally in.close()
    (code, ttfb, System.nanoTime(), body)
  }

  private def linesOf(body: Array[Byte], cols: Seq[String]): Array[String] = {
    val arr = mapper.readTree(body)
    val sortedCols = cols.sorted
    val it = arr.elements()
    val rows = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(obj => sortedCols.map(c => Canon.jsonCell(obj.get(c))))
    Canon.lines(rows)
  }

  def run(spark: SparkSession, deadlineNs: Long, tr: Option[Tracer], rec: Recorder): Unit =
    if (plan.validate) {
      val r0 = System.nanoTime()
      clients.flatten.groupBy(_.sql).values.map(_.minBy(_.id)).toSeq.sortBy(_.id)
        .foreach(op => one(spark, 0, op, None, rec))
      endReaders(r0, rec)
      writer.run(spark, Long.MaxValue, None, rec, serial)
    } else timed(spark, deadlineNs, tr, rec)

  /** Marks the end of the readers' share: its length and a yardstick round. */
  private def endReaders(r0: Long, rec: Recorder): Unit =
    rec.op("id" -> -1L, "kind" -> "phase", "ms" -> Run.ms(r0, System.nanoTime()),
      "yardstick_ms" -> Yardstick.sample())

  /** The readers for the first 60% of the phase, then the writer alone for
    * the rest: a statement's time then does not depend on which writer
    * statement happened to run beside it.
    */
  private def timed(spark: SparkSession, deadlineNs: Long, tr: Option[Tracer], rec: Recorder): Unit = {
    val r0 = System.nanoTime()
    val mid = r0 + (deadlineNs - r0) * 3 / 5
    val threads = clients.indices.map { c =>
      new Thread(() => {
        while (System.nanoTime() < mid) {
          val ops = clients(c)
          val op = ops(pos(c) % ops.size)
          pos(c) += 1
          // the traced phase serialises the clients so that the file-system
          // counters read around one statement belong to that statement
          if (tr.isDefined) serial.synchronized(one(spark, c, op, tr, rec))
          else one(spark, c, op, tr, rec)
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    endReaders(r0, rec)
    writer.run(spark, deadlineNs, tr, rec, serial)
  }

  private def one(spark: SparkSession, client: Int, op: SqlOp, tr: Option[Tracer], rec: Recorder): Unit = {
    val t0 = System.nanoTime()
    val fields = scala.collection.mutable.ArrayBuffer[(String, Any)](
      "id" -> op.id, "kind" -> op.kind, "client" -> client)
    try {
      val (code, ttfb, end, body) = post(op.sql)
      fields ++= Seq("ms" -> Run.ms(t0, end), "ttfb_ms" -> Run.ms(t0, ttfb),
        "body_ms" -> Run.ms(ttfb, end), "bytes" -> body.length)
      if (code != 200) fields += "err" -> s"HTTP $code: ${new String(body, UTF_8).take(300)}"
      else {
        val lines = linesOf(body, op.cols)
        fields ++= Seq("rows" -> lines.length, "digest" -> Canon.digest(lines))
      }
      tr.foreach { t =>
        t.spans.add(Span(op.id, "op", "", t0, end))
        t.spans.add(Span(op.id, "api.ttfb", "op", t0, ttfb))
        t.spans.add(Span(op.id, "api.body", "op", ttfb, end))
        // the same statement in-process, for the HTTP share and the
        // catalog's file-system reads during analysis
        val sc = spark.sparkContext
        sc.setJobGroup(s"op-${op.id}", "inproc", interruptOnCancel = false)
        val fs0 = FsStats.now()
        val a0 = System.nanoTime()
        val df = Graft.sql(spark, op.sql)
        val a1 = System.nanoTime()
        val fsA = FsStats.now() - fs0
        val rows = df.collect()
        val a2 = System.nanoTime()
        sc.clearJobGroup()
        t.spans.add(Span(op.id, "inproc", "", a0, a2))
        t.spans.add(Span(op.id, "inproc.analysis", "inproc", a0, a1))
        t.spans.add(Span(op.id, "inproc.delivery", "inproc", a1, a2))
        fields ++= Seq("inproc_ms" -> Run.ms(a0, a2), "analysis_ms" -> Run.ms(a0, a1),
          "delivery_ms" -> Run.ms(a1, a2), "inproc_rows" -> rows.length,
          "fs_read_ops" -> fsA.readOps, "fs_bytes_read" -> fsA.bytesRead)
      }
    } catch { case e: Exception => fields ++= Seq("ms" -> Run.ms(t0, System.nanoTime()), "err" -> Run.err(e)) }
    rec.op(fields.toSeq: _*)
  }
}

/** `operator_batch`: seed-ordered passes over `SparkEntry.queries` gates and
  * reads of the unstructured sources, each result delivered in full (every
  * column, every row) to the caller.
  */
final class OperatorBatch(plan: Plan) extends Workload {
  private implicit val formats: Formats = DefaultFormats
  private val passes = (plan.json \ "passes").extract[Seq[Seq[String]]]
  /** Steps that are a graft statement rather than a gate, by name. */
  private val steps = (plan.json \ "steps").extract[Map[String, String]]
  private var pass = 0
  private var opId = 0L

  /** Copies the unstructured fixtures into the set-up's own directory and
    * registers them as graft datasources.
    */
  def setup(spark: SparkSession, dir: File): Unit = {
    val src = new File(plan.data, plan.str("fixtures")).toPath
    val dst = new File(dir, plan.str("fixtures")).toPath
    Run.walk(src.toFile).foreach { f =>
      val to = dst.resolve(src.relativize(f.toPath))
      java.nio.file.Files.createDirectories(to.getParent)
      java.nio.file.Files.copy(f.toPath, to)
    }
    Run.statements(plan, "setup_sql", spark, dir)
  }

  private def build(spark: SparkSession, step: String) = steps.get(step) match {
    case Some(sql) => Graft.sql(spark, sql)
    case None => SparkEntry.queries(step)(spark, plan.data)
  }

  def prepare(spark: SparkSession, rec: Recorder): Unit =
    plan.strs("prepare").foreach(g => build(spark, g).collect())

  def run(spark: SparkSession, deadlineNs: Long, tr: Option[Tracer], rec: Recorder): Unit = {
    val sc = spark.sparkContext
    // a pass that starts before the deadline runs to its end, so that every
    // pass timed is a full one
    while (System.nanoTime() < deadlineNs) {
      val p = pass
      pass += 1
      val p0 = System.nanoTime()
      var failed = false
      passes(p % passes.size).foreach { g =>
        val id = opId
        opId += 1
        val fields = scala.collection.mutable.ArrayBuffer[(String, Any)](
          "id" -> id, "kind" -> "gate", "gate" -> g, "pass" -> p)
        val t0 = System.nanoTime()
        try {
          sc.setJobGroup(s"op-$id-build", g, interruptOnCancel = false)
          val df = build(spark, g)
          val t1 = System.nanoTime()
          sc.setJobGroup(s"op-$id-deliver", g, interruptOnCancel = false)
          val rows = df.collect()
          val t2 = System.nanoTime()
          sc.clearJobGroup()
          val lines = Canon.ofRows(df.columns.toSeq, rows)
          fields ++= Seq("ms" -> Run.ms(t0, t2), "build_ms" -> Run.ms(t0, t1),
            "deliver_ms" -> Run.ms(t1, t2), "rows" -> rows.length, "digest" -> Canon.digest(lines),
            "bytes" -> lines.map(_.length.toLong + 1).sum)
          tr.foreach { t =>
            t.spans.add(Span(id, "gate", "", t0, t2))
            t.spans.add(Span(id, "gate.build", "gate", t0, t1))
            t.spans.add(Span(id, "gate.delivery", "gate", t1, t2))
          }
        } catch {
          case e: Exception =>
            sc.clearJobGroup()
            failed = true
            fields ++= Seq("ms" -> Run.ms(t0, System.nanoTime()), "err" -> Run.err(e))
        }
        rec.op(fields.toSeq: _*)
      }
      rec.op("id" -> -1L, "kind" -> "pass", "pass" -> p, "ms" -> Run.ms(p0, System.nanoTime()),
        "failed" -> failed, "yardstick_ms" -> Yardstick.sample())
    }
  }

  override def finish(spark: SparkSession, rec: Recorder): Unit = {
    val gates = passes.flatten.distinct.filterNot(steps.contains)
    rec.put("oracles", gates.map(g => g -> SparkEntry.oracleSql.get(g)).toMap)
  }
}

final case class WriterOp(id: Long, kind: String, sql: String, read: String)

object WriterSession {
  /** Writer ops number from 0 like the readers'; their spans are offset. */
  val WriterSpan = 1000000000L
}

/** The writer session of `federated_sql`: graft DDL (metastore, DQ, lake
  * maintenance) and lake DML through `Graft.sql`, one statement at a time; a
  * lake commit is followed by a filtered aggregate read of the same table.
  * The stream changes state, so it runs in order and never wraps.
  */
final class WriterSession(plan: Plan) {
  import WriterSession.WriterSpan
  private implicit val formats: Formats = DefaultFormats
  private val ops = (plan.json \ "writer").extract[Seq[WriterOp]].toIndexedSeq
  private val warmOps = plan.int("writer_warmup")
  private var pos = 0
  var dir: File = _

  /** The first statements of the stream, recorded but flagged as warm-up. */
  def warmup(spark: SparkSession, rec: Recorder): Unit =
    while (pos < warmOps) one(spark, None, rec, warm = true)

  def run(spark: SparkSession, deadlineNs: Long, tr: Option[Tracer], rec: Recorder, serial: AnyRef): Unit =
    while (System.nanoTime() < deadlineNs && pos < ops.size) {
      if (tr.isDefined) serial.synchronized(one(spark, tr, rec, warm = false))
      else one(spark, tr, rec, warm = false)
    }

  private def one(spark: SparkSession, tr: Option[Tracer], rec: Recorder, warm: Boolean): Unit = {
    val op = ops(pos)
    pos += 1
    val sql = Main.subst(op.sql, plan, dir)
    val fields = scala.collection.mutable.ArrayBuffer[(String, Any)](
      "id" -> op.id, "kind" -> op.kind, "writer" -> true, "warm" -> warm)
    // the traced phase parses once more on its own, to split graft's parser
    // from the command it builds
    tr.filter(_ => GraftParser.isGraftStatement(sql)).foreach { _ =>
      val p0 = System.nanoTime()
      GraftParser.parse(sql)
      fields += "parse_ms" -> Run.ms(p0, System.nanoTime())
    }
    val fs0 = FsStats.now()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val (cols, rows) = Run.all(spark, sql)
      val t1 = System.nanoTime()
      val lines = Canon.ofRows(cols, rows)
      fields ++= Seq("ms" -> Run.ms(t0, t1), "rows" -> rows.length, "digest" -> Canon.digest(lines))
      if (lines.length <= 200) fields += "out" -> lines
      tr.foreach { t =>
        val fs = FsStats.now() - fs0
        t.spans.add(Span(WriterSpan + op.id, "writer", "", t0, t1))
        fields ++= Seq("fs_read_ops" -> fs.readOps, "fs_write_ops" -> fs.writeOps,
          "bytes_written" -> fs.bytesWritten, "wall0" -> wall0, "wall1" -> System.currentTimeMillis())
      }
    } catch {
      case e: Exception => fields ++= Seq("ms" -> Run.ms(t0, System.nanoTime()), "err" -> Run.err(e))
    }
    if (op.read.nonEmpty) {
      val fsR = FsStats.now()
      val t2 = System.nanoTime()
      try {
        val df = Graft.sql(spark, op.read)
        val t3 = System.nanoTime()
        val fsA = FsStats.now() - fsR
        val rows = df.collect()
        val t4 = System.nanoTime()
        fields ++= Seq("scan_ms" -> Run.ms(t2, t4), "scan_rows" -> rows.length,
          "scan_digest" -> Canon.digest(Canon.ofRows(df.columns.toSeq, rows)))
        tr.foreach { t =>
          t.spans.add(Span(WriterSpan + op.id, "lake.scan", "", t2, t4))
          t.spans.add(Span(WriterSpan + op.id, "lake.scan.analysis", "lake.scan", t2, t3))
          fields ++= Seq("scan_read_ops" -> fsA.readOps, "scan_bytes_read" -> fsA.bytesRead)
        }
      } catch { case e: Exception => fields += "scan_err" -> Run.err(e) }
    }
    rec.op(fields.toSeq: _*)
  }

  /** Final state of the lake tables, their size on disk and the size of
    * their rows written once as compact parquet.
    */
  def finish(spark: SparkSession, rec: Recorder): Unit = {
    rec.put("writer_executed", pos)
    rec.put("spec_files", Run.walk(new File(dir, "warehouse")).count(_.getName.endsWith(".json")))
    val compactDir = new File(dir, "compact")
    rec.put("tables", plan.objs("lake_tables").map { t =>
      val fqn = (t \ "fqn").extract[String]
      val cols = (t \ "cols").extract[Seq[String]]
      val td = new File(Main.subst((t \ "dir").extract[String], plan, dir))
      val df = Graft.sql(spark, s"SELECT ${cols.mkString(", ")} FROM $fqn")
      val rows = df.collect()
      val out = new File(compactDir, fqn.replace('.', '_'))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.parquet(out.getPath)
      val compact = Run.walk(out).filter(_.getName.endsWith(".parquet")).map(_.length).sum
      val liveFiles = Graft.sql(spark,
        s"SELECT count(*) FROM (SELECT DISTINCT input_file_name() AS f FROM $fqn)").head().getLong(0)
      val (files, bytes) = Run.du(td)
      val versions = Run.walk(td).count(f =>
        f.getParentFile.getName == "_delta_log" && f.getName.endsWith(".json") ||
          f.getName.endsWith(".metadata.json"))
      Map("fqn" -> fqn, "rows" -> rows.length,
        "digest" -> Canon.digest(Canon.ofRows(df.columns.toSeq, rows)),
        "bytes" -> bytes, "files" -> files, "compact_bytes" -> compact,
        "live_files" -> liveFiles, "versions" -> versions)
    })
  }
}
