package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one operation share `op`. */
final case class Span(op: Long, name: String, parent: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** File-system operations (metadata calls, opens and creates, counted by
  * [[CountingLocalFileSystem]]) and Hadoop's byte counters, summed over every
  * scheme; graft's metastore and lake tables live on `file://` here.
  */
final case class FsStats(readOps: Long, writeOps: Long, bytesRead: Long, bytesWritten: Long) {
  def -(o: FsStats): FsStats =
    FsStats(readOps - o.readOps, writeOps - o.writeOps, bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
}

object FsStats {
  @annotation.nowarn("cat=deprecation")
  def now(): FsStats = {
    val all = FileSystem.getAllStatistics.asScala
    FsStats(CountingLocalFileSystem.reads.get, CountingLocalFileSystem.writes.get,
      all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}

final case class Job(group: String, start: Long, var end: Long, stages: Seq[Int])

/** Stage and task totals of every Spark job, plus each job's group and
  * interval, collected from stock listener events.
  */
final class ExecListener extends SparkListener {
  val jobs = TrieMap.empty[Int, Job]
  private val submitted = TrieMap.empty[Int, Unit]
  val tasks, taskFailures, runMs, cpuNs, gcMs, inputBytes, shuffleWrite, shuffleRead, spill =
    new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, Job(group, e.time, -1L, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.get(e.jobId).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submitted.put(e.stageInfo.stageId, ())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != Success) taskFailures.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def stagesTotal: Long = jobs.values.map(_.stages.size.toLong).sum
  def stagesSkipped: Long = jobs.values.map(_.stages.count(s => !submitted.contains(s)).toLong).sum

  /** Wall time in [from, to] (epoch ms) covered by no job. */
  def gapMs(from: Long, to: Long): Long = {
    val iv = jobs.values.map(j => (math.max(j.start, from), math.min(if (j.end < 0) to else j.end, to)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (to - from) - covered
  }
}

/** Catalyst phase times of every query execution, from `qe.tracker`. */
final class PhaseListener extends QueryExecutionListener {
  val phaseMs = TrieMap.empty[String, AtomicLong]
  val executions = new AtomicLong()
  private def add(qe: QueryExecution): Unit = {
    executions.incrementAndGet()
    qe.tracker.phases.foreach { case (phase, s) =>
      phaseMs.getOrElseUpdate(phase, new AtomicLong()).addAndGet(s.durationMs)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Spans of a traced phase, kept in memory until the run ends. */
final class Tracer {
  val spans = new ConcurrentLinkedQueue[Span]()

  /** Self time per span name: its duration minus the covered part of its
    * children (spans of the same op that name it as parent).
    */
  def selfMs: Map[String, Double] = {
    val all = spans.asScala.toSeq
    all.groupBy(_.op).values.flatMap { ops =>
      ops.map { s =>
        val kids = ops.filter(k => k.parent == s.name && k.start >= s.start && k.end <= s.end)
        s.name -> (s.ms - kids.map(_.ms).sum)
      }
    }.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sum }
  }
}
