package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.AtomicFile
import graft.sources.lake.DeltaLite

/** Incremental consumer of a native Delta table's Change Data Feed — the
  * micro-batch bridge between [[DeltaLite.changes]] and the downstream
  * appliers ([[Streaming.cdcApply]], [[graft.operators.Cdc]]): each
  * [[process]] call serves the feed of every commit since the last
  * successfully processed version, then advances a tiny version checkpoint.
  *
  * Exactly-once by construction: progress commits AFTER the caller's batch
  * function returns, atomically (temp file + rename), so a crash mid-batch
  * replays the same version range on restart — safe when the downstream
  * apply is idempotent per version range, which MERGE/latest-wins CDC
  * application is. This is the same at-least-once-plus-idempotent contract
  * Structured Streaming's foreachBatch gives, with the offset log reduced
  * to one committed Delta version.
  *
  * Scale shape: a poll is driver-side log metadata plus a distributed scan
  * of exactly the changed files of the uncommitted versions; the
  * checkpoint is O(1). A 100 TB table with small commits costs each poll
  * only the changed bytes.
  *
  * @param startVersion first version to serve when no checkpoint exists
  *                     (0 = full history replay as the initial load)
  */
final class CdfConsumer(tableDir: Path, checkpointFile: Path,
    startVersion: Long = 0L) {

  /** The next version this consumer would serve (checkpoint + 1). */
  def nextVersion(conf: Configuration): Long = readCheckpoint(conf) match {
    case Some(v) => v + 1
    case None => startVersion
  }

  /** The uncommitted feed: changes of `[nextVersion, latest]`, or None when
    * the log has nothing new. Does NOT advance the checkpoint — pair with
    * [[commit]], or use [[process]] which does both.
    */
  def poll(spark: SparkSession): Option[(DataFrame, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val from = nextVersion(conf)
    val latest = DeltaLite.latestVersion(spark, tableDir)
    if (latest < from) None
    else Some((DeltaLite.changes(spark, tableDir, from, Some(latest)), from, latest))
  }

  /** Atomically record `version` as processed. */
  def commit(conf: Configuration, version: Long): Unit =
    AtomicFile.replace(checkpointFile.getFileSystem(conf), checkpointFile,
      s"""{"lastVersion":$version}""".getBytes("UTF-8"))

  /** One micro-batch: poll, hand the feed (plus its version range) to `fn`,
    * and advance the checkpoint only after `fn` returns. Returns true when
    * a batch was processed, false when the feed was empty — a driver loop
    * is `while (consumer.process(spark)(apply)) ()` plus whatever pacing
    * the caller wants.
    */
  def process(spark: SparkSession)(fn: (DataFrame, Long, Long) => Unit): Boolean =
    poll(spark) match {
      case Some((df, from, to)) =>
        fn(df, from, to)
        commit(spark.sparkContext.hadoopConfiguration, to)
        true
      case None => false
    }

  private def readCheckpoint(conf: Configuration): Option[Long] = {
    val fs = checkpointFile.getFileSystem(conf)
    if (!fs.exists(checkpointFile)) None
    else {
      val in = fs.open(checkpointFile)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      """"lastVersion"\s*:\s*(-?\d+)""".r.findFirstMatchIn(text)
        .map(_.group(1).toLong)
        .orElse(throw new IllegalStateException(
          s"unreadable CDF checkpoint $checkpointFile: $text"))
    }
  }
}
