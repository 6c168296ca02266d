package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Every DataFrame lineage cut in the library, one-shot and iterative,
  * behind one deployment switch.
  *
  * By default lineage is cut with `localCheckpoint`, which stores blocks
  * UNREPLICATED on executors: cheap and exactly right in local mode and for
  * model-sized frames, but on a real cluster losing one executor after the
  * cut kills the query instead of recomputing it, and it is
  * documented-unsafe under dynamic allocation. A session that sets
  *
  *   spark.graft.checkpoint.reliable = true
  *
  * plus `sparkContext.setCheckpointDir(...)` on HDFS/S3 switches every cut —
  * the one-shot intermediates through [[cut]] and the iterative
  * connected-components rounds through [[Loop]] — to reliable-storage
  * `checkpoint()`. Reliable mode persists around the checkpoint so the
  * frame computes once (RDD checkpointing otherwise recomputes the lineage
  * for the write job — documented Spark behavior). One-shot cuts are always
  * EAGER there: a lazy reliable checkpoint would strand the protective
  * persist with no release point at those sites. The cost is one extra job
  * and a reliable-storage write per cut; correctness and values are
  * identical (each site's own size argument — model-sized vs corpus-sized —
  * is documented at the site).
  *
  * Retention: reliable mode never deletes a one-shot checkpoint (unlike
  * [[Loop]], which drops each superseded round). Its files stay in the
  * checkpoint directory until Spark's cleaner removes them once the
  * checkpointed RDD is garbage-collected, which it does only under
  *
  *   spark.cleaner.referenceTracking.cleanCheckpoints = true
  *
  * Set it on long-lived sessions that run pipelines repeatedly; otherwise
  * the checkpoint directory grows by one (some corpus-sized) directory per
  * call site and run.
  */
private[graft] object Ckpt {

  val ReliableConf = "spark.graft.checkpoint.reliable"

  def reliable(spark: SparkSession): Boolean =
    spark.conf.get(ReliableConf, "false").toBoolean

  /** Cut `df`'s lineage: `localCheckpoint(eager)` in local mode, reliable
    * eager `checkpoint()` under [[ReliableConf]]. `eager = false` is a
    * local-mode serial-job optimization only (the materialization fuses
    * into the first consuming action); reliable mode ignores it — see the
    * class note.
    */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    cut(df, eager, reliable(df.sparkSession))

  private def cut(df: DataFrame, eager: Boolean, reliable: Boolean): DataFrame =
    if (!reliable) df.localCheckpoint(eager)
    else {
      requireDir(df.sparkSession)
      df.persist(StorageLevel.MEMORY_AND_DISK)
      val out = df.checkpoint(true)
      df.unpersist(false)
      out
    }

  private def requireDir(spark: SparkSession): Unit =
    require(spark.sparkContext.getCheckpointDir.isDefined,
      s"$ReliableConf=true needs sparkContext.setCheckpointDir(...) " +
        "pointing at reliable storage (HDFS/S3)")

  /** `import graft.operators.Ckpt.Ops` to write `df.cut(eager)` in place of
    * `df.localCheckpoint(eager)` at library call sites.
    */
  implicit class Ops(private val df: DataFrame) extends AnyVal {
    def cut(eager: Boolean = true): DataFrame = Ckpt.cut(df, eager)
  }

  /** The cuts of one iterative loop (a connected-components run), in the
    * mode [[ReliableConf]] names when the loop starts, plus per-round
    * checkpoint-file cleanup in reliable mode. Spark only deletes checkpoint
    * files under spark.cleaner.referenceTracking.cleanCheckpoints=true, and
    * then only when the RDD is GC'd — a long run would otherwise accumulate
    * one rdd-* directory per round in reliable storage indefinitely, so each
    * superseded round's directory (resolved from the materialized plan — no
    * directory-listing races with concurrent checkpoint users) is deleted
    * as soon as the FOLLOWING round, which no longer reads it, has safely
    * materialized.
    */
  private[operators] final class Loop(spark: SparkSession) {
    private val reliable = Ckpt.reliable(spark)
    if (reliable) requireDir(spark)
    private var prevRound: Option[String] = None

    def eager(df: DataFrame): DataFrame = cut(df, eager = true, reliable)

    /** Lazy checkpoint: materializes at the caller's next action over the
      * returned frame (fusing the convergence check into the materializing
      * job); call [[release]] on the SOURCE frame after that action.
      */
    def lazily(df: DataFrame): DataFrame =
      if (!reliable) df.localCheckpoint(false)
      else {
        df.persist(StorageLevel.MEMORY_AND_DISK)
        df.checkpoint(false)
      }

    def release(src: DataFrame): Unit = if (reliable) src.unpersist(false)

    /** Seed the rotation with round 0's state (nothing deleted yet). */
    def seed(materialized: DataFrame): Unit =
      if (reliable) prevRound = checkpointFile(materialized)

    /** Delete a materialized checkpoint that is fully superseded OUTSIDE the
      * round rotation (the canonical edge frame once the pre-partitioned
      * symmetric closure has been materialized from it — nothing reads it
      * again, and a loop must not leave two corpus-sized edge checkpoints
      * on reliable storage when one is garbage).
      */
    def drop(materialized: DataFrame): Unit =
      if (reliable) checkpointFile(materialized).foreach(delete)

    /** Note `materialized` as the new current round and delete the previous
      * round's checkpoint directory — no reader left.
      */
    def rotate(materialized: DataFrame): Unit = if (reliable) {
      prevRound.foreach(delete)
      prevRound = checkpointFile(materialized)
    }

    private def checkpointFile(df: DataFrame): Option[String] =
      df.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getCheckpointFile
      }.flatten

    private def delete(file: String): Unit = try {
      val p = new org.apache.hadoop.fs.Path(file)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    } catch { case _: Exception => () } // cleanup is best-effort by design
  }
}
