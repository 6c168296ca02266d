package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage cuts for one-shot (non-loop) intermediates, honoring the cluster
  * deployment contract (r18, VERDICT r17 #2).
  *
  * The operators and trained pipelines cut lineage with `localCheckpoint`,
  * which stores blocks UNREPLICATED on executors: cheap and exactly right in
  * local mode and for model-sized frames, but on a real cluster losing one
  * executor after the cut kills the query instead of recomputing it, and it
  * is documented-unsafe under dynamic allocation. Every library call site
  * therefore routes through [[cut]], which switches to reliable-storage
  * `checkpoint()` when the session sets
  *
  *   spark.graft.checkpoint.reliable = true
  *
  * (plus `sparkContext.setCheckpointDir(...)` on HDFS/S3) — the same
  * escape hatch [[Dedup.duplicateGroups]]' `reliableCheckpoint` parameter
  * gives the iterative CC loops. Reliable mode persists around the
  * checkpoint so the frame computes once (RDD checkpointing otherwise
  * recomputes the lineage for the write job — documented Spark behavior),
  * and is always EAGER: a lazy reliable checkpoint would strand the
  * protective persist with no release point at these one-shot sites. The
  * cost is one extra job and a reliable-storage write per site; correctness
  * and values are identical (each site's own size argument — model-sized
  * vs corpus-sized — is documented at the site).
  *
  * Retention: reliable mode never deletes a one-shot checkpoint (unlike
  * `CkptLoop`, which drops each superseded round). Its files stay in the
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

  def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.get(ReliableConf, "false").toBoolean

  /** Cut `df`'s lineage: `localCheckpoint(eager)` in local mode, reliable
    * eager `checkpoint()` under [[ReliableConf]]. `eager = false` is a
    * local-mode serial-job optimization only (the materialization fuses
    * into the first consuming action); reliable mode ignores it — see the
    * class note.
    */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    if (!reliable(df)) df.localCheckpoint(eager)
    else {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConf=true needs sparkContext.setCheckpointDir(...) " +
          "pointing at reliable storage (HDFS/S3)")
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = df.checkpoint(true)
      df.unpersist(false)
      out
    }

  /** `import graft.operators.Ckpt.Ops` to write `df.cut(eager)` in place of
    * `df.localCheckpoint(eager)` at library call sites.
    */
  implicit class Ops(private val df: DataFrame) extends AnyVal {
    def cut(eager: Boolean = true): DataFrame = Ckpt.cut(df, eager)
  }
}
