package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Same-JVM stage attribution for the INCREMENTAL ingest dedup path
  * (`Dedup.incrementalDedup`, gate dedup_incremental: even-id corpus vs
  * odd-id batch) — the [[SigBench]] discipline applied to the one sf25
  * gate whose cost was measured (41.1 s cold, r14) but never attributed.
  * Stages, timed cold-ish (min of `SPARK_GRAFT_MICRO_REPS`, one warm-up):
  *
  *  - exact_stage: corpus hash distinct + batch anti-join (survivor count)
  *  - corpus_banding: signature + band explode over EVERY corpus row —
  *    the stage that pays the exact-dup clique tax if there is one
  *    (members of one normText clique band identically)
  *  - corpus_banding_distinct: the same banding over one representative
  *    per DISTINCT corpus text — what a corpus-side exact-collapse would
  *    pay instead (corpus ids never reach the gate's output, so the
  *    substitution is semantics-free there)
  *  - candidates: full incremental candidate generation (both bandings +
  *    hot-bucket sampling + the (band, bucket) join)
  *  - full_gate: the shipped gate lineage end to end
  */
object IncBench {
  def main(args: Array[String]): Unit = {
    Thread.currentThread().setContextClassLoader(getClass.getClassLoader)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_MICRO_REPS", "2").toInt
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = queries.QueryPack.t(spark, sfDir, "documents")
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 2 === 1)

    def time(name: String)(mk: => Long): Unit = {
      mk // warm-up
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); mk; (System.nanoTime() - t0) / 1e9
      }
      println(f"INC $name%-26s min=${ts.min}%.2f runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }

    val corpusHashes = corpus.select(Dedup.normTextHash("text").as("__h")).distinct()
    time("exact_stage") {
      batch.withColumn("__h", Dedup.normTextHash("text"))
        .join(corpusHashes, Seq("__h"), "left_anti").count()
    }
    // survivors materialized once so later stages time only themselves
    val survivors = batch.withColumn("__h", Dedup.normTextHash("text"))
      .join(corpusHashes, Seq("__h"), "left_anti").drop("__h")
      .localCheckpoint(true)
    time("corpus_banding") {
      Dedup.minHashBanded(corpus, "doc_id", "text", 3, 128, 32).count()
    }
    val corpusReps = corpus.groupBy(Dedup.normTextHash("text").as("__rh"))
      .agg(min(col("doc_id")).as("doc_id"), min_by(col("text"), col("doc_id")).as("text"))
      .select(col("doc_id"), col("text"))
    time("corpus_banding_distinct") {
      Dedup.minHashBanded(corpusReps, "doc_id", "text", 3, 128, 32).count()
    }
    // r16 queue #3: does the persisted-index BUILD pay the clique tax?
    // index_build is the shipped ingestIndexBuild; index_build_reps is the
    // build over one representative per distinct corpus text. BEFORE the
    // r16 collapse these differed (member-level vs rep-level banding — the
    // decision measurement, recorded in BASELINE.md); AFTER it the shipped
    // build collapses internally, so the two rows now pin each other.
    time("index_build") {
      val ix = Dedup.ingestIndexBuild(corpus, "doc_id", "text")
      ix.banded.count() + ix.hashes.count()
    }
    time("index_build_reps") {
      val ix = Dedup.ingestIndexBuild(corpusReps, "doc_id", "text")
      ix.banded.count() + ix.hashes.count()
    }
    time("candidates") {
      Dedup.incrementalCandidatePairs(corpus, survivors, "doc_id", "text").count()
    }
    time("full_gate") {
      Dedup.incrementalDedup(corpus, batch, "doc_id", "text", threshold = 0.7).count()
    }
    val nCorpus = corpus.count(); val nBatch = batch.count()
    val nSurv = survivors.count()
    val nDistinct = corpusReps.count()
    val nCand = Dedup.incrementalCandidatePairs(corpus, survivors, "doc_id", "text").count()
    println(s"INCC corpus=$nCorpus distinct_corpus_texts=$nDistinct batch=$nBatch " +
      s"exact_survivors=$nSurv candidates=$nCand")
    spark.stop()
  }
}
