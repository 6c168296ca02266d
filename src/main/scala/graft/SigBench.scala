package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions => F, TextFunctions => T}
import graft.operators.Dedup

/** Same-JVM stage attribution for the MinHash candidate-generation
  * pipeline: times each stage of the dedup gates' lineage in one process
  * (tokenize → signature [composed vs fused] → banding → candidate pairs →
  * exact-Jaccard verify), min of `SPARK_GRAFT_MICRO_REPS` passes after one
  * warm-up. This is the instrument that attributes WHERE the sf5 dedup
  * seconds actually go — per-stage, not per-gate — so optimization claims
  * are measured, not inferred (the r13/r14 lesson: a per-gate A/B can
  * blame the wrong stage).
  */
object SigBench {
  def main(args: Array[String]): Unit = {
    Thread.currentThread().setContextClassLoader(getClass.getClassLoader)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_MICRO_REPS", "2").toInt
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = queries.QueryPack.t(spark, sfDir, "documents")

    def time(name: String)(mk: => Long): Unit = {
      mk // warm-up
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); mk; (System.nanoTime() - t0) / 1e9
      }
      println(f"SIG $name%-28s min=${ts.min}%.2f runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }

    time("scan_only") {
      docs.agg(sum(length(col("text")))).head().getLong(0)
    }
    time("tokenize") {
      docs.agg(sum(size(T.tokens(col("text"))))).head().getLong(0)
    }
    time("shingle_strings") { // tokens + materialized shingles (old stage 1)
      docs.agg(sum(size(F.word_shingles(T.tokens(col("text")), 3)))).head().getLong(0)
    }
    time("sig_composed") { // old: minhash_signature(word_shingles(...))
      docs.agg(max(element_at(
        F.minhash_signature(F.word_shingles(T.tokens(col("text")), 3), 128), 1)))
        .head().getLong(0)
    }
    time("sig_fused") { // new: shingle_minhash(tokens)
      docs.agg(max(element_at(
        F.shingle_minhash(T.tokens(col("text")), 3, 128), 1))).head().getLong(0)
    }
    time("banding") { // signature + band hash + explode + count
      Dedup.minHashBanded(docs, "doc_id", "text", 3, 128, 32).count()
    }
    time("candidate_pairs") { // banding + bucket self-join + dedup pairs
      Dedup.minHashCandidatePairs(docs, "doc_id", "text").count()
    }
    time("full_minhash_gate") { // + exact-Jaccard verify (word_shingles path)
      Dedup.minHashDuplicates(docs, "doc_id", "text").count()
    }
    // cardinalities: how selective is the candidate stage actually?
    val total = docs.count()
    val cand = Dedup.minHashCandidatePairs(docs, "doc_id", "text").localCheckpoint(true)
    val nPairs = cand.count()
    val nCandDocs = cand.select(explode(array(col("id_a"), col("id_b")))).distinct().count()
    println(s"SIGC docs=$total candidate_pairs=$nPairs candidate_docs=$nCandDocs")
    spark.stop()
  }
}
