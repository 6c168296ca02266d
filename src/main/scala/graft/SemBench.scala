package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Same-JVM stage attribution for the SemDeDup path (gate dedup_semantic:
  * quantizer fit → soft cell assignment → within-cell capped pairs →
  * exact-cosine verify → connected components → retention labeling) — the
  * SigBench discipline applied to the one sf0.1 steady gate drifting
  * upward across rounds with no code change on its path (1.26 → 1.38 →
  * 1.40 s medians r14→r16). Min of SPARK_GRAFT_MICRO_REPS after one
  * warm-up, gate config (threshold 0.45, nCells=4, probes=2).
  */
object SemBench {
  def main(args: Array[String]): Unit = {
    Thread.currentThread().setContextClassLoader(getClass.getClassLoader)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_MICRO_REPS", "3").toInt
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = queries.QueryPack.t(spark, sfDir, "embeddings").localCheckpoint(true)

    def time(name: String)(mk: => Long): Unit = {
      mk // warm-up
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); mk; (System.nanoTime() - t0) / 1e9
      }
      println(f"SEM $name%-24s min=${ts.min}%.3f runs=${ts.map(t => f"$t%.3f").mkString(",")}")
    }

    time("quantizer_fit") {
      Similarity.trainSphericalQuantizer(emb, "embedding", 4, 4096).length.toLong
    }
    val centroids = Similarity.trainSphericalQuantizer(emb, "embedding", 4, 4096)
    time("cell_assignment") {
      emb.select(explode(graft.functions.GraftFunctions
          .nearest_centroids(col("embedding"), centroids, 2)).as("cell"))
        .groupBy(col("cell")).count().collect().map(_.getLong(1)).sum
    }
    time("candidate_pairs") {
      Dedup.semanticScoredPairs(emb, "vec_id", "embedding", nCells = 4, probes = 2)
    }
    time("verified_pairs") {
      Dedup.semanticDuplicates(emb, "vec_id", "embedding", threshold = 0.45,
        nCells = 4, probes = 2).count()
    }
    time("full_gate") {
      Dedup.semanticDedup(emb, "vec_id", "embedding", threshold = 0.45,
        nCells = 4, probes = 2).count()
    }
    spark.stop()
  }
}
