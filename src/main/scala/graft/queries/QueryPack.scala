package graft.queries

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

import graft.catalog.SchemaMemo

/** One correctness-gate query: a Spark DataFrame program plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL over
  * the same parquet tables. Column names MUST match between the two — the
  * driver sorts columns by name and hashes values.
  */
final case class QuerySpec(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryPack {
  /** Load one testdata table from the given sf directory.
    *
    * The events table's `ts` column has shipped in two physical forms across
    * driver testdata generations: TIMESTAMP(NANOS), which Spark's parquet
    * reader rejects (read as long via the legacy conf, rebuilt with integral
    * division — the data has no sub-micro component), and plain
    * timestamp[us] with isAdjustedToUTC=false, which Spark 4 reads as
    * TIMESTAMP_NTZ. Both normalize to TIMESTAMP (LTZ): every session here
    * pins spark.sql.session.timeZone=UTC, so the NTZ→LTZ cast denotes the
    * same instant the nanos path produced, watermarks/unix_millis (which
    * require LTZ) keep working, and gate outputs keep the dtype the DuckDB
    * comparison has always seen.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ltzTs(parquet(spark, s"$dir/$name.parquet"))
  }

  private[queries] def ltzTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case Some(f) if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** `spark.read.parquet(path)`, with the [[SchemaMemo]] schema while the
    * path's leaf files are unchanged, so a repeated read runs no footer
    * inference job. A miss infers as `spark.read.parquet` does; an
    * inference failure raises from it and stores nothing.
    */
  private[queries] def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = SchemaMemo.key(spark, "parquet", path, Map.empty)
    SchemaMemo.reuse(key)(spark.read.schema(_).parquet(path))(fileIndex).getOrElse {
      val df = spark.read.parquet(path)
      fileIndex(df).foreach(SchemaMemo.remember(key, _, df.schema))
      df
    }
  }

  // the listing the read's own scan uses (None keeps the read out of the memo)
  private def fileIndex(df: DataFrame): Option[PartitioningAwareFileIndex] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .collect { case i: PartitioningAwareFileIndex => i }

  // The one path of a gate run's warehouse: every fixture and gate output
  // lives under it. The path embeds a fingerprint of the source parquet tables
  // (name:size:mtime of every *.parquet in the sf dir): the fixtures DERIVE
  // from those tables, so when testdata is regenerated in place, a path
  // keyed only on the dir name would serve the previous generation's
  // fixtures against oracles reading the new parquet — a spurious gate
  // failure. A new generation lands in a fresh warehouse and every fixture
  // rebuilds. (Stale generations are orphaned in /tmp; fixture scale makes
  // that cheap.)
  private val whFingerprints = scala.collection.concurrent.TrieMap.empty[String, String]
  private[queries] def wh(dir: String): String = {
    val fp = whFingerprints.getOrElseUpdate(dir, {
      val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
      val sig = files.map(f => s"${f.getName}:${f.length()}:${f.lastModified()}").mkString("|")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(sig.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.take(6).map(b => f"$b%02x").mkString
    })
    "/tmp/graft-verify-wh-" + dir.replaceAll("[^a-zA-Z0-9]", "_") + "-" + fp
  }

  /** Build-once publish for a fixture whose files the gate writes itself.
    * While `target` is missing, `write` fills a fresh sibling staging
    * directory and one rename publishes it, so a crash mid-build never
    * leaves a partial `target` that later runs would serve as complete. A
    * writer that throws, and a run that loses the rename to a concurrent
    * build, delete their own staging tree. Returns `target`.
    */
  private[queries] def fixtureDir(target: File)(write: File => Unit): File = {
    if (!target.exists()) {
      target.getParentFile.mkdirs()
      val staging = java.nio.file.Files.createTempDirectory(
        target.getParentFile.toPath, s"${target.getName}.tmp").toFile
      var published = false
      try { write(staging); published = staging.renameTo(target) }
      finally if (!published) deleteTree(staging)
    }
    target
  }

  /** Build-once publish for a fixture that SQL writes at a registered path
    * (lake tables, the unstructured write sink, the Derby database), where
    * no staging rename is possible. While `marker` is missing, the `clear`
    * trees (a crashed build's leftovers) are deleted, `build` runs, and the
    * marker is written last — a build that dies leaves no marker, so the
    * next run starts over.
    */
  private[queries] def fixtureOnce(marker: File, clear: Seq[File] = Nil)(build: => Unit): Unit = {
    if (!marker.exists()) {
      clear.foreach(deleteTree)
      build
      marker.getParentFile.mkdirs()
      marker.createNewFile(): Unit
    }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  /** The planted-pair layout of the perceptual-dedup gates: one payload per
    * nation key, plus a twin at key+100 for every key of `twinRegion`.
    * `payload(key, isTwin)` builds both from the original's key (the twin
    * carries one planted edit). Returns (id, payload), originals first, in
    * nation order; payloads build on parallel driver threads.
    */
  private[queries] def plantedPairs(spark: SparkSession, dir: String, twinRegion: Int)(
      payload: (Long, Boolean) => Array[Byte]): Seq[(Long, Array[Byte])] = {
    val keys = t(spark, dir, "nation").select("n_nationkey", "n_regionkey")
      .collect().map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong))
    val specs = (keys.map { case (k, _) => (k, k, false) } ++
      keys.collect { case (k, r) if r == twinRegion => (k + 100L, k, true) }).toIndexedSeq
    parMap(spark, specs) { case (id, k, twin) => (id, payload(k, twin)) }
  }

  /** [[plantedPairs]] as an (id, bytes) frame. */
  private[queries] def plantedFrame(spark: SparkSession, dir: String, twinRegion: Int)(
      payload: (Long, Boolean) => Array[Byte]): DataFrame = {
    val rows = plantedPairs(spark, dir, twinRegion)(payload).map { case (id, b) => Row(id, b) }
    spark.createDataFrame(new java.util.ArrayList(java.util.Arrays.asList(rows: _*)),
      StructType(Seq(StructField("id", LongType, false), StructField("bytes", BinaryType))))
  }

  /** The oracle of every planted-pair gate: exactly the (key, key+100) pairs
    * of the twinned region.
    */
  private[queries] def plantedPairsOracle(twinRegion: Int): Option[String] =
    Some(s"""SELECT CAST(n_nationkey AS BIGINT) AS id_a,
          CAST(n_nationkey + 100 AS BIGINT) AS id_b
        FROM nation WHERE n_regionkey = $twinRegion ORDER BY id_a""")

  /** The seeded per-cell hash the planted payloads draw from: key `k` and
    * cell (a, b) mixed by one or two splitmix64 finalizer rounds (the audio
    * fixtures use one, the image fixtures two — each payload's bytes depend
    * on its count).
    */
  private[queries] def cellHash(k: Long, a: Long, b: Long, rounds: Int): Long = {
    var z = k * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    if (rounds > 1) z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z
  }

  /** `specs.map(f)` on parallel driver threads, bounded by both the
    * session's declared parallelism (local[k] ⇒ k, so core-count scaling
    * is not inflated by unbounded host threads) and the driver host's core
    * count (on a cluster `defaultParallelism` counts executor cores). Serial
    * synthesis of the ~30 media payloads was the multimodal gates' measured
    * driver gap. Output order is input order.
    */
  private def parMap[T, R: scala.reflect.ClassTag](spark: SparkSession,
      specs: IndexedSeq[T])(f: T => R): Seq[R] = {
    val out = new Array[R](specs.length)
    val bound = math.max(1, math.min(specs.length, math.min(
      Runtime.getRuntime.availableProcessors(),
      spark.sparkContext.defaultParallelism)))
    if (bound == 1) specs.indices.foreach(i => out(i) = f(specs(i)))
    else {
      val pool = new java.util.concurrent.ForkJoinPool(bound)
      try pool.submit(new Runnable {
        def run(): Unit = java.util.stream.IntStream.range(0, specs.length)
          .parallel().forEach(i => out(i) = f(specs(i)))
      }).get()
      finally pool.shutdown()
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }
}
