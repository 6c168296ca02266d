package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

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
}
