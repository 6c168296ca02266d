package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.types.StructType

import java.util.concurrent.ConcurrentHashMap

/** The schema Spark last inferred for a parquet/ORC path, shared by both
  * read paths: catalog tables ([[FileCatalogUnit]], DSv2 `FileTable`s) and
  * the gates' direct reads (`QueryPack.t`, `DataFrameReader`). Parquet
  * inference runs a footer-read Spark job on every fresh relation; while a
  * path's leaf files are unchanged the schema they yield is too, so a reader
  * passes the memoized schema instead.
  *
  * An entry is valid while the (path, length, modification time) set of the
  * leaf files is unchanged. [[reuse]] checks it against the file index of
  * the relation built with the memoized schema, which its scan lists
  * anyway, so a hit costs no extra listing. A file rewritten in place at the
  * same length within one modification-time tick is not detected.
  */
object SchemaMemo {
  private type Files = Seq[(String, Long, Long)]

  /** One inference: the leaf files, sorted by path, and their schema. */
  private final case class Inferred(files: Files, schema: StructType)

  /** (format, resolved path, datasource options, inference confs). */
  final case class Key private[SchemaMemo] (format: String, path: String,
      options: Map[String, String], conf: Map[String, String])

  // One entry per distinct table (and conf variant); a changed file set
  // replaces its entry rather than adding one.
  private val inferred = new ConcurrentHashMap[Key, Inferred]()

  // SQL confs that parquet/ORC schema inference and partition discovery
  // read (timestamp flavour, nanos-as-long, binary-as-string, schema merge,
  // corrupt/missing-file skipping, partition column typing, case folding).
  private val InferencePrefixes = Seq("spark.sql.parquet.", "spark.sql.orc.",
    "spark.sql.legacy.parquet.", "spark.sql.legacy.orc.", "spark.sql.files.ignore",
    "spark.sql.sources.partition")
  private val InferenceKeys = Set("spark.sql.caseSensitive", "spark.sql.timestampType")

  /** The entry of one read: format, path and options, plus the session's
    * current inference confs, so a flipped conf infers afresh.
    */
  def key(spark: SparkSession, format: String, path: String,
      options: Map[String, String]): Key =
    Key(format, path, options, spark.conf.getAll.filter { case (k, _) =>
      InferenceKeys.contains(k) || InferencePrefixes.exists(k.startsWith)
    })

  private def fingerprint(index: PartitioningAwareFileIndex): Files =
    index.allFiles()
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .sortBy(_._1)

  /** `read` with the schema last inferred under `key`, if the leaf files of
    * the result's own file index are the ones that schema came from; None
    * when there is no entry or it is stale.
    */
  def reuse[T](key: Key)(read: StructType => T)(
      index: T => Option[PartitioningAwareFileIndex]): Option[T] =
    Option(inferred.get(key)).flatMap { hit =>
      val t = read(hit.schema)
      index(t).filter(fingerprint(_) == hit.files).map(_ => t)
    }

  /** Record `schema` as inferred under `key` from the files `index` lists. */
  def remember(key: Key, index: PartitioningAwareFileIndex, schema: StructType): Unit =
    inferred.put(key, Inferred(fingerprint(index), schema))
}
