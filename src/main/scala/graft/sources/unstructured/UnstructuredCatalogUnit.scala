package graft.sources.unstructured

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{Table, TableCapability}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.connector.catalog.SupportsWrite
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType

import graft.catalog.CatalogUnit
import graft.model.DataSourceSpec
import graft.sources.DataFrameV1Table

import java.util.{Set => JSet}
import scala.jdk.CollectionConverters._

/** Routes an unstructured datasource's two tables: the metadata table (named
  * after the datasource) and the `content` sub-table
  * (reference: datasources/v2/UnstructuredFileTable.scala:37-153,
  * PdfTable.scala:31-71). The content table is also the INSERT sink:
  * `INSERT INTO <ds>.content SELECT path, <content>` writes each row's bytes
  * as a file under the datasource path, with automatic image thumbnails
  * (reference: UnstructuredFileFormat.scala:35-121, BinOutputWriter.scala:79-116).
  */
final class UnstructuredCatalogUnit(val ds: DataSourceSpec) extends CatalogUnit {

  override def loadTable(spark: SparkSession, rest: Seq[String], name: String,
      schemaOverride: Option[StructType]): Table = name match {
    case n if n == ds.name =>
      new DataFrameV1Table(ds.name, Unstructured.tableSchema(spark, ds),
        s => Unstructured.metadataTable(s, ds))
    case "content" =>
      val filetype = ds.sourceType.toLowerCase
      new DataFrameV1Table(s"${ds.name}.content",
          Unstructured.contentSchema(filetype),
          s => Unstructured.contentTable(s, ds)) with SupportsWrite {
        override def capabilities(): JSet[TableCapability] =
          Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
            TableCapability.TRUNCATE).asJava
        override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
          new WriteBuilder {
            override def build(): Write = new V1Write {
              override def toInsertableRelation(): InsertableRelation =
                new InsertableRelation {
                  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
                    // content column = first binary/string non-path column
                    val contentCol = data.schema.fields
                      .find(f => f.name != "path").map(_.name)
                      .getOrElse(throw new IllegalArgumentException(
                        "INSERT into an unstructured content table needs (path, content) columns"))
                    UnstructuredWrite.writeFiles(data, ds.options("path"), contentCol,
                      thumbnails = filetype == "image")
                  }
                }
            }
          }
      }
    case other => throw new NoSuchElementException(
      s"unstructured datasource ${ds.name} has tables [${ds.name}, content], not $other")
  }

  override def listTables(spark: SparkSession, rest: Seq[String]): Seq[String] =
    Seq(ds.name, "content")
}
