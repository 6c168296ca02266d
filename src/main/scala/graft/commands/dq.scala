package graft.commands

import org.apache.spark.sql.{DataFrame, GraftSQLBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, Literal, Not}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit}
import org.apache.spark.sql.types._

import graft.catalog.GraftEnv
import graft.model._

/** Data-quality command family. Check plans replicate the reference's
  * generated SQL exactly (SURVEY.md §2.2, execution/command/DataQualitySpec.scala):
  *
  *  - total:       SELECT COUNT(*) FROM t                                  (:48-50)
  *  - custom DQ:   Filter(expr, UnresolvedRelation(t)) -> count            (:60-73)
  *  - PK/UNIQUE:   COUNT(*) FROM (SELECT cols FROM t GROUP BY cols
  *                 HAVING COUNT(cols) == 1)                                 (:108-122)
  *  - FK:          COUNT(*) FROM t WHERE ARRAY(cols) IN
  *                 (SELECT ARRAY(refCols) FROM refT)                        (:154-170)
  *
  * At scale these decorrelate to one hash-aggregate / one left-semi shuffle
  * join per check — no driver-side iteration.
  */
object DqSupport {
  /** A declared check, as a descriptor (not a thunk) so RUN DQ can fuse and
    * parallelize execution across checks — see [[runChecks]].
    */
  final case class Check(name: String, typ: String, cols: Seq[String] = Nil,
      expression: Option[String] = None,
      refTable: Seq[String] = Nil, refCols: Seq[String] = Nil) {
    /** Addressable by explicit name OR backticked composite column list
      * (reference: DataQualitySpec.scala:296-342, LightningSource.scala:92-98).
      */
    def answersTo(query: String): Boolean = {
      val q = stripCompositeName(query)
      stripCompositeName(name).equalsIgnoreCase(q) ||
        (cols.nonEmpty && cols.mkString(",").equalsIgnoreCase(q))
    }

    /** The LIST DQ `expression` column: the columns of a PK/UNIQUE, the
      * columns and referenced table(columns) of an FK, a DQ's expression.
      */
    def rendering: String = typ match {
      case "DQ" => expression.getOrElse("")
      case "FK" => s"${cols.mkString(", ")} -> ${refTable.mkString(".")}(${refCols.mkString(", ")})"
      case _ => cols.mkString(", ")
    }
  }

  /** The checks of `checks` that `query` names, with a custom DQ taking
    * precedence: the reference's annotation lookup short-circuits before
    * the constraint lookup (DataQualitySpec.scala:461-468), so a DQ sharing
    * a constraint's name answers alone.
    */
  def named(checks: Seq[Check], query: String, table: Seq[String]): Seq[Check] = {
    val hit = checks.filter(_.answersTo(query))
    if (hit.isEmpty) throw new NoSuchElementException(
      s"no DQ or constraint named $query on ${table.mkString(".")}")
    val dqHits = hit.filter(_.typ == "DQ")
    if (dqHits.nonEmpty) dqHits else hit
  }

  /** Small daemon pool for submitting independent PK/FK Spark jobs
    * concurrently (job *submission* is cheap; the cluster schedules the
    * stages — serial submission would leave executors idle between checks).
    */
  private lazy val dqEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(8, r => {
        val t = new Thread(r, "graft-dq"); t.setDaemon(true); t
      }))

  def tableRef(spark: SparkSession, parts: Seq[String]): String =
    GraftEnv.quote(GraftEnv.catalogName(spark) +: GraftEnv.stripCatalog(spark, parts))

  /** Resolve (namespace, usl, table) from a full table identifier. */
  def resolveUsl(spark: SparkSession, table: Seq[String]): (Seq[String], UslSpec, TableSpec) = {
    val parts = GraftEnv.stripCatalog(spark, table)
    require(parts.size >= 3, s"DQ table must be <ns...>.<usl>.<table>, got ${table.mkString(".")}")
    val (ns, usl, tbl) = (parts.dropRight(2), parts(parts.size - 2), parts.last)
    val model = GraftEnv.model(spark)
    val uslSpec = model.loadUsl(ns, usl).getOrElse(
      throw new NoSuchElementException(s"USL ${(ns :+ usl).mkString(".")} not found"))
    val tableSpec = uslSpec.tables.find(_.name.equalsIgnoreCase(tbl)).getOrElse(
      throw new NoSuchElementException(s"table $tbl not in USL $usl"))
    require(tableSpec.activateQuery.isDefined,
      s"table ${parts.mkString(".")} is not activated (reference: LightningCommandBase.scala:73-92)")
    (ns, uslSpec, tableSpec)
  }

  def customDqDf(spark: SparkSession, table: Seq[String], expression: String,
      valid: Boolean, limit: Int = 0): DataFrame = {
    val parts = GraftEnv.catalogName(spark) +: GraftEnv.stripCatalog(spark, table)
    val expr = spark.sessionState.sqlParser.parseExpression(expression)
    val cond = if (valid) expr else Not(expr)
    val plan0 = Filter(cond, UnresolvedRelation(parts))
    val plan = if (limit > 0) Limit(Literal(limit), plan0) else plan0
    GraftSQLBridge.ofRows(spark, plan)
  }

  def total(spark: SparkSession, table: Seq[String]): Long =
    spark.sql(s"SELECT COUNT(*) FROM ${tableRef(spark, table)}").head().getLong(0)

  def pkValidCount(spark: SparkSession, table: Seq[String], cols: Seq[String]): Long = {
    val c = cols.map(x => s"`$x`").mkString(", ")
    spark.sql(
      s"""SELECT COUNT(*) FROM (
         |  SELECT $c FROM ${tableRef(spark, table)} GROUP BY $c HAVING COUNT(*) == 1
         |)""".stripMargin).head().getLong(0)
  }

  def pkRecordsDf(spark: SparkSession, table: Seq[String], cols: Seq[String],
      valid: Boolean, limit: Int): DataFrame = {
    val c = cols.map(x => s"`$x`").mkString(", ")
    val in = if (valid) "IN" else "NOT IN"
    val lim = if (limit > 0) s" LIMIT $limit" else ""
    spark.sql(
      s"""SELECT * FROM ${tableRef(spark, table)} WHERE ARRAY($c) $in (
         |  SELECT ARRAY($c) FROM ${tableRef(spark, table)} GROUP BY $c HAVING COUNT(*) == 1
         |)$lim""".stripMargin)
  }

  def fkValidCount(spark: SparkSession, table: Seq[String], cols: Seq[String],
      refTable: Seq[String], refCols: Seq[String]): Long = {
    val c = cols.map(x => s"`$x`").mkString(", ")
    val rc = refCols.map(x => s"`$x`").mkString(", ")
    spark.sql(
      s"""SELECT COUNT(*) FROM ${tableRef(spark, table)}
         | WHERE ARRAY($c) IN (SELECT ARRAY($rc) FROM ${tableRef(spark, refTable)})"""
        .stripMargin).head().getLong(0)
  }

  def fkRecordsDf(spark: SparkSession, table: Seq[String], cols: Seq[String],
      refTable: Seq[String], refCols: Seq[String], valid: Boolean, limit: Int): DataFrame = {
    val c = cols.map(x => s"`$x`").mkString(", ")
    val rc = refCols.map(x => s"`$x`").mkString(", ")
    val in = if (valid) "IN" else "NOT IN"
    val lim = if (limit > 0) s" LIMIT $limit" else ""
    spark.sql(
      s"""SELECT * FROM ${tableRef(spark, table)}
         | WHERE ARRAY($c) $in (SELECT ARRAY($rc) FROM ${tableRef(spark, refTable)})$lim"""
        .stripMargin)
  }

  /** Composite constraint names render as backtick-quoted comma lists like
    * the reference (DataQualitySpec.scala:296-342, LightningSource.scala:92-98).
    */
  def constraintName(explicit: Option[String], cols: Seq[String]): String =
    explicit.getOrElse(if (cols.size == 1) cols.head else s"`${cols.mkString(",")}`")

  def stripCompositeName(name: String): String = name.stripPrefix("`").stripSuffix("`")

  /** All checks declared on a table, in LIST DQ order: table- then
    * column-level PK, table- then column-level UNIQUE, FK, then the custom
    * DQ annotations. RUN DQ, LIST DQ and SHOW DQ RECORD all read this list.
    */
  def checksOf(spec: TableSpec): Seq[Check] = {
    val pkChecks = (spec.primaryKey.map(pk => (constraintName(pk.name, pk.columns), pk.columns, "PK")).toSeq ++
      spec.columns.filter(_.primaryKey).map(c => (c.name, Seq(c.name), "PK")) ++
      spec.uniques.map(u => (constraintName(u.name, u.columns), u.columns, "UNIQUE")) ++
      spec.columns.filter(_.unique).map(c => (c.name, Seq(c.name), "UNIQUE")))
      .map { case (nm, cols, typ) => Check(nm, typ, cols) }
    val fkChecks = (spec.foreignKeys.map(fk =>
        (constraintName(fk.name, fk.columns), fk.columns, fk.refTable, fk.refColumns)) ++
      spec.columns.flatMap(c => c.references.map(r => (c.name, Seq(c.name), r.table, r.columns))))
      .map { case (nm, cols, refT, refC) => Check(nm, "FK", cols, None, refT, refC) }
    val dqChecks = spec.dataQualities.map(dq => Check(dq.name, "DQ", Nil, Some(dq.expression)))
    pkChecks ++ fkChecks ++ dqChecks
  }

  /** Execute checks with the job layout that holds up at 100 TB:
    *
    *  - ALL custom-DQ counts + the table total fuse into ONE aggregate pass
    *    (`count(1), sum(case when expr_i ...)…`) — N custom checks used to be
    *    N+1 sequential table scans, now it is one scan regardless of N;
    *  - PK/FK checks (each its own hash-aggregate / left-semi join shape)
    *    are submitted as concurrent Spark jobs so the cluster pipelines them
    *    instead of idling between serial driver-side submissions.
    *
    * Returns (total, valid) per check, aligned with the input order.
    * (The reference recomputes even the total per check, serially —
    * DataQualitySpec.scala:280-482.)
    */
  def runChecks(spark: SparkSession, table: Seq[String], checks: Seq[Check]): Seq[(Long, Long)] = {
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum, when}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = dqEc

    val parts = GraftEnv.catalogName(spark) +: GraftEnv.stripCatalog(spark, table)
    val rel = GraftSQLBridge.ofRows(spark, UnresolvedRelation(parts))
    val dqIdx = checks.zipWithIndex.collect { case (c, i) if c.typ == "DQ" => i }
    val fusedCols = count(lit(1)).as("__total") +: dqIdx.map { i =>
      val cond = GraftSQLBridge.column(
        spark.sessionState.sqlParser.parseExpression(checks(i).expression.get))
      coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L)).as(s"__dq_$i")
    }
    val fusedF = Future(rel.agg(fusedCols.head, fusedCols.tail: _*).head())
    val constraintF: Map[Int, Future[Long]] = checks.zipWithIndex.collect {
      case (c, i) if c.typ == "PK" || c.typ == "UNIQUE" =>
        i -> Future(pkValidCount(spark, table, c.cols))
      case (c, i) if c.typ == "FK" =>
        i -> Future(fkValidCount(spark, table, c.cols, c.refTable, c.refCols))
    }.toMap
    val fused = Await.result(fusedF, Duration.Inf)
    val total = fused.getLong(0)
    val dqValid = dqIdx.zipWithIndex.map { case (orig, j) => orig -> fused.getLong(j + 1) }.toMap
    checks.indices.map { i =>
      dqValid.get(i).map(v => (total, v))
        .getOrElse((total, Await.result(constraintF(i), Duration.Inf)))
    }
  }
}

/** REGISTER DQ name TABLE tbl AS <expr>: typechecks the expression by
  * analyzing Filter(expr, rel) then persists the annotation
  * (reference: DataQualitySpec.scala:211-245).
  */
case class RegisterDqCommand(name: String, table: Seq[String], expression: String)
    extends GraftCommandBase {
  override val output: Seq[Attribute] = Seq(attr("registered"))
  override def run(spark: SparkSession): Seq[Row] = {
    val (ns, usl, tableSpec) = DqSupport.resolveUsl(spark, table)
    // ${var} CTE variables: each variable body must itself parse as a plan;
    // like the reference, they are validated + stored but not composed
    // further (reference: parser/LightningParserUtils.scala:53-71,
    // CreateTableSpec.scala:93-111)
    val vars = "\\$\\{([^}]*)\\}".r.findAllMatchIn(expression).map(_.group(1)).toSeq
    vars.foreach(v => spark.sessionState.sqlParser.parsePlan(v))
    // parse + analyze + optimize to typecheck (reference: DataQualitySpec.scala:37-46)
    if (vars.isEmpty)
      DqSupport.customDqDf(spark, table, expression, valid = true).queryExecution.optimizedPlan
    val updated = usl.copy(tables = usl.tables.map {
      case tb if tb.name.equalsIgnoreCase(tableSpec.name) =>
        tb.copy(dataQualities =
          tb.dataQualities.filterNot(_.name == name) :+ DataQualitySpec(name, expression))
      case tb => tb
    })
    GraftEnv.model(spark).saveUsl(updated.copy(tables = updated.tables.map(_.copy(activateQuery = None))))
    Seq(Row(s"DQ $name registered on ${table.mkString(".")}"))
  }
}

/** LIST DQ USL usl (reference: DataQualitySpec.scala:247-278). */
case class ListDqCommand(usl: Seq[String]) extends GraftCommandBase {
  override val output: Seq[Attribute] =
    Seq(attr("name"), attr("table"), attr("type"), attr("expression"))
  override def run(spark: SparkSession): Seq[Row] = {
    val parts = GraftEnv.stripCatalog(spark, usl)
    val (ns, name) = (parts.dropRight(1), parts.last)
    val spec = GraftEnv.model(spark).loadUsl(ns, name).getOrElse(
      throw new NoSuchElementException(s"USL ${parts.mkString(".")} not found"))
    spec.tables.flatMap { tb =>
      DqSupport.checksOf(tb).map(c => Row(c.name, tb.name, c.typ, c.rendering))
    }
  }
}

/** RUN DQ [name] TABLE tbl -> (name, table, type, total, valid, invalid)
  * (reference: DataQualitySpec.scala:280-482).
  */
case class RunDqCommand(name: Option[String], table: Seq[String]) extends GraftCommandBase {
  override val output: Seq[Attribute] = Seq(attr("name"), attr("table"), attr("type"),
    attr("total", LongType), attr("valid", LongType), attr("invalid", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    val (_, _, tableSpec) = DqSupport.resolveUsl(spark, table)
    val all = DqSupport.checksOf(tableSpec)
    val selected = name.fold(all)(DqSupport.named(all, _, table))
    val tableName = GraftEnv.stripCatalog(spark, table).mkString(".")
    val results = DqSupport.runChecks(spark, table, selected)
    selected.zip(results).map { case (c, (tot, valid)) =>
      Row(c.name, tableName, c.typ, tot, valid, tot - valid)
    }
  }
}

/** REMOVE DQ name TABLE tbl (reference: DataQualitySpec.scala:484-507). */
case class RemoveDqCommand(name: String, table: Seq[String]) extends GraftCommandBase {
  override val output: Seq[Attribute] = Seq(attr("removed"))
  override def run(spark: SparkSession): Seq[Row] = {
    val (ns, usl, tableSpec) = DqSupport.resolveUsl(spark, table)
    require(tableSpec.dataQualities.exists(_.name == name),
      s"no custom DQ named $name on ${table.mkString(".")}")
    val updated = usl.copy(tables = usl.tables.map {
      case tb if tb.name.equalsIgnoreCase(tableSpec.name) =>
        tb.copy(dataQualities = tb.dataQualities.filterNot(_.name == name))
      case tb => tb
    })
    GraftEnv.model(spark).saveUsl(updated.copy(tables = updated.tables.map(_.copy(activateQuery = None))))
    Seq(Row(s"DQ $name removed from ${table.mkString(".")}"))
  }
}

/** SHOW DQ (VALID|INVALID) RECORD name TABLE tbl [LIMIT n]: the matching rows
  * themselves, JSON-rendered (reference: DataQualitySpec.scala:509-621).
  */
case class ShowDqRecordsCommand(name: String, table: Seq[String], valid: Boolean,
    limit: Int = 0) extends GraftCommandBase {
  override val output: Seq[Attribute] = Seq(attr("json"))

  /** DataFrame variant for the REST API (avoids collect-to-driver OOM,
    * reference: DataQualitySpec.scala:613-615).
    */
  def recordsDf(spark: SparkSession): DataFrame = {
    val (_, _, tableSpec) = DqSupport.resolveUsl(spark, table)
    val c = DqSupport.named(DqSupport.checksOf(tableSpec), name, table).head
    c.typ match {
      case "DQ" => DqSupport.customDqDf(spark, table, c.expression.get, valid, limit)
      case "FK" => DqSupport.fkRecordsDf(spark, table, c.cols, c.refTable, c.refCols, valid, limit)
      case _ => DqSupport.pkRecordsDf(spark, table, c.cols, valid, limit)
    }
  }

  override def run(spark: SparkSession): Seq[Row] =
    recordsDf(spark).toJSON.collect().map(Row(_)).toSeq
}

/** SHOW NAMESPACES OR TABLES IN ns: merged namespace+table listing with kind
  * labels (reference: execution/command/namespace.scala:29-50).
  */
case class ShowNamespacesAndTablesCommand(namespace: Seq[String]) extends GraftCommandBase {
  override val output: Seq[Attribute] = Seq(attr("name"), attr("kind"))
  override def run(spark: SparkSession): Seq[Row] = {
    val catName = GraftEnv.catalogName(spark)
    val ns = GraftEnv.stripCatalog(spark, namespace)
    val model = GraftEnv.model(spark)
    val usls = model.listUsls(ns).map(u => Row(u, "usl"))
    val nss = spark.sql(s"SHOW NAMESPACES IN ${GraftEnv.quote(catName +: ns)}")
      .collect().map(r => Row(r.getString(0).split('.').last, "namespace")).toSeq
    val tbls = spark.sql(s"SHOW TABLES IN ${GraftEnv.quote(catName +: ns)}")
      .collect().map(r => Row(r.getString(1), "table")).toSeq
    usls ++ nss.filterNot(n => usls.exists(_.getString(0) == n.getString(0))) ++ tbls
  }
}
