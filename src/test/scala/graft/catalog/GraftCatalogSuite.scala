package graft.catalog

import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.v2.orc.OrcTable
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkTestBase

import scala.jdk.CollectionConverters._

/** End-to-end catalog federation: register datasources, query through the
  * lightning-style FQN, ingest a catalog snapshot, compile + activate a USL,
  * run data-quality checks (covers the reference suites
  * RegisterFileDataSourceTestSuite / RegisterCatalogTestSuite /
  * CompileUCLTestSuite / ActivateUCLTableTestSuite / RegisterDataQualityTestSuite).
  */
class GraftCatalogSuite extends SparkTestBase {

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sql(
      s"REGISTER PARQUET DATASOURCE tpch OPTIONS (path '${sf()}') NAMESPACE graft.datasource.file")
  }

  /** The schema the graft catalog handed to the parquet/ORC table it
    * resolves for `fqn` (graft.<ns...>.<name>); None means Spark infers it.
    */
  private def givenSchema(fqn: String): Option[StructType] = {
    val parts = fqn.split('.').toSeq.drop(1)
    val cat = new GraftCatalog()
    cat.initialize("graft", new CaseInsensitiveStringMap(java.util.Map.of("warehouse", warehouseDir)))
    cat.loadTable(Identifier.of(parts.init.toArray, parts.last)) match {
      case t: ParquetTable => t.userSpecifiedSchema
      case t: OrcTable => t.userSpecifiedSchema
      case t => fail(s"$fqn resolved to ${t.getClass.getName}")
    }
  }

  private def columns(fqn: String): Seq[(String, DataType)] =
    spark.sql(s"SELECT * FROM $fqn").schema.fields.toSeq.map(f => (f.name, f.dataType))

  test("registered parquet datasource resolves tables by FQN") {
    val n = spark.sql("SELECT COUNT(*) FROM graft.datasource.file.tpch.nation").head().getLong(0)
    assert(n == 25)
    val joined = spark.sql(
      """SELECT r.r_name, COUNT(*) AS n FROM graft.datasource.file.tpch.nation n
        |JOIN graft.datasource.file.tpch.region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin)
    assert(joined.count() == 5)
  }

  test("filter pushdown reaches the parquet scan through the catalog") {
    val df = spark.sql(
      "SELECT l_orderkey FROM graft.datasource.file.tpch.lineitem WHERE l_quantity < 2.0")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,2.0)]"),
      s"expected pushdown in plan:\n$physical")
  }

  test("SHOW NAMESPACES / SHOW TABLES navigate the catalog") {
    val roots = spark.sql("SHOW NAMESPACES IN graft").collect().map(_.getString(0)).sorted
    assert(roots.toSeq == Seq("datasource", "metastore"))
    val tables = spark.sql("SHOW TABLES IN graft.datasource.file.tpch")
      .collect().map(_.getString(1))
    assert(tables.contains("lineitem") && tables.contains("customer"))
  }

  test("REGISTER CATALOG ingests schema snapshots into the metastore") {
    spark.sql(
      "REGISTER CATALOG tiny SOURCE graft.datasource.file.tpch NAME LIKE 'nation' NAMESPACE graft.metastore")
    val n = spark.sql("SELECT COUNT(*) FROM graft.metastore.tiny.nation").head().getLong(0)
    assert(n == 25)
  }

  test("USL compile + activate + query + DQ lifecycle") {
    spark.sql(
      s"""COMPILE USL ordermart DEPLOY NAMESPACE graft.metastore DDL
         |create table customer (
         |  c_custkey bigint primary key,
         |  c_name string,
         |  c_acctbal double
         |);
         |create table orders (
         |  o_orderkey bigint primary key,
         |  o_custkey bigint references customer(c_custkey),
         |  o_totalprice double
         |)""".stripMargin)

    // unactivated read fails with a clear error
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graft.metastore.ordermart.customer").collect()
    }
    assert(err.getMessage.toLowerCase.contains("activate"))

    spark.sql(
      "ACTIVATE USL TABLE graft.metastore.ordermart.customer AS SELECT c_custkey, c_name, c_acctbal FROM graft.datasource.file.tpch.customer")
    spark.sql(
      "ACTIVATE USL TABLE graft.metastore.ordermart.orders AS SELECT o_orderkey, o_custkey, o_totalprice FROM graft.datasource.file.tpch.orders")

    val cnt = spark.sql("SELECT COUNT(*) FROM graft.metastore.ordermart.orders").head().getLong(0)
    assert(cnt > 0)

    // widening violation: string into bigint column
    val bad = intercept[Exception] {
      spark.sql("ACTIVATE USL TABLE graft.metastore.ordermart.customer AS SELECT c_name, c_name, c_acctbal FROM graft.datasource.file.tpch.customer")
    }
    assert(bad.getMessage.contains("cannot be served"))

    // custom DQ + constraint checks
    spark.sql("REGISTER DQ price_positive TABLE graft.metastore.ordermart.orders AS o_totalprice > 0")
    val dqs = spark.sql("LIST DQ USL graft.metastore.ordermart").collect()
    assert(dqs.exists(r => r.getString(0) == "price_positive" && r.getString(2) == "DQ"))
    assert(dqs.exists(r => r.getString(2) == "PK" && r.getString(1) == "customer"))
    assert(dqs.exists(r => r.getString(2) == "FK" && r.getString(1) == "orders"))

    val run = spark.sql("RUN DQ TABLE graft.metastore.ordermart.orders").collect()
    assert(run.nonEmpty)
    run.foreach { r =>
      assert(r.getLong(3) == r.getLong(4) + r.getLong(5)) // total = valid + invalid
      assert(r.getLong(5) == 0, s"check ${r.getString(0)} found invalid rows: $r")
    }

    val shown = spark.sql(
      "SHOW DQ VALID RECORD price_positive TABLE graft.metastore.ordermart.orders LIMIT 5").collect()
    assert(shown.length == 5 && shown.head.getString(0).contains("o_orderkey"))

    // LOAD / REMOVE USL
    val json = spark.sql("LOAD USL ordermart NAMESPACE graft.metastore").head().getString(0)
    assert(json.contains("\"ordermart\"") && json.contains("price_positive"))
    spark.sql("REMOVE USL ordermart NAMESPACE graft.metastore")
    intercept[Exception] { spark.sql("LOAD USL ordermart NAMESPACE graft.metastore").collect() }
  }

  test("UPDATE USL replaces table specs from client JSON") {
    spark.sql(
      """COMPILE USL upmart DEPLOY NAMESPACE graft.metastore DDL
        |create table t1 (a bigint primary key, b string)""".stripMargin)
    val json = spark.sql("LOAD USL upmart NAMESPACE graft.metastore").head().getString(0)
    val updated = json.replace("\"b\"", "\"renamed_b\"")
    spark.sql(s"UPDATE USL upmart NAMESPACE graft.metastore AS $updated")
    val reloaded = spark.sql("LOAD USL upmart NAMESPACE graft.metastore").head().getString(0)
    assert(reloaded.contains("renamed_b"))
    spark.sql("REMOVE USL upmart NAMESPACE graft.metastore")
  }

  test("SHOW NAMESPACES OR TABLES labels kinds") {
    val rows = spark.sql("SHOW NAMESPACES OR TABLES IN graft.datasource").collect()
    assert(rows.exists(r => r.getString(0) == "file" && r.getString(1) == "namespace"))
  }

  test("RUN DQ named, composite names, and INVALID records") {
    spark.sql(
      s"""COMPILE USL dqmart DEPLOY NAMESPACE graft.metastore DDL
         |@DataQuality(name="big_order", expression="o_totalprice > 100.0")
         |create table orders (
         |  o_orderkey bigint,
         |  o_custkey bigint,
         |  o_totalprice double,
         |  constraint ck primary key (o_orderkey, o_custkey)
         |)""".stripMargin)
    spark.sql(
      "ACTIVATE USL TABLE graft.metastore.dqmart.orders AS SELECT o_orderkey, o_custkey, o_totalprice FROM graft.datasource.file.tpch.orders")

    // annotation-declared DQ is visible and runnable by name
    val listed = spark.sql("LIST DQ USL graft.metastore.dqmart").collect()
    assert(listed.exists(r => r.getString(0) == "big_order" && r.getString(2) == "DQ"))
    val named = spark.sql("RUN DQ big_order TABLE graft.metastore.dqmart.orders").collect()
    assert(named.length == 1 && named.head.getString(2) == "DQ")
    assert(named.head.getLong(4) > 0) // some valid rows

    // composite PK constraint addressable by backticked column list (a
    // deliberate superset of the reference: there a NAMED pk matches by
    // name only, DataQualitySpec.scala:301-308 — column-list addressing for
    // named constraints costs nothing and avoids the asymmetry)
    val comp = spark.sql("RUN DQ `o_orderkey,o_custkey` TABLE graft.metastore.dqmart.orders").collect()
    assert(comp.length == 1 && comp.head.getString(2) == "PK" && comp.head.getLong(5) == 0)

    // ... and by its declared constraint name
    val byName = spark.sql("RUN DQ ck TABLE graft.metastore.dqmart.orders").collect()
    assert(byName.length == 1 && byName.head.getString(2) == "PK")

    // INVALID records for a check that some rows fail
    val inv = spark.sql(
      "SHOW DQ INVALID RECORD big_order TABLE graft.metastore.dqmart.orders LIMIT 3").collect()
    inv.foreach(r => assert(r.getString(0).contains("o_totalprice")))
  }

  test("composite-key DQ dispatch: unnamed constraints, case, and name collisions") {
    spark.sql(
      s"""COMPILE USL dqdispatch DEPLOY NAMESPACE graft.metastore DDL
         |@DataQuality(name="o_orderkey,o_custkey", expression="o_totalprice > 0.0")
         |create table orders (
         |  o_orderkey bigint,
         |  o_custkey bigint,
         |  o_totalprice double,
         |  primary key (o_orderkey, o_custkey),
         |  unique (o_custkey, o_totalprice)
         |)""".stripMargin)
    spark.sql(
      "ACTIVATE USL TABLE graft.metastore.dqdispatch.orders AS SELECT o_orderkey, o_custkey, o_totalprice FROM graft.datasource.file.tpch.orders")

    // UNNAMED composite constraints answer to the backticked column list
    // (reference: DataQualitySpec.scala:296-342 via stripCompositeKeys /
    // equalToMultiPartIdentifier, LightningSource.scala:92-103) ...
    val uq = spark.sql(
      "RUN DQ `o_custkey,o_totalprice` TABLE graft.metastore.dqdispatch.orders").collect()
    assert(uq.length == 1 && uq.head.getString(2) == "UNIQUE", uq.mkString(";"))
    // ... case-insensitively, and without the backticks too (stripCompositeKeys
    // only removes them when present; the bare list compares equal)
    val uqCase = spark.sql(
      "RUN DQ `O_CUSTKEY,O_TOTALPRICE` TABLE graft.metastore.dqdispatch.orders").collect()
    assert(uqCase.length == 1 && uqCase.head.getString(2) == "UNIQUE")

    // NAME COLLISION: a custom DQ annotation named exactly like the PK's
    // column list wins the dispatch (reference short-circuits the annotation
    // lookup before constraints, DataQualitySpec.scala:461-468) — the
    // constraint stays reachable through the full RUN DQ sweep
    val collided = spark.sql(
      "RUN DQ `o_orderkey,o_custkey` TABLE graft.metastore.dqdispatch.orders").collect()
    assert(collided.length == 1 && collided.head.getString(2) == "DQ", collided.mkString(";"))
    val sweep = spark.sql("RUN DQ TABLE graft.metastore.dqdispatch.orders").collect()
    assert(sweep.exists(_.getString(2) == "PK") && sweep.exists(_.getString(2) == "DQ"))

    // unknown names still error cleanly
    val e = intercept[Exception] {
      spark.sql("RUN DQ `no,such` TABLE graft.metastore.dqdispatch.orders").collect()
    }
    assert(e.getMessage.contains("no DQ or constraint"))
    spark.sql("REMOVE USL dqdispatch NAMESPACE graft.metastore")
  }

  test("SHOW DQ RECORD resolves a named constraint by its column list, as RUN DQ does") {
    spark.sql(
      s"""COMPILE USL dqshow DEPLOY NAMESPACE graft.metastore DDL
         |create table orders (
         |  o_orderkey bigint,
         |  o_custkey bigint,
         |  o_totalprice double,
         |  constraint ck primary key (o_orderkey, o_custkey)
         |)""".stripMargin)
    spark.sql(
      "ACTIVATE USL TABLE graft.metastore.dqshow.orders AS SELECT o_orderkey, o_custkey, o_totalprice FROM graft.datasource.file.tpch.orders")
    val table = "graft.metastore.dqshow.orders"
    def records(which: String, name: String): Seq[String] =
      spark.sql(s"SHOW DQ $which RECORD $name TABLE $table").collect().map(_.getString(0)).toSeq.sorted
    val run = spark.sql(s"RUN DQ `o_orderkey,o_custkey` TABLE $table").collect()
    assert(run.length == 1 && run.head.getString(2) == "PK")
    val byList = records("VALID", "`o_orderkey,o_custkey`")
    assert(byList.nonEmpty && byList.length == run.head.getLong(4))
    assert(byList == records("VALID", "ck"))
    assert(records("INVALID", "`o_orderkey,o_custkey`").isEmpty)
    // the REST endpoint's frame (/api/qdq) resolves through the same lookup
    val api = graft.commands.ShowDqRecordsCommand("`o_orderkey,o_custkey`", table.split('.').toSeq,
      valid = true).recordsDf(spark).toJSON.collect().toSeq.sorted
    assert(api == byList)
    val e = intercept[NoSuchElementException](records("VALID", "`no,such`"))
    assert(e.getMessage.contains("no DQ or constraint"))
    spark.sql("REMOVE USL dqshow NAMESPACE graft.metastore")
  }

  test("REST/XML register but reject at load (reference parity; AUDIO now scans)") {
    spark.sql("REGISTER REST DATASOURCE api1 OPTIONS (url 'http://x') NAMESPACE graft.datasource.misc")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.datasource.misc.api1.t").collect()
    }
    assert(e.getMessage.contains("no catalog unit") || e.getMessage.contains("REST"))
  }

  test("jdbc filter pushdown reaches the remote scan") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft-derby2").toString
    spark.sql(
      s"""REGISTER JDBC DATASOURCE pd OPTIONS (
         |  url 'jdbc:derby:$dbDir/db;create=true', driver 'org.apache.derby.jdbc.EmbeddedDriver'
         |) NAMESPACE graft.datasource.jdbc""".stripMargin)
    spark.sql("CREATE TABLE graft.datasource.jdbc.pd.APP.nums (id INT, v DOUBLE)")
    spark.sql("INSERT INTO graft.datasource.jdbc.pd.APP.nums VALUES (1, 1.5), (2, 2.5), (3, 3.5)")
    val df = spark.sql("SELECT id FROM graft.datasource.jdbc.pd.APP.nums WHERE v > 2.0")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("v"),
      s"jdbc pushdown missing:\n$plan")
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
  }

  test("csv / json / orc datasources resolve through the catalog") {
    val base = java.nio.file.Files.createTempDirectory("graft-formats").toString
    val nation = spark.read.parquet(s"${sf()}/nation.parquet")
    nation.write.mode("overwrite").option("header", "true").csv(s"$base/csvdir/nation")
    nation.write.mode("overwrite").json(s"$base/jsondir/nation")
    nation.write.mode("overwrite").orc(s"$base/orcdir/nation")
    spark.sql(s"REGISTER CSV DATASOURCE c OPTIONS (path '$base/csvdir', header 'true', inferSchema 'true') NAMESPACE graft.datasource.fmt")
    spark.sql(s"REGISTER JSON DATASOURCE j OPTIONS (path '$base/jsondir') NAMESPACE graft.datasource.fmt")
    spark.sql(s"REGISTER ORC DATASOURCE o OPTIONS (path '$base/orcdir') NAMESPACE graft.datasource.fmt")
    assert(spark.sql("SELECT COUNT(*) FROM graft.datasource.fmt.c.nation").head().getLong(0) == 25)
    assert(spark.sql("SELECT COUNT(*) FROM graft.datasource.fmt.j.nation").head().getLong(0) == 25)
    assert(spark.sql("SELECT n_name FROM graft.datasource.fmt.o.nation WHERE n_nationkey = 0").head().getString(0).nonEmpty)
  }

  test("gate setup reruns DDL for a second SparkSession in the same JVM") {
    // CatalogQueries.setup is keyed on (session, dir): a fresh session has
    // fresh session state, so skipping its DDL would make the gate queries
    // fail to resolve. Both sessions must produce the same result.
    val dir = sf()
    try {
      val first = graft.SparkEntry.queries("cat_fqn_join")(spark, dir).collect()
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      val second = graft.SparkEntry.queries("cat_fqn_join")(s2, dir).collect()
      assert(first.map(_.toString).sorted.toSeq == second.map(_.toString).sorted.toSeq)
    } finally {
      // the gate setup pointed the shared session's graft catalog at the
      // persistent verify warehouse; point it back for sibling tests
      graft.Graft.install(spark, warehouseDir)
    }
  }

  test("file datasource tables accept INSERT (DSv2 write path)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fwrite").toString
    spark.range(3).selectExpr("id AS k", "CAST(id * 10 AS STRING) AS v")
      .write.parquet(s"$dir/kv")
    spark.sql(
      s"REGISTER OR REPLACE PARQUET DATASOURCE wtest OPTIONS (path '$dir') NAMESPACE graft.datasource.file")
    spark.sql("INSERT INTO graft.datasource.file.wtest.kv VALUES (100, 'x'), (101, 'y')")
    val n = spark.sql("SELECT COUNT(*) FROM graft.datasource.file.wtest.kv").head().getLong(0)
    assert(n == 5)
    val x = spark.sql("SELECT v FROM graft.datasource.file.wtest.kv WHERE k = 100").head().getString(0)
    assert(x == "x")
  }

  test("jdbc datasource registers and round-trips through Derby") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft-derby").toString
    spark.sql(
      s"""REGISTER JDBC DATASOURCE emb OPTIONS (
         |  url 'jdbc:derby:$dbDir/db;create=true', driver 'org.apache.derby.jdbc.EmbeddedDriver'
         |) NAMESPACE graft.datasource.jdbc""".stripMargin)
    // create + insert through the federated catalog
    spark.sql("CREATE TABLE graft.datasource.jdbc.emb.APP.people (id INT, name STRING)")
    spark.sql("INSERT INTO graft.datasource.jdbc.emb.APP.people VALUES (1, 'ada'), (2, 'grace')")
    checkAnswer(
      spark.sql("SELECT id, name FROM graft.datasource.jdbc.emb.APP.people ORDER BY id"),
      Seq(Row(1, "ada"), Row(2, "grace")))
  }

  test("a repeated parquet read through the catalog runs only its scan job") {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo").toString
    spark.range(10).selectExpr("id AS k", "CAST(id AS STRING) AS v").write.parquet(s"$dir/kv")
    spark.sql(s"REGISTER PARQUET DATASOURCE memo OPTIONS (path '$dir') NAMESPACE graft.datasource.file")
    val q = "SELECT * FROM graft.datasource.file.memo.kv"
    // first read: schema inference (one footer-read job) + the scan
    assert(jobsOf(assert(spark.sql(q).collect().length == 10)) == 2)
    // unchanged files: the inferred schema is reused, only the scan runs
    assert(jobsOf(assert(spark.sql(q).collect().length == 10)) == 1)
    // equal reads resolve to equal tables, so a cached plan still matches
    val cached = spark.sql(q).cache()
    try {
      assert(cached.count() == 10)
      assert(spark.sql(q).queryExecution.withCachedData.toString.contains("InMemoryRelation"))
    } finally cached.unpersist()
  }

  test("overwriting a parquet table with a new schema shows it on the next statement") {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo-ow").toString
    spark.range(3).selectExpr("id AS k", "CAST(id AS STRING) AS v").write.parquet(s"$dir/kv")
    spark.sql(s"REGISTER PARQUET DATASOURCE memoow OPTIONS (path '$dir') NAMESPACE graft.datasource.file")
    val fqn = "graft.datasource.file.memoow.kv"
    assert(columns(fqn) == Seq("k" -> LongType, "v" -> StringType))
    assert(columns(fqn) == Seq("k" -> LongType, "v" -> StringType))
    spark.range(4).selectExpr("id AS k", "CAST(id AS DOUBLE) * 1.5 AS w", "CAST(id AS INT) AS x")
      .write.mode("overwrite").parquet(s"$dir/kv")
    assert(columns(fqn) == Seq("k" -> LongType, "w" -> DoubleType, "x" -> IntegerType))
    assert(spark.sql(s"SELECT SUM(x) FROM $fqn").head().getLong(0) == 6)
    // an appended file with the same schema is also a changed file set
    spark.range(4, 5).selectExpr("id AS k", "CAST(id AS DOUBLE) * 1.5 AS w", "CAST(id AS INT) AS x")
      .write.mode("append").parquet(s"$dir/kv")
    assert(spark.sql(s"SELECT COUNT(*) FROM $fqn").head().getLong(0) == 5)
  }

  test("parquet inference confs flipped between two reads of one file change the schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo-conf").toString
    // raw parquet files: Spark's own writer records its schema in the footer,
    // which inference prefers over these confs (and it cannot write NANOS)
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    def rawParquet(table: String, message: String)(fill: Group => Group): Unit = {
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(message)
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/$table/part-0.parquet"),
        spark.sparkContext.hadoopConfiguration)).withType(schema).build()
      try w.write(fill(new SimpleGroupFactory(schema).newGroup())) finally w.close()
    }
    rawParquet("bin", "message m { required binary c; }")(_.append("c", "x"))
    rawParquet("nanos", "message m { required int64 c (TIMESTAMP(NANOS,true)); }")(
      _.append("c", 1000000L))
    spark.sql(s"REGISTER PARQUET DATASOURCE memoconf OPTIONS (path '$dir') NAMESPACE graft.datasource.file")

    def withConf[T](k: String, v: String)(body: => T): T = {
      val prev = spark.conf.getOption(k)
      spark.conf.set(k, v)
      try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    val bin = "graft.datasource.file.memoconf.bin"
    assert(withConf("spark.sql.parquet.binaryAsString", "false")(columns(bin)) == Seq("c" -> BinaryType))
    assert(withConf("spark.sql.parquet.binaryAsString", "true")(columns(bin)) == Seq("c" -> StringType))
    assert(withConf("spark.sql.parquet.binaryAsString", "false")(columns(bin)) == Seq("c" -> BinaryType))

    val ts = "graft.datasource.file.memoconf.nanos"
    assert(withConf("spark.sql.legacy.parquet.nanosAsLong", "true")(columns(ts)) == Seq("c" -> LongType))
    // without the legacy conf the nanos column is unreadable: the earlier
    // long-typed inference must not be served
    val e = intercept[Exception] {
      withConf("spark.sql.legacy.parquet.nanosAsLong", "false")(columns(ts))
    }
    assert(e.getMessage.contains("NANOS"), e.getMessage)
  }

  test("a registered table snapshot wins over the memoized inference") {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo-snap").toString
    spark.range(3).selectExpr("id AS k", "CAST(id AS STRING) AS v").write.parquet(s"$dir/kv")
    spark.sql(s"REGISTER PARQUET DATASOURCE memosnap OPTIONS (path '$dir') NAMESPACE graft.datasource.file")
    spark.sql(
      "REGISTER CATALOG memosnapcat SOURCE graft.datasource.file.memosnap NAME LIKE 'kv' NAMESPACE graft.metastore")
    // the memo now holds a three-column schema for the same files...
    spark.range(3).selectExpr("id AS k", "CAST(id AS STRING) AS v", "id * 2 AS extra")
      .write.mode("overwrite").parquet(s"$dir/kv")
    assert(columns("graft.datasource.file.memosnap.kv").map(_._1) == Seq("k", "v", "extra"))
    // ...but the snapshot resolves with its ingested two-column schema
    assert(columns("graft.metastore.memosnapcat.kv") == Seq("k" -> LongType, "v" -> StringType))
    assert(givenSchema("graft.metastore.memosnapcat.kv") ==
      Some(StructType(Seq(StructField("k", LongType), StructField("v", StringType)))))
  }

  test("orc tables reuse their inferred schema until their files change") {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo-orc").toString
    spark.range(3).selectExpr("id AS k", "CAST(id AS STRING) AS v").write.orc(s"$dir/kv")
    spark.sql(s"REGISTER ORC DATASOURCE memoorc OPTIONS (path '$dir') NAMESPACE graft.datasource.fmt")
    val fqn = "graft.datasource.fmt.memoorc.kv"
    def struct(cols: (String, DataType)*) = StructType(cols.map { case (n, t) => StructField(n, t) })
    assert(givenSchema(fqn) == Some(struct("k" -> LongType, "v" -> StringType)))
    assert(columns(fqn) == Seq("k" -> LongType, "v" -> StringType))
    spark.range(4).selectExpr("id AS k", "CAST(id AS DOUBLE) * 1.5 AS w")
      .write.mode("overwrite").orc(s"$dir/kv")
    assert(givenSchema(fqn) == Some(struct("k" -> LongType, "w" -> DoubleType)))
    assert(columns(fqn) == Seq("k" -> LongType, "w" -> DoubleType))
    assert(spark.sql(s"SELECT SUM(w) FROM $fqn").head().getDouble(0) == 9.0)
  }
  test("a file-table miss probes each candidate path once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-probe").toString
    val ds = graft.model.DataSourceSpec("probe", "PARQUET", Seq("datasource", "file"), Map("path" -> dir))
    val e = intercept[NoSuchElementException](CatalogUnit(ds).loadTable(spark, Nil, "missing", None))
    val tried = e.getMessage.split("""\(tried """).last.stripSuffix(")").split(", ").toSeq
    assert(tried == Seq(s"$dir/missing.parquet", s"$dir/missing"), e.getMessage)
  }

  test("routing pin: each source's outcome for every table operation") {
    val base = java.nio.file.Files.createTempDirectory("graft-pin").toString
    spark.range(2).selectExpr("CAST(id AS INT) AS id").write.parquet(s"$base/pq/t")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/txt"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/txt/a.txt"), "pin")
    val fake = classOf[FakeLakeCatalog].getName
    val ns = "graft.datasource.pin"
    Seq(
      s"REGISTER PARQUET DATASOURCE pq OPTIONS (path '$base/pq') NAMESPACE $ns",
      s"REGISTER JDBC DATASOURCE db OPTIONS (url 'jdbc:derby:$base/derby;create=true', " +
        s"driver 'org.apache.derby.jdbc.EmbeddedDriver') NAMESPACE $ns",
      s"REGISTER DELTA DATASOURCE dl OPTIONS (path '$base/delta') NAMESPACE $ns",
      s"REGISTER ICEBERG DATASOURCE il OPTIONS (warehouse '$base/iceberg') NAMESPACE $ns",
      s"REGISTER TEXT DATASOURCE txt OPTIONS (path '$base/txt') NAMESPACE $ns",
      s"REGISTER ICEBERG DATASOURCE ri OPTIONS (catalog_impl '$fake', warehouse '$base/ri') NAMESPACE $ns",
      s"REGISTER DELTA DATASOURCE rd OPTIONS (catalog_impl '$fake', path '$base/rd') NAMESPACE $ns"
    ).foreach(spark.sql)
    // (source, the table every operation targets, whether CREATE TABLE makes it)
    val sources = Seq(("pq", "pq.t", false), ("db", "db.APP.t", true), ("dl", "dl.t", true),
      ("il", "il.t", true), ("txt", "txt.txt", false), ("ri", "ri.t", false), ("rd", "rd.t", false))
    // "ok <result>" or the exception, then the namespaces the fake adapter
    // was handed by time-travel loads
    def outcome(sql: String)(result: Array[Row] => String): String = {
      FakeLakeCatalog.loads.clear()
      val out = try ("ok " + result(spark.sql(sql).collect())).trim catch {
        case e: Exception => s"${e.getClass.getSimpleName}: ${e.getMessage.linesIterator.next()}"
      }
      val travelled = FakeLakeCatalog.loads.asScala.collect { case (k, n) if k != "current" => n }
      (out.replace(base, "<tmp>") +: travelled.toSeq.distinct.map(_.mkString("ns=[", ".", "]")))
        .mkString(" ")
    }
    val actual = try sources.map { case (src, tbl, creates) =>
      val t = s"$ns.$tbl"
      val create = outcome(s"CREATE TABLE ${if (creates) t else s"$ns.$src.newt"} (id INT)")(_ => "")
      if (creates) spark.sql(s"INSERT INTO $t VALUES (1)")
      src -> Seq(create,
        outcome(s"ALTER TABLE $t ADD COLUMNS (x INT)")(_ => ""),
        outcome(s"SELECT * FROM $t VERSION AS OF 'main'")(_.length.toString),
        outcome(s"SELECT * FROM $t TIMESTAMP AS OF '2100-01-01 00:00:00'")(_.length.toString),
        outcome(s"SHOW NAMESPACES IN $ns.$src")(_.map(_.getString(0)).mkString(",")),
        outcome(s"DROP TABLE $t")(_ => if (spark.catalog.tableExists(t)) "kept" else "gone"))
    } finally spark.sql(s"DROP NAMESPACE IF EXISTS $ns CASCADE")

    val noCreate = (typ: String) => "UnsupportedOperationException: CREATE TABLE not supported " +
      s"for $typ datasources (reference: FileCatalogUnit.scala:151-154)"
    val noAlter = "UnsupportedOperationException: ALTER TABLE not supported for this datasource type"
    val noTravel = (typ: String) =>
      s"UnsupportedOperationException: time travel is not supported for $typ datasources (Iceberg only)"
    val derbySchemas = Seq("APP", "NULLID", "SQLJ", "SYS", "SYSCAT", "SYSCS_DIAG", "SYSCS_UTIL",
      "SYSFUN", "SYSIBM", "SYSPROC", "SYSSTAT").map(s => s"datasource.pin.db.$s").mkString(",")
    // columns: CREATE, ALTER ADD COLUMNS, VERSION AS OF, TIMESTAMP AS OF, SHOW NAMESPACES IN, DROP
    val expected = Seq(
      "pq" -> Seq(noCreate("PARQUET"), noAlter, noTravel("PARQUET"), noTravel("PARQUET"), "ok", "ok kept"),
      "db" -> Seq("ok", "ok", noTravel("JDBC"), noTravel("JDBC"), s"ok $derbySchemas", "ok gone"),
      "dl" -> Seq("ok", "ok", noTravel("DELTA"), noTravel("DELTA"), "ok", "ok kept"),
      "il" -> Seq("ok", "ok", "ok 1", "ok 1", "ok", "ok kept"),
      "txt" -> Seq(noCreate("TEXT"), noAlter, noTravel("TEXT"), noTravel("TEXT"), "ok", "ok kept"),
      // the adapter gets the namespace below the datasource, as a current read does
      "ri" -> Seq(noCreate("ICEBERG"), noAlter, "ok 3 ns=[]", "ok 3 ns=[]", "ok", "ok kept"),
      "rd" -> Seq(noCreate("DELTA"), noAlter, noTravel("DELTA"), noTravel("DELTA"), "ok", "ok kept"))
    val diffs = for {
      ((src, got), (_, want)) <- actual.zip(expected)
      (g, w) <- got.zip(want) if g != w
    } yield s"$src:\n  got  $g\n  want $w"
    assert(actual.map(_._1) == expected.map(_._1))
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }
}
