package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import QueryPack.wh

/** Correctness-gate queries that exercise the federation layer end-to-end
  * through the PUBLIC surface (Graft.sql / spark.sql with the graft catalog):
  * datasource registration, FQN resolution, USL activation, RUN DQ, and the
  * unstructured text scan — each checked against a DuckDB oracle over the
  * same parquet.
  */
object CatalogQueries {

  // Gate fixtures are built once per warehouse and published one of two
  // ways: files a gate writes itself go through QueryPack.fixtureDir
  // (staged, then one rename), tables SQL writes at a registered path go
  // through QueryPack.fixtureOnce (completion marker written last).

  /** [[QueryPack.fixtureOnce]] for lake tables SQL builds under `lakeDir`:
    * the marker is `<first table>.done` beside them, and a build without
    * one starts by deleting every named table.
    */
  private def tableOnce(lakeDir: java.io.File, tables: String*)(build: => Unit): Unit =
    QueryPack.fixtureOnce(new java.io.File(lakeDir, s"${tables.head}.done"),
      clear = tables.map(new java.io.File(lakeDir, _)))(build)

  /** A PDF whose one object is a `w`x`h` image XObject; `dict` holds its
    * color-space, depth and filter entries in print order.
    */
  private def imagePdf(w: Int, h: Int, dict: String, image: Array[Byte]): Array[Byte] =
    (s"%PDF-1.4\n5 0 obj << /Type /XObject /Subtype /Image /Width $w /Height $h " +
      s"$dict /Length ${image.length} >>\nstream\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ image ++
    "\nendstream\nendobj\ntrailer << /Root 1 0 R >>\n%%EOF\n"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  private val DctRgb = "/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode"

  /** The 72x64 page of the planted-pair scan gates: a 9x8 grid of 8x8
    * solid blocks, one value per block from `level` over the two-round
    * cell hash of (key, bx, by); a twin applies `edit` to block (4, 3).
    * dHash's 9x8 sample grid reads exactly one pixel per block, and solid
    * blocks aligned to JPEG's DCT grid survive compression as their DC
    * term.
    */
  private def scanBlocks(k: Long, twin: Boolean)(level: Long => Int, edit: Int => Int): Array[Int] = {
    val px = new Array[Int](72 * 64)
    for (by <- 0 until 8; bx <- 0 until 9) {
      var v = level(QueryPack.cellHash(k, bx, by, rounds = 2))
      if (twin && bx == 4 && by == 3) v = edit(v)
      for (y <- by * 8 until by * 8 + 8; x <- bx * 8 until bx * 8 + 8) px(y * 72 + x) = v
    }
    px
  }

  // 14 gray levels, 16 apart: adjacent blocks rarely tie, and a 16-level
  // gap dwarfs JPEG ringing at the sampled pixel
  private def grayBlocks(k: Long, twin: Boolean): Array[Int] =
    scanBlocks(k, twin)(z => 16 + 16 * ((z >>> 40) % 14).toInt, v => ((v + 112) % 224) + 16)

  /** Scan fixture `name`: one [[imagePdf]] per id of
    * [[QueryPack.plantedPairs]] (region 2 twinned), its 72x64 page encoded
    * by `image`.
    */
  private def plantedScanPdfs(s: SparkSession, dir: String, name: String, dict: String)(
      image: (Long, Boolean) => Array[Byte]): java.io.File =
    QueryPack.fixtureDir(new java.io.File(wh(dir), name)) { staging =>
      QueryPack.plantedPairs(s, dir, twinRegion = 2)(image).foreach { case (id, page) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(staging.toString, f"$id%05d.pdf"),
          imagePdf(72, 64, dict, page))
      }
    }

  /** Perceptual image dedup over the pages of scan fixture `fixture`,
    * registered as PDF datasource `src`: the (id_a, id_b) pairs.
    */
  private def scanDedup(s: SparkSession, src: String, fixture: java.io.File): DataFrame = {
    Graft.sql(s,
      s"REGISTER OR REPLACE PDF DATASOURCE $src OPTIONS (path '$fixture') NAMESPACE graft.datasource.un")
    val media = s.sql(s"SELECT path, images FROM graft.datasource.un.$src.content")
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.pdf$", 1).cast("long").as("id"),
        explode(col("images")).as("bytes"))
    graft.multimodal.Multimodal.imageNearDuplicates(media, "id", "bytes", maxDistance = 6)
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"))
  }

  /** Minimal ISO-BMFF file (ftyp + moov(mvhd v0 + trak(tkhd v0))) — the
    * deterministic video fixture for the `unstructured_video_scan` gate.
    * Field offsets per ISO/IEC 14496-12 (mvhd v0 timescale@12 duration@16;
    * tkhd v0 width@76 height@80 as 16.16 fixed-point).
    */
  private def minimalMp4(timescale: Int, duration: Int, w: Int, h: Int): Array[Byte] = {
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(payload.length + 8)
      out.putInt(payload.length + 8)
        .put(typ.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)).put(payload)
      out.array()
    }
    val mvhd = new Array[Byte](100)
    java.nio.ByteBuffer.wrap(mvhd).putInt(12, timescale).putInt(16, duration)
    val tkhd = new Array[Byte](84)
    java.nio.ByteBuffer.wrap(tkhd).putInt(76, w << 16).putInt(80, h << 16)
    box("ftyp", "isom".getBytes ++ new Array[Byte](4)) ++
      box("moov", box("mvhd", mvhd) ++ box("trak", box("tkhd", tkhd)))
  }

  // keyed on (session identity, dir): a second SparkSession in the same JVM
  // must not skip DDL done by the first (identityHashCode, not the session
  // object itself, so the set never pins a stopped session in memory)
  private val prepared = scala.collection.mutable.Set.empty[(Int, String)]

  /** Idempotent setup: catalog + datasource + USL + activation + DQ rules.
    * DDL runs once per (session, sfDir) — repeat calls skip the re-analysis.
    */
  private def setup(s: SparkSession, dir: String): Unit = synchronized {
    val key = (System.identityHashCode(s), dir)
    // skip only if this session did the DDL AND its graft catalog still
    // points at this gate warehouse (something else may have re-pointed it)
    val whCurrent = s.conf.getOption("spark.sql.catalog.graft.warehouse")
    if (prepared.contains(key) && whCurrent.contains(wh(dir))) return
    Graft.install(s, wh(dir))
    Graft.sql(s,
      s"REGISTER OR REPLACE PARQUET DATASOURCE tpch OPTIONS (path '$dir') NAMESPACE graft.datasource.file")
    try {
      Graft.sql(s,
        """COMPILE USL ordermart DEPLOY NAMESPACE graft.metastore DDL
          |create table customer (
          |  c_custkey bigint primary key,
          |  c_name string,
          |  c_mktsegment string
          |);
          |create table orders (
          |  o_orderkey bigint primary key,
          |  o_custkey bigint references customer(c_custkey),
          |  o_totalprice double,
          |  o_orderstatus string
          |)""".stripMargin)
    } catch { case _: IllegalStateException => /* already compiled */ }
    Graft.sql(s,
      "ACTIVATE USL TABLE graft.metastore.ordermart.customer AS SELECT c_custkey, c_name, c_mktsegment FROM graft.datasource.file.tpch.customer")
    Graft.sql(s,
      "ACTIVATE USL TABLE graft.metastore.ordermart.orders AS SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM graft.datasource.file.tpch.orders")
    Graft.sql(s,
      "REGISTER DQ price_positive TABLE graft.metastore.ordermart.orders AS o_totalprice > 0")
    Graft.sql(s,
      "REGISTER DQ status_known TABLE graft.metastore.ordermart.orders AS o_orderstatus IN ('O','F','P')")
    prepared += key
  }

  /** Build-once embedded-Derby customer table (shared by `src_jdbc_scan`
    * and `src_federated_join`), registered as a JDBC datasource. Returns
    * the graft FQN of the loaded table.
    */
  private def ensureJdbcCustomer(s: SparkSession, dir: String): String = {
    val dbDir = new java.io.File(wh(dir), "derbydb")
    Graft.sql(s,
      s"""REGISTER OR REPLACE JDBC DATASOURCE pdgate OPTIONS (
         |  url 'jdbc:derby:$dbDir/db;create=true', driver 'org.apache.derby.jdbc.EmbeddedDriver'
         |) NAMESPACE graft.datasource.jdbc""".stripMargin)
    // no `clear`: the embedded driver keeps the database open, so it cannot
    // be removed in-process
    QueryPack.fixtureOnce(new java.io.File(dbDir, ".loaded")) {
      // VARCHAR, not STRING: Derby maps STRING to CLOB, which it refuses
      // to GROUP BY — VARCHAR keeps the aggregate pushdown-safe
      s.sql("CREATE TABLE graft.datasource.jdbc.pdgate.APP.gatecust " +
        "(c_custkey BIGINT, c_nationkey BIGINT, c_mktsegment VARCHAR(20), c_acctbal DOUBLE)")
      QueryPack.t(s, dir, "customer")
        .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
        .createOrReplaceTempView("__gate_cust_src")
      s.sql("INSERT INTO graft.datasource.jdbc.pdgate.APP.gatecust " +
        "SELECT CAST(c_custkey AS BIGINT), CAST(c_nationkey AS BIGINT), c_mktsegment, c_acctbal " +
        "FROM __gate_cust_src")
    }
    "graft.datasource.jdbc.pdgate.APP.gatecust"
  }

  /** Build-once two-commit partitioned Delta `nation_delta` fixture (shared
    * by `src_delta_scan` and `src_federated_join`): commit 0 adds one file
    * per region with partition values carried by the log (not the files);
    * commit 1 removes region 2's file and re-adds only its even keys. The
    * visible state — `n_regionkey <> 2 OR n_nationkey % 2 = 0` — exists
    * only through correct log replay. Registers the DELTA datasource and
    * returns the table FQN.
    */
  private def ensureDeltaNation(s: SparkSession, dir: String): String = {
    import graft.sources.lake.LakeWrite
    import org.apache.hadoop.fs.Path
    val lakeDir = new java.io.File(wh(dir), "lake")
    QueryPack.fixtureDir(new java.io.File(lakeDir, "nation_delta")) { staging =>
      val conf = s.sparkContext.hadoopConfiguration
      val root = new Path(staging.toString)
      val nation = QueryPack.t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      val dataCols = Seq("n_nationkey", "n_name")
      val adds0 = (0 to 4).map { rk =>
        val rel = f"n_regionkey=$rk/part-0000$rk.parquet"
        val size = LakeWrite.writeOneParquetFile(
          nation.where(col("n_regionkey") === rk).select(dataCols.map(col): _*),
          new Path(root, rel))
        LakeWrite.deltaAdd(rel, size, 1700000000000L, Map("n_regionkey" -> rk.toString))
      }
      LakeWrite.deltaCommit(conf, root, 0,
        Seq(LakeWrite.deltaCommitInfo(1700000000000L), LakeWrite.deltaProtocol(),
          LakeWrite.deltaMetaData("nation-delta-fixture", nation.schema, Seq("n_regionkey"))) ++ adds0)
      val rel1 = "n_regionkey=2/part-00010.parquet"
      val size1 = LakeWrite.writeOneParquetFile(
        nation.where(col("n_regionkey") === 2 && col("n_nationkey") % 2 === 0)
          .select(dataCols.map(col): _*),
        new Path(root, rel1))
      LakeWrite.deltaCommit(conf, root, 1,
        Seq(LakeWrite.deltaCommitInfo(1700000100000L),
          LakeWrite.deltaRemove("n_regionkey=2/part-00002.parquet", 1700000100000L),
          LakeWrite.deltaAdd(rel1, size1, 1700000100000L, Map("n_regionkey" -> "2"))))
    }
    Graft.sql(s,
      s"REGISTER OR REPLACE DELTA DATASOURCE deltasrc OPTIONS (path '${lakeDir.getPath}') NAMESPACE graft.datasource.lake")
    "graft.datasource.lake.deltasrc.nation_delta"
  }

  /** Build-once three-snapshot merge-on-read Iceberg `nation_ice_mor`
    * fixture (shared by `src_iceberg_mor_scan` and
    * `lake_iceberg_changelog`): snapshot 2001 appends files a (keys < 12)
    * and b (keys >= 12), 2002 commits position-delete file d1 (odd keys of
    * a, position 0 of b, and a forward-reference to c), 2003 appends file
    * c re-inserting keys 1 and 12 at a HIGHER sequence than d1.
    */
  private def ensureIcebergMor(s: SparkSession, dir: String): Unit = {
    import graft.sources.lake.LakeWrite
    import graft.sources.lake.LakeWrite.{IcebergSnapshot, ManifestEntry, ManifestFile}
    import org.apache.hadoop.fs.Path
    QueryPack.fixtureDir(new java.io.File(wh(dir), "lake/nation_ice_mor")) { staging =>
      new java.io.File(staging, "metadata").mkdirs()
      val conf = s.sparkContext.hadoopConfiguration
      val root = new Path(staging.toString)
      val nation = QueryPack.t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      def dataFile(rel: String, d: org.apache.spark.sql.DataFrame, snapId: Long): ManifestEntry = {
        val sorted = d.coalesce(1).sortWithinPartitions("n_nationkey")
        val size = LakeWrite.writeOneParquetFile(sorted, new Path(root, rel))
        ManifestEntry(1, rel, d.count(), size, snapId)
      }
      val a = dataFile("data/a.parquet", nation.where(col("n_nationkey") < 12), 2001L)
      val b = dataFile("data/b.parquet", nation.where(col("n_nationkey") >= 12), 2001L)
      val c = dataFile("data/c.parquet", nation.where(col("n_nationkey").isin(1, 12)), 2003L)
      // data-driven positions: the files are sorted by n_nationkey, so
      // a key's position is its rank within the file
      val aKeys = nation.where(col("n_nationkey") < 12)
        .select("n_nationkey").orderBy("n_nationkey")
        .collect().map(_.get(0).toString.toLong)
      val delPositions: Seq[(String, Long)] =
        aKeys.zipWithIndex.collect { case (k, i) if k % 2 == 1 => ("data/a.parquet", i.toLong) }
          .toSeq ++ Seq(("data/b.parquet", 0L), ("data/c.parquet", 0L))
      import s.implicits._
      val dSize = LakeWrite.writeOneParquetFile(
        delPositions.toDF("file_path", "pos").coalesce(1), new Path(root, "data/d1.parquet"))
      val m1len = LakeWrite.icebergWriteManifest(new java.io.File(staging, "metadata/m1.avro"),
        Seq(a, b))
      val md1len = LakeWrite.icebergWriteManifest(new java.io.File(staging, "metadata/md1.avro"),
        Seq(ManifestEntry(1, "data/d1.parquet", delPositions.size.toLong, dSize, 2002L,
          content = 1)))
      val m3len = LakeWrite.icebergWriteManifest(new java.io.File(staging, "metadata/m3.avro"),
        Seq(c))
      LakeWrite.icebergWriteManifestList(new java.io.File(staging, "metadata/ml1.avro"),
        Seq("metadata/m1.avro" -> m1len), 2001L, 1L)
      LakeWrite.icebergWriteManifestListEntries(new java.io.File(staging, "metadata/ml2.avro"),
        Seq(ManifestFile("metadata/m1.avro", m1len, 0, 1L),
          ManifestFile("metadata/md1.avro", md1len, 1, 2L)), 2002L)
      LakeWrite.icebergWriteManifestListEntries(new java.io.File(staging, "metadata/ml3.avro"),
        Seq(ManifestFile("metadata/m1.avro", m1len, 0, 1L),
          ManifestFile("metadata/m3.avro", m3len, 0, 3L),
          ManifestFile("metadata/md1.avro", md1len, 1, 2L)), 2003L)
      LakeWrite.icebergWriteMetadata(conf, root, 3, nation.schema,
        Seq(IcebergSnapshot(2001L, 1700000000000L, "metadata/ml1.avro", 1L),
          IcebergSnapshot(2002L, 1700000100000L, "metadata/ml2.avro", 2L,
            parentId = Some(2001L), operation = "delete"),
          IcebergSnapshot(2003L, 1700000200000L, "metadata/ml3.avro", 3L,
            parentId = Some(2002L), operation = "append")),
        currentSnapshotId = 2003L,
        refs = Map("main" -> (2003L, "branch"), "predelete" -> (2001L, "tag")))
    }
  }

  val specs: Seq[QuerySpec] = Seq(

    // ---- federated FQN join through the DSv2 catalog ----
    QuerySpec("cat_fqn_join",
      (s, dir) => {
        setup(s, dir)
        s.sql(
          """SELECT c.c_mktsegment AS segment, COUNT(*) AS n_orders,
            |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            |FROM graft.datasource.file.tpch.orders o
            |JOIN graft.datasource.file.tpch.customer c ON o.o_custkey = c.c_custkey
            |GROUP BY c.c_mktsegment ORDER BY segment""".stripMargin)
      },
      Some("""SELECT c_mktsegment AS segment, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY segment""")),

    // ---- USL activated-table readback (nested query lifecycle via V1Scan) ----
    QuerySpec("usl_readback",
      (s, dir) => {
        setup(s, dir)
        s.sql(
          """SELECT c.c_mktsegment AS segment, COUNT(*) AS n
            |FROM graft.metastore.ordermart.orders o
            |JOIN graft.metastore.ordermart.customer c ON o.o_custkey = c.c_custkey
            |WHERE o.o_totalprice > 100000.0
            |GROUP BY c.c_mktsegment ORDER BY segment""".stripMargin)
      },
      Some("""SELECT c_mktsegment AS segment, COUNT(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_totalprice > 100000.0
        GROUP BY c_mktsegment ORDER BY segment""")),

    // ---- REGISTER CATALOG: snapshot the source's schemas into the
    // metastore (NAME LIKE '%ion' catches nation + region), then read back
    // THROUGH the snapshot tables (schema-override scan over the recorded
    // source path) and hash-match a join against DuckDB on the raw parquet. ----
    QuerySpec("cat_snapshot_readback",
      (s, dir) => {
        setup(s, dir)
        Graft.sql(s,
          "REGISTER OR REPLACE CATALOG tpchsnap SOURCE graft.datasource.file.tpch NAME LIKE '%ion' NAMESPACE graft.metastore")
        s.sql(
          """SELECT r.r_name AS region, COUNT(*) AS n_nations
            |FROM graft.metastore.tpchsnap.nation n
            |JOIN graft.metastore.tpchsnap.region r ON n.n_regionkey = r.r_regionkey
            |GROUP BY r.r_name ORDER BY region""".stripMargin)
      },
      Some("""SELECT r_name AS region, COUNT(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY region""")),

    // ---- RUN DQ: constraint + custom checks, exact reference plan shapes ----
    QuerySpec("dq_run_summary",
      (s, dir) => {
        setup(s, dir)
        Graft.sql(s, "RUN DQ TABLE graft.metastore.ordermart.orders")
          .select(col("name"), col("type"), col("total"), col("valid"), col("invalid"))
          .orderBy(col("name"))
      },
      Some("""WITH t AS (SELECT COUNT(*) AS total FROM orders),
          pk AS (SELECT COUNT(*) AS valid FROM
            (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) = 1)),
          fk AS (SELECT COUNT(*) AS valid FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer)),
          price AS (SELECT COUNT(*) AS valid FROM orders WHERE o_totalprice > 0),
          status AS (SELECT COUNT(*) AS valid FROM orders WHERE o_orderstatus IN ('O','F','P'))
        SELECT * FROM (
          SELECT 'o_orderkey' AS name, 'PK' AS type, t.total, pk.valid, t.total - pk.valid AS invalid FROM t, pk
          UNION ALL
          SELECT 'o_custkey', 'FK', t.total, fk.valid, t.total - fk.valid FROM t, fk
          UNION ALL
          SELECT 'price_positive', 'DQ', t.total, price.valid, t.total - price.valid FROM t, price
          UNION ALL
          SELECT 'status_known', 'DQ', t.total, status.valid, t.total - status.valid FROM t, status
        ) ORDER BY name""")),

    // ---- unstructured TEXT scan: write one .txt per document, register the
    // dir, and read sizes back through the metadata table. Oracle checks the
    // byte sizes against octet_length(text) in the source parquet. ----
    QuerySpec("unstructured_text_scan",
      (s, dir) => {
        setup(s, dir)
        val fixture = QueryPack.fixtureDir(new java.io.File(wh(dir), "textfiles")) { staging =>
          QueryPack.t(s, dir, "documents").select(col("doc_id"), col("text"))
            .collect().foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(staging.toString, f"${r.getLong(0)}%05d.txt"),
                r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE TEXT DATASOURCE corpus OPTIONS (path '$fixture') NAMESPACE graft.datasource.un")
        s.sql("SELECT path, sizeinbytes FROM graft.datasource.un.corpus.corpus")
          .select(
            regexp_extract(col("path"), "([0-9]+)\\.txt$", 1).cast("long").as("doc_id"),
            col("sizeinbytes"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS sizeinbytes
        FROM documents ORDER BY doc_id""")),

    // ---- unstructured AUDIO scan (beyond-ref surface; the reference parses
    // AUDIO but runtime-rejects it): one PCM-16 mono WAV per nation row with
    // rate/sample-count derived from the key, read back through the metadata
    // table. Oracle recomputes samplerate and the header probe's integer
    // duration formula dataBytes*1000/(rate*channels*2) in SQL. ----
    QuerySpec("unstructured_audio_scan",
      (s, dir) => {
        setup(s, dir)
        val fixture = QueryPack.fixtureDir(new java.io.File(wh(dir), "audiofiles")) { staging =>
          QueryPack.t(s, dir, "nation").select(col("n_nationkey")).collect().foreach { r =>
            val key = r.getInt(0)
            val rate = 8000 + key * 441
            val dataBytes = 2 * (1000 + key * 333) // PCM-16 mono samples
            val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.put("RIFF".getBytes).putInt(36 + dataBytes).put("WAVE".getBytes)
            bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
              .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
            bb.put("data".getBytes).putInt(dataBytes).put(new Array[Byte](dataBytes))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(staging.toString, f"$key%05d.wav"), bb.array())
          }
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE AUDIO DATASOURCE waves OPTIONS (path '$fixture') NAMESPACE graft.datasource.un")
        s.sql("SELECT path, samplerate, duration FROM graft.datasource.un.waves")
          .select(
            regexp_extract(col("path"), "([0-9]+)\\.wav$", 1).cast("int").as("n_nationkey"),
            col("samplerate"), col("duration"))
          .orderBy(col("n_nationkey"))
      },
      Some("""SELECT n_nationkey,
          CAST(8000 + n_nationkey * 441 AS INT) AS samplerate,
          CAST((CAST(2 * (1000 + n_nationkey * 333) AS BIGINT) * 1000)
            // CAST((8000 + n_nationkey * 441) * 2 AS BIGINT) AS BIGINT) AS duration
        FROM nation ORDER BY n_nationkey""")),

    // ---- unstructured IMAGE scan: one PNG per nation row with dimensions
    // derived from the key (ImageIO — JDK-only), read back through the
    // metadata table. Oracle recomputes the dimension formulas in SQL.
    // (reference surface: RegisterImageDataSourceTestSuite.scala:80-299) ----
    QuerySpec("unstructured_image_scan",
      (s, dir) => {
        setup(s, dir)
        val fixture = QueryPack.fixtureDir(new java.io.File(wh(dir), "imagefiles")) { staging =>
          QueryPack.t(s, dir, "nation").select(col("n_nationkey")).collect().foreach { r =>
            val key = r.getInt(0)
            val img = new java.awt.image.BufferedImage(
              16 + key * 3, 9 + key * 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
            javax.imageio.ImageIO.write(img, "png",
              new java.io.File(staging, f"$key%05d.png"))
          }
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE IMAGE DATASOURCE pics OPTIONS (path '$fixture') NAMESPACE graft.datasource.un")
        s.sql("SELECT path, width, height FROM graft.datasource.un.pics.pics")
          .select(
            regexp_extract(col("path"), "([0-9]+)\\.png$", 1).cast("int").as("n_nationkey"),
            col("width"), col("height"))
          .orderBy(col("n_nationkey"))
      },
      Some("""SELECT n_nationkey,
          CAST(16 + n_nationkey * 3 AS INT) AS width,
          CAST(9 + n_nationkey * 2 AS INT) AS height
        FROM nation ORDER BY n_nationkey""")),

    // ---- unstructured VIDEO scan: one minimal ISO-BMFF (ftyp+moov) file per
    // nation row, duration/width/height derived from the key, read back
    // through the metadata table. Oracle recomputes the formulas in SQL
    // (timescale is 1000 ticks/s so durationMs == the tick count). ----
    QuerySpec("unstructured_video_scan",
      (s, dir) => {
        setup(s, dir)
        val fixture = QueryPack.fixtureDir(new java.io.File(wh(dir), "videofiles")) { staging =>
          QueryPack.t(s, dir, "nation").select(col("n_nationkey")).collect().foreach { r =>
            val key = r.getInt(0)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(staging.toString, f"$key%05d.mp4"),
              minimalMp4(1000, 3000 + key * 500, 320 + key * 16, 180 + key * 9))
          }
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE VIDEO DATASOURCE clips OPTIONS (path '$fixture') NAMESPACE graft.datasource.un")
        s.sql("SELECT path, format, duration, width, height FROM graft.datasource.un.clips.clips")
          .select(
            regexp_extract(col("path"), "([0-9]+)\\.mp4$", 1).cast("int").as("n_nationkey"),
            col("format"), col("duration"), col("width"), col("height"))
          .orderBy(col("n_nationkey"))
      },
      Some("""SELECT n_nationkey, 'MP4' AS format,
          CAST(3000 + n_nationkey * 500 AS BIGINT) AS duration,
          CAST(320 + n_nationkey * 16 AS INT) AS width,
          CAST(180 + n_nationkey * 9 AS INT) AS height
        FROM nation ORDER BY n_nationkey""")),

    // ---- unstructured PDF scan: one minimal PDF per nation row whose page
    // text is a key-derived string (even keys FlateDecode-compressed, odd
    // keys plain — both land on the structured extractor, not the heuristic
    // fallback), read back through the `.content` sub-table. Oracle
    // recomputes the exact extracted text in SQL. (reference surface:
    // RegisterPdfDataSourceTestSuite.scala:29-265) ----
    QuerySpec("unstructured_pdf_scan",
      (s, dir) => {
        setup(s, dir)
        val fixture = QueryPack.fixtureDir(new java.io.File(wh(dir), "pdffiles")) { staging =>
          QueryPack.t(s, dir, "nation").select(col("n_nationkey")).collect().foreach { r =>
            val key = r.getInt(0)
            val cs = s"BT (pdf doc $key ${"x" * (10 + key)}) Tj ET"
              .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
            val (payload, filter) =
              if (key % 2 == 0) {
                val d = new java.util.zip.Deflater()
                d.setInput(cs); d.finish()
                val out = new java.io.ByteArrayOutputStream()
                val buf = new Array[Byte](4096)
                while (!d.finished()) out.write(buf, 0, d.deflate(buf))
                (out.toByteArray, " /Filter /FlateDecode")
              } else (cs, "")
            val bytes =
              s"%PDF-1.4\n4 0 obj << /Length ${payload.length}$filter >>\nstream\n"
                .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ payload ++
              "\nendstream\nendobj\ntrailer << /Root 1 0 R >>\n%%EOF\n"
                .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(staging.toString, f"$key%05d.pdf"), bytes)
          }
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE PDF DATASOURCE docsrc OPTIONS (path '$fixture') NAMESPACE graft.datasource.un")
        s.sql("SELECT path, textcontent FROM graft.datasource.un.docsrc.content")
          .select(
            regexp_extract(col("path"), "([0-9]+)\\.pdf$", 1).cast("int").as("n_nationkey"),
            col("textcontent"))
          .orderBy(col("n_nationkey"))
      },
      Some("""SELECT n_nationkey,
          'pdf doc ' || CAST(n_nationkey AS VARCHAR) || ' ' ||
            repeat('x', 10 + n_nationkey) AS textcontent
        FROM nation ORDER BY n_nationkey""")),

    // ---- PDF embedded-image dimensions (r10): one PDF per nation row
    // embedding a REAL JPEG XObject (JDK encoder) of key-derived size
    // behind /Filter /DCTDecode; the scan decodes the JPEG via
    // javax.imageio into the `imagedims` content column. Oracle recomputes
    // the planted dimensions from the key. ----
    QuerySpec("unstructured_pdf_imagedims",
      (s, dir) => {
        setup(s, dir)
        val fixture = QueryPack.fixtureDir(new java.io.File(wh(dir), "pdfimgfiles")) { staging =>
          QueryPack.t(s, dir, "nation").select(col("n_nationkey")).collect().foreach { r =>
            val key = r.getInt(0)
            val (w, h) = (16 + key, 9 + key)
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val jb = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpg", jb)
            java.nio.file.Files.write(java.nio.file.Paths.get(staging.toString, f"$key%05d.pdf"),
              imagePdf(w, h, DctRgb, jb.toByteArray))
          }
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE PDF DATASOURCE imgsrc OPTIONS (path '$fixture') NAMESPACE graft.datasource.un")
        s.sql("SELECT path, imagedims FROM graft.datasource.un.imgsrc.content")
          .select(
            regexp_extract(col("path"), "([0-9]+)\\.pdf$", 1).cast("int").as("n_nationkey"),
            explode(col("imagedims")).as("img"))
          .select(col("n_nationkey"),
            col("img.width").as("width"), col("img.height").as("height"))
          .orderBy(col("n_nationkey"))
      },
      Some("""SELECT n_nationkey,
          CAST(16 + n_nationkey AS INT) AS width,
          CAST(9 + n_nationkey AS INT) AS height
        FROM nation ORDER BY n_nationkey""")),

    // ---- SCANNED-PDF PERCEPTUAL DEDUP (r10): the `images` content column
    // (embedded JPEG payloads extracted standalone) feeds the perceptual
    // image-dedup operator — the scanned-document analogue of
    // multimodal_image_dedup. Each nation key gets a PDF embedding a
    // block-structured JPEG (8x8 solid blocks aligned to JPEG's DCT grid,
    // so the codec preserves them bit-deterministically); region-2 keys
    // additionally plant a twin at key+100 whose single edited block flips
    // <= 2 dHash gradient bits, while distinct keys' block patterns
    // scatter ~32 bits — the banded Hamming join must surface EXACTLY the
    // planted pairs, which the oracle states relationally. ----
    QuerySpec("multimodal_pdf_image_dedup",
      (s, dir) => {
        setup(s, dir)
        scanDedup(s, "scansrc", plantedScanPdfs(s, dir, "pdfdedupfiles", DctRgb) { (k, twin) =>
          val img = new java.awt.image.BufferedImage(72, 64,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          img.setRGB(0, 0, 72, 64, grayBlocks(k, twin).map(v => (v << 16) | (v << 8) | v), 0, 72)
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "jpg", out)
          out.toByteArray
        })
      },
      QueryPack.plantedPairsOracle(2)),

    // ---- JPX (JPEG2000) scanned pages feed perceptual dedup: each PDF
    // embeds a LOSSLESS gray JPX codestream (reversible 5/3 wavelet, so
    // decode is bit-exact — no codec wobble) of the key-derived 9x8 block
    // pattern; region-2 keys get a one-block-edited twin (<= 2-bit dHash
    // distance). Pixels decode through graft's own EBCOT/MQ + 5/3 DWT
    // engine (JpxDecode); the reference needs PDFBox + jai-imageio. ----
    QuerySpec("multimodal_jpx_scan_dedup",
      (s, dir) => {
        setup(s, dir)
        scanDedup(s, "jpxsrc", plantedScanPdfs(s, dir, "jpxscanfiles",
            "/BitsPerComponent 8 /ColorSpace /DeviceGray /Filter /JPXDecode") { (k, twin) =>
          graft.sources.unstructured.JpxEncode.encode(Array(grayBlocks(k, twin)), 72, 64, 8, 2)
        })
      },
      QueryPack.plantedPairsOracle(2)),

    // ---- JBIG2 scanned pages feed perceptual dedup: each PDF embeds an
    // MMR-coded generic-region JBIG2 image (the bilevel fax-scan shape) of
    // a key-derived 9x8 block pattern; region-2 keys get a one-block-
    // flipped twin (<= 2-bit dHash distance — JBIG2 decode is EXACT, no
    // codec wobble). Decodes through graft's own T.88 segment walker + T.6
    // engine (Jbig2Decode); the reference needs PDFBox + jbig2-imageio. ----
    QuerySpec("multimodal_jbig2_scan_dedup",
      (s, dir) => {
        setup(s, dir)
        def be32(v: Long): Array[Byte] = Array(
          ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
          ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
        def segment(num: Long, segType: Int, data: Array[Byte]): Array[Byte] =
          be32(num) ++ Array(segType.toByte, 0.toByte, 1.toByte) ++
            be32(data.length.toLong) ++ data
        scanDedup(s, "jb2src", plantedScanPdfs(s, dir, "jbig2scanfiles",
            "/BitsPerComponent 1 /ColorSpace /DeviceGray /Filter /JBIG2Decode") { (k, twin) =>
          // one bit per block (1 = black); the twin flips its edited block
          val bits = scanBlocks(k, twin)(z => ((z >>> 40) & 1).toInt, 1 - _)
          val coded = graft.sources.unstructured.CcittDecode.encodeG4(
            bits.map(b => if (b != 0) 0x00.toByte else 0xff.toByte), 72, 64)
          val region = be32(72) ++ be32(64) ++ be32(0) ++ be32(0) ++
            Array(0.toByte) ++ Array(1.toByte /* MMR */) ++ coded
          val pageInfo = be32(72) ++ be32(64) ++ be32(0) ++ be32(0) ++
            Array(0.toByte, 0.toByte, 0.toByte)
          segment(0, 48, pageInfo) ++ segment(1, 38, region)
        })
      },
      QueryPack.plantedPairsOracle(2)),

    // ---- unstructured WRITE sink roundtrip: SQL INSERT through the
    // FileFormat sink (one file per row, distributed write), then read BOTH
    // surfaces back — metadata sizes and lazy-loaded content — and the
    // oracle recomputes byte length and md5 from the source parquet. This
    // closes the one §2.3 row (write path) that had suite coverage only.
    // (reference: UnstructuredFileFormat.scala:35-121, BinOutputWriter) ----
    QuerySpec("unstructured_write_roundtrip",
      (s, dir) => {
        setup(s, dir)
        val sink = new java.io.File(wh(dir), "writesink")
        Graft.sql(s,
          s"REGISTER OR REPLACE TEXT DATASOURCE writesink OPTIONS (path '$sink') NAMESPACE graft.datasource.un")
        // marker OUTSIDE the dir the INSERT fills
        QueryPack.fixtureOnce(new java.io.File(wh(dir), "writesink.done"), clear = Seq(sink)) {
          sink.mkdirs()
          QueryPack.t(s, dir, "documents")
            .select(format_string("%05d.txt", col("doc_id")).as("path"),
              col("text").as("textcontent"))
            .createOrReplaceTempView("writesink_src")
          s.sql("INSERT INTO graft.datasource.un.writesink.content SELECT path, textcontent FROM writesink_src")
        }
        val meta = s.sql("SELECT path, sizeinbytes FROM graft.datasource.un.writesink.writesink")
        val content = s.sql("SELECT path, textcontent FROM graft.datasource.un.writesink.content")
        meta.join(content, "path")
          .select(
            regexp_extract(col("path"), "([0-9]+)\\.txt$", 1).cast("long").as("doc_id"),
            col("sizeinbytes"), md5(col("textcontent")).as("content_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS sizeinbytes,
          md5(text) AS content_md5 FROM documents ORDER BY doc_id""")),

    // ---- Tag sidecar roundtrip: register with a TAG schema, write typed
    // sidecars through the distributed writeTagSidecars path (values derived
    // from the key formula), read the typed tag columns back through the
    // metadata scan. Oracle recomputes the formulas. Covers §2.4's tag rows
    // (typed sidecar read + the UPDATE path the reference left unwired).
    // (reference: UnstructuredFilePartitionReaderFactory.scala:106-150) ----
    QuerySpec("unstructured_tag_scan",
      (s, dir) => {
        setup(s, dir)
        val fixture = QueryPack.fixtureDir(new java.io.File(wh(dir), "tagfiles")) { staging =>
          QueryPack.t(s, dir, "nation").select(col("n_nationkey")).collect().foreach { r =>
            val key = r.getInt(0)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(staging.toString, f"$key%05d.txt"),
              s"tagged doc $key".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
        Graft.sql(s,
          s"""REGISTER OR REPLACE TEXT DATASOURCE tagged OPTIONS (path '$fixture') NAMESPACE graft.datasource.un
             |TAG (author string, stars int)""".stripMargin)
        // sidecar write is idempotent (overwrite), so no completion marker
        val key = regexp_extract(col("path"), "([0-9]+)\\.txt$", 1).cast("int")
        graft.sources.unstructured.UnstructuredWrite.writeTagSidecars(
          s.sql("SELECT path FROM graft.datasource.un.tagged.tagged")
            .select(col("path"),
              concat(lit("author_"), key.cast("string")).as("author"),
              (key % 5).as("stars")))
        s.sql("SELECT path, author, stars, sizeinbytes FROM graft.datasource.un.tagged.tagged")
          .select(key.as("n_nationkey"), col("author"), col("stars"), col("sizeinbytes"))
          .orderBy(col("n_nationkey"))
      },
      Some("""SELECT n_nationkey,
          'author_' || CAST(n_nationkey AS VARCHAR) AS author,
          CAST(n_nationkey % 5 AS INT) AS stars,
          CAST(octet_length(encode('tagged doc ' || CAST(n_nationkey AS VARCHAR))) AS BIGINT)
            AS sizeinbytes
        FROM nation ORDER BY n_nationkey""")),

    // ---- CSV datasource: parquet -> csv fixture -> graft catalog scan.
    // inferSchema recovers the int32 keys the parquet carries, so the
    // values AND dtypes must round-trip exactly (quoting included). ----
    QuerySpec("src_csv_scan",
      (s, dir) => {
        setup(s, dir)
        val fmtDir = QueryPack.fixtureDir(new java.io.File(wh(dir), "fmt/csvdir")) { staging =>
          QueryPack.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
            .write.option("header", "true").csv(s"$staging/nation")
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE CSV DATASOURCE csvsrc OPTIONS (path '${fmtDir.getPath}', header 'true', inferSchema 'true') NAMESPACE graft.datasource.fmt")
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.fmt.csvsrc.nation ORDER BY n_nationkey""".stripMargin)
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // ---- JSON datasource joined against the parquet source through two
    // different catalog units in ONE query (federation in the small). ----
    QuerySpec("src_json_scan",
      (s, dir) => {
        setup(s, dir)
        val fmtDir = QueryPack.fixtureDir(new java.io.File(wh(dir), "fmt/jsondir")) { staging =>
          QueryPack.t(s, dir, "region").select("r_regionkey", "r_name")
            .write.json(s"$staging/region")
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE JSON DATASOURCE jsonsrc OPTIONS (path '${fmtDir.getPath}') NAMESPACE graft.datasource.fmt")
        s.sql(
          """SELECT r.r_name AS region, COUNT(*) AS n_nations
            |FROM graft.datasource.fmt.jsonsrc.region r
            |JOIN graft.datasource.file.tpch.nation n ON n.n_regionkey = r.r_regionkey
            |GROUP BY r.r_name ORDER BY region""".stripMargin)
      },
      Some("""SELECT r_name AS region, COUNT(*) AS n_nations
        FROM region JOIN nation ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY region""")),

    // ---- ORC datasource: schema-exact round-trip + aggregate. ----
    QuerySpec("src_orc_scan",
      (s, dir) => {
        setup(s, dir)
        val fmtDir = QueryPack.fixtureDir(new java.io.File(wh(dir), "fmt/orcdir")) { staging =>
          QueryPack.t(s, dir, "part").select("p_partkey", "p_brand", "p_retailprice")
            .write.orc(s"$staging/part")
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE ORC DATASOURCE orcsrc OPTIONS (path '${fmtDir.getPath}') NAMESPACE graft.datasource.fmt")
        s.sql(
          """SELECT p_brand, COUNT(*) AS n,
            |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            |FROM graft.datasource.fmt.orcsrc.part GROUP BY p_brand ORDER BY p_brand""".stripMargin)
      },
      Some("""SELECT p_brand, COUNT(*) AS n,
        CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM part GROUP BY p_brand ORDER BY p_brand""")),

    // ---- JDBC datasource (embedded Derby): load customer through the v2
    // JDBC catalog (CREATE + INSERT ... SELECT through the graft FQN), then
    // aggregate THROUGH the same catalog — the full remote round trip the
    // suite's Derby tests cover, now held to a DuckDB oracle. ----
    QuerySpec("src_jdbc_scan",
      (s, dir) => {
        setup(s, dir)
        ensureJdbcCustomer(s, dir)
        s.sql(
          """SELECT c_mktsegment AS segment, COUNT(*) AS n,
            |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total
            |FROM graft.datasource.jdbc.pdgate.APP.gatecust
            |GROUP BY c_mktsegment ORDER BY segment""".stripMargin)
      },
      Some("""SELECT c_mktsegment AS segment, COUNT(*) AS n,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM customer GROUP BY c_mktsegment ORDER BY segment""")),

    // ---- AVRO datasource through the AvroLite native reader (no spark-avro
    // module in this deployment): nation + derived columns spanning the
    // whole logical-type matrix (boolean, date, timestamp-micros,
    // decimal(12,2), double, long) written as one deflate-compressed
    // container, read back through the graft catalog. Oracle recomputes
    // every derived column in SQL. ----
    QuerySpec("src_avro_scan",
      (s, dir) => {
        setup(s, dir)
        val fmtDir = QueryPack.fixtureDir(new java.io.File(wh(dir), "fmt/avrodir")) { staging =>
          val df = QueryPack.t(s, dir, "nation").select(
            col("n_nationkey"), col("n_name"),
            col("n_regionkey").cast("long").as("key_long"),
            (col("n_nationkey") % 2 === 0).as("key_flag"),
            date_add(to_date(lit("1992-01-01")), col("n_nationkey")).as("key_date"),
            expr("timestamp'1995-06-17 00:00:00' + make_interval(0,0,0,0,n_nationkey,0,0)")
              .as("key_ts"),
            (col("n_nationkey") * 1.5).cast("decimal(12,2)").as("key_dec"),
            (col("n_nationkey") / 7.0).as("key_ratio"))
          graft.sources.lake.AvroLite.writeDataFrame(
            df.orderBy("n_nationkey"), new java.io.File(staging, "nation.avro"))
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE AVRO DATASOURCE avrosrc OPTIONS (path '${fmtDir.getPath}') NAMESPACE graft.datasource.fmt")
        // decoded logical types surface cast to hash-stable shapes (string /
        // epoch-ms / double), the same convention as q_date_arith
        s.sql(
          """SELECT n_nationkey, n_name, key_long, key_flag,
            |  CAST(key_date AS STRING) AS key_date,
            |  unix_millis(key_ts) AS key_ts_ms,
            |  CAST(key_dec AS DOUBLE) AS key_dec,
            |  key_ratio
            |FROM graft.datasource.fmt.avrosrc.nation ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT n_nationkey, n_name,
          CAST(n_regionkey AS BIGINT) AS key_long,
          n_nationkey % 2 = 0 AS key_flag,
          CAST(DATE '1992-01-01' + CAST(n_nationkey AS INT) AS VARCHAR) AS key_date,
          epoch_ms(TIMESTAMP '1995-06-17 00:00:00' + to_hours(CAST(n_nationkey AS BIGINT))) AS key_ts_ms,
          CAST(CAST(n_nationkey * 1.5 AS DECIMAL(12,2)) AS DOUBLE) AS key_dec,
          CAST(n_nationkey AS DOUBLE) / 7.0 AS key_ratio
        FROM nation ORDER BY n_nationkey""")),

    // ---- DELTA datasource through the DeltaLite native log reader (no
    // delta-spark jar in this deployment): a two-commit partitioned Delta
    // table — commit 0 adds one file per region (partition values carried
    // by the log, NOT by the data files), commit 1 removes region 2's file
    // and adds a replacement holding only its even keys. The visible state
    // therefore exists ONLY through correct log replay; the oracle
    // recomputes it from the source table. ----
    QuerySpec("src_delta_scan",
      (s, dir) => {
        setup(s, dir)
        ensureDeltaNation(s, dir)
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lake.deltasrc.nation_delta ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation
        WHERE n_regionkey <> 2 OR n_nationkey % 2 = 0 ORDER BY n_nationkey""")),

    // ---- ICEBERG datasource through the IcebergLite native metadata
    // reader (no iceberg runtime jar in this deployment): a two-snapshot v2
    // table — snapshot 1001 adds files A (keys < 12) and B (keys >= 12);
    // snapshot 1002 (current) carries a manifest marking B DELETED, A
    // EXISTING, and a new file C (keys >= 12, even only) ADDED. The visible
    // state exists ONLY through correct manifest-status handling. ----
    QuerySpec("src_iceberg_scan",
      (s, dir) => {
        setup(s, dir)
        import graft.sources.lake.LakeWrite
        import graft.sources.lake.LakeWrite.{IcebergSnapshot, ManifestEntry}
        import org.apache.hadoop.fs.Path
        val lakeDir = new java.io.File(wh(dir), "lake")
        QueryPack.fixtureDir(new java.io.File(lakeDir, "nation_ice")) { staging =>
          new java.io.File(staging, "metadata").mkdirs()
          val conf = s.sparkContext.hadoopConfiguration
          val root = new Path(staging.toString)
          val nation = QueryPack.t(s, dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
          def dataFile(rel: String, cond: org.apache.spark.sql.Column): (String, Long, Long) = {
            val d = nation.where(cond)
            val n = d.count()
            val size = LakeWrite.writeOneParquetFile(d, new Path(root, rel))
            (rel, size, n)
          }
          val a = dataFile("data/a.parquet", col("n_nationkey") < 12)
          val b = dataFile("data/b.parquet", col("n_nationkey") >= 12)
          val c = dataFile("data/c.parquet", col("n_nationkey") >= 12 && col("n_nationkey") % 2 === 0)
          val m1 = new java.io.File(staging, "metadata/m1.avro")
          val m1len = LakeWrite.icebergWriteManifest(m1, Seq(
            ManifestEntry(1, a._1, a._3, a._2, 1001L),
            ManifestEntry(1, b._1, b._3, b._2, 1001L)))
          LakeWrite.icebergWriteManifestList(new java.io.File(staging, "metadata/ml1.avro"),
            Seq("metadata/m1.avro" -> m1len), 1001L, 1L)
          val m2 = new java.io.File(staging, "metadata/m2.avro")
          val m2len = LakeWrite.icebergWriteManifest(m2, Seq(
            ManifestEntry(0, a._1, a._3, a._2, 1001L),
            ManifestEntry(2, b._1, b._3, b._2, 1002L),
            ManifestEntry(1, c._1, c._3, c._2, 1002L)))
          LakeWrite.icebergWriteManifestList(new java.io.File(staging, "metadata/ml2.avro"),
            Seq("metadata/m2.avro" -> m2len), 1002L, 2L)
          LakeWrite.icebergWriteMetadata(conf, root, 2, nation.schema,
            Seq(IcebergSnapshot(1001L, 1700000000000L, "metadata/ml1.avro", 1L),
              IcebergSnapshot(1002L, 1700000100000L, "metadata/ml2.avro", 2L)),
            currentSnapshotId = 1002L,
            refs = Map("main" -> (1002L, "branch"), "before" -> (1001L, "tag")))
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE ICEBERG DATASOURCE icesrc OPTIONS (warehouse '${lakeDir.getPath}') NAMESPACE graft.datasource.lake")
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lake.icesrc.nation_ice ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation
        WHERE n_nationkey < 12 OR n_nationkey % 2 = 0 ORDER BY n_nationkey""")),

    // ---- ICEBERG v2 merge-on-read through the native position-delete
    // path: snapshot 2001 (seq 1) adds files A (keys < 12, sorted) and B
    // (keys >= 12, sorted); snapshot 2002 (seq 2) commits a position-delete
    // file masking A's odd keys and B's first row (key 12) BY POSITION, and
    // also names C's future path (position 0) — which must be sequence-
    // gated out; snapshot 2003 (seq 3) re-adds keys 1 and 12 as file C. The
    // visible state exists ONLY through correct delete application: join on
    // (file identity, row ordinal), gated by delete.seq >= data.seq. ----
    QuerySpec("src_iceberg_mor_scan",
      (s, dir) => {
        setup(s, dir)
        ensureIcebergMor(s, dir)
        Graft.sql(s,
          s"REGISTER OR REPLACE ICEBERG DATASOURCE icemor OPTIONS (warehouse '${new java.io.File(wh(dir), "lake").getPath}') NAMESPACE graft.datasource.lake")
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lake.icemor.nation_ice_mor ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation
        WHERE (n_nationkey < 12 AND n_nationkey % 2 = 0)
           OR n_nationkey >= 13 OR n_nationkey IN (1, 12) ORDER BY n_nationkey""")),

    // ---- ICEBERG INCREMENTAL CHANGELOG over the same three-snapshot
    // merge-on-read fixture: snapshot 2001 appends the full table (feed
    // inserts), 2002 commits ONLY a position-delete file — the feed must
    // surface exactly the newly-masked rows, via the (file, ordinal)
    // anti-join of the two merge-on-read scans — and 2003 appends a file
    // whose rows the OLDER delete file must NOT mask (sequence-number
    // gating inside the feed). ----
    QuerySpec("lake_iceberg_changelog",
      (s, dir) => {
        setup(s, dir)
        ensureIcebergMor(s, dir)
        Graft.sql(s,
          s"REGISTER OR REPLACE ICEBERG DATASOURCE icechg OPTIONS (warehouse '${new java.io.File(wh(dir), "lake").getPath}', readChangelog 'true') NAMESPACE graft.datasource.lake")
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey,
            |  _change_type AS change_type, _change_ordinal AS change_ordinal,
            |  _commit_snapshot_id AS commit_snapshot_id
            |FROM graft.datasource.lake.icechg.nation_ice_mor
            |ORDER BY change_ordinal, change_type, n_nationkey""".stripMargin)
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey,
          'insert' AS change_type, CAST(0 AS INT) AS change_ordinal,
          CAST(2001 AS BIGINT) AS commit_snapshot_id FROM nation
        UNION ALL SELECT n_nationkey, n_name, n_regionkey, 'delete', 1, 2002
          FROM nation WHERE (n_nationkey < 12 AND n_nationkey % 2 = 1) OR n_nationkey = 12
        UNION ALL SELECT n_nationkey, n_name, n_regionkey, 'insert', 2, 2003
          FROM nation WHERE n_nationkey IN (1, 12)
        ORDER BY change_ordinal, change_type, n_nationkey""")),


    // ---- ICEBERG v2 EQUALITY DELETES (Flink-CDC-shaped) through the
    // native path: snapshot 4001 (seq 1) adds file A = full nation;
    // snapshot 4002 (seq 2) commits TWO equality-delete files — E1 on
    // equality_ids=[n_nationkey] naming the odd keys < 10, E2 on
    // equality_ids=[n_regionkey] naming region 4 — AND, in the same
    // sequence, data file B re-inserting key 5 (which E1 names): the
    // spec's STRICT seq gating must keep B. Snapshot 4003 (seq 3) re-adds
    // keys 1 and 3 as file C, which both survive the older deletes. The
    // visible state exists only through correct per-id-set null-safe
    // anti-joins with strict sequence gating. ----
    QuerySpec("src_iceberg_eq_scan",
      (s, dir) => {
        setup(s, dir)
        import graft.sources.lake.LakeWrite
        import graft.sources.lake.LakeWrite.{IcebergSnapshot, ManifestEntry, ManifestFile}
        import org.apache.hadoop.fs.Path
        val lakeDir = new java.io.File(wh(dir), "lake")
        QueryPack.fixtureDir(new java.io.File(lakeDir, "nation_ice_eq")) { staging =>
          new java.io.File(staging, "metadata").mkdirs()
          val conf = s.sparkContext.hadoopConfiguration
          val root = new Path(staging.toString)
          val nation = QueryPack.t(s, dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
          def dataFile(rel: String, d: org.apache.spark.sql.DataFrame, snapId: Long): ManifestEntry = {
            val size = LakeWrite.writeOneParquetFile(d.coalesce(1), new Path(root, rel))
            ManifestEntry(1, rel, d.count(), size, snapId)
          }
          val a = dataFile("data/a.parquet", nation, 4001L)
          val b = dataFile("data/b.parquet", nation.where(col("n_nationkey") === 5), 4002L)
          val c = dataFile("data/c.parquet", nation.where(col("n_nationkey").isin(1, 3)), 4003L)
          // equality-delete files: plain parquet holding ONLY the equality
          // columns (ids resolve against the schema: n_nationkey=1,
          // n_regionkey=3 per icebergSchemaJson's 1-based assignment)
          val e1df = nation.where(col("n_nationkey") % 2 === 1 && col("n_nationkey") < 10)
            .select("n_nationkey")
          val e1 = ManifestEntry(1, "data/e1.parquet", e1df.count(),
            LakeWrite.writeOneParquetFile(e1df.coalesce(1), new Path(root, "data/e1.parquet")),
            4002L, content = 2, equalityIds = Seq(1))
          val e2df = nation.where(col("n_regionkey") === 4)
            .select("n_regionkey").distinct()
          val e2 = ManifestEntry(1, "data/e2.parquet", e2df.count(),
            LakeWrite.writeOneParquetFile(e2df.coalesce(1), new Path(root, "data/e2.parquet")),
            4002L, content = 2, equalityIds = Seq(3))
          val m1len = LakeWrite.icebergWriteManifest(new java.io.File(staging, "metadata/m1.avro"), Seq(a))
          val m2len = LakeWrite.icebergWriteManifest(new java.io.File(staging, "metadata/m2.avro"), Seq(b))
          val m3len = LakeWrite.icebergWriteManifest(new java.io.File(staging, "metadata/m3.avro"), Seq(c))
          val mdlen = LakeWrite.icebergWriteManifest(new java.io.File(staging, "metadata/md.avro"),
            Seq(e1, e2))
          LakeWrite.icebergWriteManifestList(new java.io.File(staging, "metadata/ml1.avro"),
            Seq("metadata/m1.avro" -> m1len), 4001L, 1L)
          LakeWrite.icebergWriteManifestListEntries(new java.io.File(staging, "metadata/ml2.avro"),
            Seq(ManifestFile("metadata/m1.avro", m1len, 0, 1L),
              ManifestFile("metadata/m2.avro", m2len, 0, 2L),
              ManifestFile("metadata/md.avro", mdlen, 1, 2L)), 4002L)
          LakeWrite.icebergWriteManifestListEntries(new java.io.File(staging, "metadata/ml3.avro"),
            Seq(ManifestFile("metadata/m1.avro", m1len, 0, 1L),
              ManifestFile("metadata/m2.avro", m2len, 0, 2L),
              ManifestFile("metadata/m3.avro", m3len, 0, 3L),
              ManifestFile("metadata/md.avro", mdlen, 1, 2L)), 4003L)
          LakeWrite.icebergWriteMetadata(conf, root, 3, nation.schema,
            Seq(IcebergSnapshot(4001L, 1700000000000L, "metadata/ml1.avro", 1L),
              IcebergSnapshot(4002L, 1700000100000L, "metadata/ml2.avro", 2L),
              IcebergSnapshot(4003L, 1700000200000L, "metadata/ml3.avro", 3L)),
            currentSnapshotId = 4003L)
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE ICEBERG DATASOURCE iceeq OPTIONS (warehouse '${lakeDir.getPath}') NAMESPACE graft.datasource.lake")
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lake.iceeq.nation_ice_eq ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation
        WHERE (NOT (n_nationkey % 2 = 1 AND n_nationkey < 10) AND n_regionkey <> 4)
           OR n_nationkey IN (1, 3, 5) ORDER BY n_nationkey""")),

    // ---- DELTA DELETION VECTORS through the native RoaringDv decode path:
    // commit 0 adds one file per region (all columns in-file, unpartitioned
    // log); commit 1 upgrades to reader protocol 3 and re-adds region 1's
    // file with a FILE-storage DV masking its odd keys by position, and
    // region 3's file with an INLINE DV masking its first row. The visible
    // state exists ONLY through correct bitmap decode + per-file ordinal
    // anti-join; the oracle recomputes it relationally. ----
    QuerySpec("src_delta_dv_scan",
      (s, dir) => {
        setup(s, dir)
        import graft.sources.lake.{LakeWrite, RoaringDv}
        import org.apache.hadoop.fs.Path
        val lakeDir = new java.io.File(wh(dir), "lake")
        QueryPack.fixtureDir(new java.io.File(lakeDir, "nation_dv")) { staging =>
          val conf = s.sparkContext.hadoopConfiguration
          val root = new Path(staging.toString)
          val nation = QueryPack.t(s, dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
          def keysOf(rk: Int): Seq[Long] = nation.where(col("n_regionkey") === rk)
            .select("n_nationkey").orderBy("n_nationkey")
            .collect().map(_.get(0).toString.toLong).toSeq
          val sizes = (0 to 4).map { rk =>
            val d = nation.where(col("n_regionkey") === rk)
              .coalesce(1).sortWithinPartitions("n_nationkey")
            rk -> LakeWrite.writeOneParquetFile(d, new Path(root, s"r$rk.parquet"))
          }.toMap
          LakeWrite.deltaCommit(conf, root, 0,
            Seq(LakeWrite.deltaCommitInfo(1700000000000L), LakeWrite.deltaProtocol(),
              LakeWrite.deltaMetaData("nation-dv-fixture", nation.schema, Nil)) ++
              (0 to 4).map(rk => LakeWrite.deltaAdd(s"r$rk.parquet", sizes(rk),
                1700000000000L, Map.empty)))
          // region 1: file-storage DV over the positions of its odd keys
          val oddPos = keysOf(1).zipWithIndex.collect { case (k, i) if k % 2 == 1 => i.toLong }
          val uuid = new java.util.UUID(0x1234567890abcdefL, 0x0fedcba987654321L)
          val bmp1 = RoaringDv.encodeBitmapArray(oddPos)
          val (off1, sz1) = RoaringDv.writeDvFile(conf,
            new Path(root, s"deletion_vector_$uuid.bin"), bmp1)
          // region 3: inline DV over position 0 (its smallest key)
          val bmp3 = RoaringDv.encodeBitmapArray(Seq(0L))
          val padded = bmp3 ++ new Array[Byte]((4 - bmp3.length % 4) % 4)
          LakeWrite.deltaCommit(conf, root, 1,
            Seq(LakeWrite.deltaCommitInfo(1700000100000L),
              LakeWrite.deltaProtocolWithFeatures(Seq("deletionVectors"), Seq("deletionVectors")),
              LakeWrite.deltaAddDv("r1.parquet", sizes(1), 1700000100000L, Map.empty,
                "u", RoaringDv.encodeUuid(uuid), Some(off1), sz1, oddPos.size.toLong),
              LakeWrite.deltaAddDv("r3.parquet", sizes(3), 1700000100000L, Map.empty,
                "i", RoaringDv.base85Encode(padded), None, bmp3.length, 1L)))
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE dvsrc OPTIONS (path '${lakeDir.getPath}') NAMESPACE graft.datasource.lake")
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lake.dvsrc.nation_dv ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation
        WHERE NOT (n_regionkey = 1 AND n_nationkey % 2 = 1)
          AND NOT (n_regionkey = 3 AND n_nationkey =
            (SELECT MIN(n_nationkey) FROM nation WHERE n_regionkey = 3))
        ORDER BY n_nationkey""")),

    // ---- DELTA COLUMN MAPPING (name mode) through the native physical-
    // name resolution path: commit 0 creates the table with mapping
    // enabled — data files carry ONLY physical columns (col-1, col-2),
    // partitionValues key on the physical partition name (col-3) — and
    // commit 1 logically renames n_name to n_label without touching a
    // single data file. The gate queries the RENAMED name; every value is
    // reachable only if physical resolution, partition-key mapping, and
    // the logical restore all work. ----
    QuerySpec("src_delta_cmap_scan",
      (s, dir) => {
        setup(s, dir)
        import graft.sources.lake.LakeWrite
        import org.apache.hadoop.fs.Path
        import org.apache.spark.sql.types._
        val lakeDir = new java.io.File(wh(dir), "lake")
        QueryPack.fixtureDir(new java.io.File(lakeDir, "nation_cmap")) { staging =>
          val conf = s.sparkContext.hadoopConfiguration
          val root = new Path(staging.toString)
          val nation = QueryPack.t(s, dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
          def m(phys: String, id: Long): Metadata = new MetadataBuilder()
            .putString("delta.columnMapping.physicalName", phys)
            .putLong("delta.columnMapping.id", id).build()
          def logical(nameCol: String): StructType = StructType(Seq(
            StructField("n_nationkey", nation.schema("n_nationkey").dataType,
              nullable = true, m("col-1", 1)),
            StructField(nameCol, nation.schema("n_name").dataType,
              nullable = true, m("col-2", 2)),
            StructField("n_regionkey", nation.schema("n_regionkey").dataType,
              nullable = true, m("col-3", 3))))
          val cmapCfg = Map("delta.columnMapping.mode" -> "name",
            "delta.columnMapping.maxColumnId" -> "3")
          val adds = (0 to 4).map { rk =>
            val rel = s"part-r$rk.parquet"
            val size = LakeWrite.writeOneParquetFile(
              nation.where(col("n_regionkey") === rk)
                .select(col("n_nationkey").as("col-1"), col("n_name").as("col-2")),
              new Path(root, rel))
            LakeWrite.deltaAdd(rel, size, 1700000000000L, Map("col-3" -> rk.toString))
          }
          LakeWrite.deltaCommit(conf, root, 0,
            Seq(LakeWrite.deltaCommitInfo(1700000000000L),
              LakeWrite.deltaProtocol(minReader = 2, minWriter = 5),
              LakeWrite.deltaMetaData("nation-cmap", logical("n_name"),
                Seq("n_regionkey"), cmapCfg)) ++ adds)
          LakeWrite.deltaCommit(conf, root, 1,
            Seq(LakeWrite.deltaCommitInfo(1700000100000L),
              LakeWrite.deltaMetaData("nation-cmap", logical("n_label"),
                Seq("n_regionkey"), cmapCfg)))
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE cmapsrc OPTIONS (path '${lakeDir.getPath}') NAMESPACE graft.datasource.lake")
        s.sql(
          """SELECT n_nationkey, n_label, n_regionkey
            |FROM graft.datasource.lake.cmapsrc.nation_cmap ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT n_nationkey, n_name AS n_label, n_regionkey FROM nation
        ORDER BY n_nationkey""")),

    // ---- NATIVE DELTA WRITE through the SQL surface (no delta-spark jar):
    // CREATE TABLE partitioned by n_regionkey, then TWO INSERT commits
    // (keys < 15, keys >= 15). The read-back state exists only if the
    // writer's log commits, hive-style partition values, and the reader's
    // replay all agree; the oracle is the source table itself. ----
    QuerySpec("src_delta_write",
      (s, dir) => {
        setup(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE dwrite OPTIONS (path '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        tableOnce(lakeDir, "nation_w") {
          s.sql("CREATE TABLE graft.datasource.lakew.dwrite.nation_w " +
            "(n_nationkey INT, n_name STRING, n_regionkey INT) PARTITIONED BY (n_regionkey)")
          QueryPack.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
            .createOrReplaceTempView("__nation_w_src")
          s.sql("INSERT INTO graft.datasource.lakew.dwrite.nation_w " +
            "SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT) " +
            "FROM __nation_w_src WHERE n_nationkey < 15")
          s.sql("INSERT INTO graft.datasource.lakew.dwrite.nation_w " +
            "SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT) " +
            "FROM __nation_w_src WHERE n_nationkey >= 15")
        }
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lakew.dwrite.nation_w ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
          CAST(n_regionkey AS INT) AS n_regionkey
        FROM nation ORDER BY n_nationkey""")),

    // ---- NATIVE ICEBERG WRITE through the SQL surface (no iceberg jar):
    // CREATE TABLE partitioned by n_regionkey (identity values live in the
    // manifest partition struct), INSERT everything, then INSERT OVERWRITE
    // the keys < 10 subset — the visible state is the overwrite snapshot,
    // readable only if metadata v3's manifest list dropped the old files. ----
    QuerySpec("src_iceberg_write",
      (s, dir) => {
        setup(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE ICEBERG DATASOURCE iwrite OPTIONS (warehouse '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        tableOnce(lakeDir, "nation_iw") {
          s.sql("CREATE TABLE graft.datasource.lakew.iwrite.nation_iw " +
            "(n_nationkey INT, n_name STRING, n_regionkey INT) PARTITIONED BY (n_regionkey)")
          QueryPack.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
            .createOrReplaceTempView("__nation_iw_src")
          s.sql("INSERT INTO graft.datasource.lakew.iwrite.nation_iw " +
            "SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT) " +
            "FROM __nation_iw_src")
          s.sql("INSERT OVERWRITE graft.datasource.lakew.iwrite.nation_iw " +
            "SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT) " +
            "FROM __nation_iw_src WHERE n_nationkey < 10")
        }
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lakew.iwrite.nation_iw ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
          CAST(n_regionkey AS INT) AS n_regionkey
        FROM nation WHERE n_nationkey < 10 ORDER BY n_nationkey""")),

    // ---- NATIVE ROW-LEVEL DML on a Delta table (no delta-spark jar):
    // CREATE + INSERT, then DELETE (partition + row predicate), UPDATE
    // (string mutation on a key range), and a MERGE that updates matched
    // keys and inserts a brand-new one — all copy-on-write at file
    // granularity through the injected resolution rule. The oracle replays
    // the same three statements relationally. ----
    QuerySpec("src_delta_dml",
      (s, dir) => {
        setup(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE ddml OPTIONS (path '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        tableOnce(lakeDir, "nation_dml") {
          s.sql("CREATE TABLE graft.datasource.lakew.ddml.nation_dml " +
            "(n_nationkey INT, n_name STRING, n_regionkey INT) PARTITIONED BY (n_regionkey)")
          QueryPack.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
            .createOrReplaceTempView("__nation_dml_src")
          s.sql("INSERT INTO graft.datasource.lakew.ddml.nation_dml " +
            "SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT) " +
            "FROM __nation_dml_src")
          s.sql("DELETE FROM graft.datasource.lakew.ddml.nation_dml " +
            "WHERE n_regionkey = 3 AND n_nationkey % 2 = 1")
          s.sql("UPDATE graft.datasource.lakew.ddml.nation_dml " +
            "SET n_name = concat(n_name, '*') WHERE n_nationkey < 5")
          s.sql("SELECT CAST(n_nationkey AS INT) AS k, concat('M-', n_nationkey) AS nm " +
            "FROM __nation_dml_src WHERE n_nationkey < 3 " +
            "UNION ALL SELECT 990, 'M-990'").createOrReplaceTempView("__nation_dml_merge")
          s.sql(
            """MERGE INTO graft.datasource.lakew.ddml.nation_dml t
              |USING __nation_dml_merge s ON t.n_nationkey = s.k
              |WHEN MATCHED THEN UPDATE SET n_name = s.nm
              |WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name, n_regionkey)
              |  VALUES (s.k, s.nm, 0)""".stripMargin)
        }
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lakew.ddml.nation_dml ORDER BY n_nationkey""".stripMargin)
      },
      Some("""WITH base AS (SELECT CAST(n_nationkey AS INT) AS k, n_name,
            CAST(n_regionkey AS INT) AS r FROM nation),
          d AS (SELECT * FROM base WHERE NOT (r = 3 AND k % 2 = 1)),
          u AS (SELECT k, CASE WHEN k < 5 THEN n_name || '*' ELSE n_name END AS nm, r FROM d),
          src AS (SELECT k, 'M-' || CAST(k AS VARCHAR) AS nm FROM base WHERE k < 3
            UNION ALL SELECT 990, 'M-990'),
          merged AS (
            SELECT u.k, COALESCE(s.nm, u.nm) AS nm, u.r FROM u LEFT JOIN src s ON u.k = s.k
            UNION ALL
            SELECT s.k, s.nm, 0 FROM src s WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.k = s.k))
        SELECT k AS n_nationkey, nm AS n_name, r AS n_regionkey
        FROM merged ORDER BY n_nationkey""")),

    // ---- NATIVE ROW-LEVEL DML on an Iceberg table (no iceberg jar): same
    // statement sequence; survivors keep their original data sequence
    // numbers, so the rewrite is a real merge-on-read-compatible commit. ----
    QuerySpec("src_iceberg_dml",
      (s, dir) => {
        setup(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE ICEBERG DATASOURCE idml OPTIONS (warehouse '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        tableOnce(lakeDir, "nation_idml") {
          s.sql("CREATE TABLE graft.datasource.lakew.idml.nation_idml " +
            "(n_nationkey INT, n_name STRING, n_regionkey INT) PARTITIONED BY (n_regionkey)")
          QueryPack.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
            .createOrReplaceTempView("__nation_idml_src")
          s.sql("INSERT INTO graft.datasource.lakew.idml.nation_idml " +
            "SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT) " +
            "FROM __nation_idml_src")
          s.sql("DELETE FROM graft.datasource.lakew.idml.nation_idml " +
            "WHERE n_regionkey = 3 AND n_nationkey % 2 = 1")
          s.sql("UPDATE graft.datasource.lakew.idml.nation_idml " +
            "SET n_name = concat(n_name, '*') WHERE n_nationkey < 5")
          s.sql("SELECT CAST(n_nationkey AS INT) AS k, concat('M-', n_nationkey) AS nm " +
            "FROM __nation_idml_src WHERE n_nationkey < 3 " +
            "UNION ALL SELECT 990, 'M-990'").createOrReplaceTempView("__nation_idml_merge")
          s.sql(
            """MERGE INTO graft.datasource.lakew.idml.nation_idml t
              |USING __nation_idml_merge s ON t.n_nationkey = s.k
              |WHEN MATCHED THEN UPDATE SET n_name = s.nm
              |WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name, n_regionkey)
              |  VALUES (s.k, s.nm, 0)""".stripMargin)
        }
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lakew.idml.nation_idml ORDER BY n_nationkey""".stripMargin)
      },
      Some("""WITH base AS (SELECT CAST(n_nationkey AS INT) AS k, n_name,
            CAST(n_regionkey AS INT) AS r FROM nation),
          d AS (SELECT * FROM base WHERE NOT (r = 3 AND k % 2 = 1)),
          u AS (SELECT k, CASE WHEN k < 5 THEN n_name || '*' ELSE n_name END AS nm, r FROM d),
          src AS (SELECT k, 'M-' || CAST(k AS VARCHAR) AS nm FROM base WHERE k < 3
            UNION ALL SELECT 990, 'M-990'),
          merged AS (
            SELECT u.k, COALESCE(s.nm, u.nm) AS nm, u.r FROM u LEFT JOIN src s ON u.k = s.k
            UNION ALL
            SELECT s.k, s.nm, 0 FROM src s WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.k = s.k))
        SELECT k AS n_nationkey, nm AS n_name, r AS n_regionkey
        FROM merged ORDER BY n_nationkey""")),

    // ---- ICEBERG SCHEMA EVOLUTION through field-id parquet resolution:
    // batch 1 (keys < 12) is written under the ORIGINAL schema; then
    // RENAME COLUMN n_regionkey -> region_id (same field id — batch 1's
    // parquet must serve its n_regionkey bytes under the new name), DROP
    // COLUMN n_name, ADD COLUMNS n_name (FRESH field id — batch 1's
    // n_name bytes are dead and must read NULL, never resurface); batch 2
    // (keys >= 12) is written under the evolved schema. The visible state
    // exists ONLY through id-based resolution: name-based reads would
    // null-fill region_id for batch 1 AND resurrect its dropped n_name. ----
    QuerySpec("src_iceberg_evolved_scan",
      (s, dir) => {
        setup(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE ICEBERG DATASOURCE ievo OPTIONS (warehouse '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        tableOnce(lakeDir, "nation_ievo") {
          s.sql("CREATE TABLE graft.datasource.lakew.ievo.nation_ievo " +
            "(n_nationkey INT, n_name STRING, n_regionkey INT)")
          QueryPack.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
            .createOrReplaceTempView("__nation_ievo_src")
          s.sql("INSERT INTO graft.datasource.lakew.ievo.nation_ievo " +
            "SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT) " +
            "FROM __nation_ievo_src WHERE n_nationkey < 12")
          s.sql("ALTER TABLE graft.datasource.lakew.ievo.nation_ievo " +
            "RENAME COLUMN n_regionkey TO region_id")
          s.sql("ALTER TABLE graft.datasource.lakew.ievo.nation_ievo DROP COLUMN n_name")
          s.sql("ALTER TABLE graft.datasource.lakew.ievo.nation_ievo ADD COLUMNS (n_name STRING)")
          s.sql("INSERT INTO graft.datasource.lakew.ievo.nation_ievo " +
            "SELECT CAST(n_nationkey AS INT), CAST(n_regionkey AS INT) AS region_id, n_name " +
            "FROM __nation_ievo_src WHERE n_nationkey >= 12")
        }
        s.sql(
          """SELECT n_nationkey, region_id, n_name
            |FROM graft.datasource.lakew.ievo.nation_ievo ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT CAST(n_nationkey AS INT) AS n_nationkey,
          CAST(n_regionkey AS INT) AS region_id,
          CASE WHEN n_nationkey >= 12 THEN n_name ELSE NULL END AS n_name
        FROM nation ORDER BY n_nationkey""")),

    // ---- ICEBERG HIDDEN PARTITIONING (day transform): five data files,
    // one per day(d) value, the manifest carrying only the TRANSFORMED
    // day ordinal — the filter is on the SOURCE date column, so the rows
    // are only right if the day window derivation is exact at the edges
    // (the <= boundary day must stay, later days prune; file-count
    // pruning itself is asserted in IcebergTransformSuite). ----
    QuerySpec("src_iceberg_hidden_partition",
      (s, dir) => {
        setup(s, dir)
        import graft.sources.lake.LakeWrite
        import graft.sources.lake.LakeWrite.{IcebergSnapshot, ManifestEntry}
        import org.apache.hadoop.fs.Path
        import org.json4s.{JObject, JString, JInt}
        val lakeDir = new java.io.File(wh(dir), "lake")
        QueryPack.fixtureDir(new java.io.File(lakeDir, "nation_ice_day")) { staging =>
          new java.io.File(staging, "metadata").mkdirs()
          val conf = s.sparkContext.hadoopConfiguration
          val root = new Path(staging.toString)
          val nation = QueryPack.t(s, dir, "nation")
            .select(col("n_nationkey").cast("int").as("n_nationkey"), col("n_name"),
              date_add(lit("1995-01-01").cast("date"),
                (col("n_nationkey") % 5).cast("int")).as("d"))
          val entrySchema = LakeWrite.manifestEntrySchema(
            """{"type":"record","name":"r102","fields":[
              |{"name":"d_day","type":["null","int"],"default":null,"field-id":1000}]}"""
              .stripMargin.replaceAll("\n", ""))
          val base = java.time.LocalDate.of(1995, 1, 1)
          val entries = (0 until 5).map { g =>
            val d = nation.where(col("n_nationkey") % 5 === g)
            val rel = s"data/day$g.parquet"
            val size = LakeWrite.writeOneParquetFile(d, new Path(root, rel))
            ManifestEntry(1, rel, d.count(), size, 9001L,
              partition = Map("d_day" -> base.plusDays(g).toEpochDay.toInt),
              sequenceNumber = Some(1L))
          }
          val mLen = LakeWrite.icebergWriteManifest(
            new java.io.File(staging, "metadata/m1.avro"), entries, entrySchema)
          LakeWrite.icebergWriteManifestList(new java.io.File(staging, "metadata/ml1.avro"),
            Seq("metadata/m1.avro" -> mLen), 9001L, 1L)
          LakeWrite.icebergWriteMetadata(conf, root, 1, nation.schema,
            Seq(IcebergSnapshot(9001L, 1700000000000L, "metadata/ml1.avro", 1L)),
            currentSnapshotId = 9001L, refs = Map("main" -> (9001L, "branch")),
            specFields = Seq(JObject("name" -> JString("d_day"),
              "transform" -> JString("day"), "source-id" -> JInt(3),
              "field-id" -> JInt(1000))))
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE ICEBERG DATASOURCE iceday OPTIONS (warehouse '${lakeDir.getPath}') NAMESPACE graft.datasource.lake")
        s.sql(
          """SELECT n_nationkey, n_name, d
            |FROM graft.datasource.lake.iceday.nation_ice_day
            |WHERE d <= DATE '1995-01-02' ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
          (DATE '1995-01-01' + CAST(n_nationkey % 5 AS INT)) AS d
        FROM nation WHERE n_nationkey % 5 <= 1 ORDER BY n_nationkey""")),

    // ---- OPTIMIZE LAKE TABLE: three small INSERT commits produce many
    // small files; OPTIMIZE compacts each partition's files into one
    // through the copy-on-write commit. The readback is only right if the
    // rewrite preserved every row while replacing the file layout — the
    // file-count drop itself is asserted in LakeOptimizeSuite. ----
    QuerySpec("src_lake_optimize",
      (s, dir) => {
        setup(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE dopt OPTIONS (path '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        tableOnce(lakeDir, "nation_opt") {
          s.sql("CREATE TABLE graft.datasource.lakew.dopt.nation_opt " +
            "(n_nationkey INT, n_name STRING, n_regionkey INT) PARTITIONED BY (n_regionkey)")
          QueryPack.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
            .createOrReplaceTempView("__nation_opt_src")
          Seq("n_nationkey % 3 = 0", "n_nationkey % 3 = 1", "n_nationkey % 3 = 2")
            .foreach { cond =>
              s.sql("INSERT INTO graft.datasource.lakew.dopt.nation_opt " +
                "SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT) " +
                s"FROM __nation_opt_src WHERE $cond")
            }
          val res = Graft.sql(s, "OPTIMIZE LAKE TABLE graft.datasource.lakew.dopt.nation_opt")
            .collect()
          require(res.head.getLong(0) > 0, "OPTIMIZE should compact the insert files")
        }
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lakew.dopt.nation_opt ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
          CAST(n_regionkey AS INT) AS n_regionkey
        FROM nation ORDER BY n_nationkey""")),

    // ---- MERGE sync (the dimension-table refresh shape): source = keys
    // < 10 with re-labeled names plus a new key 990; matched rows update,
    // new keys insert, and WHEN NOT MATCHED BY SOURCE deletes everything
    // the source no longer carries except region-4 rows, which get
    // tombstoned instead. Exercises all four clause families in one
    // statement. ----
    QuerySpec("src_delta_merge_sync",
      (s, dir) => {
        setup(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE dsync OPTIONS (path '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        tableOnce(lakeDir, "nation_sync") {
          s.sql("CREATE TABLE graft.datasource.lakew.dsync.nation_sync " +
            "(n_nationkey INT, n_name STRING, n_regionkey INT) PARTITIONED BY (n_regionkey)")
          QueryPack.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
            .createOrReplaceTempView("__nation_sync_src")
          s.sql("INSERT INTO graft.datasource.lakew.dsync.nation_sync " +
            "SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT) " +
            "FROM __nation_sync_src")
          s.sql("SELECT CAST(n_nationkey AS INT) AS k, concat('S-', n_name) AS nm " +
            "FROM __nation_sync_src WHERE n_nationkey < 10 " +
            "UNION ALL SELECT 990, 'S-NEW'").createOrReplaceTempView("__nation_sync_batch")
          s.sql(
            """MERGE INTO graft.datasource.lakew.dsync.nation_sync t
              |USING __nation_sync_batch s ON t.n_nationkey = s.k
              |WHEN MATCHED THEN UPDATE SET n_name = s.nm
              |WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name, n_regionkey)
              |  VALUES (s.k, s.nm, 0)
              |WHEN NOT MATCHED BY SOURCE AND t.n_regionkey = 4 THEN
              |  UPDATE SET n_name = 'TOMBSTONE'
              |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
        }
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lakew.dsync.nation_sync ORDER BY n_nationkey""".stripMargin)
      },
      Some("""WITH base AS (SELECT CAST(n_nationkey AS INT) AS k, n_name,
            CAST(n_regionkey AS INT) AS r FROM nation),
          src AS (SELECT k, 'S-' || n_name AS nm FROM base WHERE k < 10
            UNION ALL SELECT 990, 'S-NEW'),
          kept AS (
            SELECT b.k,
              CASE WHEN s.k IS NOT NULL THEN s.nm
                   WHEN b.r = 4 THEN 'TOMBSTONE'
                   ELSE b.n_name END AS nm,
              b.r
            FROM base b LEFT JOIN src s ON b.k = s.k
            WHERE s.k IS NOT NULL OR b.r = 4),
          merged AS (
            SELECT * FROM kept
            UNION ALL
            SELECT s.k, s.nm, 0 FROM src s
            WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.k = s.k))
        SELECT k AS n_nationkey, nm AS n_name, r AS n_regionkey
        FROM merged ORDER BY n_nationkey""")),

    // ---- VACUUM LAKE TABLE: INSERT everything, INSERT OVERWRITE the
    // < 15 subset (the full files become history-only), VACUUM RETAIN 1 —
    // the old files must leave the disk while the overwrite snapshot reads
    // back intact. The readback is only right if vacuum deleted exactly
    // the unreferenced set; suite-level checks cover the file census. ----
    QuerySpec("src_lake_vacuum",
      (s, dir) => {
        setup(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE dvac OPTIONS (path '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        tableOnce(lakeDir, "nation_vac") {
          s.sql("CREATE TABLE graft.datasource.lakew.dvac.nation_vac " +
            "(n_nationkey INT, n_name STRING, n_regionkey INT)")
          QueryPack.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
            .createOrReplaceTempView("__nation_vac_src")
          s.sql("INSERT INTO graft.datasource.lakew.dvac.nation_vac " +
            "SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT) " +
            "FROM __nation_vac_src")
          s.sql("INSERT OVERWRITE graft.datasource.lakew.dvac.nation_vac " +
            "SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT) " +
            "FROM __nation_vac_src WHERE n_nationkey < 15")
          val res = Graft.sql(s,
            "VACUUM LAKE TABLE graft.datasource.lakew.dvac.nation_vac RETAIN 1 VERSIONS")
            .collect()
          require(res.head.getLong(0) > 0, "vacuum should delete the overwritten files")
        }
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lakew.dvac.nation_vac ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
          CAST(n_regionkey AS INT) AS n_regionkey
        FROM nation WHERE n_nationkey < 15 ORDER BY n_nationkey""")),

    // ---- FOUR-SOURCE FEDERATED JOIN — the reference's raison d'être
    // (cross-source federation) in a single SQL statement: embedded-Derby
    // JDBC customers × USL-activated orders × DeltaLite log-replayed nation
    // × raw parquet region, all resolved through graft catalog namespaces.
    // The Delta leg's replay state (region 2 keeps only even nation keys)
    // flows INTO the join semantics, so the result is only right if every
    // source reads correctly AND the planner stitches them; dims broadcast,
    // the orders fact streams once. ----
    QuerySpec("src_federated_join",
      (s, dir) => {
        setup(s, dir)
        val custFqn = ensureJdbcCustomer(s, dir)
        val nationFqn = ensureDeltaNation(s, dir)
        // the JDBC leg is a dimension but Spark's JDBCRelation reports no
        // size statistics (remote tables are opaque), so it is the one leg
        // that needs the idiomatic federation answer: an explicit broadcast
        // hint. The USL / Delta / parquet legs broadcast from real stats.
        s.sql(
          s"""SELECT /*+ BROADCAST(c) */
             |  r.r_name AS region, c.c_mktsegment AS segment,
             |  COUNT(*) AS n_orders,
             |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM $custFqn c
             |JOIN graft.metastore.ordermart.orders o ON o.o_custkey = c.c_custkey
             |JOIN $nationFqn n ON c.c_nationkey = n.n_nationkey
             |JOIN graft.datasource.file.tpch.region r ON n.n_regionkey = r.r_regionkey
             |GROUP BY r.r_name, c.c_mktsegment
             |ORDER BY region, segment""".stripMargin)
      },
      Some("""SELECT r_name AS region, c_mktsegment AS segment,
          COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM customer c
        JOIN orders o ON o_custkey = c_custkey
        JOIN nation n ON c_nationkey = n_nationkey
        JOIN region r ON n_regionkey = r_regionkey
        WHERE n_regionkey <> 2 OR n_nationkey % 2 = 0
        GROUP BY r_name, c_mktsegment ORDER BY region, segment""")),

    // ---- FEDERATED MERGE: one statement upserts a native Delta table
    // from the Derby JDBC operational source — the lakehouse-CDC-from-
    // operational-DB shape. The mirror is seeded stale (even keys only,
    // balances offset by -100); the MERGE pulls keys <= 60 straight from
    // JDBC, updating the stale evens and inserting the missing odds. The
    // readback is only right if the cross-source row-level write applied
    // every clause against the remote rows. ----
    QuerySpec("src_federated_merge",
      (s, dir) => {
        setup(s, dir)
        val custFqn = ensureJdbcCustomer(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE fmrg OPTIONS (path '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        val fqn = "graft.datasource.lakew.fmrg.cust_mirror"
        tableOnce(lakeDir, "cust_mirror") {
          s.sql(s"CREATE TABLE $fqn (c_custkey BIGINT, c_nationkey BIGINT, " +
            "c_mktsegment STRING, c_acctbal DOUBLE)")
          // seed from the warehouse parquet (Derby cannot evaluate a pushed
          // `%`); the MERGE below is the federated statement
          QueryPack.t(s, dir, "customer")
            .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
            .createOrReplaceTempView("__fmrg_seed")
          s.sql(s"INSERT INTO $fqn SELECT CAST(c_custkey AS BIGINT), " +
            "CAST(c_nationkey AS BIGINT), c_mktsegment, c_acctbal - 100 " +
            "FROM __fmrg_seed WHERE c_custkey % 2 = 0")
          s.sql(
            s"""MERGE INTO $fqn t
               |USING (SELECT * FROM $custFqn WHERE c_custkey <= 60) s
               |ON t.c_custkey = s.c_custkey
               |WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal
               |WHEN NOT MATCHED THEN INSERT (c_custkey, c_nationkey, c_mktsegment, c_acctbal)
               |  VALUES (s.c_custkey, s.c_nationkey, s.c_mktsegment, s.c_acctbal)""".stripMargin)
        }
        s.sql(s"SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal FROM $fqn " +
          "ORDER BY c_custkey")
      },
      Some("""SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
          CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
          CASE WHEN c_custkey <= 60 THEN c_acctbal ELSE c_acctbal - 100 END AS c_acctbal
        FROM customer
        WHERE c_custkey % 2 = 0 OR c_custkey <= 60
        ORDER BY c_custkey""")),

    // ---- LIST DQ: the full constraint+rule inventory of the setup USL,
    // value-exact against a literal oracle (names, owning tables, kinds,
    // and expression renderings all pinned). ----
    QuerySpec("cmd_list_dq",
      (s, dir) => {
        setup(s, dir)
        val df = Graft.sql(s, "LIST DQ USL graft.metastore.ordermart")
        s.createDataFrame(df.collectAsList(), df.schema).orderBy(col("name"))
      },
      Some("""SELECT * FROM (VALUES
          ('c_custkey', 'customer', 'PK', 'c_custkey'),
          ('o_custkey', 'orders', 'FK', 'o_custkey -> metastore.ordermart.customer(c_custkey)'),
          ('o_orderkey', 'orders', 'PK', 'o_orderkey'),
          ('price_positive', 'orders', 'DQ', 'o_totalprice > 0'),
          ('status_known', 'orders', 'DQ', 'o_orderstatus IN (''O'',''F'',''P'')')
        ) AS t(name, "table", type, expression) ORDER BY name""")),

    // ---- SHOW NAMESPACES OR TABLES inside a file datasource: the merged
    // kind-labeled listing resolves the registered path's table inventory,
    // which for the driver testdata dir is exactly the ten parquet tables. ----
    QuerySpec("cmd_show_tables",
      (s, dir) => {
        setup(s, dir)
        Graft.sql(s,
          s"REGISTER OR REPLACE PARQUET DATASOURCE showsrc OPTIONS (path '$dir') NAMESPACE graft.datasource.showcase")
        val df = Graft.sql(s, "SHOW NAMESPACES OR TABLES IN graft.datasource.showcase.showsrc")
        s.createDataFrame(df.collectAsList(), df.schema).orderBy(col("name"))
      },
      Some("""SELECT * FROM (VALUES
          ('customer', 'table'), ('documents', 'table'), ('embeddings', 'table'),
          ('events', 'table'), ('lineitem', 'table'), ('nation', 'table'),
          ('orders', 'table'), ('part', 'table'), ('region', 'table'),
          ('supplier', 'table')
        ) AS t(name, kind) ORDER BY name""")),

    // ---- USL lifecycle: COMPILE -> LOAD -> UPDATE -> LOAD -> REMOVE ->
    // LOAD-fails, value-pinned end to end on a throwaway USL. The loaded
    // spec is projected to a stable table:col+col signature (json field
    // order never reaches the hash); the UPDATE payload is the loaded JSON
    // with a column renamed — the round-trip the reference's GUI performs. ----
    QuerySpec("cmd_usl_lifecycle",
      (s, dir) => {
        setup(s, dir)
        try Graft.sql(s, "REMOVE USL lcmart NAMESPACE graft.metastore")
        catch { case _: Exception => () } // fresh start when re-run in-session
        Graft.sql(s,
          """COMPILE USL lcmart DEPLOY NAMESPACE graft.metastore DDL
            |create table t1 (a bigint primary key, b string)""".stripMargin)
        def sig(): String = {
          implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
          val json = Graft.sql(s, "LOAD USL lcmart NAMESPACE graft.metastore")
            .head().getString(0)
          val p = org.json4s.jackson.JsonMethods.parse(json)
          (p \ "tables").children.map { t =>
            val name = (t \ "name").extract[String]
            val cols = (t \ "columns").children.map(c => (c \ "name").extract[String])
            s"$name:${cols.mkString("+")}"
          }.sorted.mkString(",")
        }
        val afterCompile = sig()
        val updated = Graft.sql(s, "LOAD USL lcmart NAMESPACE graft.metastore")
          .head().getString(0).replace("\"b\"", "\"renamed_b\"")
        Graft.sql(s, s"UPDATE USL lcmart NAMESPACE graft.metastore AS $updated")
        val afterUpdate = sig()
        Graft.sql(s, "REMOVE USL lcmart NAMESPACE graft.metastore")
        val afterRemove =
          try { Graft.sql(s, "LOAD USL lcmart NAMESPACE graft.metastore").head(); "present" }
          catch { case _: Exception => "absent" }
        val rows: java.util.List[org.apache.spark.sql.Row] = java.util.Arrays.asList(
          org.apache.spark.sql.Row("after_compile", afterCompile),
          org.apache.spark.sql.Row("after_update", afterUpdate),
          org.apache.spark.sql.Row("after_remove", afterRemove))
        s.createDataFrame(rows,
            org.apache.spark.sql.types.StructType.fromDDL("step STRING, state STRING"))
          .orderBy(col("step"))
      },
      Some("""SELECT * FROM (VALUES
          ('after_compile', 't1:a+b'),
          ('after_remove', 'absent'),
          ('after_update', 't1:a+renamed_b')
        ) AS t(step, state) ORDER BY step""")),

    // ---- REST API round trip: POST the SQL to a live /api/q endpoint on an
    // ephemeral port, parse the streamed JSON array back into rows, and hold
    // THAT to the oracle — the full HTTP + JSON type-encoding path, not just
    // the query underneath it. ----
    QuerySpec("api_roundtrip",
      (s, dir) => {
        setup(s, dir)
        import org.json4s._
        val server = new graft.api.GraftApiServer(s, 0)
        val port = server.start()
        try {
          val sql = "SELECT n_nationkey, n_name, n_regionkey FROM graft.datasource.file.tpch.nation ORDER BY n_nationkey"
          val conn = java.net.URI.create(s"http://127.0.0.1:$port/api/q").toURL
            .openConnection().asInstanceOf[java.net.HttpURLConnection]
          conn.setRequestMethod("POST")
          conn.setDoOutput(true)
          val out = conn.getOutputStream
          out.write(sql.getBytes(java.nio.charset.StandardCharsets.UTF_8)); out.close()
          val body = new String(conn.getInputStream.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
          val rows: java.util.List[org.apache.spark.sql.Row] =
            org.json4s.jackson.JsonMethods.parse(body) match {
              case JArray(objs) =>
                java.util.Arrays.asList(objs.map { o =>
                  org.apache.spark.sql.Row(
                    (o \ "n_nationkey") match { case JInt(v) => v.toInt; case _ => null },
                    (o \ "n_name") match { case JString(v) => v; case _ => null },
                    (o \ "n_regionkey") match { case JInt(v) => v.toInt; case _ => null })
                }: _*)
              case other => throw new IllegalStateException(s"expected JSON array, got $other")
            }
          s.createDataFrame(rows,
            org.apache.spark.sql.types.StructType.fromDDL(
              "n_nationkey INT, n_name STRING, n_regionkey INT"))
            .orderBy(col("n_nationkey"))
        } finally server.stop()
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // ---- DELTA CHANGE DATA FEED through the native reader: v0 blind-
    // appends one file per region (derived inserts), v1 is a protocol-
    // shaped UPDATE — a cdc action listing a `_change_data/` file of
    // update_preimage/update_postimage rows for region 2 PLUS the state
    // transition (remove r2 / add rewritten r2b) whose add/remove must NOT
    // contribute change rows when cdc is present — and v2 deletes region
    // 4's file outright (derived full-file delete, read at its v1 state).
    // The feed surfaces via the delta-spark-shaped `readChangeFeed`
    // registration options; the oracle rebuilds all three commits
    // relationally from nation. ----
    QuerySpec("lake_delta_cdf",
      (s, dir) => {
        setup(s, dir)
        import graft.sources.lake.LakeWrite
        import org.apache.hadoop.fs.Path
        val lakeDir = new java.io.File(wh(dir), "lake")
        QueryPack.fixtureDir(new java.io.File(lakeDir, "nation_cdf")) { staging =>
          val conf = s.sparkContext.hadoopConfiguration
          val root = new Path(staging.toString)
          val nation = QueryPack.t(s, dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
          def regionFile(rk: Int, name: String, upper: Boolean): Long = {
            val base = nation.where(col("n_regionkey") === rk)
              .coalesce(1).sortWithinPartitions("n_nationkey")
            val d = if (upper) base.withColumn("n_name", org.apache.spark.sql.functions.upper(col("n_name"))) else base
            LakeWrite.writeOneParquetFile(d, new Path(root, name))
          }
          val sizes = (0 to 4).map(rk => rk -> regionFile(rk, s"r$rk.parquet", upper = false)).toMap
          LakeWrite.deltaCommit(conf, root, 0,
            Seq(LakeWrite.deltaCommitInfo(1700000000000L), LakeWrite.deltaProtocol(),
              LakeWrite.deltaMetaData("nation-cdf-fixture", nation.schema, Nil,
                Map("delta.enableChangeDataFeed" -> "true"))) ++
              (0 to 4).map(rk => LakeWrite.deltaAdd(s"r$rk.parquet", sizes(rk),
                1700000000000L, Map.empty)))
          // v1: UPDATE region 2 names to upper-case — cdc file + rewrite
          val r2 = nation.where(col("n_regionkey") === 2)
          val changeRows = r2.withColumn("_change_type",
              org.apache.spark.sql.functions.lit("update_preimage"))
            .unionByName(r2.withColumn("n_name",
                org.apache.spark.sql.functions.upper(col("n_name")))
              .withColumn("_change_type",
                org.apache.spark.sql.functions.lit("update_postimage")))
            .coalesce(1).sortWithinPartitions("_change_type", "n_nationkey")
          val cdcSize = LakeWrite.writeOneParquetFile(changeRows,
            new Path(root, "_change_data/cdc-1.parquet"))
          val r2bSize = regionFile(2, "r2b.parquet", upper = true)
          LakeWrite.deltaCommit(conf, root, 1,
            Seq(LakeWrite.deltaCommitInfo(1700000100000L),
              LakeWrite.deltaCdc("_change_data/cdc-1.parquet", cdcSize, Map.empty),
              LakeWrite.deltaRemove("r2.parquet", 1700000100000L),
              LakeWrite.deltaAdd("r2b.parquet", r2bSize, 1700000100000L, Map.empty)))
          // v2: full-file DELETE of region 4 (no cdc — derived per protocol)
          LakeWrite.deltaCommit(conf, root, 2,
            Seq(LakeWrite.deltaCommitInfo(1700000200000L),
              LakeWrite.deltaRemove("r4.parquet", 1700000200000L)))
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE cdfsrc OPTIONS (path '${lakeDir.getPath}', readChangeFeed 'true') NAMESPACE graft.datasource.lake")
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey,
            |  _change_type AS change_type, _commit_version AS commit_version
            |FROM graft.datasource.lake.cdfsrc.nation_cdf
            |ORDER BY commit_version, change_type, n_nationkey""".stripMargin)
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey,
          'insert' AS change_type, CAST(0 AS BIGINT) AS commit_version FROM nation
        UNION ALL SELECT n_nationkey, n_name, n_regionkey,
          'update_preimage', 1 FROM nation WHERE n_regionkey = 2
        UNION ALL SELECT n_nationkey, upper(n_name), n_regionkey,
          'update_postimage', 1 FROM nation WHERE n_regionkey = 2
        UNION ALL SELECT n_nationkey, n_name, n_regionkey,
          'delete', 2 FROM nation WHERE n_regionkey = 4
        ORDER BY commit_version, change_type, n_nationkey""")),

    // ---- CDF WRITE HALF, end to end in SQL: CREATE TABLE with
    // delta.enableChangeDataFeed, INSERT nation (blind append — the feed
    // derives inserts from the adds), UPDATE region 2 and DELETE region 4
    // through the native copy-on-write DML — each of which must now STAGE
    // its own `_change_data/` files and cdc actions — then read the whole
    // feed back through the same engine. Row-level exactness holds no
    // matter how the writer laid out files, which is exactly what the
    // relational oracle checks. ----
    QuerySpec("lake_delta_cdf_dml",
      (s, dir) => {
        setup(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE dcdfw OPTIONS (path '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        tableOnce(lakeDir, "nation_cdfw") {
          s.sql("CREATE TABLE graft.datasource.lakew.dcdfw.nation_cdfw " +
            "(n_nationkey INT, n_name STRING, n_regionkey INT) " +
            "TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')")
          QueryPack.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
            .createOrReplaceTempView("__nation_cdfw_src")
          s.sql("INSERT INTO graft.datasource.lakew.dcdfw.nation_cdfw " +
            "SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT) " +
            "FROM __nation_cdfw_src")
          s.sql("UPDATE graft.datasource.lakew.dcdfw.nation_cdfw " +
            "SET n_name = upper(n_name) WHERE n_regionkey = 2")
          s.sql("DELETE FROM graft.datasource.lakew.dcdfw.nation_cdfw " +
            "WHERE n_regionkey = 4")
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE dcdfr OPTIONS (path '${lakeDir.getPath}', readChangeFeed 'true', endingVersion '3') NAMESPACE graft.datasource.lakew")
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey,
            |  _change_type AS change_type, _commit_version AS commit_version
            |FROM graft.datasource.lakew.dcdfr.nation_cdfw
            |ORDER BY commit_version, change_type, n_nationkey""".stripMargin)
      },
      Some("""SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
          CAST(n_regionkey AS INT) AS n_regionkey,
          'insert' AS change_type, CAST(1 AS BIGINT) AS commit_version FROM nation
        UNION ALL SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT),
          'update_preimage', 2 FROM nation WHERE n_regionkey = 2
        UNION ALL SELECT CAST(n_nationkey AS INT), upper(n_name), CAST(n_regionkey AS INT),
          'update_postimage', 2 FROM nation WHERE n_regionkey = 2
        UNION ALL SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT),
          'delete', 3 FROM nation WHERE n_regionkey = 4
        ORDER BY commit_version, change_type, n_nationkey""")),

    // ---- SCHEMA EVOLUTION lifecycle on a column-mapping Delta table,
    // end to end in SQL: CREATE with mapping, INSERT half of nation,
    // ALTER ADD COLUMNS (fresh field id + col-uuid physical name), INSERT
    // the other half WITH the new column, ALTER RENAME the name column
    // (logical-only: the physical name pins to the pre-rename spelling) —
    // then read everything back through the renamed schema. Old files
    // null-fill the added column and serve the renamed one; the oracle
    // rebuilds the final state relationally. ----
    QuerySpec("lake_alter_evolution",
      (s, dir) => {
        setup(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE dalter OPTIONS (path '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        tableOnce(lakeDir, "nation_alter") {
          s.sql("CREATE TABLE graft.datasource.lakew.dalter.nation_alter " +
            "(n_nationkey INT, n_name STRING) " +
            "TBLPROPERTIES ('delta.columnMapping.mode' = 'name')")
          QueryPack.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
            .createOrReplaceTempView("__nation_alter_src")
          s.sql("INSERT INTO graft.datasource.lakew.dalter.nation_alter " +
            "SELECT CAST(n_nationkey AS INT), n_name FROM __nation_alter_src " +
            "WHERE n_nationkey < 10")
          s.sql("ALTER TABLE graft.datasource.lakew.dalter.nation_alter " +
            "ADD COLUMNS (n_regionkey INT)")
          s.sql("INSERT INTO graft.datasource.lakew.dalter.nation_alter " +
            "SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT) " +
            "FROM __nation_alter_src WHERE n_nationkey >= 10")
          s.sql("ALTER TABLE graft.datasource.lakew.dalter.nation_alter " +
            "RENAME COLUMN n_name TO nation_name")
        }
        s.sql(
          """SELECT n_nationkey, nation_name, n_regionkey
            |FROM graft.datasource.lakew.dalter.nation_alter
            |ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT CAST(n_nationkey AS INT) AS n_nationkey,
          n_name AS nation_name,
          CASE WHEN n_nationkey < 10 THEN NULL
               ELSE CAST(n_regionkey AS INT) END AS n_regionkey
        FROM nation ORDER BY n_nationkey""")),

    // ---- SHOW LAKE HISTORY: the DESCRIBE HISTORY shape over a native
    // Delta log with pinned commitInfo timestamps. Operations derive from
    // each commit's ACTION SHAPE (cdc = DML, v0 metaData = CREATE TABLE,
    // metaData-only = ALTER, dataChange=false = OPTIMIZE, adds+removes =
    // REWRITE, adds = WRITE, removes = DELETE), so any engine's log
    // classifies consistently; the oracle pins every derived row. ----
    // ---- RESTORE LAKE TABLE: a DELETE is undone by restoring to the
    // pre-delete version — the readback equals the untouched source ONLY
    // if the remove+re-add commit reproduced version 1's file set exactly
    // (and a post-restore INSERT proves the table keeps living). ----
    QuerySpec("lake_restore_roundtrip",
      (s, dir) => {
        setup(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE rst OPTIONS (path '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        val fqn = "graft.datasource.lakew.rst.nation_restore"
        tableOnce(lakeDir, "nation_restore") {
          s.sql(s"CREATE TABLE $fqn (n_nationkey INT, n_name STRING, n_regionkey INT)")
          QueryPack.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
            .createOrReplaceTempView("__nation_rst_src")
          s.sql(s"INSERT INTO $fqn SELECT CAST(n_nationkey AS INT), n_name, " +
            "CAST(n_regionkey AS INT) FROM __nation_rst_src")                 // v1
          s.sql(s"DELETE FROM $fqn WHERE n_regionkey = 2")                    // v2
          s.sql(s"UPDATE $fqn SET n_name = 'gone' WHERE n_nationkey < 3")     // v3
          Graft.sql(s, s"RESTORE LAKE TABLE $fqn TO VERSION 1")               // v4
          s.sql(s"INSERT INTO $fqn VALUES (990, 'POSTRESTORE', 0)")           // v5
        }
        s.sql(s"SELECT n_nationkey, n_name, n_regionkey FROM $fqn ORDER BY n_nationkey")
      },
      Some("""SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
          CAST(n_regionkey AS INT) AS n_regionkey FROM nation
        UNION ALL SELECT 990, 'POSTRESTORE', 0
        ORDER BY n_nationkey""")),

    // RESTORE ... TO TIMESTAMP on both formats: Delta resolves the latest
    // commit at-or-before the timestamp (delta-spark TIMESTAMP AS OF
    // semantics), Iceberg resolves through the snapshot-log
    // (rollback_to_timestamp) — the log truncation is what makes post-
    // rollback timestamp travel land on the restored state.
    QuerySpec("lake_restore_timestamp",
      (s, dir) => {
        setup(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE rts OPTIONS (path '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE ICEBERG DATASOURCE rti OPTIONS (warehouse '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        val dFqn = "graft.datasource.lakew.rts.nation_rts"
        val iFqn = "graft.datasource.lakew.rti.nation_rti"
        tableOnce(lakeDir, "nation_rts", "nation_rti") {
          QueryPack.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
            .createOrReplaceTempView("__nation_rts_src")
          for (fqn <- Seq(dFqn, iFqn)) {
            s.sql(s"CREATE TABLE $fqn (n_nationkey INT, n_name STRING, n_regionkey INT)")
            s.sql(s"INSERT INTO $fqn SELECT CAST(n_nationkey AS INT), n_name, " +
              "CAST(n_regionkey AS INT) FROM __nation_rts_src")          // v1 / snap A
          }
          Thread.sleep(20)
          val mid = System.currentTimeMillis()
          Thread.sleep(20)
          s.sql(s"DELETE FROM $dFqn WHERE n_regionkey <> 0")             // v2
          s.sql(s"INSERT INTO $iFqn VALUES (991, 'UNDONE', 9)")          // snap B
          Graft.sql(s, s"RESTORE LAKE TABLE $dFqn TO TIMESTAMP '$mid'")
          Graft.sql(s, s"RESTORE LAKE TABLE $iFqn TO TIMESTAMP '$mid'")
        }
        s.sql(s"""SELECT 'delta' AS src, n_nationkey, n_name, n_regionkey FROM $dFqn
          UNION ALL SELECT 'iceberg' AS src, n_nationkey, n_name, n_regionkey FROM $iFqn
          ORDER BY src, n_nationkey""")
      },
      Some("""SELECT 'delta' AS src, CAST(n_nationkey AS INT) AS n_nationkey, n_name,
          CAST(n_regionkey AS INT) AS n_regionkey FROM nation
        UNION ALL SELECT 'iceberg', CAST(n_nationkey AS INT), n_name,
          CAST(n_regionkey AS INT) FROM nation
        ORDER BY src, n_nationkey""")),

    QuerySpec("cmd_lake_history",
      (s, dir) => {
        setup(s, dir)
        import graft.sources.lake.LakeWrite
        import org.apache.hadoop.fs.Path
        val lakeDir = new java.io.File(wh(dir), "lake")
        QueryPack.fixtureDir(new java.io.File(lakeDir, "nation_hist")) { staging =>
          val conf = s.sparkContext.hadoopConfiguration
          val root = new Path(staging.toString)
          val schema = org.apache.spark.sql.types.StructType.fromDDL("id INT, v INT")
          // history is metadata-only: the log alone defines the answer
          LakeWrite.deltaCommit(conf, root, 0, Seq(
            LakeWrite.deltaCommitInfo(1700000000000L), LakeWrite.deltaProtocol(),
            LakeWrite.deltaMetaData("hist-fixture", schema, Nil)))
          LakeWrite.deltaCommit(conf, root, 1, Seq(
            LakeWrite.deltaCommitInfo(1700000100000L),
            LakeWrite.deltaAdd("a.parquet", 10L, 1700000100000L, Map.empty),
            LakeWrite.deltaAdd("b.parquet", 10L, 1700000100000L, Map.empty)))
          LakeWrite.deltaCommit(conf, root, 2, Seq(
            LakeWrite.deltaCommitInfo(1700000200000L),
            LakeWrite.deltaRemove("a.parquet", 1700000200000L),
            LakeWrite.deltaAdd("a2.parquet", 10L, 1700000200000L, Map.empty)))
          LakeWrite.deltaCommit(conf, root, 3, Seq(
            LakeWrite.deltaCommitInfo(1700000300000L),
            LakeWrite.deltaRemoveNoDataChange("a2.parquet", 1700000300000L),
            LakeWrite.deltaRemoveNoDataChange("b.parquet", 1700000300000L),
            LakeWrite.deltaAdd("c.parquet", 20L, 1700000300000L, Map.empty,
              dataChange = false)))
          LakeWrite.deltaCommit(conf, root, 4, Seq(
            LakeWrite.deltaCommitInfo(1700000400000L),
            LakeWrite.deltaMetaData("hist-fixture",
              org.apache.spark.sql.types.StructType.fromDDL("id INT, v INT, w INT"), Nil)))
        }
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE dhist OPTIONS (path '${lakeDir.getPath}') NAMESPACE graft.datasource.lake")
        val df = Graft.sql(s, "SHOW LAKE HISTORY graft.datasource.lake.dhist.nation_hist")
        s.createDataFrame(df.collectAsList(), df.schema)
          .select("version", "ts_millis", "operation", "added_files", "removed_files")
          .orderBy(col("version"))
      },
      Some("""SELECT * FROM (VALUES
          (CAST(0 AS BIGINT), CAST(1700000000000 AS BIGINT), 'CREATE TABLE', CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
          (1, 1700000100000, 'WRITE', 2, 0),
          (2, 1700000200000, 'REWRITE', 1, 1),
          (3, 1700000300000, 'OPTIMIZE', 1, 2),
          (4, 1700000400000, 'ALTER TABLE', 0, 0)
        ) AS t(version, ts_millis, operation, added_files, removed_files)
        ORDER BY version""")),

    // ---- CONVERT TO DELTA / ICEBERG: two hive-partitioned parquet copies
    // of nation migrate IN PLACE (data files untouched — one metadata
    // commit registers them), then both read back through the native lake
    // readers, partition columns served from the new metadata. The union
    // carries a format tag so one oracle pins both conversions. ----
    QuerySpec("lake_convert_roundtrip",
      (s, dir) => {
        setup(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE dconv OPTIONS (path '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE ICEBERG DATASOURCE iconv OPTIONS (warehouse '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        val nation = QueryPack.t(s, dir, "nation")
          .select(col("n_nationkey").cast("int").as("n_nationkey"), col("n_name"),
            col("n_regionkey").cast("int").as("n_regionkey"))
        def ensure(name: String, fmt: String): Unit = tableOnce(lakeDir, name) {
          val td = new java.io.File(lakeDir, name)
          nation.write.partitionBy("n_regionkey").parquet(td.getPath)
          val res = Graft.sql(s, s"CONVERT TO $fmt '${td.getPath}'").collect()
          require(res.head.getLong(0) > 0, s"conversion to $fmt registered no files")
        }
        ensure("nation_conv_delta", "DELTA")
        ensure("nation_conv_ice", "ICEBERG")
        s.sql(
          """SELECT 'delta' AS fmt, n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lakew.dconv.nation_conv_delta
            |UNION ALL
            |SELECT 'iceberg', n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lakew.iconv.nation_conv_ice
            |ORDER BY fmt, n_nationkey""".stripMargin)
      },
      Some("""SELECT 'delta' AS fmt, CAST(n_nationkey AS INT) AS n_nationkey,
          n_name, CAST(n_regionkey AS INT) AS n_regionkey FROM nation
        UNION ALL SELECT 'iceberg', CAST(n_nationkey AS INT), n_name,
          CAST(n_regionkey AS INT) FROM nation
        ORDER BY fmt, n_nationkey""")),

    // ---- MERGE-ON-READ DELETE (deletion-vector WRITES): a table created
    // with delta.enableDeletionVectors takes two overlapping SQL DELETEs
    // as vector commits — no data file rewrites, the second delete MERGES
    // positions into the first's vectors — and the readback is only right
    // if the written bitmaps, the per-file merge, and the seq-free DV
    // anti-join all hold. Suite-level checks pin that data files never
    // moved (LakeAlterSuite). ----
    QuerySpec("src_delta_dv_dml",
      (s, dir) => {
        setup(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE DELTA DATASOURCE ddvml OPTIONS (path '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        tableOnce(lakeDir, "nation_dvdml") {
          s.sql("CREATE TABLE graft.datasource.lakew.ddvml.nation_dvdml " +
            "(n_nationkey INT, n_name STRING, n_regionkey INT) " +
            "TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')")
          QueryPack.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
            .createOrReplaceTempView("__nation_dvdml_src")
          s.sql("INSERT INTO graft.datasource.lakew.ddvml.nation_dvdml " +
            "SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT) " +
            "FROM __nation_dvdml_src")
          s.sql("DELETE FROM graft.datasource.lakew.ddvml.nation_dvdml " +
            "WHERE n_regionkey = 2")
          s.sql("DELETE FROM graft.datasource.lakew.ddvml.nation_dvdml " +
            "WHERE n_nationkey % 2 = 1")
        }
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lakew.ddvml.nation_dvdml
            |ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
          CAST(n_regionkey AS INT) AS n_regionkey
        FROM nation WHERE n_regionkey <> 2 AND n_nationkey % 2 = 0
        ORDER BY n_nationkey""")),

    // ---- ICEBERG MERGE-ON-READ DELETE WRITES: a table created with
    // write.delete.mode = merge-on-read takes two SQL DELETEs as
    // position-delete files at fresh sequence numbers — data files and
    // their manifests never move — and the readback exists only through
    // the written (file_path, pos) parquet, the delete manifests, and the
    // seq-gated anti-joins composing across BOTH delete files. ----
    QuerySpec("src_iceberg_mor_dml",
      (s, dir) => {
        setup(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        Graft.sql(s,
          s"REGISTER OR REPLACE ICEBERG DATASOURCE imorml OPTIONS (warehouse '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        tableOnce(lakeDir, "nation_imordml") {
          s.sql("CREATE TABLE graft.datasource.lakew.imorml.nation_imordml " +
            "(n_nationkey INT, n_name STRING, n_regionkey INT) " +
            "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
          QueryPack.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
            .createOrReplaceTempView("__nation_imordml_src")
          s.sql("INSERT INTO graft.datasource.lakew.imorml.nation_imordml " +
            "SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT) " +
            "FROM __nation_imordml_src")
          s.sql("DELETE FROM graft.datasource.lakew.imorml.nation_imordml " +
            "WHERE n_regionkey = 3")
          s.sql("DELETE FROM graft.datasource.lakew.imorml.nation_imordml " +
            "WHERE n_nationkey % 2 = 0")
        }
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lakew.imorml.nation_imordml
            |ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
          CAST(n_regionkey AS INT) AS n_regionkey
        FROM nation WHERE n_regionkey <> 3 AND n_nationkey % 2 = 1
        ORDER BY n_nationkey""")),

    // ---- ICEBERG EQUALITY-DELETE UPSERT (the Flink-CDC blind-upsert
    // shape): one snapshot masks the batch's keys via an equality-delete
    // file and appends the batch at the SAME sequence number — the spec's
    // strictly-less gating keeps the new rows while masking every older
    // one, with no read of the existing table. The batch updates region
    // 2's names and inserts two new keys; the readback composes the
    // equality join, the strict seq gate, and the append in one state. ----
    QuerySpec("src_iceberg_eq_upsert",
      (s, dir) => {
        setup(s, dir)
        val lakeDir = new java.io.File(wh(dir), "lakew")
        val tableDir = new java.io.File(lakeDir, "nation_equps")
        Graft.sql(s,
          s"REGISTER OR REPLACE ICEBERG DATASOURCE iequp OPTIONS (warehouse '${lakeDir.getPath}') NAMESPACE graft.datasource.lakew")
        tableOnce(lakeDir, "nation_equps") {
          s.sql("CREATE TABLE graft.datasource.lakew.iequp.nation_equps " +
            "(n_nationkey INT, n_name STRING, n_regionkey INT)")
          QueryPack.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
            .createOrReplaceTempView("__nation_equps_src")
          s.sql("INSERT INTO graft.datasource.lakew.iequp.nation_equps " +
            "SELECT CAST(n_nationkey AS INT), n_name, CAST(n_regionkey AS INT) " +
            "FROM __nation_equps_src")
          val batch = s.sql(
            """SELECT CAST(n_nationkey AS INT) AS n_nationkey,
              |  upper(n_name) AS n_name, CAST(n_regionkey AS INT) AS n_regionkey
              |FROM __nation_equps_src WHERE n_regionkey = 2
              |UNION ALL SELECT 900, 'NEW_A', 9
              |UNION ALL SELECT 901, 'NEW_B', 9""".stripMargin)
          graft.sources.lake.LakeNativeWrite.icebergEqUpsert(s,
            new org.apache.hadoop.fs.Path(tableDir.getPath), batch, Seq("n_nationkey"))
        }
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM graft.datasource.lakew.iequp.nation_equps
            |ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT CAST(n_nationkey AS INT) AS n_nationkey,
          CASE WHEN n_regionkey = 2 THEN upper(n_name) ELSE n_name END AS n_name,
          CAST(n_regionkey AS INT) AS n_regionkey FROM nation
        UNION ALL SELECT 900, 'NEW_A', 9
        UNION ALL SELECT 901, 'NEW_B', 9
        ORDER BY n_nationkey"""))
  )
}
