package graft.sources.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._

import graft.SparkTestBase

import java.nio.file.Files
import java.util.concurrent.CyclicBarrier

/** Optimistic concurrency for the native lake writers: atomic version
  * claims, conflict detection against interleaved commits (delta-spark's
  * ConflictChecker taxonomy), Iceberg append rebase + CommitFailedException
  * (HadoopTableOperations' contract), and the stale-version-hint forward
  * probe on reads. The multi-writer story the runtimes own when the jars
  * are present.
  */
class LakeConcurrencySuite extends SparkTestBase {

  private def tmpDir(prefix: String): java.io.File =
    Files.createTempDirectory(prefix).toFile

  private def conf = spark.sparkContext.hadoopConfiguration

  private def idTable(prefix: String): Path = {
    val dir = new Path(s"${tmpDir(prefix)}/t")
    LakeNativeWrite.deltaCreate(spark, dir,
      StructType(Seq(StructField("id", LongType))), Nil)
    dir
  }

  // ---- Delta: blind appends under contention ----

  test("delta: concurrent blind appends all serialize, no lost commits") {
    import spark.implicits._
    val dir = idTable("conc-append")
    val threads = 4
    val barrier = new CyclicBarrier(threads)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until threads).map { i =>
      new Thread(() => {
        try {
          barrier.await()
          LakeNativeWrite.deltaInsert(spark, dir,
            Seq(i.toLong * 10, i.toLong * 10 + 1).toDF("id"), overwrite = false)
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent appends must not conflict: ${errs.peek()}")
    // every commit landed at a distinct version: create=0 + 4 appends
    assert(DeltaLite.latestVersion(spark, dir) == 4L)
    assert(DeltaLite.read(spark, dir).count() == threads * 2L)
  }

  test("delta: blind append retries past a winner that only added files") {
    import spark.implicits._
    val dir = idTable("conc-retry")
    LakeNativeWrite.deltaInsert(spark, dir, Seq(1L).toDF("id"), overwrite = false)
    // a concurrent writer claims version 2 with a data-only commit
    LakeWrite.deltaCommit(conf, dir, 2, Seq(
      LakeWrite.deltaCommitInfo(1L),
      LakeWrite.deltaAdd("other-writer.parquet", 10L, 1L, Map.empty)))
    // our blind append planned against version 1 must land at version 3
    LakeNativeWrite.commitDelta(conf, dir, 2, Seq(
      LakeWrite.deltaCommitInfo(2L),
      LakeWrite.deltaAdd("ours.parquet", 10L, 2L, Map.empty)))
    val v3 = new java.io.File(s"$dir/_delta_log/00000000000000000003.json")
    assert(v3.exists(), "blind append must retry to the next free version")
    assert(scala.io.Source.fromFile(v3).mkString.contains("ours.parquet"))
  }

  // ---- Delta: the conflict taxonomy ----

  test("delta: delete/delete of the same file conflicts") {
    import spark.implicits._
    val dir = idTable("conc-dd")
    LakeNativeWrite.deltaInsert(spark, dir, Seq(1L, 2L).toDF("id"), overwrite = false)
    val victim = DeltaLite.snapshot(spark, dir).fileIds.head
    // the winner removes the file first
    LakeWrite.deltaCommit(conf, dir, 2, Seq(
      LakeWrite.deltaCommitInfo(1L), LakeWrite.deltaRemove(victim, 1L)))
    // our rewrite, planned against version 1, removes it too
    intercept[LakeConcurrency.ConcurrentDeleteDeleteException] {
      LakeNativeWrite.commitDelta(conf, dir, 2, Seq(
        LakeWrite.deltaCommitInfo(2L),
        LakeWrite.deltaRemove(victim, 2L),
        LakeWrite.deltaAdd("rewritten.parquet", 10L, 2L, Map.empty)))
    }
  }

  test("delta: a rewrite conflicts with a winner that appended rows") {
    import spark.implicits._
    val dir = idTable("conc-ad")
    LakeNativeWrite.deltaInsert(spark, dir, Seq(1L).toDF("id"), overwrite = false)
    val victim = DeltaLite.snapshot(spark, dir).fileIds.head
    LakeWrite.deltaCommit(conf, dir, 2, Seq(
      LakeWrite.deltaCommitInfo(1L),
      LakeWrite.deltaAdd("their-append.parquet", 10L, 1L, Map.empty)))
    intercept[LakeConcurrency.ConcurrentAppendException] {
      LakeNativeWrite.commitDelta(conf, dir, 2, Seq(
        LakeWrite.deltaCommitInfo(2L),
        LakeWrite.deltaRemove(victim, 2L),
        LakeWrite.deltaAdd("rewritten.parquet", 10L, 2L, Map.empty)))
    }
  }

  test("delta: a rewrite conflicts with a winner that deleted other files") {
    import spark.implicits._
    val dir = idTable("conc-dr")
    LakeNativeWrite.deltaInsert(spark, dir, Seq(1L).toDF("id"), overwrite = false)
    LakeNativeWrite.deltaInsert(spark, dir, Seq(2L).toDF("id"), overwrite = false)
    val Seq(f1, f2) = DeltaLite.snapshot(spark, dir).fileIds.take(2).toSeq
    LakeWrite.deltaCommit(conf, dir, 3, Seq(
      LakeWrite.deltaCommitInfo(1L), LakeWrite.deltaRemove(f1, 1L)))
    // without read-predicate tracking, a winner's delete of ANY file our
    // planning scan could have read is a (conservative) delete/read conflict
    intercept[LakeConcurrency.ConcurrentDeleteReadException] {
      LakeNativeWrite.commitDelta(conf, dir, 3, Seq(
        LakeWrite.deltaCommitInfo(2L),
        LakeWrite.deltaRemove(f2, 2L),
        LakeWrite.deltaAdd("rewritten.parquet", 10L, 2L, Map.empty)))
    }
  }

  test("delta: any commit conflicts with a winner's metadata or protocol change") {
    import spark.implicits._
    val dir = idTable("conc-meta")
    LakeNativeWrite.deltaInsert(spark, dir, Seq(1L).toDF("id"), overwrite = false)
    LakeWrite.deltaCommit(conf, dir, 2, Seq(
      LakeWrite.deltaCommitInfo(1L),
      LakeWrite.deltaMetaData("new-id",
        StructType(Seq(StructField("id", LongType), StructField("x", IntegerType))), Nil)))
    // even a blind append was encoded under the pre-change schema
    intercept[LakeConcurrency.MetadataChangedException] {
      LakeNativeWrite.commitDelta(conf, dir, 2, Seq(
        LakeWrite.deltaCommitInfo(2L),
        LakeWrite.deltaAdd("ours.parquet", 10L, 2L, Map.empty)))
    }
    LakeWrite.deltaCommit(conf, dir, 3, Seq(
      LakeWrite.deltaCommitInfo(3L), LakeWrite.deltaProtocol(2, 5)))
    intercept[LakeConcurrency.ProtocolChangedException] {
      LakeNativeWrite.commitDelta(conf, dir, 3, Seq(
        LakeWrite.deltaCommitInfo(4L),
        LakeWrite.deltaAdd("ours.parquet", 10L, 4L, Map.empty)))
    }
  }

  test("delta: same streaming appId in the winner spends the idempotency token") {
    import spark.implicits._
    val dir = idTable("conc-txn")
    LakeNativeWrite.deltaInsert(spark, dir, Seq(1L).toDF("id"), overwrite = false)
    LakeWrite.deltaCommit(conf, dir, 2, Seq(
      LakeWrite.deltaCommitInfo(1L),
      LakeWrite.deltaTxn("sink-app", 7L, 1L),
      LakeWrite.deltaAdd("their-batch.parquet", 10L, 1L, Map.empty)))
    intercept[LakeConcurrency.ConcurrentTransactionException] {
      LakeNativeWrite.commitDelta(conf, dir, 2, Seq(
        LakeWrite.deltaCommitInfo(2L),
        LakeWrite.deltaTxn("sink-app", 7L, 2L),
        LakeWrite.deltaAdd("our-batch.parquet", 10L, 2L, Map.empty)))
    }
  }

  // ---- Iceberg: rebase + CommitFailedException ----

  test("iceberg: concurrent appends rebase onto each winner, no lost rows") {
    import spark.implicits._
    val dir = new Path(s"${tmpDir("ice-conc")}/t")
    LakeNativeWrite.icebergCreate(spark, dir,
      StructType(Seq(StructField("id", LongType))), Nil)
    val threads = 4
    val barrier = new CyclicBarrier(threads)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until threads).map { i =>
      new Thread(() => {
        try {
          barrier.await()
          LakeNativeWrite.icebergInsert(spark, dir,
            Seq(i.toLong * 10, i.toLong * 10 + 1).toDF("id"), overwrite = false)
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent appends must rebase, not fail: ${errs.peek()}")
    assert(IcebergLite.read(spark, dir).count() == threads * 2L)
    // each commit produced its own snapshot in one serialized lineage
    assert(LakeNativeWrite.loadIceMeta(conf, dir).priorSnapshots.size == threads)
  }

  test("iceberg: a stale append rebases over the winner deterministically") {
    import spark.implicits._
    val dir = new Path(s"${tmpDir("ice-rebase")}/t")
    LakeNativeWrite.icebergCreate(spark, dir,
      StructType(Seq(StructField("id", LongType))), Nil)
    LakeNativeWrite.icebergInsert(spark, dir,
      Seq(1L, 2L).toDF("id").coalesce(1), overwrite = false)
    // plan an append against the CURRENT metadata, then let a winner land
    val stale = LakeNativeWrite.loadIceMeta(conf, dir)
    val staleFile = IcebergLite.snapshot(spark, dir).files.head
    LakeNativeWrite.icebergInsert(spark, dir, Seq(3L).toDF("id"), overwrite = false)
    // replay the stale plan: re-append the existing data file as a new
    // entry (double-counting {1,2} makes the rebase observable)
    val staleSeq = stale.lastSeq + 1
    val staleSnap = stale.priorSnapshots.map(_.id).max + 1
    val entry = LakeWrite.ManifestEntry(1, staleFile.path, 2L, staleFile.size, staleSnap,
      sequenceNumber = Some(staleSeq))
    val existing = stale.priorSnapshots.find(_.id == stale.currentId).toSeq.flatMap { s =>
      // the stale plan carried the manifests of ITS snapshot
      LakeNativeWrite.readManifestFiles(conf, dir,
        IcebergLite.resolveUri(dir, s.manifestListPath))
    }
    LakeNativeWrite.commitIceberg(conf, dir, stale, Seq(entry), existing,
      staleSnap, staleSeq, staleSnap,
      LakeWrite.manifestEntrySchema(), rebaseAppend = true)
    // the rebase kept the winner's {3} and re-appended {1,2}
    assert(IcebergLite.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 1L, 2L, 2L, 3L))
  }

  test("iceberg: losing the version race on a non-append fails loudly") {
    val dir = new Path(s"${tmpDir("ice-fail")}/t")
    LakeNativeWrite.icebergCreate(spark, dir,
      StructType(Seq(StructField("id", LongType))), Nil)
    // a concurrent writer owns v2 already
    val fs = dir.getFileSystem(conf)
    val out = fs.create(new Path(dir, "metadata/v2.metadata.json"), false)
    out.write("{}".getBytes("UTF-8")); out.close()
    intercept[LakeConcurrency.CommitFailedException] {
      LakeWrite.icebergWriteMetadata(conf, dir, 2,
        StructType(Seq(StructField("id", LongType))), Nil, currentSnapshotId = -1L,
        failIfExists = true)
    }
  }

  test("iceberg: reads probe forward past a stale version hint") {
    import spark.implicits._
    val dir = new Path(s"${tmpDir("ice-hint")}/t")
    LakeNativeWrite.icebergCreate(spark, dir,
      StructType(Seq(StructField("id", LongType))), Nil)
    LakeNativeWrite.icebergInsert(spark, dir, Seq(1L).toDF("id"), overwrite = false)
    LakeNativeWrite.icebergInsert(spark, dir, Seq(2L).toDF("id"), overwrite = false)
    // a racing hint write left the advisory pointer one version behind
    val fs = dir.getFileSystem(conf)
    val hint = fs.create(new Path(dir, "metadata/version-hint.text"), true)
    hint.write("2".getBytes("UTF-8")); hint.close()
    assert(IcebergLite.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L), "stale hint must not serve a stale snapshot")
  }

  test("two streaming sinks + an OPTIMIZE loop into one table stay exactly-once") {
    import spark.implicits._
    val root = tmpDir("conc-sink")
    graft.Graft.install(spark, warehouseDir)
    spark.sql(s"REGISTER OR REPLACE DELTA DATASOURCE csnk OPTIONS (path '$root') " +
      "NAMESPACE graft.datasource.cs")
    spark.sql("CREATE TABLE graft.datasource.cs.csnk.t (id BIGINT)")
    val fqn = "graft.datasource.cs.csnk.t"
    val dir = new Path(s"$root/t")
    val batches = 5
    val rowsPerBatch = 50
    val barrier = new CyclicBarrier(3)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def sinkThread(appId: String, base: Long): Thread = new Thread(() => {
      try {
        barrier.await()
        val sink = new DeltaStreamSink(spark, dir, Map("txnAppId" -> appId),
          org.apache.spark.sql.streaming.OutputMode.Append())
        (0 until batches).foreach { b =>
          sink.addBatch(b.toLong,
            (0 until rowsPerBatch).map(i => base + b * rowsPerBatch + i).toDF("id"))
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    val optimizer = new Thread(() => {
      try {
        barrier.await()
        (0 until 3).foreach { _ =>
          // fresh handle per round, like the SQL command: compaction reads
          // only the files it rewrites, so it never aborts the sinks
          graft.Graft.sql(spark, s"OPTIMIZE LAKE TABLE $fqn")
          Thread.sleep(10)
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    val ts = Seq(sinkThread("sink-a", 0L), sinkThread("sink-b", 100000L), optimizer)
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"sink/sink/optimize race must be clean: ${errs.peek()}")
    val expected = 2L * batches * rowsPerBatch
    assert(spark.table(fqn).count() == expected, "exactly-once: no loss, no dups")
    assert(spark.table(fqn).select("id").distinct().count() == expected)
    // replaying a spent batch commits nothing (the idempotency token held
    // across the whole race)
    val replay = new DeltaStreamSink(spark, dir, Map("txnAppId" -> "sink-a"),
      org.apache.spark.sql.streaming.OutputMode.Append())
    replay.addBatch((batches - 1).toLong, Seq(999999L).toDF("id"))
    assert(spark.table(fqn).count() == expected, "replayed batch must be skipped")
    assert(DeltaLite.lastTxnVersion(spark, dir, "sink-a").contains((batches - 1).toLong))
    assert(DeltaLite.lastTxnVersion(spark, dir, "sink-b").contains((batches - 1).toLong))
  }

  test("delta: CHECKPOINT racing concurrent appends never captures a torn version") {
    import spark.implicits._
    val dir = idTable("conc-ckpt")
    val writers = 3
    val appendsEach = 4
    val barrier = new CyclicBarrier(writers + 1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ckptVersions = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val appenders = (0 until writers).map { w =>
      new Thread(() => {
        try {
          barrier.await()
          (0 until appendsEach).foreach { i =>
            LakeNativeWrite.deltaInsert(spark, dir,
              Seq(w.toLong * 100 + i).toDF("id"), overwrite = false)
          }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    val checkpointer = new Thread(() => {
      try {
        barrier.await()
        (0 until 4).foreach { _ =>
          val (v, _) = DeltaLite.writeCheckpoint(spark, dir)
          ckptVersions.add(v)
          Thread.sleep(5)
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    (appenders :+ checkpointer).foreach(_.start())
    (appenders :+ checkpointer).foreach(_.join())
    assert(errs.isEmpty, s"checkpoint/append race must be clean: ${errs.peek()}")
    // every row of every append survived — atomic commits mean a
    // checkpoint can only ever see whole versions
    assert(DeltaLite.read(spark, dir).count() == writers.toLong * appendsEach)
    // each checkpoint replays to EXACTLY its version's state (delete the
    // JSON tail at/below the newest checkpoint: replay must come from it)
    val newest = ckptVersions.toArray(Array.empty[java.lang.Long]).map(_.longValue()).max
    val expectAtNewest = DeltaLite.read(spark, dir, version = Some(newest)).count()
    val logDir = new java.io.File(s"$dir/_delta_log")
    logDir.listFiles().filter { f =>
      f.getName.endsWith(".json") && f.getName.stripSuffix(".json").toLong <= newest
    }.foreach(f => assert(f.delete()))
    assert(DeltaLite.read(spark, dir).count() == writers.toLong * appendsEach,
      "checkpoint base + JSON tail must reconstruct the full table")
    assert(expectAtNewest <= writers.toLong * appendsEach)
  }

  test("atomicCreate: a write-time fault on a claimed name cleans the torn claim, never reports 'taken'") {
    import org.apache.hadoop.fs._
    // an HDFS-like (non-file-scheme) FS whose create succeeds but whose
    // stream faults mid-write — the claim exists but the content is torn
    class TornWriteFs extends RawLocalFileSystem {
      override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
      override def create(f: Path, overwrite: Boolean): FSDataOutputStream = {
        if (!overwrite && exists(f)) throw new FileAlreadyExistsException(f.toString)
        val real = super.create(f, overwrite)
        new FSDataOutputStream(new java.io.OutputStream {
          override def write(b: Int): Unit = throw new java.io.IOException("disk fault")
          override def write(b: Array[Byte], off: Int, len: Int): Unit =
            throw new java.io.IOException("disk fault")
          override def close(): Unit = real.close()
        }, null)
      }
    }
    val fs = new TornWriteFs
    fs.initialize(java.net.URI.create("mockfs:///"), conf)
    val target = new Path(s"${tmpDir("torn")}/00000000000000000002.json")
    val ex = intercept[java.io.IOException] {
      graft.model.AtomicFile.atomicCreate(fs, target, "payload".getBytes("UTF-8"))
    }
    assert(ex.getMessage.contains("disk fault"),
      "the IO fault must surface, not be reported as a version collision")
    assert(!fs.exists(target),
      "the torn partial claim must be deleted — a later reader would parse " +
        "it as the winning commit and break log replay at that version")
    // while a genuine create-time collision still reports 'taken' quietly
    val taken = new Path(s"${tmpDir("torn")}/00000000000000000003.json")
    val pre = fs.create(taken, true); pre.close()
    assert(!graft.model.AtomicFile.atomicCreate(fs, taken, "x".getBytes("UTF-8")))
  }

  // ---- Delta: predicate-scoped conflict checking (delta-spark's actual
  // ConflictChecker contract — disjoint traffic commits, overlap conflicts)

  private def setupPart(ns: String): (String, Path) = {
    import spark.implicits._
    val root = tmpDir("conc-scope")
    graft.Graft.install(spark, warehouseDir)
    spark.sql(s"REGISTER OR REPLACE DELTA DATASOURCE $ns OPTIONS (path '$root') " +
      "NAMESPACE graft.datasource.cs")
    spark.sql(s"CREATE TABLE graft.datasource.cs.$ns.t (id BIGINT, p INT) " +
      "PARTITIONED BY (p)")
    (0L until 12L).map(i => (i, (i % 3).toInt)).toDF("id", "p")
      .createOrReplaceTempView(s"__cs_$ns")
    spark.sql(s"INSERT INTO graft.datasource.cs.$ns.t SELECT * FROM __cs_$ns")
    (s"graft.datasource.cs.$ns.t", new Path(s"$root/t"))
  }

  /** A handle whose snapshot predates the interleaved winner commits. */
  private def staleHandle(fqn: String): graft.plans.LakeRowLevel.RowLevelHandle =
    org.apache.spark.sql.GraftSQLBridge.loadV2Table(spark, fqn.split('.').toSeq)
      .asInstanceOf[graft.plans.HasRowLevelHandle].rowLevelHandle.get

  private def staleDelete(handle: graft.plans.LakeRowLevel.RowLevelHandle,
      where: String): Unit =
    graft.plans.LakeDeleteCommand(handle,
      graft.plans.LakeRowLevel.ExprBox(org.apache.spark.sql.GraftSQLBridge
        .expression(org.apache.spark.sql.functions.expr(where)))).run(spark)

  test("delta: a disjoint-partition append and a stale row rewrite BOTH commit") {
    val (fqn, _) = setupPart("cs1")
    val handle = staleHandle(fqn)
    // winner: blind append into a partition the rewrite's predicate never reads
    spark.sql(s"INSERT INTO $fqn VALUES (100, 9)")
    staleDelete(handle, "p = 1") // retries past the winner instead of aborting
    val got = spark.table(fqn).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ((0L until 12L).filterNot(_ % 3 == 1) :+ 100L).sorted,
      "both the append and the rewrite must survive")
  }

  test("delta: an append INTO the partition the rewrite read still conflicts") {
    val (fqn, _) = setupPart("cs2")
    val handle = staleHandle(fqn)
    spark.sql(s"INSERT INTO $fqn VALUES (100, 1)")
    intercept[LakeConcurrency.ConcurrentAppendException] {
      staleDelete(handle, "p = 1")
    }
  }

  test("delta: stats scope the race on unpartitioned tables — disjoint id ranges commit") {
    import spark.implicits._
    val root = tmpDir("conc-stats")
    graft.Graft.install(spark, warehouseDir)
    spark.sql(s"REGISTER OR REPLACE DELTA DATASOURCE cs3 OPTIONS (path '$root') " +
      "NAMESPACE graft.datasource.cs")
    spark.sql("CREATE TABLE graft.datasource.cs.cs3.t (id BIGINT)")
    val fqn = "graft.datasource.cs.cs3.t"
    (0L until 10L).toDF("id").createOrReplaceTempView("__cs_cs3")
    spark.sql(s"INSERT INTO $fqn SELECT * FROM __cs_cs3")
    val h1 = staleHandle(fqn)
    spark.sql(s"INSERT INTO $fqn VALUES (100)") // minValues.id = 100
    staleDelete(h1, "id < 50") // [100,100] can't match id < 50 → commits
    assert(spark.table(fqn).count() == 1L)
    // and an appended file whose stats DO overlap the predicate conflicts
    spark.sql(s"INSERT INTO $fqn VALUES (20)") // a row the stale plan matches
    val h2 = staleHandle(fqn)
    spark.sql(s"INSERT INTO $fqn VALUES (7)") // winner: [7,7] overlaps id < 50
    intercept[LakeConcurrency.ConcurrentAppendException] {
      staleDelete(h2, "id < 50")
    }
  }

  test("delta: winners removing files outside the rewrite's predicate don't conflict") {
    val (fqn, _) = setupPart("cs4")
    val handle = staleHandle(fqn)
    spark.sql(s"DELETE FROM $fqn WHERE p = 2") // winner rewrites p=2 files
    staleDelete(handle, "p = 1") // read only p=1 → no delete/read conflict
    assert(spark.table(fqn).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 12L).filter(_ % 3 == 0))
    // but racing rewrites of the SAME partition stay a delete/delete conflict
    val h2 = staleHandle(fqn)
    spark.sql(s"INSERT INTO $fqn VALUES (100, 1)")
    val h3 = staleHandle(fqn)
    spark.sql(s"DELETE FROM $fqn WHERE p = 1")
    intercept[LakeConcurrency.ConcurrentDeleteDeleteException] {
      staleDelete(h3, "p = 1")
    }
    assert(h2 != null)
  }

  test("delta: OPTIMIZE reads only the files it compacts — appends never abort it") {
    import org.apache.spark.sql.functions.col
    val (fqn, dir) = setupPart("cs5")
    val handle = staleHandle(fqn)
    val p1Files = DeltaLite.snapshot(spark, dir).fileIds.filter(_.startsWith("p=1"))
    assert(p1Files.nonEmpty)
    val rows = handle.scanWithRowIds(spark)
      .where(col(graft.plans.LakeRowLevel.FileIdCol).isin(p1Files: _*))
      .select("id", "p")
    // winner lands INSIDE the same partition — still no conflict: the
    // compaction read exactly the files it rewrites, not the partition
    spark.sql(s"INSERT INTO $fqn VALUES (100, 1)")
    handle.commitCompaction(spark, p1Files, rows)
    val got = spark.table(fqn).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ((0L until 12L) :+ 100L).sorted, "no rows lost, no conflict")
  }

  test("delta: concurrent DV rewrites of the same file conflict; disjoint ones both commit") {
    import spark.implicits._
    val root = tmpDir("conc-dvdv")
    graft.Graft.install(spark, warehouseDir)
    spark.sql(s"REGISTER OR REPLACE DELTA DATASOURCE cs7 OPTIONS (path '$root') " +
      "NAMESPACE graft.datasource.cs")
    spark.sql("CREATE TABLE graft.datasource.cs.cs7.t (id BIGINT, p INT) " +
      "PARTITIONED BY (p) " +
      "TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')")
    val fqn = "graft.datasource.cs.cs7.t"
    (0L until 12L).map(i => (i, (i % 3).toInt)).toDF("id", "p")
      .coalesce(1) // ONE data file per partition, so ids co-locate
      .createOrReplaceTempView("__cs_cs7")
    spark.sql(s"INSERT INTO $fqn SELECT * FROM __cs_cs7")
    // SAME file: ids 1 and 4 both live in partition p=1's single file —
    // two read-modify-write DV rewrites of one vector must not both win
    val h1 = staleHandle(fqn)
    spark.sql(s"DELETE FROM $fqn WHERE id = 1") // winner re-vectors p=1
    intercept[LakeConcurrency.ConcurrentDeleteDeleteException] {
      staleDelete(h1, "id = 4")
    }
    // DISJOINT files: a stale DV delete in p=2 commits past a winner in
    // p=0 (partition values prove the predicates disjoint), BOTH masks hold
    val h2 = staleHandle(fqn)
    spark.sql(s"DELETE FROM $fqn WHERE p = 0") // winner re-vectors p=0
    staleDelete(h2, "p = 2")
    assert(spark.table(fqn).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(4L, 7L, 10L),
      "both partitions' deletes applied — no DV update lost")
    // protocol fidelity: the DV commit carries remove+add PAIRS (the
    // read-modify-write spelling conflict checking keys on)
    val dir = new Path(s"$root/t")
    val v = DeltaLite.latestVersion(spark, dir)
    val lastCommit = scala.io.Source.fromFile(f"$dir/_delta_log/$v%020d.json").mkString
    assert(lastCommit.contains("\"remove\"") && lastCommit.contains("deletionVector"),
      "DV rewrite must emit remove+add for the re-vectored file")
  }

  test("delta: foldable-but-unevaluable predicates (now()) don't crash DML planning") {
    val (fqn, _) = setupPart("cs8")
    val handle = staleHandle(fqn)
    // unix_timestamp() is foldable at analysis but unevaluable until the
    // optimizer substitutes it — constant folding for the conflict scope
    // must skip it, not throw
    staleDelete(handle, "p = 1 AND id < unix_timestamp()")
    assert(spark.table(fqn).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 12L).filterNot(_ % 3 == 1))
  }

  test("delta: a routine DV DELETE restates no protocol — stale blind appends retry past it") {
    import spark.implicits._
    val root = tmpDir("conc-dvp")
    graft.Graft.install(spark, warehouseDir)
    spark.sql(s"REGISTER OR REPLACE DELTA DATASOURCE cs6 OPTIONS (path '$root') " +
      "NAMESPACE graft.datasource.cs")
    spark.sql("CREATE TABLE graft.datasource.cs.cs6.t (id BIGINT) " +
      "TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')")
    val fqn = "graft.datasource.cs.cs6.t"
    val dir = new Path(s"$root/t")
    (0L until 6L).toDF("id").createOrReplaceTempView("__cs_cs6")
    spark.sql(s"INSERT INTO $fqn SELECT * FROM __cs_cs6")
    spark.sql(s"DELETE FROM $fqn WHERE id = 1") // DV commit
    val v = DeltaLite.latestVersion(spark, dir)
    val dvCommit = scala.io.Source.fromFile(
      f"$dir/_delta_log/$v%020d.json").mkString
    assert(dvCommit.contains("deletionVector"))
    assert(!dvCommit.contains("\"protocol\""),
      "a DV commit on a DV-declared table must not restate the protocol")
    // a blind append that lost the race to the DV DELETE retries, it does
    // NOT die with a spurious ProtocolChangedException
    LakeNativeWrite.commitDelta(conf, dir, v, Seq(
      LakeWrite.deltaCommitInfo(9L),
      LakeWrite.deltaAdd("ours.parquet", 10L, 9L, Map.empty)))
    val next = new java.io.File(f"$dir/_delta_log/${v + 1}%020d.json")
    assert(next.exists() && scala.io.Source.fromFile(next).mkString.contains("ours.parquet"))
  }

  test("delta: an insert-only MoR MERGE losing to a same-key append conflicts — not a blind append") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.plans.LakeRowLevel
    val root = tmpDir("conc-iom")
    graft.Graft.install(spark, warehouseDir)
    spark.sql(s"REGISTER OR REPLACE DELTA DATASOURCE cs9 OPTIONS (path '$root') " +
      "NAMESPACE graft.datasource.cs")
    spark.sql("CREATE TABLE graft.datasource.cs.cs9.t (id BIGINT) " +
      "TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')")
    val fqn = "graft.datasource.cs.cs9.t"
    (0L until 6L).toDF("id").createOrReplaceTempView("__cs_cs9")
    spark.sql(s"INSERT INTO $fqn SELECT * FROM __cs_cs9")
    def emptyIds(h: graft.plans.LakeRowLevel.RowLevelHandle) =
      h.scanWithRowIds(spark).where(lit(false))
        .select(col(LakeRowLevel.FileIdCol), col(LakeRowLevel.RowIxCol))
    // both writers plan "WHEN NOT MATCHED THEN INSERT id=100" against the
    // same snapshot; the first lands as a plain append
    val h = staleHandle(fqn)
    spark.sql(s"INSERT INTO $fqn VALUES (100)") // winner
    // the loser's commit is adds-only and restates no protocol, but it
    // READ the table (whole-table ON-clause scope): the winner's add must
    // conflict — misclassified as a blind append, BOTH sides would commit
    // and duplicate the insert (delta-spark throws ConcurrentAppend here)
    intercept[LakeConcurrency.ConcurrentAppendException] {
      h.commitUpdateRows(spark, emptyIds(h), Seq(100L).toDF("id"), None,
        "MERGE", LakeRowLevel.ReadScope.wholeTable)
    }
    // with a read scope whose predicate excludes the winner's rows, the
    // same adds-only commit retries and commits — scoping still narrows
    val h2 = staleHandle(fqn)
    spark.sql(s"INSERT INTO $fqn VALUES (200)") // winner: stats [200,200]
    val idAttr = org.apache.spark.sql.catalyst.expressions
      .AttributeReference("id", LongType)()
    h2.commitUpdateRows(spark, emptyIds(h2), Seq(50L).toDF("id"), None,
      "MERGE", LakeRowLevel.ReadScope(readWholeTable = false,
        Seq(org.apache.spark.sql.catalyst.expressions.LessThan(idAttr,
          org.apache.spark.sql.catalyst.expressions.Literal(100L))), Set.empty))
    assert(spark.table(fqn).count() == 6L + 2 /* winners */ + 1 /* merge */)
  }

  test("delta: predicate scoping works on column-mapped tables (physical names resolved)") {
    import spark.implicits._
    val root = tmpDir("conc-cmap")
    graft.Graft.install(spark, warehouseDir)
    spark.sql(s"REGISTER OR REPLACE DELTA DATASOURCE cs11 OPTIONS (path '$root') " +
      "NAMESPACE graft.datasource.cs")
    spark.sql("CREATE TABLE graft.datasource.cs.cs11.t (id BIGINT, p INT) " +
      "PARTITIONED BY (p) " +
      "TBLPROPERTIES ('delta.columnMapping.mode' = 'name')")
    val fqn = "graft.datasource.cs.cs11.t"
    (0L until 12L).map(i => (i, (i % 3).toInt)).toDF("id", "p")
      .createOrReplaceTempView("__cs_cs11")
    spark.sql(s"INSERT INTO $fqn SELECT * FROM __cs_cs11")
    // stats and partition values live under PHYSICAL names here — the
    // scope must resolve them, not fall back to conflict-on-any-add
    val h1 = staleHandle(fqn)
    spark.sql(s"INSERT INTO $fqn VALUES (100, 9)") // disjoint partition
    staleDelete(h1, "p = 1") // pre-r11: aborted (stats untrusted on cmap)
    val got = spark.table(fqn).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ((0L until 12L).filterNot(_ % 3 == 1) :+ 100L).sorted,
      "both the append and the rewrite must survive on a cmap table")
    // overlap still fails loudly (physical partition-value keys resolved)
    spark.sql(s"INSERT INTO $fqn VALUES (300, 1)") // repopulate p=1
    val h2 = staleHandle(fqn)
    spark.sql(s"INSERT INTO $fqn VALUES (200, 1)") // INTO the read partition
    intercept[LakeConcurrency.ConcurrentAppendException] {
      staleDelete(h2, "p = 1")
    }
  }

  // ---- Iceberg: predicate-scoped conflict validation + rebase (the twin
  // of the Delta matrix above — SnapshotProducer's contract, where a lost
  // version race re-validates against the winner and commits when disjoint)

  private def setupIcePart(ns: String, props: String = ""): (String, Path) = {
    import spark.implicits._
    val root = tmpDir("conc-ice-scope")
    graft.Graft.install(spark, warehouseDir)
    spark.sql(s"REGISTER OR REPLACE ICEBERG DATASOURCE $ns OPTIONS (warehouse '$root') " +
      "NAMESPACE graft.datasource.ics")
    spark.sql(s"CREATE TABLE graft.datasource.ics.$ns.t (id BIGINT, p INT) " +
      s"PARTITIONED BY (p)$props")
    (0L until 12L).map(i => (i, (i % 3).toInt)).toDF("id", "p")
      .createOrReplaceTempView(s"__ics_$ns")
    spark.sql(s"INSERT INTO graft.datasource.ics.$ns.t SELECT * FROM __ics_$ns")
    (s"graft.datasource.ics.$ns.t", new Path(s"$root/t"))
  }

  test("iceberg: a disjoint-partition append and a stale row rewrite BOTH commit") {
    val (fqn, _) = setupIcePart("ics1")
    val handle = staleHandle(fqn)
    // winner: append into a partition the rewrite's predicate never reads
    spark.sql(s"INSERT INTO $fqn VALUES (100, 9)")
    staleDelete(handle, "p = 1") // validates against the winner and rebases
    val got = spark.table(fqn).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ((0L until 12L).filterNot(_ % 3 == 1) :+ 100L).sorted,
      "both the append and the rewrite must survive")
  }

  test("iceberg: an append INTO the partition the rewrite read still conflicts") {
    val (fqn, _) = setupIcePart("ics2")
    val handle = staleHandle(fqn)
    spark.sql(s"INSERT INTO $fqn VALUES (100, 1)")
    intercept[LakeConcurrency.ConcurrentAppendException] {
      staleDelete(handle, "p = 1")
    }
  }

  test("iceberg: column bounds scope the race on unpartitioned tables") {
    import spark.implicits._
    val root = tmpDir("conc-ice-stats")
    graft.Graft.install(spark, warehouseDir)
    spark.sql(s"REGISTER OR REPLACE ICEBERG DATASOURCE ics3 OPTIONS (warehouse '$root') " +
      "NAMESPACE graft.datasource.ics")
    spark.sql("CREATE TABLE graft.datasource.ics.ics3.t (id BIGINT)")
    val fqn = "graft.datasource.ics.ics3.t"
    (0L until 10L).toDF("id").createOrReplaceTempView("__ics_ics3")
    spark.sql(s"INSERT INTO $fqn SELECT * FROM __ics_ics3")
    val h1 = staleHandle(fqn)
    spark.sql(s"INSERT INTO $fqn VALUES (100)") // manifest bounds [100,100]
    staleDelete(h1, "id < 50") // [100,100] can't match id < 50 → rebases
    assert(spark.table(fqn).count() == 1L)
    // and an appended file whose bounds DO overlap the predicate conflicts
    spark.sql(s"INSERT INTO $fqn VALUES (20)")
    val h2 = staleHandle(fqn)
    spark.sql(s"INSERT INTO $fqn VALUES (7)") // winner: [7,7] overlaps id < 50
    intercept[LakeConcurrency.ConcurrentAppendException] {
      staleDelete(h2, "id < 50")
    }
  }

  test("iceberg: a winner rewriting a file the rewrite removes is delete/delete") {
    val (fqn, _) = setupIcePart("ics4")
    val handle = staleHandle(fqn)
    spark.sql(s"DELETE FROM $fqn WHERE p = 1") // winner rewrites p=1's files
    intercept[LakeConcurrency.ConcurrentDeleteDeleteException] {
      staleDelete(handle, "id = 4") // id=4 lives in p=1 — same file
    }
    // disjoint partitions: winner removed p=2's files, stale delete in p=0
    val (fqn2, _) = setupIcePart("ics5")
    val h2 = staleHandle(fqn2)
    spark.sql(s"DELETE FROM $fqn2 WHERE p = 2")
    staleDelete(h2, "p = 0")
    assert(spark.table(fqn2).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 12L).filter(_ % 3 == 1))
  }

  test("iceberg MoR: a stale row delete rebases past a disjoint append; a compacted file conflicts") {
    val (fqn, dir) = setupIcePart("ics6",
      " TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
    val h1 = staleHandle(fqn)
    spark.sql(s"INSERT INTO $fqn VALUES (100, 9)") // disjoint winner
    staleDelete(h1, "id = 4") // position delete re-keys onto the winner
    val got = spark.table(fqn).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ((0L until 12L).filterNot(_ == 4L) :+ 100L).sorted,
      "append and MoR delete must both survive")
    assert(IcebergLite.snapshot(spark, dir).deleteFiles.nonEmpty, "stayed merge-on-read")
    // a winner COMPACTING the file our positions reference must conflict:
    // position deletes key on file identity, a silent rebase would
    // resurrect the rows
    import org.apache.spark.sql.functions.col
    val h2 = staleHandle(fqn)
    val w = staleHandle(fqn)
    val p1Files = w.scanWithRowIds(spark)
      .where(col("p") === 1)
      .select(graft.plans.LakeRowLevel.FileIdCol).distinct()
      .collect().map(_.getString(0)).toSeq
    val rows = w.scanWithRowIds(spark)
      .where(col(graft.plans.LakeRowLevel.FileIdCol).isin(p1Files: _*))
      .select("id", "p")
    w.commitCompaction(spark, p1Files, rows)
    intercept[LakeConcurrency.ConcurrentDeleteReadException] {
      staleDelete(h2, "id = 7") // id=7 lived in a compacted p=1 file
    }
  }

  test("iceberg MoR: a stale UPDATE rebases past a disjoint append; a winner's new delete file conflicts") {
    import org.apache.spark.sql.functions.expr
    def staleUpdate(h: graft.plans.LakeRowLevel.RowLevelHandle,
        set: (String, String), where: String): Unit =
      graft.plans.LakeUpdateCommand(h,
        Seq(set._1 -> graft.plans.LakeRowLevel.ExprBox(
          org.apache.spark.sql.GraftSQLBridge.expression(expr(set._2)))),
        graft.plans.LakeRowLevel.ExprBox(
          org.apache.spark.sql.GraftSQLBridge.expression(expr(where)))).run(spark)
    val (fqn, dir) = setupIcePart("ics8",
      " TBLPROPERTIES ('write.update.mode' = 'merge-on-read', " +
        "'write.delete.mode' = 'merge-on-read')")
    val h1 = staleHandle(fqn)
    spark.sql(s"INSERT INTO $fqn VALUES (100, 9)") // disjoint winner
    staleUpdate(h1, "id" -> "id + 1000", "id = 4") // mask+append re-keys onto it
    val got = spark.table(fqn).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ((0L until 12L).filterNot(_ == 4L) ++ Seq(100L, 1004L)).sorted,
      "append and MoR update must both survive")
    assert(IcebergLite.snapshot(spark, dir).deleteFiles.nonEmpty, "stayed merge-on-read")
    // a winner's NEW delete file in the scan->commit window conflicts: the
    // update may append a version of a row the winner deleted (write skew)
    val h2 = staleHandle(fqn)
    spark.sql(s"DELETE FROM $fqn WHERE id = 7") // winner: new delete manifest
    intercept[LakeConcurrency.ConcurrentDeleteDeleteException] {
      staleUpdate(h2, "id" -> "id + 1000", "p = 1")
    }
  }

  test("iceberg MoR: an insert-only MERGE losing to a same-key append conflicts — not a blind append") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.plans.LakeRowLevel
    val (fqn, _) = setupIcePart("ics9",
      " TBLPROPERTIES ('write.update.mode' = 'merge-on-read')")
    def emptyIds(h: graft.plans.LakeRowLevel.RowLevelHandle) =
      h.scanWithRowIds(spark).where(lit(false))
        .select(col(LakeRowLevel.FileIdCol), col(LakeRowLevel.RowIxCol))
    // both writers plan "WHEN NOT MATCHED THEN INSERT (100, 9)" against the
    // same snapshot; the first lands as an append
    val h = staleHandle(fqn)
    spark.sql(s"INSERT INTO $fqn VALUES (100, 9)") // winner
    // the loser's commit is adds-only, but it READ the table (whole-table
    // ON-clause scope): the winner's add conflicts — otherwise both commit
    // and the insert duplicates (Iceberg's validateAddedDataFiles)
    intercept[LakeConcurrency.ConcurrentAppendException] {
      h.commitUpdateRows(spark, emptyIds(h),
        Seq((100L, 9)).toDF("id", "p"), None, "MERGE",
        LakeRowLevel.ReadScope.wholeTable)
    }
    // with a scope whose predicate excludes the winner's rows, the same
    // adds-only commit validates clean and commits
    val h2 = staleHandle(fqn)
    spark.sql(s"INSERT INTO $fqn VALUES (200, 9)") // winner: partition 9
    val pAttr = org.apache.spark.sql.catalyst.expressions
      .AttributeReference("p", org.apache.spark.sql.types.IntegerType)()
    h2.commitUpdateRows(spark, emptyIds(h2),
      Seq((50L, 1)).toDF("id", "p"), None, "MERGE",
      LakeRowLevel.ReadScope(readWholeTable = false,
        Seq(org.apache.spark.sql.catalyst.expressions.EqualTo(pAttr,
          org.apache.spark.sql.catalyst.expressions.Literal(1))), Set.empty))
    assert(spark.table(fqn).count() == 12L + 2 /* winners */ + 1 /* merge */)
  }

  test("iceberg: a compaction (replace) rebases past appends it never read") {
    import org.apache.spark.sql.functions.col
    val (fqn, _) = setupIcePart("ics7")
    val handle = staleHandle(fqn)
    val p1Files = handle.scanWithRowIds(spark)
      .where(col("p") === 1)
      .select(graft.plans.LakeRowLevel.FileIdCol).distinct()
      .collect().map(_.getString(0)).toSeq
    val rows = handle.scanWithRowIds(spark)
      .where(col(graft.plans.LakeRowLevel.FileIdCol).isin(p1Files: _*))
      .select("id", "p")
    // winner lands INSIDE the same partition — still no conflict: the
    // compaction read exactly the files it rewrites, not the partition
    spark.sql(s"INSERT INTO $fqn VALUES (100, 1)")
    handle.commitCompaction(spark, p1Files, rows)
    val got = spark.table(fqn).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ((0L until 12L) :+ 100L).sorted, "no rows lost, no conflict")
  }

  test("iceberg: concurrent eq-upserts all commit — losers rebase blindly") {
    import spark.implicits._
    val root = tmpDir("conc-ice-equp")
    val dir = new Path(s"$root/t")
    LakeNativeWrite.icebergCreate(spark, dir,
      StructType(Seq(StructField("id", LongType), StructField("v", LongType))), Nil)
    LakeNativeWrite.icebergInsert(spark, dir,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), overwrite = false)
    val threads = 3
    val barrier = new CyclicBarrier(threads)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until threads).map { i =>
      new Thread(() => {
        try {
          barrier.await()
          LakeNativeWrite.icebergEqUpsert(spark, dir,
            Seq((i.toLong + 1, 100L + i)).toDF("id", "v"), Seq("id"))
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent eq-upserts must rebase, not fail: ${errs.peek()}")
    val got = IcebergLite.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 100L), (2L, 101L), (3L, 102L)),
      "every upsert's delete+insert pair must survive the race")
  }

  test("delta: a winning OPTIMIZE's dataChange=false re-adds never abort a stats-overlapping DML") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.plans.LakeRowLevel.FileIdCol
    val root = tmpDir("conc-opt")
    graft.Graft.install(spark, warehouseDir)
    spark.sql(s"REGISTER OR REPLACE DELTA DATASOURCE cs10 OPTIONS (path '$root') " +
      "NAMESPACE graft.datasource.cs")
    spark.sql("CREATE TABLE graft.datasource.cs.cs10.t (id BIGINT)")
    val fqn = "graft.datasource.cs.cs10.t"
    // three single-file commits: [0,9], [200,209], [100,109]
    for (base <- Seq(0L, 200L, 100L)) {
      (base until base + 10L).toDF("id").coalesce(1)
        .createOrReplaceTempView("__cs_cs10")
      spark.sql(s"INSERT INTO $fqn SELECT * FROM __cs_cs10")
    }
    val loser = staleHandle(fqn) // reads id=105 → only the [100,109] file
    // winner: compact the OTHER two files into ONE — its re-add's stats
    // widen to [0,209], which DOES overlap id=105, but dataChange=false
    // re-adds move bytes, not rows: they must not count as appends
    val w = staleHandle(fqn)
    val fileOf = w.scanWithRowIds(spark).groupBy(col(FileIdCol))
      .agg(org.apache.spark.sql.functions.min("id").as("mn"))
      .collect().map(r => r.getLong(1) -> r.getString(0)).toMap
    val pick = Seq(fileOf(0L), fileOf(200L))
    val rows = w.scanWithRowIds(spark).where(col(FileIdCol).isin(pick: _*))
      .select("id").coalesce(1)
    w.commitCompaction(spark, pick, rows)
    // pre-r11 this aborted with ConcurrentAppendException (the widened
    // stats overlap); delta-spark exempts dataChange=false adds — so do we
    staleDelete(loser, "id = 105")
    assert(spark.table(fqn).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 10L) ++ (100L until 110L).filter(_ != 105L) ++ (200L until 210L)),
      "compaction and the row delete must both survive")
  }

  test("iceberg: a winning OPTIMIZE's replace re-adds never abort a stats-overlapping DML") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.plans.LakeRowLevel.FileIdCol
    val root = tmpDir("conc-ice-opt")
    graft.Graft.install(spark, warehouseDir)
    spark.sql(s"REGISTER OR REPLACE ICEBERG DATASOURCE ics11 OPTIONS (warehouse '$root') " +
      "NAMESPACE graft.datasource.ics")
    spark.sql("CREATE TABLE graft.datasource.ics.ics11.t (id BIGINT)")
    val fqn = "graft.datasource.ics.ics11.t"
    // three single-file commits: [0,9], [200,209], [100,109]
    for (base <- Seq(0L, 200L, 100L)) {
      (base until base + 10L).toDF("id").coalesce(1)
        .createOrReplaceTempView("__ics_ics11")
      spark.sql(s"INSERT INTO $fqn SELECT * FROM __ics_ics11")
    }
    val loser = staleHandle(fqn) // reads id=105 → only the [100,109] file
    // winner: compact the OTHER two files into one — the re-add's column
    // bounds widen to [0,209], overlapping id=105, but a replace snapshot
    // moves bytes, not rows: validateAddedDataFiles exempts it (and so
    // does the Delta twin's dataChange=false rule)
    val w = staleHandle(fqn)
    val fileOf = w.scanWithRowIds(spark).groupBy(col(FileIdCol))
      .agg(org.apache.spark.sql.functions.min("id").as("mn"))
      .collect().map(r => r.getLong(1) -> r.getString(0)).toMap
    val pick = Seq(fileOf(0L), fileOf(200L))
    val rows = w.scanWithRowIds(spark).where(col(FileIdCol).isin(pick: _*))
      .select("id").coalesce(1)
    w.commitCompaction(spark, pick, rows)
    staleDelete(loser, "id = 105")
    assert(spark.table(fqn).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 10L) ++ (100L until 110L).filter(_ != 105L) ++ (200L until 210L)),
      "compaction and the row delete must both survive")
  }

  test("iceberg MoR: an insert-only MERGE vs a winner's deletes — disjoint commits, overlapping is delete/read") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.plans.LakeRowLevel
    val (fqn, _) = setupIcePart("ics12",
      " TBLPROPERTIES ('write.update.mode' = 'merge-on-read', " +
        "'write.delete.mode' = 'merge-on-read')")
    def emptyIds(h: graft.plans.LakeRowLevel.RowLevelHandle) =
      h.scanWithRowIds(spark).where(lit(false))
        .select(col(LakeRowLevel.FileIdCol), col(LakeRowLevel.RowIxCol))
    val pAttr = org.apache.spark.sql.catalyst.expressions
      .AttributeReference("p", org.apache.spark.sql.types.IntegerType)()
    def scopeP1 = LakeRowLevel.ReadScope(readWholeTable = false,
      Seq(org.apache.spark.sql.catalyst.expressions.EqualTo(pAttr,
        org.apache.spark.sql.catalyst.expressions.Literal(1))), Set.empty)
    // the loser stages NO deletes (insert-only MERGE): a winner's new
    // delete file landing in a partition outside the read scope is not a
    // conflict of any kind — it used to abort as delete/delete
    val h = staleHandle(fqn)
    spark.sql(s"DELETE FROM $fqn WHERE id = 5") // winner: position delete in p=2
    h.commitUpdateRows(spark, emptyIds(h),
      Seq((50L, 1)).toDF("id", "p"), None, "MERGE", scopeP1)
    assert(spark.table(fqn).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 12L).filterNot(_ == 5L) :+ 50L).sorted,
      "the winner's delete and the insert-only merge must both survive")
    // a winner's delete INSIDE the read scope is a READ conflict (the
    // merge's not-matched decision may be stale), typed delete/read
    val h2 = staleHandle(fqn)
    spark.sql(s"DELETE FROM $fqn WHERE id = 4") // winner: position delete in p=1
    intercept[LakeConcurrency.ConcurrentDeleteReadException] {
      h2.commitUpdateRows(spark, emptyIds(h2),
        Seq((51L, 1)).toDF("id", "p"), None, "MERGE", scopeP1)
    }
  }

  test("iceberg MoR: an insert-only MERGE vs a winner's EQUALITY deletes — key bounds scope the race") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.plans.LakeRowLevel
    // r13: equality deletes used to conflict UNCONDITIONALLY with any
    // insert-only commit reading the table; they now narrow to the delete
    // file's own key-value bounds, the same way position deletes narrow to
    // their referenced files' stats
    val (fqn, dir) = setupIcePart("ics13",
      " TBLPROPERTIES ('write.update.mode' = 'merge-on-read', " +
        "'write.delete.mode' = 'merge-on-read')")
    def emptyIds(h: graft.plans.LakeRowLevel.RowLevelHandle) =
      h.scanWithRowIds(spark).where(lit(false))
        .select(col(LakeRowLevel.FileIdCol), col(LakeRowLevel.RowIxCol))
    val idAttr = org.apache.spark.sql.catalyst.expressions
      .AttributeReference("id", org.apache.spark.sql.types.LongType)()
    def scopeLowIds = LakeRowLevel.ReadScope(readWholeTable = false,
      Seq(org.apache.spark.sql.catalyst.expressions.LessThan(idAttr,
        org.apache.spark.sql.catalyst.expressions.Literal(6L))), Set.empty)
    // winner: equality delete keyed id=10 — outside the loser's id < 6
    // read scope, so both must commit
    val h = staleHandle(fqn)
    LakeNativeWrite.icebergEqUpsert(spark, dir,
      Seq((10L, 7)).toDF("id", "p"), Seq("id"))
    h.commitUpdateRows(spark, emptyIds(h),
      Seq((52L, 1)).toDF("id", "p"), None, "MERGE", scopeLowIds)
    assert(spark.table(fqn).where("id = 52 or id = 10").count() == 2,
      "disjoint-key eq-delete and insert-only merge must both survive")
    // winner: equality delete keyed id=3 — INSIDE the read scope: the
    // merge's not-matched decision may be stale, typed delete/read
    val h2 = staleHandle(fqn)
    LakeNativeWrite.icebergEqUpsert(spark, dir,
      Seq((3L, 0)).toDF("id", "p"), Seq("id"))
    intercept[LakeConcurrency.ConcurrentDeleteReadException] {
      h2.commitUpdateRows(spark, emptyIds(h2),
        Seq((53L, 1)).toDF("id", "p"), None, "MERGE", scopeLowIds)
    }
  }

  test("iceberg MoR: eq-delete conflict validation resolves from MANIFEST bounds — no delete-file read") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.plans.LakeRowLevel
    // r14: the upsert writer stamps per-key lower/upper bounds into the
    // delete manifest entry, and the conflict validator prefers them over
    // re-reading the delete parquet on every commit retry. Pin: with the
    // winner's eq-delete PARQUET REMOVED from disk, a disjoint-key
    // insert-only commit still succeeds (bounds prove the deletes
    // invisible; the old path's read would fail and fall back to a
    // conservative abort) — proof the fast path is live and file-free.
    val (fqn, dir) = setupIcePart("ics14",
      " TBLPROPERTIES ('write.update.mode' = 'merge-on-read', " +
        "'write.delete.mode' = 'merge-on-read')")
    // a LITERAL empty row-id frame: the scan-derived one would plan over
    // the (deliberately removed) delete parquet and fail for the wrong
    // reason — this test must exercise only the conflict validator
    def emptyIds(h: graft.plans.LakeRowLevel.RowLevelHandle) =
      Seq.empty[(String, Long)].toDF(LakeRowLevel.FileIdCol, LakeRowLevel.RowIxCol)
    val idAttr = org.apache.spark.sql.catalyst.expressions
      .AttributeReference("id", org.apache.spark.sql.types.LongType)()
    def scopeLowIds = LakeRowLevel.ReadScope(readWholeTable = false,
      Seq(org.apache.spark.sql.catalyst.expressions.LessThan(idAttr,
        org.apache.spark.sql.catalyst.expressions.Literal(6L))), Set.empty)
    val h = staleHandle(fqn)
    LakeNativeWrite.icebergEqUpsert(spark, dir,
      Seq((20L, 7), (25L, 7)).toDF("id", "p"), Seq("id")) // keys 20..25, disjoint from id < 6
    // remove the winner's delete parquet (and the local-FS .crc sidecar)
    val dataDir = new java.io.File(new java.net.URI(dir.toUri.toString).getPath, "data")
    val removed = dataDir.listFiles().filter(_.getName.startsWith("eqdelete-"))
    assert(removed.nonEmpty, "expected a staged eqdelete parquet")
    removed.foreach { f =>
      assert(f.delete())
      val crc = new java.io.File(f.getParentFile, s".${f.getName}.crc")
      if (crc.exists()) crc.delete()
    }
    // bounds [20, 25] vs read scope id < 6: provably disjoint WITHOUT the
    // file — the commit must succeed
    h.commitUpdateRows(spark, emptyIds(h),
      Seq((54L, 1)).toDF("id", "p"), None, "MERGE", scopeLowIds)
    // and an in-scope key must still conflict, also from bounds alone
    val h2 = staleHandle(fqn)
    LakeNativeWrite.icebergEqUpsert(spark, dir,
      Seq((2L, 0)).toDF("id", "p"), Seq("id"))
    new java.io.File(dataDir.getPath).listFiles()
      .filter(_.getName.startsWith("eqdelete-")).foreach { f =>
        f.delete()
        val crc = new java.io.File(f.getParentFile, s".${f.getName}.crc")
        if (crc.exists()) crc.delete()
      }
    intercept[LakeConcurrency.ConcurrentDeleteReadException] {
      h2.commitUpdateRows(spark, emptyIds(h2),
        Seq((55L, 1)).toDF("id", "p"), None, "MERGE", scopeLowIds)
    }
  }

  /** Strip the per-key lower/upper bounds from every equality-delete entry
    * in the table's manifests — simulating a FOREIGN writer that stamps
    * equality_ids but no bounds (they are optional per the Iceberg spec).
    * Rewrites each touched manifest avro in place and drops the local-FS
    * .crc sidecar (rawWrite lesson: stale checksums fail the re-read).
    */
  private def stripEqDeleteBounds(dir: Path): Int = {
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    val metaDir = new java.io.File(new java.net.URI(dir.toUri.toString).getPath, "metadata")
    var stripped = 0
    metaDir.listFiles().filter(_.getName.endsWith(".avro")).foreach { f =>
      val rdr = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
      val schema = rdr.getSchema
      // manifest lists have no data_file field — skip them
      if (schema.getField("data_file") != null) {
        val recs = scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
        var touched = false
        while (rdr.hasNext) {
          val r = rdr.next()
          val df = r.get("data_file").asInstanceOf[GenericRecord]
          val isEq = Option(df.getSchema.getField("content"))
            .exists(fd => df.get(fd.pos()) == 2)
          if (isEq && (df.get("lower_bounds") != null || df.get("upper_bounds") != null)) {
            df.put("lower_bounds", null)
            df.put("upper_bounds", null)
            touched = true
            stripped += 1
          }
          recs += r
        }
        rdr.close()
        if (touched) {
          val tmp = new java.io.File(f.getParentFile, f.getName + ".strip")
          val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
          w.setMeta("content", "deletes")
          w.create(schema, tmp)
          recs.foreach(w.append)
          w.close()
          java.nio.file.Files.move(tmp.toPath, f.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          val crc = new java.io.File(f.getParentFile, s".${f.getName}.crc")
          if (crc.exists()) crc.delete()
        }
      } else rdr.close()
    }
    stripped
  }

  test("iceberg MoR: a FOREIGN eq-delete without manifest bounds falls back to the file read — never silently passes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.plans.LakeRowLevel
    // r14's fast path judges eq-delete conflicts from manifest key bounds;
    // interop tables written by engines that omit the (spec-optional)
    // bounds must take the parquet-read fallback, and when THAT is
    // impossible too, abort conservatively — bounds absence may never
    // widen what commits.
    val (fqn, dir) = setupIcePart("ics15",
      " TBLPROPERTIES ('write.update.mode' = 'merge-on-read', " +
        "'write.delete.mode' = 'merge-on-read')")
    def emptyIds = Seq.empty[(String, Long)]
      .toDF(LakeRowLevel.FileIdCol, LakeRowLevel.RowIxCol)
    val idAttr = org.apache.spark.sql.catalyst.expressions
      .AttributeReference("id", org.apache.spark.sql.types.LongType)()
    def scopeLowIds = LakeRowLevel.ReadScope(readWholeTable = false,
      Seq(org.apache.spark.sql.catalyst.expressions.LessThan(idAttr,
        org.apache.spark.sql.catalyst.expressions.Literal(6L))), Set.empty)
    // direction 1: bounds stripped, delete parquet PRESENT — the fallback
    // read recovers the true key range [30, 35], provably disjoint from
    // id < 6, and the insert-only commit succeeds
    val h = staleHandle(fqn)
    LakeNativeWrite.icebergEqUpsert(spark, dir,
      Seq((30L, 7), (35L, 7)).toDF("id", "p"), Seq("id"))
    assert(stripEqDeleteBounds(dir) > 0, "expected bounds to strip")
    h.commitUpdateRows(spark, emptyIds,
      Seq((56L, 1)).toDF("id", "p"), None, "MERGE", scopeLowIds)
    assert(spark.table(fqn).where("id = 56").count() == 1)
    // direction 2: bounds stripped AND the delete parquet removed — a
    // truly disjoint key (40) must still CONFLICT: with no bounds and no
    // file there is nothing to prove disjointness with
    val h2 = staleHandle(fqn)
    LakeNativeWrite.icebergEqUpsert(spark, dir,
      Seq((40L, 7)).toDF("id", "p"), Seq("id"))
    assert(stripEqDeleteBounds(dir) > 0, "expected the new entry's bounds to strip")
    val dataDir = new java.io.File(new java.net.URI(dir.toUri.toString).getPath, "data")
    dataDir.listFiles().filter(_.getName.startsWith("eqdelete-")).foreach { f =>
      f.delete()
      val crc = new java.io.File(f.getParentFile, s".${f.getName}.crc")
      if (crc.exists()) crc.delete()
    }
    intercept[LakeConcurrency.ConcurrentDeleteReadException] {
      h2.commitUpdateRows(spark, emptyIds,
        Seq((57L, 1)).toDF("id", "p"), None, "MERGE", scopeLowIds)
    }
  }
}
