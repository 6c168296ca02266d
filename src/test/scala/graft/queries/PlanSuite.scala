package graft.queries

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression,
  HigherOrderFunction, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Project}

import graft.SparkTestBase

/** Physical-plan assertions for the 100 TB story: small dimensions must
  * broadcast (no shuffle of the big fact side), filters and projections must
  * reach the parquet scan, and the hot expressions must stay inside
  * whole-stage codegen.
  */
class PlanSuite extends SparkTestBase {

  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sf())
    // formatted mode prints untruncated PushedFilters / ReadSchema
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q5 six-way join broadcasts every dimension (single fact shuffle max)") {
    val p = plan("q5_revenue_by_nation")
    // nation/region/supplier/customer/orders are all small vs lineitem;
    // AQE + size stats should broadcast at least nation+region+supplier
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in q5:\n$p")
    assert(!p.contains("CartesianProduct"), "cartesian in q5")
  }

  test("federated four-source join broadcasts every dimension leg") {
    val p = plan("src_federated_join")
    // JDBC customers, Delta nation, parquet region are all dimension-sized
    // next to the USL orders fact: each must arrive as a broadcast, never
    // forcing the fact through extra join exchanges
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected 3 broadcast joins (jdbc cust, delta nation, parquet region):\n$p")
    assert(!p.contains("CartesianProduct"), "cartesian in federated join")
    assert(p.contains("JDBC"), s"jdbc leg missing from the federated plan:\n$p")
  }

  test("q6 filter is pushed into the parquet scan") {
    val p = plan("q6_forecast_revenue")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(l_discount"),
      s"q6 filters not pushed:\n$p")
    // column pruning: only the 4 needed columns are read
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"),
      s"q6 reads too many columns:\n$p")
  }

  test("q1 aggregates partially before the shuffle (partial hash agg)") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("HashAggregate"), s"no hash agg in q1:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "q1 missing partial aggregation")
  }

  test("ann brute-force keeps cosine inside whole-stage codegen") {
    val df = graft.SparkEntry.queries("ann_bruteforce")(spark, sf())
    df.collect() // materialize so AQE finalizes codegen stage ids
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("codegen id :"), s"no codegen stages in ann plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"queries side not broadcast in ann:\n$p")
    // the scoring projection (cosine_similarity) must carry a codegen id —
    // i.e. CosineSimilarity.doGenCode is used, not interpreted eval
    val scoring = p.linesIterator.filter(_.contains("cosine_similarity")).mkString("\n")
    assert(scoring.nonEmpty, s"cosine_similarity not found in plan:\n$p")
  }

  test("ivf cell assignment stays inside whole-stage codegen (no UDF)") {
    val df = graft.SparkEntry.queries("ann_ivf")(spark, sf())
    df.collect()
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"ivf must not use UDFs on the corpus hot path:\n$p")
    val assign = p.linesIterator.filter(_.contains("argmin_centroid")).mkString("\n")
    assert(assign.nonEmpty, s"argmin_centroid not found in ivf plan:\n$p")
    assert(p.contains("codegen id :"), s"no codegen stages in ivf plan:\n$p")
  }

  test("argmin_centroid codegen compiles and matches interpreted eval") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    val centroids = Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(5.0, 5.0))
    val expr = graft.functions.ArgminCentroid(
      BoundReference(0, ArrayType(FloatType), nullable = true), centroids)
    val proj = GenerateUnsafeProjection.generate(Seq(expr)) // throws on janino errors
    for (v <- Seq(Array(0.1f, -0.1f), Array(0.9f, 1.2f), Array(4.0f, 6.0f))) {
      val row = InternalRow(new GenericArrayData(v.map(Float.box).toArray[Any]))
      assert(proj(row).getInt(0) == expr.eval(row).asInstanceOf[Int])
    }
  }

  test("pii scrub reads only the two needed columns and stays UDF-free") {
    val df = graft.SparkEntry.queries("text_pii_scrub")(spark, sf())
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"column pruning failed: $readSchema")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      "pii scrub must be pure built-ins")
  }

  test("sequence packing windows per source partition (no global ordering)") {
    val df = graft.SparkEntry.queries("text_seq_pack")(spark, sf())
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "window must partition by source, not sort globally")
  }

  test("semi join decorrelates to LeftSemi (no subquery re-execution)") {
    val p = plan("q_semi_join")
    assert(p.contains("LeftSemi"), s"semi join shape missing:\n$p")
  }

  test("q17 correlated scalar subquery decorrelates to an aggregate + join") {
    val df = graft.SparkEntry.queries("q17_small_qty_revenue")(spark, sf())
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("scalar-subquery"), s"subquery must decorrelate:\n$p")
    assert(p.contains("Join"), s"decorrelated plan needs the join:\n$p")
  }

  test("q4: non-equi correlated EXISTS decorrelates to one semi join") {
    val df = graft.SparkEntry.queries("q4_order_priority")(spark, sf())
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("exists-subquery"), s"EXISTS must decorrelate:\n$p")
    assert(p.contains("LeftSemi"), s"EXISTS must become a semi join:\n$p")
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "q4 must not go cartesian")
  }

  test("q21: EXISTS + NOT EXISTS self-joins decorrelate to semi AND anti joins") {
    val df = graft.SparkEntry.queries("q21_waiting_supplier")(spark, sf())
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("exists-subquery"), s"both subqueries must decorrelate:\n$p")
    assert(p.contains("LeftSemi"), s"EXISTS must become a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must become an anti-join:\n$p")
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "q21 must not go cartesian")
  }

  test("q18: IN over grouped HAVING decorrelates to a semi join on the aggregate") {
    val df = graft.SparkEntry.queries("q18_large_orders")(spark, sf())
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("list-subquery") && !p.contains("in-subquery"),
      s"IN subquery must decorrelate:\n$p")
    assert(p.contains("LeftSemi"), s"IN must become a semi join:\n$p")
  }

  test("q20: nested IN + correlated scalar-in-HAVING fully decorrelates") {
    val df = graft.SparkEntry.queries("q20_promo_suppliers")(spark, sf())
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("scalar-subquery") && !p.contains("in-subquery") &&
      !p.contains("list-subquery"),
      s"all three nested subqueries must decorrelate:\n$p")
    assert(p.contains("LeftSemi"), s"the INs must become semi joins:\n$p")
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "q20 must not go cartesian")
  }

  test("q11: uncorrelated scalar subquery in HAVING stays a one-shot subquery") {
    val df = graft.SparkEntry.queries("q11_important_stock")(spark, sf())
    val p = df.queryExecution.optimizedPlan.toString
    // the global-total subquery is UNcorrelated: it must remain a single
    // scalar-subquery execution (broadcast into the HAVING filter), not be
    // inlined per group
    assert(p.contains("scalar-subquery"),
      s"global total should stay a one-shot subquery:\n$p")
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "q11 must not go cartesian")
  }

  test("q13: filter stays inside the LEFT OUTER join (zero-order customers kept)") {
    val df = graft.SparkEntry.queries("q13_customer_distribution")(spark, sf())
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("LeftOuter"), s"outer join must survive optimization:\n$p")
  }

  test("q16: NOT IN becomes a null-aware anti join, not a per-row probe") {
    val df = graft.SparkEntry.queries("q16_supplier_cnt")(spark, sf())
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("list-subquery") && !p.contains("in-subquery"),
      s"NOT IN must decorrelate:\n$p")
    assert(p.contains("LeftAnti"), s"NOT IN must become an anti join:\n$p")
  }

  test("q19: disjunctive predicates keep the equi-key hash join (no nested loop)") {
    val df = graft.SparkEntry.queries("q19_disjunctive_revenue")(spark, sf())
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("BroadcastNestedLoopJoin"),
      s"the common p_partkey = l_partkey key must be extracted:\n$exec")
  }

  test("q15: MAX over the revenue CTE stays a one-shot scalar subquery") {
    val df = graft.SparkEntry.queries("q15_top_supplier")(spark, sf())
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("scalar-subquery"),
      s"uncorrelated MAX should execute once, not per row:\n$p")
  }

  test("q2: correlated MIN subquery decorrelates to a per-part aggregate join") {
    val df = graft.SparkEntry.queries("q2_min_cost_supplier")(spark, sf())
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("scalar-subquery"), s"correlated MIN must decorrelate:\n$p")
    assert(p.contains("Join"), s"decorrelated plan needs the min-cost join:\n$p")
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "q2 must not go cartesian")
  }

  test("q12: non-equi residual stays inside the equi hash join") {
    val df = graft.SparkEntry.queries("q12_late_shipments")(spark, sf())
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("BroadcastNestedLoopJoin"),
      s"o_orderkey = l_orderkey must drive the join; the date predicate is a residual:\n$exec")
    assert(exec.contains("partial"), s"CASE sums must pre-aggregate map-side:\n$exec")
  }

  test("q8: seven-way market-share join broadcasts dimensions, no cartesian") {
    val df = graft.SparkEntry.queries("q8_market_share")(spark, sf())
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastHashJoin"), s"no broadcast join in q8:\n$exec")
    assert(!exec.contains("CartesianProduct"), "cartesian in q8")
  }

  test("q22: NOT EXISTS decorrelates to anti-join; global avg runs once") {
    val df = graft.SparkEntry.queries("q22_idle_balances")(spark, sf())
    val p = df.queryExecution.optimizedPlan.toString
    // the correlated NOT EXISTS must become a join, not a per-row probe
    assert(!p.contains("exists-subquery"), s"NOT EXISTS must decorrelate:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must become an anti-join:\n$p")
    // the UNCORRELATED global-average subquery correctly remains a
    // scalar-subquery node: executed once, broadcast into the filter —
    // inlining it per-row would be the regression
    assert(p.contains("scalar-subquery"), s"global avg should stay a one-shot subquery:\n$p")
  }

  test("decontamination broadcasts the eval n-grams (corpus never shuffles)") {
    val df = graft.SparkEntry.queries("text_decontaminate")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"eval side must broadcast:\n$p")
  }

  test("incremental ingest keeps its anti-join shape and no corpus self-join") {
    val df = graft.SparkEntry.queries("dedup_incremental")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    // exact stage: LEFT ANTI on the 128-bit hash (corpus side sheds text
    // before any exchange); near stage ends in another anti on convicted ids
    assert(p.contains("LeftAnti"), s"missing anti-join:\n$p")
    // the semi-join corpus cut before verification shingles
    assert(p.contains("LeftSemi"), s"missing semi-join corpus cut:\n$p")
  }

  test("bloom ingest exact stage resolves with broadcast joins only") {
    // the survivors subplan must not shuffle: the maybe-set semi-join and
    // the residual anti-join both broadcast the batch-bounded side
    import org.apache.spark.sql.functions.col
    val d = QueryPack.t(spark, sf(), "documents")
    val corpus = d.where(col("doc_id") % 3 === 0)
    val idx = graft.operators.Dedup.ingestIndexBuild(corpus, "doc_id", "text")
    val bloom = graft.operators.Dedup.ingestBloomBuild(idx)
    val full = graft.operators.Dedup.incrementalDedup(idx, corpus,
      d.where(col("doc_id") % 3 =!= 0), "doc_id", "text", 0.7, Some(bloom))
    val p = full.queryExecution.executedPlan.toString
    // exact-stage joins key on the __h content hash (the near stage's final
    // conviction anti-join keys on doc_id and may legitimately sort-merge —
    // its build side is only statically unknowable, not large)
    val hashJoins = p.linesIterator
      .filter(l => l.contains("Join") && l.contains("__h")).toSeq
    assert(hashJoins.nonEmpty, s"missing exact-stage hash joins:\n$p")
    assert(hashJoins.forall(_.contains("BroadcastHashJoin")),
      s"exact-stage join fell back to a shuffle join:\n${hashJoins.mkString("\n")}")
  }

  test("memberIds resolves with broadcast semi-joins (flag-bounded sides, hash-only payload)") {
    // both stages must broadcast: the rep-id cut (repIds is flag-bounded)
    // and the hash expansion (the flagged hash set is equally small) — the
    // corpus is scanned twice but never shuffled, and only (id, hash)
    // columns ride the joins
    import org.apache.spark.sql.functions.col
    val d = QueryPack.t(spark, sf(), "documents")
    val flagged = d.where(col("doc_id") < 10).select(col("doc_id"))
    val out = graft.operators.Dedup.memberIds(d, flagged, "doc_id", "text")
    val p = out.queryExecution.executedPlan.toString
    val semis = p.linesIterator.filter(_.contains("LeftSemi")).toSeq
    assert(semis.size >= 2, s"expected the id-cut + hash-expansion semi-joins:\n$p")
    assert(semis.forall(_.contains("BroadcastHashJoin")),
      s"memberIds semi-join fell back to a shuffle join:\n${semis.mkString("\n")}")
    // the only exchanges in this plan are the flag-bounded distinct
    // aggregates feeding each BroadcastExchange (id set, then hash set) —
    // the corpus side itself must never shuffle, which the broadcast
    // semi-joins above already pin (a shuffled corpus side would plan as
    // SortMergeJoin); additionally pin that no exchange carries the text
    // column (hash-only payload)
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") && l.contains("text#")),
      s"memberIds shuffled document text:\n$p")
  }

  test("pq top-k truncates map-side before the window exchange (WindowGroupLimit)") {
    val df = graft.SparkEntry.queries("ann_pq")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    // both windows (ADC shortlist and final top-k) must carry the Partial
    // group-limit on the WindowGroupLimit node itself: each scan partition
    // ships at most shortlist rows per query into the exchange instead of
    // its whole ADC output (a stray "Partial" from some aggregate elsewhere
    // in the plan must not satisfy this)
    assert(p.linesIterator.exists(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"pq window lost its partial group limit:\n$p")
  }

  test("bigram scoring broadcasts the vocab row and partially aggregates per doc") {
    val df = graft.SparkEntry.queries("text_bigram_xent")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"single-row vocab frame must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"per-doc aggregate missing:\n$p")
  }

  test("no gate plan contains an unbounded cartesian or python UDF") {
    // dedup_ngram_jaccard's candidate harness deliberately crosses a bounded
    // 30-id window; sketch_source_similarity crosses the 20 one-row-per-source
    // sketches. Everything else must be cartesian-free.
    val allowedCross = Set("dedup_ngram_jaccard", "sketch_source_similarity")
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val p = fn(spark, sf()).queryExecution.executedPlan.toString
        if (!allowedCross(name) && p.contains("CartesianProduct"))
          failures += s"$name: CartesianProduct"
        if (p.contains("BatchEvalPython"))
          failures += s"$name: python UDF"
      } catch {
        case e: Exception => failures += s"$name: planning failed: ${e.getMessage}"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  /** Why a Project directly above a Generate evaluates, once per generated
    * row, a value that depends only on the Generate's input row: (a) a
    * non-trivial expression that also occurs inside the generator's input,
    * or (b) a higher-order function. Either one costs the per-row work
    * times the number of rows the generator emits — the way a document
    * gets re-tokenized once per bigram. Trivial means an attribute, an
    * alias of one, or a literal. Other expressions over the input row
    * (a cast of an id, a regexp_extract of a path) are left alone: their
    * cost per generated row is constant, and moving them below the
    * Generate could raise ANSI errors on rows the generator drops.
    */
  private def recomputedPerGeneratedRow(plan: LogicalPlan): Seq[String] = {
    def trivial(e: Expression): Boolean = e match {
      case Alias(c, _) => trivial(c)
      case _: Attribute | _: Literal => true
      case _ => false
    }
    plan.collectWithSubqueries { case Project(projectList, g: Generate) =>
      val genInput = g.generator.children
        .flatMap(_.collect { case e if !trivial(e) => e.canonicalized }).toSet
      projectList.filter(e => !trivial(e) && e.references.subsetOf(g.child.outputSet))
        .flatMap { e =>
          val shared = e.collectFirst {
            case s if !s.isInstanceOf[Alias] && !trivial(s) && genInput(s.canonicalized) => s
          }.map(s => s"${e.name} repeats the generator's input ${s.sql}")
          val lambda = e.collectFirst { case h: HigherOrderFunction => h }
            .map(h => s"${e.name} evaluates the lambda ${h.prettyName}")
          shared.orElse(lambda)
        }
    }.flatten
  }

  test("no gate plan recomputes a per-row value once per generated row") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        recomputedPerGeneratedRow(fn(spark, sf()).queryExecution.optimizedPlan)
          .foreach(why => failures += s"$name: Project above Generate: $why")
      } catch {
        case e: Exception => failures += s"$name: planning failed: ${e.getMessage}"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("usl readback splices the activation query into the outer plan") {
    val df = graft.SparkEntry.queries("usl_readback")(spark, sf())
    assert(df.collect().nonEmpty)
  }

  // ---- r7 lake-family plan locks: the DML/MoR/CDF/OPTIMIZE shapes are
  // hash-exact gated; these pin the SCALE-critical plan properties the
  // hashes cannot see. ----

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def scanFileCount(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        unwrap(a.executedPlan)
      case other => other.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    }
    unwrap(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
  }

  private def tmpLake(prefix: String): java.io.File =
    java.nio.file.Files.createTempDirectory(prefix).toFile

  test("delta DV scan applies deletes as a broadcast bitmap FILTER — no join at all") {
    val base = tmpLake("plan-dv")
    graft.Graft.sql(spark,
      s"REGISTER OR REPLACE DELTA DATASOURCE pdvp OPTIONS (path '${base.getPath}') NAMESPACE graft.datasource.pdvp")
    val fqn = "graft.datasource.pdvp.pdvp.t"
    spark.sql(s"CREATE TABLE $fqn (id INT, v INT) TBLPROPERTIES (" +
      "'delta.enableDeletionVectors' = 'true')")
    spark.sql(s"INSERT INTO $fqn SELECT id, id FROM range(100)")
    spark.sql(s"DELETE FROM $fqn WHERE id % 10 = 3")
    val dir = new org.apache.hadoop.fs.Path(base.getPath, "t")
    val df = graft.sources.lake.DeltaLite.read(spark, dir)
    assert(df.count() == 90)
    val p = executed(df)
    // the delta-spark-shaped application: a per-row bitmap probe in the
    // scan's filter — one codegen stage, zero joins, zero exchanges
    assert(p.toLowerCase.contains("dvmasked"),
      s"DV scan must filter through the broadcast bitmap probe:\n$p")
    assert(!p.contains("Join"), s"DV application must not need a join:\n$p")
    assert(!p.contains("Exchange"), s"DV application must not shuffle:\n$p")
    assert(p.contains("*(1) Filter NOT dvmasked"),
      s"the DV filter must stay inside whole-stage codegen (the *(n) marker):\n$p")
  }

  test("iceberg MoR scan: position deletes apply as the broadcast bitmap FILTER") {
    val base = tmpLake("plan-mor")
    graft.Graft.sql(spark,
      s"REGISTER OR REPLACE ICEBERG DATASOURCE pmor OPTIONS (warehouse '${base.getPath}') NAMESPACE graft.datasource.pmor")
    val fqn = "graft.datasource.pmor.pmor.t"
    spark.sql(s"CREATE TABLE $fqn (id INT, v INT) " +
      "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
    spark.sql(s"INSERT INTO $fqn SELECT id, id FROM range(100)")
    spark.sql(s"DELETE FROM $fqn WHERE id % 10 = 7")
    val dir = new org.apache.hadoop.fs.Path(base.getPath, "t")
    val df = graft.sources.lake.IcebergLite.read(spark, dir)
    assert(df.count() == 90)
    val p = executed(df)
    assert(p.toLowerCase.contains("dvmasked"),
      s"MoR scan must filter through the broadcast bitmap probe:\n$p")
    assert(!p.contains("Join"), s"position-delete application must not need a join:\n$p")
    assert(!p.contains("Exchange"), s"position-delete application must not shuffle:\n$p")
  }

  test("row-level DML's matched-file scan prunes partitions (file-granular rewrite input)") {
    import graft.plans.{HasRowLevelHandle, LakeRowLevel}
    val base = tmpLake("plan-dml")
    graft.Graft.sql(spark,
      s"REGISTER OR REPLACE DELTA DATASOURCE pdml OPTIONS (path '${base.getPath}') NAMESPACE graft.datasource.pdml")
    val fqn = Seq("graft", "datasource", "pdml", "pdml", "t")
    spark.sql(s"CREATE TABLE ${fqn.mkString(".")} (id INT, v INT, p INT) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO ${fqn.mkString(".")} SELECT id, id, id % 4 FROM range(40)")
    val handle = org.apache.spark.sql.GraftSQLBridge.loadV2Table(spark, fqn)
      .asInstanceOf[HasRowLevelHandle].rowLevelHandle.get
    // the EXACT scan DELETE/UPDATE/MERGE resolve matched files through,
    // under a DML-shaped partition predicate
    val scan = handle.scanWithRowIds(spark)
      .where(org.apache.spark.sql.functions.col("p") === 1)
    val total = handle.listFiles(spark).size
    val scanned = scanFileCount(scan)
    assert(scanned < total && scanned >= 1,
      s"matched-file resolution scanned $scanned of $total files — partition " +
        "predicate did not prune (a DELETE would read the whole table)")
    assert(scan.columns.contains(LakeRowLevel.FileIdCol))
  }

  test("CDF read lists only the commit-range files, not the table") {
    val base = tmpLake("plan-cdf")
    graft.Graft.sql(spark,
      s"REGISTER OR REPLACE DELTA DATASOURCE pcdf OPTIONS (path '${base.getPath}') NAMESPACE graft.datasource.pcdf")
    val fqn = "graft.datasource.pcdf.pcdf.t"
    spark.sql(s"CREATE TABLE $fqn (id INT, v INT) TBLPROPERTIES (" +
      "'delta.enableChangeDataFeed' = 'true')")
    (0 until 3).foreach { b =>
      spark.sql(s"INSERT INTO $fqn SELECT id + ${b * 100}, id FROM range(10)")
    }
    val dir = new org.apache.hadoop.fs.Path(base.getPath, "t")
    val snap = graft.sources.lake.DeltaLite.snapshot(spark, dir)
    val totalFiles = snap.files.size
    // only version 2's files may scan — not the whole table
    val feed = graft.sources.lake.DeltaLite.changes(spark, dir, 2L, Some(2L))
    val scanned = scanFileCount(feed)
    assert(scanned < totalFiles && scanned >= 1,
      s"CDF range read scanned $scanned of $totalFiles table files — the feed " +
        "must track the commit range, not the table size")
    assert(feed.count() == 10)
  }

  test("OPTIMIZE ZORDER arranges through exactly one range exchange") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i % 97, (i * 31) % 89, s"r$i")).toDF("x", "y", "s")
    val arranged = graft.operators.Layout.zorderN(df,
      Seq(("x", 0.0, 96.0), ("y", 0.0, 88.0)), bits = 8, numFiles = 4)
    arranged.collect()
    val finalPlan = arranged.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    val p = finalPlan
    assert("rangepartitioning".r.findAllIn(p.toLowerCase).size == 1,
      s"zorder layout must be ONE range exchange:\n$p")
    assert(!p.toLowerCase.contains("exchange hashpartitioning"),
      s"no extra hash shuffle in the zorder arrange:\n$p")
  }
}
