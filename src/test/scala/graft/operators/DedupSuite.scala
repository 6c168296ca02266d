package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.{GraftFunctions => F, TextFunctions => T}
import graft.queries.QueryPack

/** Ground-truth and hot-bucket-guard coverage for the dedup operators.
  *
  * The CORRECTNESS gates hash-check dedup_exact / dedup_minhash /
  * dedup_ngram_jaccard against DuckDB; simhash and embedding dedup are
  * hash-algorithm-specific (rows-only there), so THIS suite carries their
  * ground truth: exact all-pairs Hamming / cosine computed in-Spark.
  */
class DedupSuite extends SparkTestBase {

  private def docs = QueryPack.t(spark, sf(), "documents")
  private def emb = QueryPack.t(spark, sf(), "embeddings")

  // ---- ground truth: SimHash banding vs exact all-pairs Hamming ----

  test("simhash candidates equal exact all-pairs Hamming at distance <= 3") {
    // 4x16-bit bands guarantee every pair within Hamming distance 3 shares at
    // least one intact band (pigeonhole), so at maxHamming=3 LSH output must
    // EQUAL the brute-force all-pairs answer.
    val sh = docs.select(col("doc_id"), F.simhash64(T.tokens(col("text"))).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = (for {
      (ia, sa) <- sh; (ib, sb) <- sh
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    val lsh = Dedup.simHashDuplicates(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"simhash maxHamming=3 must be exact: lsh=${lsh.size} exact=${exact.size}")
  }

  test("simhash candidates equal exact all-pairs Hamming at distance <= 8") {
    // Since r17 the default surface AUTO-routes d=8 to the multi-table
    // scheme (single-table keys below the 10-bit floor) — both schemes are
    // complete, so AUTO, the forced single-table arm, and brute force must
    // all coincide on a corpus where the bucket cap stays unarmed.
    val sh = docs.select(col("doc_id"), F.simhash64(T.tokens(col("text"))).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = (for {
      (ia, sa) <- sh; (ib, sb) <- sh
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 8
    } yield (ia, ib)).toSet
    val auto = Dedup.simHashDuplicates(docs, "doc_id", "text", maxHamming = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == exact, s"simhash maxHamming=8 must be exact: auto=${auto.size} exact=${exact.size}")
    val forcedSingle = Dedup.simHashDuplicates(docs, "doc_id", "text",
        maxHamming = 8, blocks = Dedup.SimHashSingleTable)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(forcedSingle == exact, "forced single-table must also be exact here (cap unarmed)")
  }

  test("AUTO banding route: floor at maxHamming=6, blocks=d+2, ceiling at d=30") {
    // the routing rule at gate-scale corpora (small n keeps every scheme's
    // occupancy under the target, so only the distance routes): d <= 5
    // keeps single-table; d in [6, 30] routes to multi-table with
    // blocks = d + 2 (C(d+2, 2) tables <= 512 through d=30); past that no
    // multi-table config fits the table cap, so AUTO stays single-table
    val n = 1000L
    for (d <- 0 to 5) assert(Dedup.simHashAutoBlocks(d, n).isEmpty, s"d=$d must stay single-table")
    for (d <- 6 to 30) assert(Dedup.simHashAutoBlocks(d, n).contains(d + 2), s"d=$d must route to ${d + 2} blocks")
    for (d <- Seq(31, 40, 63)) assert(Dedup.simHashAutoBlocks(d, n).isEmpty, s"d=$d exceeds the table-cap ceiling")
    // auto-route config at the ceiling is actually runnable: C(32, 30) = 496 <= 512
    assert((31 to 32).product / 2 == 496)
    intercept[IllegalArgumentException] {
      Dedup.simHashDuplicates(docs, "doc_id", "text", maxHamming = 8, blocks = -2)
    }
  }

  test("AUTO banding route is corpus-sized: occupancy promotes blocks and the distance floor") {
    // r17 calibration (BASELINE r17 "blocks knob at sf50m"): at d=8 on
    // 1.5M reps, blocks=10 (2x6-bit floor keys, expected occupancy ~366 vs
    // target 100) silently cap-dropped ~85% of true pairs; blocks=11
    // (3x5-bit keys, occupancy ~46) recovered them. The rule must pick 11
    // there, and must keep picking the cheapest cap-safe scheme elsewhere.
    assert(Dedup.simHashAutoBlocks(8, 1500000L).contains(11),
      "d=8 at 1.5M reps must widen to blocks=11")
    assert(Dedup.simHashAutoBlocks(8, 100000L).contains(10),
      "d=8 at 100k reps keeps the cheapest complete config")
    // the same cliff exists below the d>=6 distance floor: d=4 single-table
    // keys are 12 bits, so a 1e9-rep corpus (occupancy ~244k) must promote
    // to multi-table — smallest cap-safe is blocks=7 (3x9-bit keys)
    assert(Dedup.simHashAutoBlocks(4, 1000000000L).contains(7),
      "d=4 at 1e9 reps must leave single-table")
    assert(Dedup.simHashAutoBlocks(4, 1000L).isEmpty,
      "d=4 small corpus stays single-table")
    // when no feasible config clears the target, the widest feasible wins
    // (closest to complete; the cap guard is the backstop): d=30 has only
    // blocks=32 (C(32,2)=496) and a huge corpus cannot clear 2x2-bit keys
    assert(Dedup.simHashAutoBlocks(30, 1000000000L).contains(32),
      "d=30 huge corpus returns the widest feasible config")
    // the occupancy target scales with the caller's cap: a tiny cap makes
    // even a small corpus promote
    assert(Dedup.simHashAutoBlocks(4, 5000L, maxBucketSize = 10).isDefined,
      "a 10-doc cap must route a 5k corpus off 12-bit single-table keys")
  }

  test("AUTO groups at d=8 equal the explicit multi-table route and the forced single route") {
    // the r17 default-correctness pin: a user passing only maxHamming=8 gets
    // the multi-table scheme (the one that stays complete at corpus scale)
    // without knowing blocks exists
    val auto = Dedup.simHashDuplicateGroups(docs, "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = Dedup.simHashDuplicateGroups(docs, "doc_id", "text", maxHamming = 8,
        blocks = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == explicit, s"auto=${auto.size} explicit=${explicit.size}")
    val single = Dedup.simHashDuplicateGroups(docs, "doc_id", "text", maxHamming = 8,
        blocks = Dedup.SimHashSingleTable)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == single, "all three routes must agree where the cap is unarmed")
  }

  test("multi-table simhash equals exact all-pairs Hamming at distance <= 8") {
    // Manku '07 block-combination tables: blocks=10, key on 2 blocks,
    // C(10,2)=45 tables. Complete by pigeonhole (a pair within distance 8
    // agrees on >= 2 blocks, and every 2-subset is a table), so with exact
    // popcount verify the result EQUALS brute force — and hence EQUALS the
    // single-table scheme at the same distance.
    val sh = docs.select(col("doc_id"), F.simhash64(T.tokens(col("text"))).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = (for {
      (ia, sa) <- sh; (ib, sb) <- sh
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 8
    } yield (ia, ib)).toSet
    val mt = Dedup.simHashDuplicatesMultiTable(docs, "doc_id", "text",
        maxHamming = 8, blocks = 10)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mt == exact, s"multi-table maxHamming=8 must be exact: mt=${mt.size} exact=${exact.size}")
  }

  test("multi-table simhash: hamming column exact, uneven blocks, distance 4 parity") {
    // blocks=6 at maxHamming=4 (the gate config): uneven widths (11/11/11/11/10/10),
    // key on 2 blocks, 15 tables. Full-row parity with the single-table
    // scheme — (id_a, id_b, hamming) triples identical.
    val single = Dedup.simHashDuplicates(docs, "doc_id", "text", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val mt = Dedup.simHashDuplicatesMultiTable(docs, "doc_id", "text",
        maxHamming = 4, blocks = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(mt == single, s"multi-table must match single-table rows: mt=${mt.size} single=${single.size}")
  }

  test("simHashDuplicateGroups via multi-table banding equals the single-table groups") {
    val single = Dedup.simHashDuplicateGroups(docs, "doc_id", "text", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Dedup.simHashDuplicateGroups(docs, "doc_id", "text", maxHamming = 4,
        blocks = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(multi == single, s"groups must agree: multi=${multi.size} single=${single.size}")
  }

  test("multi-table simhash rejects degenerate configs") {
    intercept[IllegalArgumentException] {
      Dedup.simHashDuplicatesMultiTable(docs, "doc_id", "text", maxHamming = 8, blocks = 8)
    }
    intercept[IllegalArgumentException] {
      // C(20, 8) = 125970 tables — far past the 512 cap
      Dedup.simHashDuplicatesMultiTable(docs, "doc_id", "text", maxHamming = 8, blocks = 20)
    }
  }

  test("GATE CONFIG: portable simhash equals brute-force Hamming on the gate corpus") {
    // the dedup_simhash gate: sf0.01 documents, maxHamming=4, portable
    // md5-derived token hash. Equality with brute force here is what makes
    // the DuckDB oracle (same md5 hash, all-pairs bit compare) hash-exact.
    val docs01 = QueryPack.t(spark, sf("sf0.01"), "documents")
    val sh = docs01.select(col("doc_id"), F.simhash64(T.tokens(col("text")), portable = true).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = (for {
      (ia, sa) <- sh; (ib, sb) <- sh
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 4
    } yield (ia, ib)).toSet
    val lsh = Dedup.simHashDuplicates(docs01, "doc_id", "text", maxHamming = 4, portable = true)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"gate-config simhash must be exact: lsh=${lsh.size} exact=${exact.size}")
  }

  test("portable and default simhash token hashes are genuinely different functions") {
    // guards against the portable flag silently not being plumbed through
    val a = docs.select(F.simhash64(T.tokens(col("text"))).as("s")).collect().map(_.getLong(0))
    val b = docs.select(F.simhash64(T.tokens(col("text")), portable = true).as("s"))
      .collect().map(_.getLong(0))
    assert(a.toSeq != b.toSeq)
  }

  // ---- ground truth: embedding LSH dedup vs exact all-pairs cosine ----

  test("GATE CONFIG: embedding dedup candidates are COMPLETE at bits=5 tables=20") {
    // the dedup_embedding gate: sf0.01 embeddings, threshold 0.45. With exact
    // cosine verification precision is 1.0, so completeness here means the
    // output EQUALS brute force — which is what the DuckDB brute-force cosine
    // oracle computes. Config chosen by measured coverage (see BASELINE.md):
    // every true pair collides in >= 1 of the 20 tables with the min
    // |hyperplane dot| at 1.6e-7, far above double rounding.
    val emb01 = QueryPack.t(spark, sf("sf0.01"), "embeddings")
    val exact = emb01.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
      .crossJoin(emb01.select(col("vec_id").as("id_b"), col("embedding").as("v_b")))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), F.cosine_similarity(col("v_a"), col("v_b")).as("cos"))
      .where(col("cos") >= 0.45)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingDuplicates(emb01, "vec_id", "embedding",
        threshold = 0.45, bits = 5, tables = 20)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact,
      s"gate-config embedding dedup must equal brute force: lsh=${lsh.size} exact=${exact.size} " +
        s"missing=${(exact -- lsh).take(5)}")
  }

  test("embedding dedup has perfect precision and bounded recall vs exact cosine") {
    val pairs = emb.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
      .crossJoin(emb.select(col("vec_id").as("id_b"), col("embedding").as("v_b")))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), F.cosine_similarity(col("v_a"), col("v_b")).as("cos"))
      .where(col("cos") >= 0.45)
    val exact = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingDuplicates(emb, "vec_id", "embedding",
        threshold = 0.45, bits = 4, tables = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "exact-cosine verification must make precision 1.0")
    val recall = if (exact.isEmpty) 1.0 else lsh.size.toDouble / exact.size
    assert(recall >= 0.7, s"embedding LSH recall too low: $recall (${lsh.size}/${exact.size})")
  }

  // ---- hot-bucket guard ----

  test("hot-bucket guard bounds candidates for 1k identical docs") {
    import spark.implicits._
    val boiler = (0L until 1000L).map(i => (i, "the same boilerplate page body repeated verbatim across the crawl"))
    val unique = (1000L until 1020L).map(i => (i, s"distinct document number $i with its own words ${i * 31}"))
    val df = (boiler ++ unique).toDF("doc_id", "text").repartition(8)

    val cand = Dedup.minHashCandidatePairs(df, "doc_id", "text", maxBucketSize = 64)
    val n = cand.count()
    // uncapped this is 1000*999/2 ~ 500k pairs; star-linking keeps it linear
    assert(n < 5000, s"hot bucket must not go quadratic: $n candidate pairs")

    // connectivity survives: every boilerplate doc still pairs with the
    // representative, so the duplicate group is fully recoverable
    val dup = Dedup.minHashDuplicates(df, "doc_id", "text",
      threshold = 0.9, maxBucketSize = 64)
    val members = dup.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert((0L until 1000L).forall(members.contains),
      s"all 1000 identical docs must appear in a duplicate pair, got ${members.size}")
  }

  test("buckets under the cap keep the exact self-join (guard detects at ~cap, not cap/2)") {
    import spark.implicits._
    // one bucket at 0.6 x cap: the sampled guard (10% sample, flag at
    // cap x 0.1) must NOT star-link it — the pre-fix threshold (cap x 0.1/2)
    // flagged from ~cap/2 up and silently broke the documented
    // "within maxBucketSize = exact self-join" contract
    val df = (0L until 120L)
      .map(i => (i, "the same boilerplate page body repeated verbatim across the crawl"))
      .toDF("doc_id", "text").repartition(4)
    val capped = Dedup.minHashCandidatePairs(df, "doc_id", "text", maxBucketSize = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.minHashCandidatePairs(df, "doc_id", "text", maxBucketSize = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.size == 120 * 119 / 2, s"under-cap bucket was star-linked: ${capped.size} pairs")
    assert(capped == uncapped)
  }

  test("dedupSpans returns all-empty docs with n_kept = 0 instead of dropping them") {
    import spark.implicits._
    val df = Seq((1L, "alpha span. beta span"), (2L, "  . .  "), (3L, ""))
      .toDF("doc_id", "text")
    val out = Dedup.dedupSpans(df, "doc_id", "text").orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L),
      "every input doc must appear exactly once")
    for (i <- Seq(1, 2)) {
      assert(out(i).getString(1) == "")
      assert(out(i).getLong(2) == 0L && out(i).getLong(3) == 0L)
    }
    assert(out(0).getLong(2) == 2L)
  }

  test("capped and uncapped candidates agree when no bucket is hot") {
    // On the real corpus no bucket is near the default cap, so the guard must
    // be a no-op — this is what keeps the dedup_minhash gate hash-green.
    val capped = Dedup.minHashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.minHashCandidatePairs(docs, "doc_id", "text",
        maxBucketSize = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped)
  }

  test("embedding hot-bucket guard stays linear and keeps connectivity") {
    import spark.implicits._
    // 500 identical vectors all but guarantee one degenerate LSH bucket; the
    // guard must star-link it (linear pairs) with the representative's vector
    // re-attached executor-side (the collected hot-bucket metadata carries
    // keys + rep id only — no payload rides through the driver).
    val same = (0L until 500L).map(i => (i, Array(1.0f, 0.5f, -0.25f, 0.125f)))
    val other = (500L until 510L).map(i =>
      (i, Array(-1.0f + i * 0.01f, 2.0f, 0.5f - i * 0.02f, -0.75f)))
    val df = (same ++ other).toDF("vec_id", "embedding").repartition(8)
    val dup = Dedup.embeddingDuplicates(df, "vec_id", "embedding",
      threshold = 0.99, bits = 4, tables = 2, maxBucketSize = 64)
    val pairs = dup.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length < 2500, s"hot embedding bucket must not go quadratic: ${pairs.length}")
    val members = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert((0L until 500L).forall(members.contains),
      s"all identical vectors must appear in a duplicate pair, got ${members.size}")
    // verified pairs carry true cosine (the rep payload survived the re-attach)
    assert(dup.agg(min(col("cosine"))).head.getDouble(0) >= 0.99)
  }

  test("duplicateGroups runs one Spark job per propagation round") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b").localCheckpoint(true) // isolate dedup's own jobs
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    // AQE runs each query stage as its own job — pin it off so jobs == actions
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Dedup.duplicateGroups(pairs, maxIter = 20)
      // listener events are async: wait until the counter stops moving
      var last = -1
      var spins = 0
      while (counter.get() != last && spins < 50) {
        last = counter.get(); Thread.sleep(100); spins += 1
      }
      // chain diameter 4 -> converges in <= 5 rounds; with the convergence
      // check fused into the checkpoint-materializing count each round is ONE
      // action (the broadcast-exchange build inside the join submits its own
      // small job, so <= 3 jobs/round even with AQE off). The old join-based
      // isEmpty was a SECOND action per round with its own broadcast builds
      // (~2x this total) — the bound catches that shape coming back.
      assert(counter.get() <= 17, s"expected <= 2 setup + <= 3 jobs x 5 rounds, got ${counter.get()}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("duplicateGroups surfaces maxIter exhaustion") {
    import spark.implicits._
    // a 6-node chain cannot converge in one round
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.duplicateGroups(pairs, maxIter = 1, requireConvergence = true)
    }
    // default (warn) mode still returns the partially-merged labels
    val partial = Dedup.duplicateGroups(pairs, maxIter = 1)
    assert(partial.count() == 6)
  }

  test("duplicateGroupsStar matches min-label on random graphs and beats it on diameter") {
    import spark.implicits._
    // random graphs: both algorithms must produce identical components
    val rnd = new scala.util.Random(17)
    for (trial <- 0 until 3) {
      val n = 60
      val pairs = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2).distinct
        .toDF("id_a", "id_b")
      val a = Dedup.duplicateGroups(pairs, maxIter = 80)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val b = Dedup.duplicateGroupsStar(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(a == b, s"trial $trial: star labels must equal min-label labels")
    }
    // a 300-hop chain: min-label needs ~300 rounds (diameter-bound) — 15
    // rounds leave it partially merged; the alternating algorithm closes
    // the whole chain in O(log n) rounds under the same budget
    val chain = (0L until 300L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b")
    val starLabels = Dedup.duplicateGroupsStar(chain, maxIter = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(starLabels.length == 300 && starLabels.forall(_._2 == 0L),
      "the whole chain must collapse to component 0 within 15 rounds")
    val minLabelPartial = Dedup.duplicateGroups(chain, maxIter = 15, strategy = "minLabel")
      .collect().map(_.getLong(1)).distinct
    assert(minLabelPartial.length > 1,
      "min-label at the same round budget must still be partially merged " +
        "(otherwise the star variant buys nothing)")
  }

  test("auto strategy: adaptive hand-off to star once the decay flattens") {
    import spark.implicits._
    // 120-hop chain: min-label alone needs ~120 rounds, and its changed
    // count flattens immediately (one hop per round) — auto detects the
    // stalled decay after 2 rounds, contracts through the partial labels,
    // and star finishes in O(log n): full convergence well under
    // maxIter=20, without burning the whole fixed budget first
    val chain = (0L until 120L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b")
    val rounds = new java.util.concurrent.atomic.AtomicInteger(0)
    val decay = scala.collection.mutable.ArrayBuffer.empty[Long]
    val labels = Dedup.duplicateGroups(chain, maxIter = 20,
      requireConvergence = true, roundsOut = Some(rounds),
      changedOut = Some(decay))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 120 && labels.forall(_._2 == 0L),
      "auto must fully collapse the chain to component 0")
    assert(decay.length == 2,
      s"flat decay must hand off after 2 min-label rounds, got $decay")
    assert(rounds.get() > 2 && rounds.get() < 20,
      s"expected 2 min-label + O(log n) star rounds, got ${rounds.get()}")
    // a graph that converges INSIDE the budget never pays star's premium
    val clique = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val r2 = new java.util.concurrent.atomic.AtomicInteger(0)
    val cliqueLabels = Dedup.duplicateGroups(clique, roundsOut = Some(r2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(r2.get() <= 3, s"clique must converge within the min-label budget, got ${r2.get()}")
    assert(cliqueLabels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("ngramContainment: asymmetric overlap — a contained doc scores 1.0 where jaccard dilutes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),                                  // short doc
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // superset of 1
      (3L, "completely different words entirely here")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val rows = Dedup.ngramContainment(pairs, docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    val (c12, j12) = rows((1L, 2L))
    assert(c12 == 1.0, s"doc 1's shingles are all inside doc 2: containment must be 1.0, got $c12")
    assert(j12 < 0.5, s"jaccard must dilute on the asymmetric pair, got $j12")
    val (c13, _) = rows((1L, 3L))
    assert(c13 == 0.0, "disjoint docs contain nothing")
    // containment >= jaccard always (same numerator, |A| <= |A u B|)
    rows.values.foreach { case (c, j) => assert(c >= j) }
  }

  test("auto strategy: adversarial ~halving decay (balanced binary tree) stays bounded") {
    import spark.implicits._
    // A balanced binary tree is the adversarial decay curve for the
    // hand-off rule: its changed count decays by roughly HALF each round,
    // which is exactly the boundary the rule tests (`changed * 2 >
    // prevChanged` => hand off) — so min-label may legitimately ride to
    // the budget cap without ever tripping the stall detector. This pin
    // holds the CONTRACT the rule must keep on that curve: the budget cap
    // (autoRoundBudget, default 6) stays a hard bound on min-label rounds,
    // the post-budget contraction + star pass closes the rest, total
    // rounds stay well under a diameter-bound loop (depth-9 tree =>
    // min-label alone would need ~9+ rounds), and the labels are exact.
    // If a future tuning change lets near-halving curves burn past the
    // budget (or break convergence), this fails loudly.
    val n = 1023 // depth 9, component min = 0
    val tree = (1 until n).map(i => ((i - 1) / 2).toLong -> i.toLong)
      .toDF("id_a", "id_b")
    val rounds = new java.util.concurrent.atomic.AtomicInteger(0)
    val decay = scala.collection.mutable.ArrayBuffer.empty[Long]
    val labels = Dedup.duplicateGroups(tree, maxIter = 20,
      requireConvergence = true, roundsOut = Some(rounds),
      changedOut = Some(decay))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == n && labels.forall(_._2 == 0L),
      "tree must fully collapse to component 0")
    assert(decay.length <= 6,
      s"min-label rounds must respect the auto budget on a halving decay curve, got $decay")
    assert(rounds.get() < 20,
      s"budget + star must close a depth-9 tree well under maxIter, got ${rounds.get()}")
  }

  test("duplicateGroupsStar runs one action per round") {
    import spark.implicits._
    val chain = (0L until 64L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b").localCheckpoint(true) // isolate the loop's own actions
    // count ACTIONS, not jobs — broadcast-exchange builds inside a single
    // action submit their own jobs, so job counts measure the join
    // strategy, not the loop structure
    // a lazy checkpoint fires a job-less "checkpoint" event, so count only
    // the JOB-RUNNING actions (count / isEmpty) the loop submits
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "count" || funcName == "isEmpty") counter.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    // this pins the DISTRIBUTED loop structure — a 64-edge graph would
    // otherwise take the driver star hatch and submit no counting actions
    spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
    try {
      val rounds = new java.util.concurrent.atomic.AtomicInteger(0)
      Dedup.duplicateGroupsStar(chain, roundsOut = Some(rounds))
      // listener delivery is async: wait until the counter stops moving
      var last = -1
      var spins = 0
      while (counter.get() != last && spins < 50) {
        last = counter.get(); Thread.sleep(100); spins += 1
      }
      // the fixpoint check is fused into the checkpoint-materializing
      // structural count: exactly 1 per round. The old shape (count +
      // count + anti-join isEmpty) was 3 per round.
      assert(counter.get() == rounds.get(),
        s"expected 1 counting action x ${rounds.get()} rounds, got ${counter.get()}")
    } finally {
      spark.conf.unset("spark.graft.cc.driverMaxEdges")
      spark.listenerManager.unregister(ql)
    }
  }

  test("star fixpoint check is structural: join-free, one exchange, detected on the producing round") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // r18 (guide §1/§2.4 — the CC gates are serial-job-bound): the per-round
    // fixpoint test is STRUCTURAL star-forest detection on the round's own
    // output (no child with two parents, no parent that is itself a child),
    // replacing the r13–r17 set-equality marker join. Two properties pinned:
    //  (a) convergence is detected on the round that PRODUCES the star
    //      forest — the marker join could only observe a fixpoint by paying
    //      the NEXT round's full transform to compare against. A 3-node path
    //      becomes a star forest in one transform, so exactly 1 round.
    //  (b) the per-round counting plan is JOIN-FREE and carries at most ONE
    //      wide exchange (the node-aggregate's); the old shape read both the
    //      new and the previous checkpoint through a full-outer join.
    // pin the DISTRIBUTED loop (tiny graphs otherwise take the driver star
    // hatch, whose equivalence has its own pin below)
    spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
    val path3 = Seq((1L, 0L), (2L, 1L)).toDF("id_a", "id_b").localCheckpoint(true)
    val r1 = new java.util.concurrent.atomic.AtomicInteger(0)
    val labels = Dedup.duplicateGroupsStar(path3, roundsOut = Some(r1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels == Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
    assert(r1.get() == 1,
      s"structural check must converge on the producing round (1 for a 3-node path), got ${r1.get()}")
    // the driver star hatch must agree on labels AND round count
    spark.conf.unset("spark.graft.cc.driverMaxEdges")
    val rh = new java.util.concurrent.atomic.AtomicInteger(0)
    val hatchLabels = Dedup.duplicateGroupsStar(path3, roundsOut = Some(rh))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hatchLabels == labels && rh.get() == r1.get(),
      s"driver star hatch diverged: labels=$hatchLabels rounds=${rh.get()}")
    spark.conf.set("spark.graft.cc.driverMaxEdges", "0")

    val chain = (0L until 48L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b").localCheckpoint(true)
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.execution.SparkPlan]())
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "count") plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    // AQE re-plans stages and hides the static exchange count; the shape
    // property under test is the static planner's
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.listenerManager.register(ql)
    try {
      Dedup.duplicateGroupsStar(chain)
      var last = -1
      var spins = 0
      while (plans.size() != last && spins < 50) {
        last = plans.size(); Thread.sleep(100); spins += 1
      }
      val rounds = plans.asScala.filter(_.toString.contains("Generate explode"))
      assert(rounds.nonEmpty, "no structural fixpoint-check count plan captured")
      rounds.foreach { p =>
        val joins = p.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }
        assert(joins.isEmpty,
          s"the structural fixpoint check must be join-free — found ${joins.size} join(s) in:\n$p")
        // the count's own SinglePartition collapse is inherent to any global
        // aggregate; beyond it only the node-aggregate's single exchange may
        // appear (a second wide exchange would mean the check re-shuffles)
        val ex = p.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if !e.outputPartitioning
                .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.SinglePartition.type] => e
        }
        assert(ex.size <= 1,
          s"structural fixpoint check must shuffle only the node aggregate — " +
            s"found ${ex.size} wide exchange(s) in:\n$p")
      }
    } finally {
      spark.conf.unset("spark.graft.cc.driverMaxEdges")
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.listenerManager.unregister(ql)
    }
  }

  test("exact-collapse: pairs and groups identical to the uncollapsed composition on a cliquey corpus") {
    // Replicate the documents corpus 4x with key-shifted ids but VERBATIM
    // text — the high-SF bench shape whose exact-dup cliques made the
    // uncollapsed pipeline quadratic. The collapsed minHashDuplicates /
    // minHashDuplicateGroups must reproduce the uncollapsed outputs
    // EXACTLY (pair set, scores, group labels).
    import spark.implicits._
    val base = docs.select(col("doc_id"), col("text")).where(col("doc_id") < 120)
    val off = 100000L
    val cliquey = (0 until 4).map(k =>
      base.select((col("doc_id") + lit(k * off)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)

    // uncollapsed reference: candidate pairs + verify, straight composition
    val cand = Dedup.minHashCandidatePairs(cliquey, "doc_id", "text")
      .localCheckpoint(true)
    val refPairs = Dedup.ngramJaccard(cand, cliquey, "doc_id", "text")
      .where(col("jaccard") >= 0.7)
    val refSet = refPairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet

    val gotPairs = Dedup.minHashDuplicates(cliquey, "doc_id", "text", threshold = 0.7)
    val gotSet = gotPairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
    assert(gotSet == refSet,
      s"collapsed pairs diverge: got=${gotSet.size} ref=${refSet.size} " +
        s"onlyGot=${(gotSet -- refSet).take(3)} onlyRef=${(refSet -- gotSet).take(3)}")

    val refGroups = Dedup.duplicateGroups(refPairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotGroups = Dedup.minHashDuplicateGroups(cliquey, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotGroups == refGroups,
      s"collapsed groups diverge: got=${gotGroups.size} ref=${refGroups.size}")

    // star strategy too (the wide-graph scale path)
    val gotStar = Dedup.minHashDuplicateGroups(cliquey, "doc_id", "text",
      threshold = 0.7, strategy = "star", maxIter = 35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotStar == refGroups, "star-strategy fused groups diverge")
  }

  test("simhash exact-collapse: groups identical to the uncollapsed composition on a cliquey corpus") {
    // Same cliquey shape as the minhash collapse pin: 4x verbatim-replicated
    // docs. simHashDuplicateGroups (collapse-first) must equal
    // duplicateGroups(simHashDuplicates(...)) exactly — simhash is a
    // function of the token multiset, so exact dups share a simhash.
    val base = docs.select(col("doc_id"), col("text")).where(col("doc_id") < 120)
    val off = 100000L
    val cliquey = (0 until 4).map(k =>
      base.select((col("doc_id") + lit(k * off)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
    val refGroups = Dedup.duplicateGroups(
        Dedup.simHashDuplicates(cliquey, "doc_id", "text", maxHamming = 4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotGroups = Dedup.simHashDuplicateGroups(cliquey, "doc_id", "text", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotGroups == refGroups,
      s"collapsed simhash groups diverge: got=${gotGroups.size} ref=${refGroups.size}")
    // star strategy too
    val gotStar = Dedup.simHashDuplicateGroups(cliquey, "doc_id", "text",
      maxHamming = 4, strategy = "star", maxIter = 35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotStar == refGroups, "star-strategy collapsed simhash groups diverge")
  }

  test("incremental ingest exact-collapse: identical to the uncollapsed composition on a cliquey corpus") {
    // both sides carry verbatim exact-dup cliques (the high-SF bench shape);
    // the collapsed incrementalDedup must return EXACTLY the id set of the
    // uncollapsed composition (hash anti-join + member-level near stage)
    val base = docs.select(col("doc_id"), col("text")).where(col("doc_id") < 200)
    val off = 100000L // even offset: copies keep parity, like the sf fixtures
    val cliquey = (0 until 4).map(k =>
      base.select((col("doc_id") + lit(k * off)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
    val corpus = cliquey.where(col("doc_id") % 2 === 0)
    val batch = cliquey.where(col("doc_id") % 2 === 1)
    val corpusHashes = corpus.select(Dedup.normTextHash("text").as("__h")).distinct()
    val survivors = batch.withColumn("__h", Dedup.normTextHash("text"))
      .join(corpusHashes, Seq("__h"), "left_anti").drop("__h")
    val near = Dedup.incrementalMinHash(corpus, survivors, "doc_id", "text",
        threshold = 0.7).select(col("id_new").as("doc_id")).distinct()
    val ref = survivors.join(near, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = Dedup.incrementalDedup(corpus, batch, "doc_id", "text", threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == ref,
      s"collapsed ingest diverges: got=${got.size} ref=${ref.size} " +
        s"onlyGot=${(got -- ref).take(3)} onlyRef=${(ref -- got).take(3)}")
  }

  test("minHashDuplicates caps oversized exact cliques to star pairs (bounded output, same groups)") {
    import spark.implicits._
    // one exact clique of 12 identical texts (over the cap of 5), one small
    // clique of 3 (under the cap), and a near-dup partner of the big clique
    val bigText = "the quick brown fox jumps over the lazy dog again and again tonight"
    val nearText = "the quick brown fox jumps over the lazy dog again and again today"
    val smallText = "an entirely different document about spark shuffles and partitions"
    val rows = (1L to 12L).map(i => (i, bigText)) ++
      Seq((50L, nearText)) ++ (60L to 62L).map(i => (i, smallText))
    val df = rows.toDF("doc_id", "text")
    val capped = Dedup.minHashDuplicates(df, "doc_id", "text",
      threshold = 0.5, maxBucketSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // intra pairs of the 12-clique degrade to rep(1) -> member star links
    val bigIntra = capped.filter { case (a, b) => a <= 12 && b <= 12 }
    assert(bigIntra == (2L to 12L).map(m => (1L, m)).toSet,
      s"oversized clique must star-link through its rep: $bigIntra")
    // cross pairs to the near-dup partner ride the rep only
    val cross = capped.filter { case (a, b) => b == 50L || a == 50L }
    assert(cross == Set((1L, 50L)), s"cross pairs must carry the rep only: $cross")
    // the under-cap clique keeps its full expansion
    val smallIntra = capped.filter { case (a, b) => a >= 60 && b >= 60 }
    assert(smallIntra == Set((60L, 61L), (60L, 62L), (61L, 62L)))
    // connectivity is preserved exactly: groups equal the uncapped answer
    val refGroups = Dedup.duplicateGroups(
        Dedup.minHashDuplicates(df, "doc_id", "text", threshold = 0.5,
          maxBucketSize = Int.MaxValue).select("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotGroups = Dedup.minHashDuplicateGroups(df, "doc_id", "text",
      threshold = 0.5, maxBucketSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotGroups == refGroups,
      s"capped groups diverge: got=$gotGroups ref=$refGroups")
  }

  test("duplicateGroups resolves chains and separate components") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter forces multiple propagation rounds),
    // triangle 10-11-12, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("id_a", "id_b")
    val groups = Dedup.duplicateGroups(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(groups(_) == 1L))
    assert((10L to 12L).forall(groups(_) == 10L))
    assert(groups(20L) == 20L && groups(21L) == 20L)
    assert(groups.size == 10)
  }

  test("span dedup keeps first occurrence corpus-wide, reassembles in order") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta. gamma delta. epsilon"),
      (2L, "gamma delta. zeta eta. alpha beta"), // both dups came first in doc 1
      (3L, "zeta eta")                           // dup of doc 2's middle span
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("alpha beta. gamma delta. epsilon", 3L, 3L)))
    assert(out(2L) == (("zeta eta", 1L, 3L)))
    assert(out(3L) == (("", 0L, 1L)))
  }

  test("pii scrubbing replaces all categories and counts them") {
    import spark.implicits._
    import graft.functions.{TextFunctions => TF}
    val df = Seq(
      (1L, "reach me at jane.doe+spam@corp.example.org or 555-123-4567, host 10.1.2.3, ssn 123-45-6789"),
      (2L, "no pii here at all")).toDF("id", "text")
    val counts = TF.piiCounts(col("text"))
    val out = df.select(col("id"), TF.scrubPii(col("text")).as("s"),
        counts(0).as("e"), counts(1).as("ssn"), counts(2).as("ip"), counts(3).as("ph"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val s1 = out(1L).getString(1)
    assert(s1.contains("<EMAIL>") && s1.contains("<PHONE>") && s1.contains("<IP>") && s1.contains("<SSN>"))
    assert(!s1.contains("jane.doe") && !s1.contains("555-123-4567") &&
      !s1.contains("10.1.2.3") && !s1.contains("123-45-6789"))
    assert(out(1L).getInt(2) == 1 && out(1L).getInt(3) == 1 &&
      out(1L).getInt(4) == 1 && out(1L).getInt(5) == 1)
    assert(out(2L).getString(1) == "no pii here at all")
    assert(out(2L).getInt(2) == 0 && out(2L).getInt(5) == 0)
  }

  test("url host extraction and blocklist filtering") {
    import spark.implicits._
    import graft.functions.{TextFunctions => TF}
    val df = Seq(
      (1L, "read https://WWW.Example.COM/a and https://example.com/b plus http://cdn.net/x"),
      (2L, "no links here"),
      (3L, "see https://bad-site.org/page")).toDF("id", "text")
    val hosts = df.select(col("id"), TF.urlHosts(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(hosts(1L) == Seq("example.com", "cdn.net")) // lowercased, www-stripped, deduped
    assert(hosts(2L).isEmpty)
    val blocked = TF.blocklistedDocs(df, "id", "text", Seq("Bad-Site.org", "cdn.net"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(blocked.keySet == Set(1L, 3L))
    assert(blocked(3L) == Seq("bad-site.org"))
    val stats = TF.domainStats(df, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats == Map("example.com" -> 1L, "cdn.net" -> 1L, "bad-site.org" -> 1L))
  }

  // ---- pipeline-level keepBest: cluster switches plumbed end-to-end ----

  // sliding 30-token windows over a 36-token vocabulary: adjacent docs share
  // 25 of 31 distinct 3-shingles (J ~ 0.81 >= 0.7) while the ends share only
  // 22 of 34 (J ~ 0.65 < 0.7) — a genuine 3-node CHAIN, so min-label
  // propagation needs 2 rounds and maxIter=1 provably cannot converge
  private def chainDocs = {
    import spark.implicits._
    def window(from: Int) = (from until from + 30).map(i => s"tok$i").mkString(" ")
    Seq(
      (1L, window(1), 0.5), (2L, window(4), 0.9), (3L, window(7), 0.7),
      (4L, "entirely different content with no shared shingles at all here", 0.1))
      .toDF("doc_id", "text", "q")
  }

  test("keepBest keeps the highest-quality member per group, singletons keep themselves") {
    val out = Dedup.keepBest(chainDocs, "doc_id", "text", col("q"), threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // chain 1-2-3 resolves to group 1, doc 2 wins on quality; doc 4 is a singleton
    assert(out == Set((1L, 2L, 0.9), (4L, 4L, 0.1)))
  }

  test("keepBest(requireConvergence=true) throws end-to-end when maxIter is too small") {
    val e = intercept[IllegalStateException] {
      Dedup.keepBest(chainDocs, "doc_id", "text", col("q"), threshold = 0.7,
        maxIter = 1, requireConvergence = true).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // default mode returns partially-merged labels instead of throwing
    val lax = Dedup.keepBest(chainDocs, "doc_id", "text", col("q"), threshold = 0.7,
      maxIter = 1).collect()
    assert(lax.nonEmpty)
  }

  test("keepBest(reliableCheckpoint=true) demands a checkpoint dir, then matches the local path") {
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val e = intercept[IllegalArgumentException] {
        Dedup.keepBest(chainDocs, "doc_id", "text", col("q"), reliableCheckpoint = true)
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    val local = Dedup.keepBest(chainDocs, "doc_id", "text", col("q"))
      .collect().map(_.toString).sorted.toSeq
    val reliable = Dedup.keepBest(chainDocs, "doc_id", "text", col("q"), reliableCheckpoint = true)
      .collect().map(_.toString).sorted.toSeq
    assert(reliable == local)
  }

  // ---- incremental ingest dedup: new batch vs existing corpus ----

  test("incrementalDedup drops exact and near matches against the corpus, keeps unique docs") {
    import spark.implicits._
    def window(from: Int, n: Int) = (from until from + n).map(i => s"tok$i").mkString(" ")
    val corpus = Seq((2L, window(1, 30)), (4L, window(100, 30))).toDF("doc_id", "text")
    val fresh = Seq(
      (11L, window(2, 30)),   // near-dup of corpus doc 2 (J ~ 0.93)
      (13L, window(100, 30)), // exact copy of corpus doc 4
      (15L, window(500, 30))) // unique
      .toDF("doc_id", "text")
    val pairs = Dedup.incrementalMinHash(corpus, fresh, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((11L, 2L)), s"cross-side near-dup pair missing: $pairs")
    assert(!pairs.exists { case (n, c) => n == 15L || c == 4L && n == 11L }, pairs.toString)
    val out = Dedup.incrementalDedup(corpus, fresh, "doc_id", "text", threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(15L), s"survivors: $out")
  }

  test("incremental hot-bucket guard still convicts new docs via the bucket representative") {
    import spark.implicits._
    def window(from: Int, n: Int) = (from until from + n).map(i => s"tok$i").mkString(" ")
    // 300 identical corpus docs: every band bucket is hot at cap 100, so the
    // corpus side degrades to its sample-min representative — one witness is
    // enough to convict the near-dup, and the unique doc still survives
    val corpus = (0L until 300L).map(i => (i, window(1, 30))).toDF("doc_id", "text")
    val fresh = Seq((1001L, window(2, 30)), (1002L, window(500, 30))).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(corpus, fresh, "doc_id", "text",
        threshold = 0.7, maxBucketSize = 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1002L), s"survivors: $out")
  }

  test("prebuilt ingest index matches the direct operator and survives persistence") {
    val d = QueryPack.t(spark, sf("sf0.001"), "documents")
    val corpus = d.where(col("doc_id") % 2 === 0)
    val fresh = d.where(col("doc_id") % 2 === 1)
    val direct = Dedup.incrementalDedup(corpus, fresh, "doc_id", "text", threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val index = Dedup.ingestIndexBuild(corpus, "doc_id", "text")
    val viaIndex = Dedup.incrementalDedup(index, corpus, fresh, "doc_id", "text", 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaIndex == direct)
    // persistence round-trip: both tables through parquet, same survivors
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-idx").toString
    index.hashes.write.mode("overwrite").parquet(s"$dir/hashes")
    index.banded.write.mode("overwrite").parquet(s"$dir/banded")
    val rehydrated = Dedup.ingestIndexFrom(3, 128, 32,
      spark.read.parquet(s"$dir/hashes"), spark.read.parquet(s"$dir/banded"))
    val viaDisk = Dedup.incrementalDedup(rehydrated, corpus, fresh, "doc_id", "text", 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaDisk == direct)
  }

  test("bloom prefilter is exactness-preserving at any fpp, including degenerate filters") {
    val d = QueryPack.t(spark, sf("sf0.001"), "documents")
    val corpus = d.where(col("doc_id") % 3 === 0)
    val fresh = d.where(col("doc_id") % 3 =!= 0)
    val index = Dedup.ingestIndexBuild(corpus, "doc_id", "text")
    val plain = Dedup.incrementalDedup(index, corpus, fresh, "doc_id", "text", 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // default fpp and a near-useless 50% fpp must both match: false
    // positives only route rows into the exact lookup, never change results
    for (fpp <- Seq(0.01, 0.5)) {
      val bloom = Dedup.ingestBloomBuild(index, fpp)
      val out = Dedup.incrementalDedup(index, corpus, fresh, "doc_id", "text", 0.7,
          bloom = Some(bloom))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(out == plain, s"fpp=$fpp diverged from the anti-join path")
    }
    // empty corpus: everything is definite-new through the bloom
    import spark.implicits._
    val emptyIdx = Dedup.ingestIndexBuild(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    val emptyBloom = Dedup.ingestBloomBuild(emptyIdx)
    val batch = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta")).toDF("doc_id", "text")
    val survivors = Dedup.incrementalDedup(emptyIdx,
        Seq.empty[(Long, String)].toDF("doc_id", "text"), batch,
        "doc_id", "text", 0.7, bloom = Some(emptyBloom))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 2L))
  }

  test("GATE CONFIG: incremental embedding pairs equal brute-force cross-side cosine") {
    // odd/even split of the sf0.01 embeddings at the measured-complete
    // bits=5 x tables=20 config — the ground truth behind dedup_embedding_inc
    val e01 = QueryPack.t(spark, sf("sf0.01"), "embeddings")
    val vecs = e01.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
    }
    val exact = (for {
      (in, vn) <- vecs if in % 2 == 1
      (ic, vc) <- vecs if ic % 2 == 0
      if cos(vn, vc) >= 0.45
    } yield (in, ic)).toSet
    val lsh = Dedup.incrementalEmbedding(
        e01.where(col("vec_id") % 2 === 0), e01.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", threshold = 0.45, bits = 5, tables = 20)
      .select("id_new", "id_corpus").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"cross-side embedding dedup must be complete: lsh=${lsh.size} exact=${exact.size}")
  }

  test("incremental embedding hot-bucket guard convicts via the representative") {
    import spark.implicits._
    // 300 identical corpus vectors: every (table, bucket) is hot at cap 100,
    // so the corpus side reduces to its sample-min representative; a
    // near-identical new vector is still convicted through it, while an
    // orthogonal one survives
    val base = Array(1.0f, 0.0f, 0.5f, 0.25f)
    val corpus = (0L until 300L).map(i => (i, base)).toDF("vec_id", "embedding")
    val fresh = Seq(
      (1001L, Array(0.99f, 0.01f, 0.5f, 0.25f)), // cosine ~ 1 vs base
      (1002L, Array(0.0f, 1.0f, 0.0f, 0.0f)))    // near-orthogonal
      .toDF("vec_id", "embedding")
    val pairs = Dedup.incrementalEmbedding(corpus, fresh, "vec_id", "embedding",
        threshold = 0.9, bits = 4, tables = 4, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty && pairs.forall(_._1 == 1001L), s"pairs: $pairs")
  }

  test("incrementalDedup is idempotent: survivors re-checked against the corpus all survive") {
    val d = QueryPack.t(spark, sf("sf0.001"), "documents")
    val corpus = d.where(col("doc_id") % 2 === 0)
    val fresh = d.where(col("doc_id") % 2 === 1)
    val survivors = Dedup.incrementalDedup(corpus, fresh, "doc_id", "text", threshold = 0.7)
      .localCheckpoint(true)
    val again = Dedup.incrementalDedup(corpus, survivors, "doc_id", "text", threshold = 0.7)
    assert(again.select("doc_id").collect().map(_.getLong(0)).toSet ==
      survivors.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("ingest index exact-collapses cliques at build; batch convictions unchanged") {
    import spark.implicits._
    def window(from: Int, n: Int) = (from until from + n).map(i => s"tok$i").mkString(" ")
    // 300 IDENTICAL docs: r16 bands one rep per distinct text, so the
    // banded table holds exactly ONE row per (band, bucket) — the exact
    // clique never reaches the hot-bucket machinery at all (strictly less
    // index than the old member-level witnesses), and a near-dup batch doc
    // is still convicted through the rep's text
    val corpus = (0L until 300L).map(i => (i, window(1, 30))).toDF("doc_id", "text")
    val index = Dedup.ingestIndexBuild(corpus, "doc_id", "text", maxBucketSize = 100)
    val perBucket = index.banded.groupBy("band", "bucket").count()
      .agg(max("count")).head().getLong(0)
    assert(perBucket == 1L, s"exact clique must collapse to one rep: $perBucket rows/bucket")
    assert(index.banded.agg(max("id")).head().getLong(0) == 0L,
      "the rep must be the min id")
    val fresh = Seq((1001L, window(2, 30)), (1002L, window(500, 30))).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(index, corpus, fresh, "doc_id", "text", 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1002L), s"survivors: $out")
  }

  test("ingest index reduces DISTINCT-text hot buckets to witnesses, witnesses convict") {
    import spark.implicits._
    def window(from: Int, n: Int) = (from until from + n).map(i => s"tok$i").mkString(" ")
    // 300 DISTINCT texts sharing a 30-token window (one unique trailing
    // token each): ~28 of 29 shingles shared, so most bands' min-hash comes
    // from the shared set and the bucket holds most of the corpus — hot
    // through genuinely distinct texts, the regime the build-time witness
    // reduction exists for post-collapse
    val corpus = (0L until 300L).map(i => (i, window(1, 30) + s" uniq$i"))
      .toDF("doc_id", "text")
    val index = Dedup.ingestIndexBuild(corpus, "doc_id", "text", maxBucketSize = 100)
    val counts = index.banded.groupBy("band", "bucket").count()
      .select("count").collect().map(_.getLong(0))
    assert(counts.max == Dedup.HotBucketWitnesses.toLong,
      s"hot buckets not reduced to witnesses: max rows/bucket = ${counts.max}")
    assert(counts.count(_ == Dedup.HotBucketWitnesses.toLong) >= 16,
      "most bands should carry one reduced hot bucket on this corpus")
    // a batch doc overlapping the shared window is convicted by a witness;
    // an unrelated doc survives
    val fresh = Seq((1001L, window(2, 30)), (1002L, window(500, 30))).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(index, corpus, fresh, "doc_id", "text", 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1002L), s"survivors: $out")
  }

  test("auto CC routes star-first past the edge threshold; labels identical either way") {
    import spark.implicits._
    // chain + clique + singleton-pair mix; symmetric closure = 2x pairs
    val pairs = (0L until 50L).map(i => (i, i + 1)) ++ // 51-node chain
      (for (a <- 100L to 104L; b <- (a + 1) to 104L) yield (a, b)) ++ // clique
      Seq((200L, 201L))
    val pdf = pairs.toDF("id_a", "id_b")
    val minLabel = Dedup.duplicateGroups(pdf, maxIter = 60, strategy = "minLabel")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rounds = new java.util.concurrent.atomic.AtomicInteger(0)
    // threshold 1: the 61-canonical-edge frame exceeds it, so auto must
    // route star-first — O(log n) rounds instead of ~50 label-propagation
    // hops
    val starFirst = Dedup.duplicateGroups(pdf, maxIter = 60, strategy = "auto",
        roundsOut = Some(rounds), autoStarEdgeThreshold = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(starFirst == minLabel, s"star-first labels diverged")
    assert(rounds.get() > 0 && rounds.get() < 12,
      s"expected O(log n) star rounds, got ${rounds.get()} — did the route not take?")
    // default threshold: this tiny graph stays minLabel-first and converges
    val auto = Dedup.duplicateGroups(pdf, maxIter = 60, strategy = "auto")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == minLabel)
  }

  test("memberIds: rep-level flags expand to the member-level conviction set on a cap-trip corpus") {
    import spark.implicits._
    def window(from: Int, n: Int) = (from until from + n).map(i => s"tok$i").mkString(" ")
    // 300-member exact clique (member-level banding would trip any cap
    // <= 300) + 40 unrelated distinct docs; the batch doc near-dups the
    // clique text, so the MEMBER-level flag set is the whole clique
    val corpus = ((0L until 300L).map(i => (i, window(1, 30))) ++
      (300L until 340L).map(i => (i, window(1000 + 40 * i.toInt, 30)))).toDF("doc_id", "text")
    val batch = Seq((9001L, window(2, 30))).toDF("doc_id", "text")
    // rep-level flags, as the rep-level index surfaces produce them: verified
    // ingest pairs against one rep per distinct text name only rep ids
    val reps = Dedup.exactDedup(corpus, "doc_id", "text")
    val flagged = Dedup.incrementalMinHash(reps, batch, "doc_id", "text",
      threshold = 0.7, maxBucketSize = 100)
    assert(flagged.select("id_corpus").collect().map(_.getLong(0)).toSet == Set(0L),
      "rep-level pairs must name only the clique rep")
    // the helper recovers the full member-level set through normTextHash
    val got = Dedup.memberIds(corpus, flagged, "doc_id", "text", repCol = "id_corpus")
      .collect().map(_.getLong(0)).toSet
    assert(got == (0L until 300L).toSet, s"got ${got.size} members")
    // and the wrong-key join the helper replaces would return just the rep
    assert(corpus.join(flagged.select(col("id_corpus").as("doc_id")), Seq("doc_id"), "left_semi")
      .count() == 1L)
  }

  test("memberIds equals the hand-rolled normalized-text join on randomized corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(4217)
    val words = Vector("alpha", "beta", "Gamma", "delta ", " epsilon", "zeta")
    for (trial <- 1 to 3) {
      // random corpus with engineered collisions: texts drawn from a small
      // word pool so whitespace/case-normalizing cliques arise by chance
      val corpus = (0L until 120L).map { i =>
        val n = 1 + rnd.nextInt(4)
        (i, Seq.fill(n)(words(rnd.nextInt(words.size))).mkString("  "))
      }
      val flags = (0 until 15).map(_ => rnd.nextLong().abs % 120L)
      val cdf = corpus.toDF("doc_id", "text")
      val got = Dedup.memberIds(cdf, flags.toDF("doc_id"), "doc_id", "text")
        .collect().map(_.getLong(0)).toSet
      // oracle: normalize driver-side exactly like T.normText (trim,
      // lowercase, whitespace collapse), expand flags through text equality
      def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
      val byNorm = corpus.groupBy { case (_, t) => norm(t) }
      val flaggedNorms = corpus.filter { case (id, _) => flags.contains(id) }
        .map { case (_, t) => norm(t) }.toSet
      val expected = byNorm.filter { case (n, _) => flaggedNorms.contains(n) }
        .values.flatten.map(_._1).toSet
      assert(got == expected, s"trial $trial: got ${got.size} expected ${expected.size}")
    }
  }

  test("memberIds tolerates duplicate rep ids, a custom rep column, and null texts") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val flags = Seq(1L, 1L, 4L).toDF("rid") // dup flag + a null-text rep
    val got = Dedup.memberIds(corpus, flags, "doc_id", "text", repCol = "rid")
      .collect().map(_.getLong(0)).toSet
    // null-hash reps expand to nothing (null never equi-joins) — matching
    // every dedup surface's null-text semantics
    assert(got == Set(1L, 2L))
  }

  test("lshBucketStats surfaces oversized buckets") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, "identical text everywhere")).toDF("doc_id", "text")
    val banded = df.select(col("doc_id").as("id"),
      lit(0).as("band"), lit(0L).as("bucket"))
    val hot = Dedup.lshBucketStats(banded, Seq("band", "bucket"), maxBucketSize = 50)
    assert(hot.collect().map(_.getAs[Long]("bucket_size")).toSeq == Seq(200L))
  }

  test("hotBucketWitnessRows keeps N smallest ids in hot buckets, cold buckets whole") {
    import spark.implicits._
    // bucket (0,0): 20 members (hot); bucket (1,1): 3 members (cold)
    val banded = ((0L until 20L).map(i => (0, 0L, i)) ++
      Seq((1, 1L, 100L), (1, 1L, 101L), (1, 1L, 102L))).toDF("band", "bucket", "id")
    val hotKeys = Seq((0, 0L)).toDF("band", "bucket")
    val out = Dedup.hotBucketWitnessRows(banded, hotKeys)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val expected = (0L until Dedup.HotBucketWitnesses.toLong).map((0, 0L, _)).toSet ++
      Set((1, 1L, 100L), (1, 1L, 101L), (1, 1L, 102L))
    assert(out == expected)
  }

  test("driverMaxEdges=0 pins the distributed executor on an empty graph too") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val counts = new java.util.concurrent.atomic.AtomicInteger(0)
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "count") counts.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
    try {
      val rounds = new java.util.concurrent.atomic.AtomicInteger(0)
      assert(Dedup.duplicateGroups(empty, roundsOut = Some(rounds)).collect().isEmpty)
      org.apache.spark.sql.GraftSQLBridge.drainListenerBus(spark)
      // one count materializes the canonical edges; the distributed round is
      // the second (the driver executor counts nothing per round)
      assert(rounds.get() == 1 && counts.get() == 2,
        s"expected 1 distributed round after the materializing count, got " +
          s"${rounds.get()} rounds and ${counts.get()} counting actions")
    } finally {
      spark.conf.unset("spark.graft.cc.driverMaxEdges")
      spark.listenerManager.unregister(ql)
    }
  }

  test("CC entry points materialize and count the canonical edges in one job") {
    import spark.implicits._
    val chain = (0L until 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      .localCheckpoint(true) // isolate the entry points' own jobs
    def jobsIn(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.sql.GraftSQLBridge.drainListenerBus(spark)
      spark.sparkContext.addSparkListener(listener)
      try { body; org.apache.spark.sql.GraftSQLBridge.drainListenerBus(spark); jobs.get() }
      finally spark.sparkContext.removeSparkListener(listener)
    }
    // AQE runs each query stage as its own job — pin it off so jobs == actions.
    // A bound below the 6 canonical edges keeps the distributed executor but
    // still needs the count; maxIter = 0 stops before the first round.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.graft.cc.driverMaxEdges", "1")
    try {
      // the materializing count, then the eager initial labels — no job
      // counts the canonical edges apart from the one that materializes them
      val minLabel = jobsIn(Dedup.duplicateGroups(chain, maxIter = 0, strategy = "minLabel"))
      assert(minLabel == 2, s"duplicateGroups set-up jobs: $minLabel")
      val star = jobsIn(Dedup.duplicateGroupsStar(chain, maxIter = 0, requireConvergence = false))
      assert(star == 1, s"duplicateGroupsStar set-up jobs: $star")
    } finally {
      spark.conf.unset("spark.graft.cc.driverMaxEdges")
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("spark.graft.checkpoint.reliable routes one-shot lineage cuts to reliable storage, values identical") {
    // r18 (VERDICT r17 #2): the library's one-shot localCheckpoint sites
    // (exact-collapse frames, candidate pairs, trained-pipeline
    // intermediates) all route through Ckpt.cut, whose reliable mode writes
    // checkpoint() files a cluster can recover from after executor loss.
    // Exercise a path that crosses several such sites (collapse members +
    // reps, eager candidate frame, CC loop) and pin value identity.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-oneshot")
    val prev = spark.sparkContext.getCheckpointDir
    val localOut = Dedup.keepBest(chainDocs, "doc_id", "text", col("q"), threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Ckpt.ReliableConf, "true")
    try {
      val reliableOut = Dedup.keepBest(chainDocs, "doc_id", "text", col("q"),
          threshold = 0.7, reliableCheckpoint = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(reliableOut == localOut,
        "reliable-mode lineage cuts must not change values")
      val rddDirs = java.nio.file.Files.walk(dir)
        .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      assert(rddDirs > 0,
        "reliable mode must actually write checkpoint files for the one-shot cuts")
    } finally {
      spark.conf.set(Ckpt.ReliableConf, "false")
      prev.foreach(spark.sparkContext.setCheckpointDir)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("reliable checkpointing deletes superseded per-round files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-clean")
    val prev = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir.toString)
    // pin the DISTRIBUTED rounds (the rotation under test): a 12-edge graph
    // would otherwise take the driver min-label hatch and checkpoint nothing
    spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
    try {
      import spark.implicits._
      // a 12-node chain needs several propagation rounds, so without cleanup
      // the checkpoint dir would hold one rdd-* dir per round
      val pairs = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val groups = Dedup.duplicateGroups(pairs, maxIter = 20,
        requireConvergence = true, reliableCheckpoint = true, strategy = "minLabel")
      assert(groups.select("group_id").distinct().count() == 1L)
      val rddDirs = java.nio.file.Files.walk(dir)
        .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      // only the edges checkpoint and the final round's labels remain; every
      // superseded round (and the initial labels) must have been deleted
      assert(rddDirs == 2, s"checkpoint dirs left behind: $rddDirs")
      // the returned frame must still be readable AFTER the cleanup
      assert(groups.count() == 12L)
      // the star variant gets the same reliable mode (it is the designated
      // multi-round 100-TB path, so executor-loss survival matters MORE
      // there): correct labels, superseded rounds deleted, only the final
      // round's edge set remains on reliable storage
      val before = java.nio.file.Files.walk(dir)
        .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      val starGroups = Dedup.duplicateGroupsStar(pairs, reliableCheckpoint = true)
      assert(starGroups.collect().map(_.getLong(1)).forall(_ == 0L))
      val afterStar = java.nio.file.Files.walk(dir)
        .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      assert(afterStar == before + 1,
        s"star must keep exactly its final round's checkpoint, got ${afterStar - before}")
      assert(starGroups.count() == 12L, "star frame readable after cleanup")
    } finally {
      spark.conf.unset("spark.graft.cc.driverMaxEdges")
      prev.foreach(spark.sparkContext.setCheckpointDir)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  // ---- SemDeDup: spherical-cell semantic dedup ----

  test("GATE CONFIG: semantic pairs equal brute-force cosine at nCells=4 probes=2") {
    // the dedup_semantic gate: sf0.01 embeddings, threshold 0.45, nCells=4,
    // probes=2 (single assignment loses 7 of 14 near-boundary pairs here —
    // multi-probe recovers them). Exact cosine verification makes precision
    // 1.0, so equality here means no true pair is split across every shared
    // cell — which is what lets the gate's recursive-CTE-over-brute-force
    // oracle apply hash-exact.
    val emb01 = QueryPack.t(spark, sf("sf0.01"), "embeddings")
    val exact = emb01.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
      .crossJoin(emb01.select(col("vec_id").as("id_b"), col("embedding").as("v_b")))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), F.cosine_similarity(col("v_a"), col("v_b")).as("cos"))
      .where(col("cos") >= 0.45)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = Dedup.semanticDuplicates(emb01, "vec_id", "embedding",
        threshold = 0.45, nCells = 4, probes = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem == exact,
      s"gate-config semantic dedup must equal brute force: sem=${sem.size} exact=${exact.size} " +
        s"missing=${(exact -- sem).take(5)}")
  }

  test("semanticDedup paper policy keeps the lowest-centroid-sim member") {
    import spark.implicits._
    // one 2-D duplicate group: unit vectors at 0, 5 and 30 degrees. All
    // three pairs clear threshold 0.85, so they form one component; the
    // single-cell centroid is the normalized mean (~11.7 deg), making the
    // 30-degree vector the LOWEST-centroid-sim (most atypical) member. It
    // carries the HIGHEST id, so min-id tiebreak cannot produce this answer.
    def v(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val df = Seq((1L, v(0)), (2L, v(5)), (3L, v(30))).toDF("vec_id", "embedding")
    val paper = Dedup.semanticDedup(df, "vec_id", "embedding",
        threshold = 0.85, nCells = 1, keepLowCentroidSim = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(paper == Set((1L, 1L, false), (2L, 1L, false), (3L, 1L, true)), s"got: $paper")
    val minId = Dedup.semanticDedup(df, "vec_id", "embedding",
        threshold = 0.85, nCells = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(minId == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false)), s"got: $minId")
  }

  test("semanticDedup labels singletons kept with their own group id") {
    import spark.implicits._
    // two orthogonal singletons + one duplicate pair
    val df = Seq((1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.0f)),
      (10L, Array(0.0f, 0.0f, 1.0f)), (11L, Array(0.0f, 0.01f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(df, "vec_id", "embedding",
        threshold = 0.95, nCells = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out == Set((1L, 1L, true), (2L, 2L, true), (10L, 10L, true), (11L, 10L, false)),
      s"got: $out")
  }

  test("semanticDedup hot-cell guard still keeps exactly one of a degenerate cell") {
    import spark.implicits._
    // 300 identical vectors: the single cell is hot at cap 100, candidate
    // generation degrades to star-linking against the representative — the
    // star still connects the whole component, so exactly one row survives
    val base = Array(1.0f, 0.0f, 0.5f, 0.25f)
    val df = (0L until 300L).map(i => (i, base)).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(df, "vec_id", "embedding",
      threshold = 0.9, nCells = 1, maxCellSize = 100)
    assert(out.where(col("kept")).count() == 1L)
    assert(out.count() == 300L)
    assert(out.where(col("kept")).head().getLong(0) == 0L)
  }

  /** A HETEROGENEOUS hot bucket, constructed through the real minhash
    * implementation (not injected): every corpus doc carries four "anchor"
    * tokens whose hashes are the global minima of the four hash rows of the
    * single band, so ALL docs share one bucket while their pairwise Jaccard
    * stays far below threshold (only the anchors overlap). This is exactly
    * the banding-collision profile the witness fix targets: a new doc whose
    * only qualifying partner is a non-minimum bucket member.
    *
    * Returns (corpus of 200 docs with ids 0..199, text of the given corpus
    * doc id) — doc texts are anchors + 30 unique filler tokens.
    */
  private def heterogeneousHotBucket(): (org.apache.spark.sql.DataFrame, Long => String) = {
    import spark.implicits._
    // hash each pool token through the REAL signature expression: a
    // single-token doc's 4-hash signature IS (h0(t), h1(t), h2(t), h3(t))
    val pool = (0 until 12000).map(i => f"tok$i%05d")
    val probe = pool.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val sigRows = probe
      .select(col("doc_id"),
        F.minhash_signature(F.word_shingles(T.tokens(col("text")), 1), 4).as("sig"))
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Long](1)))
    val anchors = (0 until 4).map { k => pool(sigRows.minBy(_._2(k))._1) }.distinct
    def docText(i: Long): String = {
      val filler = (0 until 30).map(j => pool(4000 + i.toInt * 30 + j))
      (anchors ++ filler).mkString(" ")
    }
    ((0L until 200L).map(i => (i, docText(i))).toDF("doc_id", "text"), docText)
  }

  test("heterogeneous hot bucket: witnesses convict partners the min-representative misses") {
    import spark.implicits._
    val (corpus, docText) = heterogeneousHotBucket()
    // heterogeneity check: top-witness docs overlap only on the anchors
    val j01 = Dedup.minHashDuplicates(corpus.where(col("doc_id") < 8), "doc_id", "text",
      threshold = 0.5, shingleSize = 1, numHashes = 4, bands = 1, maxBucketSize = Int.MaxValue)
    assert(j01.count() == 0L, "witness docs must be genuinely distinct (jaccard < 0.5)")

    // new doc near-dups corpus doc 7: the LAST witness slot — a single
    // sample-min representative (pre-fix behavior) would compare against a
    // smaller id and miss; the 8-witness degraded bucket must convict
    val newDoc = Seq((1000L, perturb(docText(7L), "tok11999"))).toDF("doc_id", "text")
    val hits = Dedup.incrementalMinHash(corpus, newDoc, "doc_id", "text",
        threshold = 0.7, shingleSize = 1, numHashes = 4, bands = 1, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((1000L, 7L)), s"witness conviction failed: $hits")

    // the documented residual mode, pinned: a partner beyond the witness cut
    // (id 150 >> 8) escapes on this band — with one band there is no cold
    // bucket to rescue it. This assertion doubles as proof the bucket was
    // actually degraded to witnesses (a cold/exact bucket would convict).
    val newDoc2 = Seq((2000L, perturb(docText(150L), "tok11998"))).toDF("doc_id", "text")
    val misses = Dedup.incrementalMinHash(corpus, newDoc2, "doc_id", "text",
      threshold = 0.7, shingleSize = 1, numHashes = 4, bands = 1, maxBucketSize = 100)
    assert(misses.count() == 0L,
      "expected the documented witness-cut false negative; the guard shape changed")
  }

  /** Swap one FILLER token (index 6 — safely past the at-most-4 anchors) for
    * `replacement`, turning a copy into a near-duplicate (jaccard ~ 0.94)
    * that still carries every anchor.
    */
  private def perturb(text: String, replacement: String): String = {
    val t = text.split(" ")
    t(6) = replacement
    t.mkString(" ")
  }

  // ---- structural cleanup: local line dedup + cross-doc boilerplate ----

  test("dedupElementsLocal keeps first occurrences in order, handles regex-special seps") {
    import spark.implicits._
    val df = Seq((1, "a\nb\na\nc\nb"), (2, "x|x|y")).toDF("id", "t")
    val lines = df.where(col("id") === 1)
      .select(Dedup.dedupElementsLocal(col("t")).as("c")).head().getString(0)
    assert(lines == "a\nb\nc")
    // a separator that is a regex metacharacter must be treated literally
    val pipes = df.where(col("id") === 2)
      .select(Dedup.dedupElementsLocal(col("t"), sep = "|").as("c")).head().getString(0)
    assert(pipes == "x|y")
  }

  test("stripBoilerplate removes only >= minDocFreq paragraphs; cap refuses truncation") {
    import spark.implicits._
    val df = (1 to 20).map { i =>
      (i, s"content $i\n\nfooter common\n\n" + (if (i <= 10) "half footer" else s"solo $i"))
    }.toDF("id", "t")
    val out = Dedup.stripBoilerplate(df, "t", minDocFreq = 10)
      .orderBy("id").collect().map(_.getString(1))
    // 'footer common' (20 docs) and 'half footer' (10 docs) go; content + solo stay
    assert(out(0) == "content 1")
    assert(out(10) == "content 11\n\nsolo 11")
    assert(!out.exists(_.contains("footer")))
    // within-doc repeats do not inflate doc frequency past the threshold
    val rep = (1 to 5).map(i => (i, "same para\n\nsame para")).toDF("id", "t")
    val repOut = Dedup.stripBoilerplate(rep, "t", minDocFreq = 6)
    assert(repOut.head().getString(1).contains("same para"),
      "5 docs < minDocFreq 6: nothing strips even though 10 paragraph instances exist")
    // refusing a truncated strip: flagged set larger than the cap throws
    val many = (1 to 30).flatMap(d => Seq((d, (1 to 5).map(p => s"bp $p").mkString("\n\n"))))
      .toDF("id", "t")
    val ex = intercept[IllegalArgumentException] {
      Dedup.stripBoilerplate(many, "t", minDocFreq = 2, maxSetSize = 3)
    }
    assert(ex.getMessage.contains("boilerplate"))
  }
}
