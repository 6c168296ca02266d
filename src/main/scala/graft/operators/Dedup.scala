package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions => F, TextFunctions => T}
import graft.operators.Ckpt.Ops

/** Deduplication operators for web-scale corpora.
  *
  * Scale design notes (the 100 TB story):
  *  - Exact dedup is one hash-shuffle on a 64-bit content hash — the full
  *    text never shuffles, only (hash, id); the winner set joins back
  *    map-side if needed.
  *  - MinHash-LSH is the classic shingle -> signature -> band-bucket
  *    pipeline: signatures are computed map-side (one pass per row, see
  *    MinHashSignature), then only (bucket_key, id) pairs shuffle. Bucket
  *    self-join produces candidates; candidates are verified with exact
  *    Jaccard on shingle sets. Every stage is a narrow map or a single
  *    keyed shuffle — no cartesian anywhere.
  *  - SimHash uses 4x16-bit band tables, the standard Hamming-LSH for
  *    distance <= 3.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Default cap on LSH bucket size before candidate generation degrades from
    * the full within-bucket self-join (quadratic in bucket size) to
    * star-linking against the bucket's min-id representative (linear).
    */
  val DefaultMaxBucketSize = 1000

  /** Driver-side safety bound on the collected flagged-bucket metadata. */
  val MaxHotBuckets = 100000

  /** How many smallest-id members a HOT bucket keeps on the ingest corpus
    * side. One witness suffices for the degenerate near-identical pile, but
    * a heterogeneous hot bucket (banding collisions of genuinely distinct
    * docs) could hide a new doc's only qualifying partner behind the single
    * representative — several witnesses shrink that false-negative window
    * exponentially while keeping the candidate fan-out bounded.
    */
  val HotBucketWitnesses = 8

  /** CANONICAL edge count (direction-collapsed, distinct) past which
    * [[duplicateGroups]]' auto strategy routes to the star algorithm from
    * round one instead of starting with min-label rounds (r17 measurement,
    * BASELINE r17 "CC strategy A/B": forced star 236 s vs the
    * minLabel-prefix + mid-run handoff 429 s on a 90.6M-canonical-edge
    * graph, identical outputs). Gate/verbatim-scale graphs run < 1M
    * canonical edges and keep the minLabel-first path that wins there.
    */
  val AutoStarCanonicalEdges = 25L * 1000 * 1000

  /** Canonical edge count from which [[duplicateGroups]]' min-label loop
    * materializes its symmetric closure pre-partitioned on src instead of
    * re-deriving (and re-exchanging) it inside every round's join — the
    * sort-merge regime where the per-round label side is far past any
    * broadcast estimate. Below it the rounds plan as broadcast joins whose
    * edge side never shuffles, and the extra checkpoint is pure cost
    * (r18 A/B at both regimes; see the shape comment in DistributedLabels).
    */
  val MinLabelPrePartitionEdges = 1L * 1000 * 1000

  /** Canonical edge count up to which [[duplicateGroups]] and
    * [[duplicateGroupsStar]] run ALL their rounds on the driver — min-label,
    * the contract-and-star hand-off and star alike — instead of as Spark
    * jobs. 500k edges collect to ~8 MB of longs — broadcast-class, the same
    * order as one auto-broadcast join side or the [[MaxHotBuckets]]
    * metadata collect — while each avoided distributed round is 3-5 serial
    * AQE stage-jobs (OPTIMIZATION_r18.md §1: the sf0.1 CC gates are
    * job-count-bound). Both executors run under the one [[CcControl]] loop,
    * so labels, hook values and exceptions do not depend on the choice.
    * `spark.graft.cc.driverMaxEdges` overrides the bound; 0 pins the
    * distributed executor on every graph, the empty one included.
    */
  val DriverCcMaxCanonicalEdges = 500L * 1000

  /** Hot-bucket-guarded LSH bucket self-join.
    *
    * A degenerate bucket (boilerplate near-identical docs, zero vectors)
    * makes the naive self-join quadratic *within the bucket*: at 100 TB one
    * hot bucket is a straggler task that OOMs or runs for hours — and AQE
    * skew-join cannot save it because the explosion is in candidate
    * *generation*, not partition sizing. Guard: a seeded sample flags
    * oversized buckets (broadcast back, see inline notes); buckets within
    * `maxBucketSize` do the exact self-join as before, flagged buckets emit
    * only (representative, member) star pairs — `size-1` candidates instead
    * of `size*(size-1)/2`. For the common degenerate case (a pile of
    * near-identical documents) the star pairs all survive verification, so
    * duplicate-group connectivity is preserved; this beats dropping the
    * bucket outright. Oversized buckets are observable via [[lshBucketStats]].
    *
    * @param rows     the input rows, one per document/vector
    * @param mkBanded builds keyCols ++ ("id" +: payload) from input rows —
    *                 called once on the full input and once on a small sample
    * @param payload  extra per-row columns to carry to both sides (e.g. the
    *                 simhash value or the embedding vector)
    * @return columns `id_a`, `id_b` and `<payload>_a`, `<payload>_b`,
    *         with `id_a < id_b`; may contain duplicates (distinct is the
    *         caller's call, after any per-pair compute)
    */
  private[operators] def cappedBucketPairs(rows: DataFrame, mkBanded: DataFrame => DataFrame,
      keyCols: Seq[String], payload: Seq[String], maxBucketSize: Int): DataFrame = {
    val banded = mkBanded(rows)
    val aCols = "id" +: payload
    def selfJoinAll(src: DataFrame): DataFrame = {
      val out = aCols.map(_ + "_a") ++ aCols.map(_ + "_b")
      val l = src.select(keyCols.map(col) ++ aCols.map(c => col(c).as(c + "_a")): _*)
      val r = src.select(keyCols.map(col) ++ aCols.map(c => col(c).as(c + "_b")): _*)
      l.join(r, keyCols).where(col("id_a") < col("id_b")).select(out.map(col): _*)
    }
    if (maxBucketSize == Int.MaxValue) return selfJoinAll(banded) // guard disabled
    // Hot buckets are DETECTED FROM A SEEDED SAMPLE of the INPUT rows (the
    // sampled hot-key split shape, same as Skew.splitJoin): an exact count
    // would re-evaluate the expensive map side (signatures + explode) over
    // the full corpus a second time, while a 10% document sample pays 10%
    // and still flags any pathological bucket with near-certainty (a
    // 10x-over-cap bucket going unsampled is a < 1e-20 event). Sampling
    // documents (not banded rows) also keeps the representative consistent
    // across bands, so star pairs collapse under distinct. The flagged
    // table is tiny by construction (<= rows/cap entries) and broadcasts;
    // small-bucket rows keep the exact uncapped plan — one keyed shuffle +
    // self-join — with only a broadcast-hash filter added.
    sampledHotBuckets(rows, mkBanded, keyCols, maxBucketSize) match {
      case None => selfJoinAll(banded) // exact uncapped plan, no join added
      case Some(hot) =>
      val marked = banded.join(hot, keyCols, "left")
      val smallPairs = selfJoinAll(marked.where(col("__scnt").isNull))
      // Star pairs against the sample-min representative (a true bucket
      // member, just not necessarily the global min). The rep's PAYLOAD is
      // re-attached executor-side by joining the flagged buckets back against
      // the banded frame on (keys, id == repid) — one row per hot bucket.
      // Catalyst auto-broadcasts that side while it is small and falls back
      // to a keyed shuffle of only the hot members when it is not, so no
      // payload ever rides through the driver. Cost: one extra evaluation of
      // the banded map-side restricted to rep rows — paid only on the
      // degenerate path the guard exists for.
      val repRows = banded.join(hot.select(keyCols.map(col) :+ col("__repid"): _*), keyCols)
        .where(col("id") === col("__repid"))
        .select(keyCols.map(col) ++ aCols.map(c => col(c).as("__rep_" + c)): _*)
      val hotPairs = marked.where(col("__scnt").isNotNull)
        .join(repRows, keyCols)
        .where(col("id") =!= col("__rep_id"))
        .select(aCols.map(c => when(col("__rep_id") < col("id"), col("__rep_" + c))
                  .otherwise(col(c)).as(c + "_a")) ++
                aCols.map(c => when(col("__rep_id") < col("id"), col(c))
                  .otherwise(col("__rep_" + c)).as(c + "_b")): _*)
      smallPairs.unionByName(hotPairs)
    }
  }

  /** Sampled hot-bucket METADATA, shared by the self-join guard and the
    * ingest candidate path so the sampling (fraction, seed, flag formula)
    * can never desynchronize between them. Buckets are detected from a
    * seeded 10% sample of the INPUT rows — an exact count would re-evaluate
    * the expensive map side (signatures + explode) over the full corpus a
    * second time, while the sample pays 10% and still flags any
    * pathological bucket with near-certainty (a 10x-over-cap bucket going
    * unsampled is a < 1e-20 event). Sampling documents (not banded rows)
    * also keeps the representative consistent across bands. The flagged set
    * is (keys, __scnt, __repid) ONLY — never the payload: for
    * embeddingDuplicates 100k flagged buckets x 768 dims x 8 B would be
    * ~600 MB of driver heap exactly in the degenerate-corpus scenario the
    * guard exists for. The id-only rows are <= rows/cap entries of a few
    * dozen bytes — collected (bounded by [[MaxHotBuckets]]) so consumers
    * see a broadcast local relation with zero recompute; the no-hot-bucket
    * common case pays nothing but the 10% sampling job and returns None.
    */
  private def sampledHotBuckets(rows: DataFrame, mkBanded: DataFrame => DataFrame,
      keyCols: Seq[String], maxBucketSize: Int): Option[DataFrame] = {
    val fraction = 0.1
    // flag when the sampled count's EXPECTATION corresponds to a true size
    // at the cap: flagAt = cap x fraction. The previous cap x fraction / 2
    // flagged from ~cap/2 up, star-linking buckets the contract promises an
    // exact self-join (measured as a recall collapse for legitimately-dense
    // cells; BASELINE.md "Round-6 semantic-dedup scaling evidence").
    // Binomial noise makes the cutoff soft over roughly [0.8, 1.2] x cap —
    // acceptable for a guard whose target is degenerate buckets many
    // multiples over the cap, never marginal ones; a bucket sneaking through
    // at 1.2 x cap costs 1.44x the capped worst-case join, not a blowup.
    val flagAt = math.max(2L, math.round(maxBucketSize * fraction))
    val hotAgg = mkBanded(rows.sample(withReplacement = false, fraction, seed = 7L))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__scnt"), min(col("id")).as("__repid"))
      .where(col("__scnt") >= flagAt)
    val hotRows = hotAgg.limit(MaxHotBuckets + 1).collect()
    if (hotRows.length > MaxHotBuckets)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"more than $MaxHotBuckets oversized LSH buckets detected; buckets beyond the " +
          "cap keep the exact uncapped plan (consider more bits/bands or a bigger cap)")
    if (hotRows.isEmpty) None
    else Some(broadcast(rows.sparkSession.createDataFrame(
      java.util.Arrays.asList(hotRows: _*), hotAgg.schema)))
  }

  /** Resolve verified duplicate PAIRS into duplicate GROUPS: connected
    * components. Output: (id, group_id) where group_id is the component's
    * minimum id — deterministic, so oracle-comparable against a
    * recursive-CTE ground truth. Ids absent from any pair are not emitted
    * (singletons are implicit), matching the usual "which docs belong to a
    * dup group" use.
    *
    * Strategies:
    *  - `minLabel`: iterative min-label propagation. Each iteration is one
    *    keyed shuffle (neighbor-min aggregate + join); iterations are
    *    bounded by the component DIAMETER — near-dup clusters from banded
    *    candidate generation are clique-shaped (diameter 2-3), so they
    *    converge in a handful of the cheapest possible rounds.
    *  - `star`: delegate to [[duplicateGroupsStar]] — O(log n) rounds at
    *    any diameter, each round ~2x a min-label round's shuffles.
    *  - `auto` (default): min-label while the per-round changed-label
    *    count keeps collapsing geometrically — the clique-shaped common
    *    case converges in 2-4 of the cheapest rounds and never pays
    *    star's premium. Once the decay FLATTENS (a round's changed count
    *    not below half the previous round's — the signature of labels
    *    propagating one hop per round along paths), or after
    *    `autoRoundBudget` rounds at the latest, CONTRACT the graph
    *    through the partial labels (each node is already merged with its
    *    local minimum) and finish with the star algorithm on the
    *    contracted graph. Correct because comp(m) = m for each
    *    component's true minimum m, so star's min-id labels over
    *    contracted nodes are the true component minima; components fully
    *    merged before the hand-off contract to edge-less nodes and keep
    *    their comp. Pipeline callers get diameter-robustness without
    *    knowing the graph shape. On HUGE graphs (canonical edge count
    *    above `autoStarEdgeThreshold`, default
    *    [[AutoStarCanonicalEdges]]) auto skips the min-label prefix
    *    entirely and runs star from round one on the same canonical
    *    checkpoint forced star would build — a min-label round's cost is
    *    proportional to the edge frame, and the stall detector cannot
    *    fire before paying two of them (r17 measurement: 236 s star-first
    *    vs 429 s prefix+handoff on a 90.6M-edge graph, identical
    *    outputs). One caveat of the star route: ids appearing ONLY in
    *    self-pairs (id_a == id_b) are dropped, matching `star`'s contract
    *    (min-label emits them as singleton groups; dedup pair generators
    *    never produce self-pairs).
    *
    * Both this and [[duplicateGroupsStar]] canonicalize the pairs,
    * materialize and count them in one action, pick the executor by that
    * count ([[DriverCcMaxCanonicalEdges]]) and run the one [[CcControl]]
    * loop, so the result does not depend on where the rounds ran.
    *
    * @param maxIter upper bound on rounds, honored as given for every
    *                 strategy. For `minLabel` it must be >= the largest
    *                 component's diameter (when the last permitted round
    *                 still changed labels, one fixpoint check — one job on
    *                 the distributed executor — decides whether they
    *                 converged); for `star` ~2*log2(n) suffices
    *                 (the default 20 covers any graph that fits in storage
    *                 — star's standalone default of 35 is just more slack).
    *                 Under `auto` the min-label phase runs at most
    *                 min(autoRoundBudget, maxIter) rounds and the star
    *                 hand-off (which engages only while the min-label
    *                 round count is still below maxIter) gets up to
    *                 maxIter more — a maxIter at or below the rounds the
    *                 min-label phase consumes leaves `auto` as min-label
    *                 truncated at maxIter
    * @param requireConvergence when true, throw instead of returning
    *                 partially-merged groups on maxIter exhaustion
    * @param strategy `minLabel` | `star` | `auto` (see above)
    * @param autoRoundBudget min-label rounds `auto` spends before switching
    * @param roundsOut when set, receives the total round count (a test
    *                 hook, due to be replaced by the routing decision
    *                 records of ROADMAP.md "Label jobs and runtime
    *                 decisions where they happen")
    * @param changedOut when set, receives the per-round changed-label count
    *                 (the decay curve — a test hook like `roundsOut`, zero
    *                 extra jobs: the count is the convergence check's own
    *                 result)
    * @param autoStarEdgeThreshold canonical (direction-collapsed, distinct)
    *                 edge count past which `auto` routes star-first — see
    *                 [[AutoStarCanonicalEdges]] for the measured default
    */
  def duplicateGroups(pairs: DataFrame, maxIter: Int = 20,
      requireConvergence: Boolean = false,
      strategy: String = "auto",
      autoRoundBudget: Int = 6,
      roundsOut: Option[java.util.concurrent.atomic.AtomicInteger] = None,
      changedOut: Option[scala.collection.mutable.Buffer[Long]] = None,
      autoStarEdgeThreshold: Long = AutoStarCanonicalEdges): DataFrame = {
    require(Set("minLabel", "star", "auto").contains(strategy),
      s"unknown CC strategy '$strategy' (minLabel | star | auto)")
    if (strategy == "star")
      return duplicateGroupsStar(pairs, maxIter, requireConvergence, roundsOut)
    val ck = new Ckpt.Loop(pairs.sparkSession)
    // CANONICAL form — (hi, lo) with duplicates and reversed repeats
    // collapsed, self-pairs kept as (x, x): one pass over the (expensive)
    // candidate-generation lineage. Every shape downstream derives from this
    // checkpoint: the star-first route seeds on it directly (canonical is
    // star's native edge form — r17: building the 2x symmetric closure
    // before routing cost ~4 min of redundant shuffle+checkpoint at the
    // d=8/sf25m frontier), and min-label's symmetric closure is a narrow
    // explode of it.
    val (canon, count) = materialize(ck, pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .distinct(), counted = true)
    val driverMax = driverMaxEdges(pairs.sparkSession)
    if (strategy == "auto" && count > autoStarEdgeThreshold)
      // r17, measured ("CC strategy A/B", BASELINE r17): min-label's
      // per-round cost IS the edge-frame size and the stall detector fires
      // only after two such rounds, so huge frames go star-first. Self-pairs
      // drop (star's canonical form excludes them) — a narrow filter over
      // the checkpoint, not a job.
      CcControl.star(starRounds(ck, canon.where(col("u") =!= col("v")), count, driverMax),
        maxIter, requireConvergence, roundsOut)
    else
      CcControl.minLabel(
        if (onDriver(driverMax, count, canon)) new DriverLabels(new DriverIo(canon))
        else new DistributedLabels(ck, canon, count),
        strategy == "auto", maxIter, autoRoundBudget, requireConvergence, roundsOut, changedOut)
  }

  /** Connected components by the ALTERNATING large-star / small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): converges in O(log n) rounds REGARDLESS of component
    * diameter, where [[duplicateGroups]]'s min-label propagation needs one
    * round per diameter hop. Same output contract — (id, group_id = the
    * component's min id) over every id appearing in `pairs`.
    *
    * When to pick which: near-duplicate clusters from banded MinHash are
    * clique-shaped (diameter 2-3), so min-label's one-shuffle rounds win
    * there — it stays the gate default. CHAIN-shaped graphs (incremental
    * ingest linking day N's docs to day N+1's, entity-resolution paths)
    * grow diameter with the corpus, and at 100 TB a diameter-bound loop is
    * a non-starter: this is the scale path for those. Each round costs a
    * large-star (neighbor-min groupBy + join) and a small-star (per-node
    * min groupBy + join), both over the shrinking edge set.
    *
    * @param maxIter round bound; O(log n) suffices — 35 covers any graph
    *                that fits in storage
    * @param roundsOut when set, receives the round count (a test hook, see
    *                 [[duplicateGroups]])
    */
  def duplicateGroupsStar(pairs: DataFrame, maxIter: Int = 35,
      requireConvergence: Boolean = true,
      roundsOut: Option[java.util.concurrent.atomic.AtomicInteger] = None): DataFrame =
    CcControl.star(starPhase(new Ckpt.Loop(pairs.sparkSession),
        canonEdgeForm(pairs.select(col("id_a").as("u"), col("id_b").as("v")))),
      maxIter, requireConvergence, roundsOut)

  /** Canonical directed edge form: u > v (larger endpoint first), no self
    * loops, distinct. The native edge representation of the star rounds.
    */
  private def canonEdgeForm(df: DataFrame): DataFrame =
    df.where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()

  /** Materialize a canonical edge frame through `ck`. With `counted`, the
    * row count is the materializing action's own result, so counting costs
    * no job of its own.
    */
  private def materialize(ck: Ckpt.Loop, canon: DataFrame,
      counted: Boolean): (DataFrame, Long) =
    if (!counted) (ck.eager(canon), -1L)
    else {
      val out = ck.lazily(canon)
      val n = out.count()
      ck.release(canon)
      (out, n)
    }

  private def driverMaxEdges(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.cc.driverMaxEdges", DriverCcMaxCanonicalEdges.toString).toLong

  /** The one executor choice, for both entry points and the star phase
    * after a hand-off: the driver runs a canonical edge frame of `count`
    * rows iff the driver bound is positive, the count is within it, and the
    * ids are Long or Int. A bound of 0 pins the distributed executor on
    * every graph, the empty one included.
    */
  private def onDriver(driverMax: Long, count: Long, edges: DataFrame): Boolean =
    driverMax > 0 && count <= driverMax &&
      Set[org.apache.spark.sql.types.DataType](org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType).contains(edges.schema("u").dataType)

  /** Materialize a [[canonEdgeForm]] frame and pick its star executor. The
    * count is taken only when the driver executor is enabled at all — with
    * the bound at 0 nothing reads it.
    */
  private def starPhase(ck: Ckpt.Loop, canon: DataFrame): CcControl.StarRounds[DataFrame] = {
    val driverMax = driverMaxEdges(canon.sparkSession)
    val (edges, count) = materialize(ck, canon, counted = driverMax > 0)
    starRounds(ck, edges, count, driverMax)
  }

  private def starRounds(ck: Ckpt.Loop, edges: DataFrame, count: Long,
      driverMax: Long): CcControl.StarRounds[DataFrame] =
    if (onDriver(driverMax, count, edges)) {
      val io = new DriverIo(edges)
      new DriverStar(io, io.collect())
    } else new DistributedStar(ck, edges)

  /** Moves a materialized canonical (u, v) frame of Long or Int ids to the
    * driver as longs, and builds (id, group_id) local relations back in the
    * frame's id type.
    */
  private final class DriverIo(edges: DataFrame) {
    private val idType = edges.schema("u").dataType
    private val isLong = idType == org.apache.spark.sql.types.LongType

    def collect(): Array[(Long, Long)] = edges.collect().map { r =>
      if (isLong) (r.getLong(0), r.getLong(1)) else (r.getInt(0).toLong, r.getInt(1).toLong)
    }

    def labels(pairs: Iterable[(Long, Long)]): DataFrame = {
      import scala.jdk.CollectionConverters._
      val rows = pairs.toSeq.sorted.map { case (id, g) =>
        if (isLong) org.apache.spark.sql.Row(id, g)
        else org.apache.spark.sql.Row(id.toInt, g.toInt)
      }
      edges.sparkSession.createDataFrame(rows.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType, nullable = false),
          org.apache.spark.sql.types.StructField("group_id", idType, nullable = false))))
    }
  }

  /** The driver executor's min-label rounds over the collected edge list in
    * index space: each node takes the minimum label of itself and its
    * neighbors, synchronously — the [[DistributedLabels]] update rule.
    */
  private final class DriverLabels(io: DriverIo) extends CcControl.LabelRounds[DataFrame] {
    private val edges = io.collect()
    private val ids = edges.flatMap(e => Array(e._1, e._2)).sorted.distinct
    private val us = edges.map(e => java.util.Arrays.binarySearch(ids, e._1))
    private val vs = edges.map(e => java.util.Arrays.binarySearch(ids, e._2))
    private var comp = ids
    private var star: Option[DriverStar] = None

    def round(): Long = {
      val next = comp.clone()
      var e = 0
      while (e < us.length) {
        val u = us(e); val v = vs(e)
        if (comp(v) < next(u)) next(u) = comp(v)
        if (comp(u) < next(v)) next(v) = comp(u)
        e += 1
      }
      val changed = next.indices.count(i => next(i) < comp(i)).toLong
      comp = next
      changed
    }

    def settled(): Boolean = us.indices.forall(e => comp(us(e)) == comp(vs(e)))

    def contract(): CcControl.StarRounds[DataFrame] = {
      val s = new DriverStar(io, us.indices.collect {
        case e if comp(us(e)) != comp(vs(e)) =>
          (math.max(comp(us(e)), comp(vs(e))), math.min(comp(us(e)), comp(vs(e))))
      })
      star = Some(s)
      s
    }

    def emit(): DataFrame = {
      val starLabels = star.fold(Map.empty[Long, Iterable[Long]])(_.labels.groupMap(_._1)(_._2))
      io.labels(ids.indices.flatMap(i =>
        starLabels.getOrElse(comp(i), Seq(comp(i))).map(ids(i) -> _)))
    }
  }

  /** The driver executor's star rounds over an in-memory canonical edge
    * set: the same set evolution and structural fixpoint test as
    * [[DistributedStar]].
    */
  private final class DriverStar(io: DriverIo, edges0: Iterable[(Long, Long)])
      extends CcControl.StarRounds[DataFrame] {
    private var edges: scala.collection.Set[(Long, Long)] = edges0.toSet

    def round(): Boolean = {
      // largeStar: m(x) = min(neighborhood(x) ∪ {x}); every directed
      // neighbor pair (a, b) with b > a emits (b, m(a)) — for a canonical
      // edge (u, v) with u > v that is exactly (u, m(v))
      val minNbr = new scala.collection.mutable.HashMap[Long, Long]
      edges.foreach { case (u, v) =>
        if (v < minNbr.getOrElse(u, Long.MaxValue)) minNbr(u) = v
        if (u < minNbr.getOrElse(v, Long.MaxValue)) minNbr(v) = u
      }
      val ls = edges.map { case (u, v) => (u, math.min(v, minNbr.getOrElse(v, v))) }
      // smallStar over the canonical large-star output: m2(u) = min parent;
      // relink (u, v): v != m2(u) → (v, m2(u)); plus (u, m2(u)) per child
      val m2 = new scala.collection.mutable.HashMap[Long, Long]
      ls.foreach { case (u, v) => if (v < m2.getOrElse(u, Long.MaxValue)) m2(u) = v }
      edges = ls.flatMap { case (u, v) =>
        val mu = m2(u) // the min of u's parents < v: canonical
        if (v != mu) Seq((v, mu), (u, mu)) else Seq((u, mu))
      }
      // a canonical edge set is a depth-1 star forest iff no child has two
      // parents and no parent is itself a child
      val children = new scala.collection.mutable.HashSet[Long]
      edges.forall(e => children.add(e._1)) && edges.forall(e => !children.contains(e._2))
    }

    def labels: scala.collection.Set[(Long, Long)] =
      edges.flatMap { case (u, v) => Seq((u, v), (v, v)) }

    def emit(): DataFrame = io.labels(labels)
  }

  /** The distributed executor's min-label rounds over the canonical
    * checkpoint `canon` (`count` rows), one Spark action per round.
    */
  private final class DistributedLabels(ck: Ckpt.Loop, canon: DataFrame, count: Long)
      extends CcControl.LabelRounds[DataFrame] {
    // symmetric closure: both directions of each canonical edge, self-pairs
    // once. Below [[MinLabelPrePartitionEdges]] it is a NARROW per-round
    // explode of the canonical checkpoint: AQE plans each round's join as a
    // broadcast of the labels, so the edge side never shuffles (r18 A/B: a
    // closure checkpoint here only added its own shuffle, dedup_groups
    // 2.96 → 3.33 s). From it, the per-round join is a sort-merge, and the
    // closure is materialized ONCE pre-partitioned on src, so its 2|E| rows
    // cross the network once for the whole loop instead of once per round.
    private val edges = {
      val closure = canon.select(explode(
          when(col("u") =!= col("v"), array(
            struct(col("u").as("src"), col("v").as("dst")),
            struct(col("v").as("src"), col("u").as("dst"))))
          .otherwise(array(struct(col("u").as("src"), col("v").as("dst"))))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      if (count < MinLabelPrePartitionEdges) closure
      else {
        val out = ck.eager(closure.repartition(col("src")))
        ck.drop(canon) // fully superseded by the closure: nothing reads it again
        out
      }
    }
    private var labels = ck.eager(edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")))
    ck.seed(labels)
    private var star: Option[CcControl.StarRounds[DataFrame]] = None

    def round(): Long = {
      val neighborMin = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min(col("comp")).as("ncomp"))
      // ONE job per round: the convergence check is a count over the
      // lazily-checkpointed update (carrying the old label as __old), so the
      // same action that materializes this round's labels also answers "did
      // anything change" — no second job, no join of two checkpointed frames.
      val updatedSrc = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("__old"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      val updated = ck.lazily(updatedSrc)
      val changed = updated.where(col("comp") < col("__old")).count()
      ck.release(updatedSrc)
      ck.rotate(updated)
      labels = updated.select(col("id"), col("comp"))
      changed
    }

    /** Each closure edge with its endpoints' labels as (u, v). */
    private def labeledEdges: DataFrame =
      edges.join(labels.select(col("id").as("src"), col("comp").as("u")), "src")
        .join(labels.select(col("id").as("dst"), col("comp").as("v")), "dst")
        .select(col("u"), col("v"))

    def settled(): Boolean = labeledEdges.where(col("u") =!= col("v")).isEmpty

    def contract(): CcControl.StarRounds[DataFrame] = {
      val s = starPhase(new Ckpt.Loop(canon.sparkSession),
        canonEdgeForm(labeledEdges))
      star = Some(s)
      s
    }

    def emit(): DataFrame = star match {
      case None => labels.select(col("id"), col("comp").as("group_id"))
      case Some(s) =>
        labels.join(s.emit().withColumnRenamed("id", "comp"), Seq("comp"), "left")
          .select(col("id"), coalesce(col("group_id"), col("comp")).as("group_id"))
    }
  }

  /** The distributed executor's star rounds over an ALREADY-CHECKPOINTED
    * [[canonEdgeForm]] frame (or a narrow transform of one — the auto
    * star-first route passes a self-pair filter over its canonical
    * checkpoint); `ck` owns the round rotation.
    */
  private final class DistributedStar(ck: Ckpt.Loop, edges0: DataFrame)
      extends CcControl.StarRounds[DataFrame] {
    private var edges = edges0
    ck.seed(edges)

    // large-star: every node links its strictly-larger neighbors to the
    // minimum of its neighborhood (including itself) — long chains collapse
    // toward minima in halving hops
    private def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      nbrs.where(col("v") > col("u")).join(mins, "u")
        .select(col("v").as("u"), col("m").as("v")) // v > u >= m: stays canonical
    }

    // small-star: every node links its smaller neighbors (and itself) to
    // their collective minimum — stars flatten to depth one
    private def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      val relinked = e.join(mins, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      relinked.unionByName(mins.select(col("u"), col("m").as("v")))
    }

    def round(): Boolean = {
      val nextSrc = canonEdgeForm(smallStar(canonEdgeForm(largeStar(edges))))
      val next = ck.lazily(nextSrc)
      // ONE job per round: a STRUCTURAL fixpoint test on the round's own
      // output that also materializes its checkpoint. The fixpoints are
      // exactly the star forests, and a canonical (u > v) edge set is one
      // iff no child has two parents (u repeated) and no parent is itself a
      // child (a node both u and v) — detected on the producing round, one
      // round earlier than a set-equality join against the next round.
      val violations = next.select(explode(array(
          struct(col("u").as("n"), lit(1L).as("cu"), lit(0L).as("cv")),
          struct(col("v").as("n"), lit(0L).as("cu"), lit(1L).as("cv")))).as("e"))
        .select(col("e.n").as("n"), col("e.cu").as("cu"), col("e.cv").as("cv"))
        .groupBy(col("n"))
        .agg(sum(col("cu")).as("nu"), sum(col("cv")).as("nv"))
        .where(col("nu") > 1 || (col("nu") > 0 && col("nv") > 0))
        .count()
      ck.release(nextSrc)
      ck.rotate(next)
      edges = next
      violations == 0
    }

    def emit(): DataFrame =
      edges.select(col("u").as("id"), col("v").as("group_id"))
        .unionByName(edges.select(col("v").as("id"), col("v").as("group_id")))
        .distinct()
  }

  /** Retention policy over near-duplicate groups: keep the single best member
    * per group — highest `quality`, min-id tiebreak — with singletons keeping
    * themselves. Composes [[minHashDuplicateGroups]] (the exact-collapsed
    * fused path — pair semantics identical, no quadratic clique pairs) -> a
    * per-group top-1 window, and is the pipeline-level entry point that
    * carries `requireConvergence` down into the group resolver so
    * deployments opt into fail-fast convergence without touching operator
    * internals. Reliable-storage checkpointing of every cut on the way —
    * exact collapse, candidate pairs and each CC round — is the session's
    * one switch, `spark.graft.checkpoint.reliable=true` plus
    * `sparkContext.setCheckpointDir(...)` (see [[Ckpt]]).
    *
    * @param quality a column computed against `df`'s rows scoring each doc
    *                (e.g. lexical diversity); higher wins within a group
    * @return (group_id, keep_id, quality) — one row per group, including the
    *         implicit singleton group of every non-duplicated doc
    */
  def keepBest(df: DataFrame, idCol: String, textCol: String, quality: Column,
      threshold: Double = 0.7, maxBucketSize: Int = DefaultMaxBucketSize,
      maxIter: Int = 20, requireConvergence: Boolean = false,
      strategy: String = "auto"): DataFrame = {
    val groups = minHashDuplicateGroups(df, idCol, textCol, threshold,
      maxBucketSize = maxBucketSize, maxIter = maxIter,
      requireConvergence = requireConvergence, strategy = strategy)
    val scored = df.select(col(idCol), quality.as("quality"))
      .join(groups.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("group_id", coalesce(col("group_id"), col(idCol)))
    val w = Window.partitionBy(col("group_id"))
      .orderBy(col("quality").desc, col(idCol).asc)
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("group_id"), col(idCol).as("keep_id"), col("quality"))
  }

  /** Corpus-wide span-level dedup (Lee et al. '21 "Deduplicating Training
    * Data", the sentence/paragraph variant): every span keeps only its FIRST
    * occurrence across the whole corpus (ordered by doc id, position); docs
    * are reassembled from their surviving spans in order.
    *
    * Shuffle budget: spans shuffle once keyed by normalized-span (the
    * window), reassembly shuffles surviving spans once by doc — both carry
    * span text, which in aggregate is the corpus size; there is no
    * cheaper exact formulation (the winner decision is global).
    *
    * @return (id, kept_text, n_kept, n_total) — n_total counts the doc's
    *         non-empty spans before dedup. EVERY input doc appears exactly
    *         once: a doc whose spans are all empty/whitespace comes back as
    *         ("", 0, 0), the same shape as a doc whose spans were all
    *         duplicates — a pipeline reassembling the corpus from this
    *         output must not silently lose rows.
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      splitPattern: String = "\\. "): DataFrame = {
    val spans = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), splitPattern)).as(Seq("pos", "span")))
      .where(length(trim(col("span"))) > 0)
    val w = Window.partitionBy(T.normText(col("span")))
      .orderBy(col("id"), col("pos"))
    val marked = spans.withColumn("__rn", row_number().over(w))
    val agg = marked.groupBy(col("id"))
      .agg(
        concat_ws(". ", transform(
          array_sort(collect_list(when(col("__rn") === 1, struct(col("pos"), col("span"))))),
          s => s.getField("span"))).as("kept_text"),
        count(when(col("__rn") === 1, lit(1))).as("n_kept"),
        count(lit(1)).as("n_total"))
    // id-only left join re-attaches docs with zero qualifying spans
    df.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("kept_text"), lit("")).as("kept_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_total"), lit(0L)).as("n_total"))
  }

  /** Benchmark decontamination: flag training docs sharing any word n-gram
    * with an eval/benchmark corpus (the standard 8-13-gram collision check
    * run before pretraining). Eval sets are tiny relative to the corpus, so
    * their distinct n-gram table BROADCASTS and the check is a map-side
    * broadcast semi-join over the training scan — the corpus never
    * shuffles. Returns (id, n_shared_ngrams) for contaminated docs only.
    */
  def contaminated(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 5): DataFrame = {
    val evalNgrams = eval
      .select(explode(array_distinct(
        F.word_shingles(T.tokens(col(textCol)), shingleSize))).as("ng"))
      .distinct()
    train.select(col(idCol).as("id"), explode(array_distinct(
        F.word_shingles(T.tokens(col(textCol)), shingleSize))).as("ng"))
      .join(broadcast(evalNgrams), "ng")
      .groupBy("id").agg(count(lit(1)).as("n_shared_ngrams"))
  }

  /** Doc-LOCAL structural dedup (RefinedWeb/CCNet line cleanup): rewrite a
    * text column keeping only the FIRST occurrence of each line/paragraph.
    * Pure built-ins (split → array_distinct → array_join; Spark's
    * array_distinct is documented first-occurrence-order-preserving), so
    * the rewrite is one map-side codegen stage — zero shuffles at any
    * corpus size. Complements [[graft.functions.GopherRepetition]], which
    * MEASURES the same duplication this REMOVES.
    */
  def dedupElementsLocal(textCol: Column, sep: String = "\n"): Column =
    array_join(
      array_distinct(split(textCol, java.util.regex.Pattern.quote(sep))), sep)

  /** Cross-document boilerplate paragraphs (CCNet-style): `(paragraph,
    * doc_freq)` for non-blank paragraphs appearing in at least `minDocFreq`
    * DISTINCT documents (within-doc repeats collapse via array_distinct
    * before the count). The corpus text itself never shuffles — only
    * (paragraph, partial count) pairs move, and map-side combine keeps
    * the exchange proportional to distinct-paragraph cardinality.
    */
  def boilerplateParagraphs(df: DataFrame, textCol: String,
      minDocFreq: Int, sep: String = "\n\n"): DataFrame =
    df.select(explode(array_distinct(
        split(col(textCol), java.util.regex.Pattern.quote(sep)))).as("paragraph"))
      .where(length(trim(col("paragraph"))) > 0)
      .groupBy(col("paragraph")).agg(count(lit(1)).as("doc_freq"))
      .where(col("doc_freq") >= minDocFreq)

  /** Strip cross-document boilerplate: rewrite `textCol` with every
    * paragraph that [[boilerplateParagraphs]] flags removed (headers,
    * footers, cookie banners — the paragraphs whose document frequency
    * betrays them as template, not content). The flagged set is collected
    * to the driver — bounded by `maxSetSize`, and boilerplate is small by
    * nature (it is the HIGH-frequency tail) — then applied as a literal
    * array inside a map-side `filter` lambda: after the one small
    * (paragraph, count) aggregation, the corpus rewrite is exchange-free.
    * Throws when the flagged set exceeds the cap rather than silently
    * stripping a truncated subset (lower `minDocFreq` selectivity or raise
    * the cap explicitly).
    */
  def stripBoilerplate(df: DataFrame, textCol: String, minDocFreq: Int,
      maxSetSize: Int = 10000, sep: String = "\n\n"): DataFrame = {
    val flagged = boilerplateParagraphs(df, textCol, minDocFreq, sep)
      .orderBy(col("doc_freq").desc, col("paragraph"))
      .limit(maxSetSize + 1)
      .collect().map(_.getString(0))
    require(flagged.length <= maxSetSize,
      s"more than $maxSetSize boilerplate paragraphs at minDocFreq=$minDocFreq; " +
        "raise maxSetSize or minDocFreq (refusing to strip a truncated subset)")
    if (flagged.isEmpty) df
    else {
      // broadcast-set probe (O(1) per paragraph, codegen'd) — the literal
      // array_contains alternative pays O(set) string compares per
      // paragraph, which at the 10k cap over a large corpus is the
      // rewrite stage's whole budget
      val spark = df.sparkSession
      df.withColumn(textCol, array_join(
        filter(split(col(textCol), java.util.regex.Pattern.quote(sep)),
          p => !graft.functions.InBroadcastSet.column(spark, p, flagged)),
        sep))
    }
  }

  /** Observability for the hot-bucket guard: per-bucket sizes above the cap.
    * Run on a sample (or the full corpus) before a big dedup to see which
    * buckets will degrade to star-linking.
    */
  def lshBucketStats(banded: DataFrame, keyCols: Seq[String],
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    banded.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > maxBucketSize)

  /** Exact duplicate groups by normalized text, keyed on a 128-bit content
    * hash so only (hash, id) pairs shuffle — never the text itself. At 100 TB
    * the shuffle payload is 24 bytes/row regardless of document size;
    * md5's 128 bits make collisions negligible at any corpus size
    * (~1e-18 at a trillion docs). Keeps min(id) as the canonical
    * representative.
    */
  /** The 128-bit normalized-content hash every exact-dedup surface keys on
    * (batch, ingest, index build, and the streaming twin) — one definition,
    * so the normalization rule cannot drift between them.
    */
  private[graft] def normTextHash(textCol: String): Column =
    md5(T.normText(col(textCol)).cast("binary"))

  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), normTextHash(textCol).as("norm_hash"))
      .groupBy(col("norm_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Rows surviving exact dedup (the canonical representative per text). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val winners = exactDuplicates(df, idCol, textCol)
      .select(col("keep_id").as(idCol))
    df.join(winners, idCol) // broadcast-able when dup rate is high; hash join otherwise
  }

  /** MinHash-LSH candidate duplicate pairs.
    *
    * @param numHashes signature length (k)
    * @param bands     number of LSH bands; rows per band = numHashes/bands.
    *                  Similarity threshold ~ (1/bands)^(1/rowsPerBand).
    */
  def minHashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // band key = (band index, xxhash64 of the band's signature slice)
    def mkBanded(rows: DataFrame): DataFrame =
      minHashBanded(rows, idCol, textCol, shingleSize, numHashes, bands)
    cappedBucketPairs(df, mkBanded, Seq("band", "bucket"), Nil, maxBucketSize)
      .select("id_a", "id_b").distinct()
  }

  /** Candidate pairs verified with exact Jaccard over shingle sets
    * (array_intersect/array_union are codegen'd built-ins).
    *
    * @param bands LSH band count; rows per band r = numHashes/bands. A pair
    *   at Jaccard J is DETECTED (lands in some shared bucket, hence gets
    *   verified) with probability 1 − (1 − J^r)^bands — at the defaults
    *   (numHashes=128, bands=32, r=4) that is ~99.98% at J=0.7 and ~87% at
    *   J=0.5; precision is 1.0 regardless (exact-Jaccard verify). Halving to
    *   bands=16 (r=8) drops the theoretical floor at exactly J=0.7 to ~61%,
    *   but the MEASURED trade on a real skewed-J corpus (mutated sf25m,
    *   BASELINE.md "r16: the banding escape hatch, measured at the
    *   ceiling") is much milder: candidates −81%,
    *   pair-path wall −56%, verified pairs at J ≥ 0.7 93.9% kept, group
    *   nodes 98.3% kept — the loss concentrates in the J ∈ [0.7, 0.8)
    *   detection tail. bands=16 is therefore the documented escape hatch
    *   when the materialized pair path exceeds local disk (it completed the
    *   sf50m corpus whose bands=32 run aborted); state the recall trade
    *   when you take it.
    */
  def minHashDuplicates(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, shingleSize: Int = 3,
      numHashes: Int = 128, bands: Int = 32,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val c = collapsedMinHash(df, idCol, textCol, threshold, shingleSize,
      numHashes, bands, maxBucketSize)
    // Oversized-clique guard: the pre-collapse path bounded pair OUTPUT via
    // the member-level bucket cap (hot buckets degraded to star links); the
    // collapsed path must reapply that bound at EXPANSION or one
    // boilerplate clique of m identical texts re-inflates the output to
    // O(m^2) — the exact shape the collapse exists for. Exact groups larger
    // than maxBucketSize therefore expand through their representative
    // only: cross pairs carry the rep (one row per counterpart member),
    // intra pairs degrade to rep->member star links — O(m) output, with
    // duplicate-group connectivity preserved exactly (rep links every
    // member at jaccard 1.0). Groups within the cap expand in full.
    //
    // Pay-only-when-armed: whether ANY exact group exceeds the cap is one
    // tiny max() over the already-checkpointed reps frame (distinct-text
    // scale). A corpus with no over-cap clique — the common case — routes
    // straight to c.members and never builds the members×reps sizing join,
    // whose localCheckpoint was a measured +13-25% constant on the sf0.1
    // dedup medians (r15 steady pins) despite guarding nothing there.
    // null-hash rows (null/empty-normalizing texts) drop from every equi-join
    // below, so a large null group can never re-inflate output — exclude it
    // from the probe or a corpus of mostly-null texts arms the guard (and
    // pays the sizing-join checkpoint) for nothing
    val capArmed = maxBucketSize != Int.MaxValue && {
      val m = c.repHash.where(col("__rh").isNotNull).agg(max(col("__rn"))).head()
      !m.isNullAt(0) && m.getLong(0) > maxBucketSize
    }
    // checkpointed (lazily — built only when the cap is armed): the guard
    // consumes this corpus-member-sized join up to four times (both cross
    // sides, the small-group self-join, the star-link union)
    lazy val sized = c.members.join(
      c.repHash.select(col("__rh"), col("__rid"), col("__rn")), Seq("__rh"))
      .cut(true)
    val expandMembers =
      if (!capArmed) c.members
      else sized.where(col("__rn") <= maxBucketSize || col("__mid") === col("__rid"))
        .select(col("__rh"), col("__mid"))
    // cross pairs: a rep-level pair expands to every (surviving) member
    // combination; the score carries EXACTLY (equal normText ⟹ equal
    // shingle sets)
    val withHashes = c.repPairs
      .join(c.repHash.select(col("__rid").as("id_a"), col("__rh").as("__rha")), Seq("id_a"))
      .join(c.repHash.select(col("__rid").as("id_b"), col("__rh").as("__rhb")), Seq("id_b"))
    val cross = withHashes
      .join(expandMembers.select(col("__rh").as("__rha"), col("__mid").as("__ma")), Seq("__rha"))
      .join(expandMembers.select(col("__rh").as("__rhb"), col("__mid").as("__mb")), Seq("__rhb"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("jaccard"))
    // intra pairs: members of one exact group verify to jaccard exactly 1.0
    // (intersect/union of identical arrays), so they pass any threshold <= 1
    if (threshold > 1.0) cross
    else {
      val smallMembers =
        if (!capArmed) c.members
        else sized.where(col("__rn") <= maxBucketSize)
          .select(col("__rh"), col("__mid"))
      val intraFull = smallMembers.select(col("__rh"), col("__mid").as("id_a"))
        .join(smallMembers.select(col("__rh"), col("__mid").as("id_b")), Seq("__rh"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
      val intra =
        if (!capArmed) intraFull
        else intraFull.unionByName(
          sized.where(col("__rn") > maxBucketSize && col("__mid") =!= col("__rid"))
            .select(col("__rid").as("id_a"), col("__mid").as("id_b"),
              lit(1.0).as("jaccard")))
      cross.unionByName(intra)
    }
  }

  /** The exact-collapse core of [[minHashDuplicates]] /
    * [[minHashDuplicateGroups]]: docs sharing one normalized text
    * ([[normTextHash]] — the key every exact-dedup surface uses) share the
    * SAME tokens, hence the same MinHash signature, band buckets, and
    * shingle set, so the LSH + verify pipeline runs once per DISTINCT text
    * and its result applies to every member verbatim. Without this, a
    * corpus with large exact-duplicate cliques (boilerplate pages — the
    * normal shape of a crawled corpus, and what key-shifted testdata
    * replication produces at high SF) pays candidate generation and exact
    * verification QUADRATIC in clique size: measured on the sf25 bench
    * corpus (250-member cliques, ~155M candidate pairs), the uncollapsed
    * dedup_groups warm-up ran 45+ minutes where sf5 took 35 s. Collapsed,
    * the expensive stages run at distinct-text scale and only the final
    * pair expansion — linear in the OUTPUT — touches member ids.
    *
    * Bucket-cap nuance: the [[cappedBucketPairs]] hot-bucket guard applies
    * at REP level (exact-dup piles no longer inflate buckets), and
    * `maxBucketSize` is REAPPLIED at pair expansion — exact groups larger
    * than the cap expand through their representative as star links (see
    * [[minHashDuplicates]]), so the cap bounds pair OUTPUT exactly as the
    * old member-level guard did. A corpus whose member-level buckets would
    * have tripped the cap only through DISTINCT near-dup texts (not exact
    * piles) gets the complete pair set — strictly more complete output in
    * a regime the old path had already degraded.
    */
  private case class CollapsedMinHash(repPairs: DataFrame, ec: ExactCollapse) {
    def members: DataFrame = ec.members
    def repHash: DataFrame = ec.reps.select(col("__rid"), col("__rh"), col("__rn"))
  }

  /** The exact-collapse substrate shared by the MinHash and SimHash group
    * paths: per-document (normTextHash, id) member rows plus one
    * representative (min id, its text, and the group SIZE) per distinct
    * normalized text. Both frames are checkpointed — every consumer joins
    * them at least twice.
    */
  private case class ExactCollapse(members: DataFrame, reps: DataFrame) {
    /** Representative documents, shaped like the caller's input. */
    def repDocs(idCol: String, textCol: String): DataFrame =
      reps.select(col("__rid").as(idCol), col("__rtext").as(textCol))

    /** rep -> member star edges for multi-member exact groups (rep is the
      * group's min id, so id_a = rep keeps the (id_a < id_b) pair
      * contract) — the ONE construction both group paths' "components
      * equal the uncollapsed composition" pins depend on.
      */
    def starEdges: DataFrame = members
      .join(reps.select(col("__rh"), col("__rid")), Seq("__rh"))
      .where(col("__mid") =!= col("__rid"))
      .select(col("__rid").as("id_a"), col("__mid").as("id_b"))
  }

  private def exactCollapse(df: DataFrame, idCol: String, textCol: String): ExactCollapse = {
    // (hash, member id): 40 B/row — the only corpus-sized thing this path
    // materializes. Null-text docs carry a null hash and fall out of every
    // equi-join below, matching the old path (null shingles never paired).
    val members = df
      .select(normTextHash(textCol).as("__rh"), col(idCol).as("__mid"))
      .cut(false) // lazy: materializes inside the first consuming
      // job instead of as its own serial action (OPTIMIZATION_r17.md §2: the
      // sf0.1 dedup gates are job-COUNT-bound — 84 serial jobs, max 0.11 s
      // each)
    // one representative (min id) + its text per distinct normText; the
    // partial aggregate dedups per partition first, so under a high dup
    // rate the exchange carries far fewer texts than rows. The member count
    // rides the same aggregate for free — it is what the oversized-clique
    // guard in the pair-expansion stages keys on.
    val reps = df.groupBy(normTextHash(textCol).as("__rh"))
      .agg(min(col(idCol)).as("__rid"),
        min_by(col(textCol), col(idCol)).as("__rtext"),
        count(lit(1)).as("__rn"))
      .cut(false) // lazy — see the members note
    ExactCollapse(members, reps)
  }

  /** `bands` carries the detection-probability contract documented at
    * [[minHashDuplicates]] (1 − (1 − J^r)^bands; measured 32→16 trade in
    * BASELINE.md "r16: the banding escape hatch, measured at the
    * ceiling") — it only scales the rep-level
    * candidate stage here; exact-dup members are detected at probability 1
    * by the collapse regardless of banding.
    */
  private def collapsedMinHash(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int, numHashes: Int, bands: Int,
      maxBucketSize: Int): CollapsedMinHash = {
    val ec = exactCollapse(df, idCol, textCol)
    val members = ec.members
    val reps = ec.reps
    val repDocs = ec.repDocs(idCol, textCol)
    // checkpointed: the verify stage consumes the candidate frame TWICE
    // (pair sides + the semi-join that restricts shingle building to
    // candidate docs) — without the checkpoint the banding/bucket-join
    // lineage would run once per consumer (the union-lineage lesson)
    // EAGER on purpose: the materialized size feeds the planner — the
    // verify stage's semi-join cut and attach joins broadcast the
    // candidate-bounded side only because this frame's true (small) size is
    // known; a lazy checkpoint plans them as sort-merge from default stats
    // (caught by PlanSuite's broadcast pins, r17)
    val cand = minHashCandidatePairs(repDocs, idCol, textCol, shingleSize,
      numHashes, bands, maxBucketSize).cut(true)
    val repPairs = ngramJaccard(cand, repDocs, idCol, textCol, shingleSize)
      .where(col("jaccard") >= threshold)
    CollapsedMinHash(repPairs, ec)
  }

  /** Near-duplicate groups without materializing the quadratic pair set:
    * connected components over rep-level pairs plus rep→member star edges.
    * Output is IDENTICAL to
    * `duplicateGroups(minHashDuplicates(df, ...), ...)` — every full-graph
    * edge (x, y) is the path x–rep(x)–rep(y)–y in the collapsed graph and
    * vice versa, so components (and their min-id labels, and the node set:
    * every doc appearing in some qualifying pair) coincide — but the edge
    * frame is |repPairs| + |members of non-singleton groups| instead of
    * quadratic in clique sizes. This is the composition [[keepBest]] and
    * the dedup_groups gates run at scale.
    *
    * NOTE: `strategy = "star"` always enforces converge-or-throw —
    * `requireConvergence` is honored only by the minLabel/auto paths (see
    * [[dispatchGroups]]; call [[duplicateGroupsStar]] directly to opt out).
    */
  def minHashDuplicateGroups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, shingleSize: Int = 3,
      numHashes: Int = 128, bands: Int = 32,
      maxBucketSize: Int = DefaultMaxBucketSize,
      maxIter: Int = 20, requireConvergence: Boolean = false,
      strategy: String = "auto"): DataFrame = {
    val c = collapsedMinHash(df, idCol, textCol, threshold, shingleSize,
      numHashes, bands, maxBucketSize)
    val edges = c.repPairs.select(col("id_a"), col("id_b"))
      .unionByName(c.ec.starEdges)
    dispatchGroups(edges, maxIter, requireConvergence, strategy)
  }

  /** Strategy dispatch shared by the collapsed group paths.
    * `strategy = "star"` ALWAYS runs under [[duplicateGroupsStar]]'s
    * converge-or-throw contract (its own default), regardless of
    * `requireConvergence` — a non-converged star run silently returning
    * partially merged groups is the failure mode the contract exists to
    * surface; call [[duplicateGroupsStar]] directly to opt out.
    * `requireConvergence` governs the minLabel/auto paths as before.
    */
  private def dispatchGroups(edges: DataFrame, maxIter: Int,
      requireConvergence: Boolean, strategy: String): DataFrame =
    if (strategy == "star") {
      // visible override (not just scaladoc): callers that explicitly
      // tolerated non-convergence in r14 now throw on a non-converged run
      if (!requireConvergence)
        log.warn("dispatchGroups: strategy=\"star\" overrides requireConvergence=false " +
          "to true (non-converged star runs silently return partially merged groups); " +
          "call duplicateGroupsStar directly to opt out")
      duplicateGroupsStar(edges, maxIter, requireConvergence = true)
    } else
      duplicateGroups(edges, maxIter, requireConvergence, strategy)

  // ---- Incremental ingest dedup: a NEW batch against an EXISTING corpus ----

  /** The banded (band, bucket, id) LSH rows for one input — the identical
    * signature/banding expressions [[minHashCandidatePairs]] uses, factored
    * so the asymmetric ingest join bands each side independently.
    */
  private[operators] def minHashBanded(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0)
    val rowsPerBand = numHashes / bands
    df.select(col(idCol).as("id"),
        // fused shingle->signature kernel: bit-identical to
        // minhash_signature(word_shingles(...)) with zero per-shingle
        // allocation — the measured hot loop of the sf5 dedup gates
        F.shingle_minhash(T.tokens(col(textCol)), shingleSize, numHashes).as("sig"))
      .select(col("id"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws(",", slice(col("sig"), b * rowsPerBand + lit(1), lit(rowsPerBand))), b))
      ).as(Seq("band", "bucket")))
  }

  /** Near-dup candidates between a new batch and an existing corpus: both
    * sides band map-side and join on (band, bucket), so NO corpus self-join
    * ever forms — the daily-ingest shape at 100 TB, where the corpus is
    * orders of magnitude larger than the batch and re-pairing it against
    * itself would dwarf the actual work. Hot corpus buckets (boilerplate
    * piles) are flagged from the same seeded 10% sample the self-join guard
    * uses and degrade to matching against the bucket's [[HotBucketWitnesses]]
    * smallest-id members: in the degenerate near-identical-bucket case any
    * single witness matches whenever any member would (the star-link
    * argument of [[cappedBucketPairs]]), and for a HETEROGENEOUS hot bucket
    * (banding collisions of genuinely distinct docs) multiple witnesses
    * cover the common collision profiles. Residual false-negative mode,
    * documented deliberately: a new doc whose only qualifying partners all
    * rank above the witness cut still escapes this band — it is only
    * convicted if another of its bands hits a cold (exact) bucket, which is
    * overwhelmingly likely for a true near-duplicate (32 independent bands
    * by default).
    *
    * Ids must be disjoint across the two inputs (normal for ingest batches).
    * @return (id_new, id_corpus) candidate pairs, deduped
    */
  private def incrementalCandidatePairs(corpus: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      numHashes: Int = 128, bands: Int = 32,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val corpusBanded = minHashBanded(corpus, idCol, textCol, shingleSize, numHashes, bands)
    val newBanded = minHashBanded(newDocs, idCol, textCol, shingleSize, numHashes, bands)
      .withColumnRenamed("id", "id_new")
    val corpusSide =
      if (maxBucketSize == Int.MaxValue) corpusBanded
      else sampledHotBuckets(corpus,
          rows => minHashBanded(rows, idCol, textCol, shingleSize, numHashes, bands),
          Seq("band", "bucket"), maxBucketSize) match {
        case None => corpusBanded
        case Some(hot) =>
          hotBucketWitnessRows(corpusBanded, hot.select(col("band"), col("bucket")))
      }
    corpusSide.join(newBanded, Seq("band", "bucket"))
      .select(col("id_new"), col("id").as("id_corpus")).distinct()
  }

  /** Corpus banded rows with every hot bucket reduced to its
    * [[HotBucketWitnesses]] smallest-id members (cold buckets untouched).
    * The witness rank is a window over ONLY the hot subset — the cold rows
    * never shuffle for it, and the hot subset is exactly the degenerate
    * pile the guard exists for (sorting it once is the cheap part of any
    * plan that touches it at all).
    */
  private[operators] def hotBucketWitnessRows(banded: DataFrame, hotKeys: DataFrame): DataFrame = {
    val marked = banded.join(hotKeys.withColumn("__hot", lit(1)).select(col("band"), col("bucket"), col("__hot")),
      Seq("band", "bucket"), "left")
    val cold = marked.where(col("__hot").isNull).select(col("band"), col("bucket"), col("id"))
    val w = Window.partitionBy(col("band"), col("bucket")).orderBy(col("id"))
    val witnesses = marked.where(col("__hot").isNotNull)
      .select(col("band"), col("bucket"), col("id"))
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= HotBucketWitnesses)
      .select(col("band"), col("bucket"), col("id"))
    cold.unionByName(witnesses)
  }

  /** Incremental candidates verified with exact Jaccard across the two
    * sides. Shuffle budget: the corpus is first cut down to candidate ids
    * with a semi-join (the distinct candidate-id set is batch-bounded, so
    * Catalyst broadcasts it and the cut is map-side) — shingles are computed
    * and shuffled ONLY for corpus docs some candidate actually names, never
    * for the whole corpus; the new side is batch-sized to begin with.
    * @return (id_new, id_corpus, jaccard) with jaccard >= threshold
    */
  def incrementalMinHash(corpus: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.7,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // materialize the (batch-bounded) pair set once: it feeds BOTH the
    // semi-join corpus cut and the verification join, and without this the
    // full candidate-generation lineage — a corpus scan plus signatures —
    // would execute twice
    val cand = incrementalCandidatePairs(corpus, newDocs, idCol, textCol,
      shingleSize, numHashes, bands, maxBucketSize).cut(true) // eager:
      // the materialized (batch-bounded) size drives the broadcast cut
    verifyCrossPairs(cand, corpus, newDocs, idCol, textCol, shingleSize)
      .where(col("jaccard") >= threshold)
  }

  /** Exact cross-side Jaccard for (id_new, id_corpus) candidate pairs —
    * shared by the direct and index ingest paths. The corpus is first cut
    * down to candidate ids with a semi-join (the distinct candidate-id set
    * is batch-bounded, so Catalyst broadcasts it and the cut is map-side):
    * shingles are computed and shuffled ONLY for corpus docs some candidate
    * actually names, never for the whole corpus; the new side is
    * batch-sized to begin with. Callers must pass an already-materialized
    * `cand` (it is read twice).
    */
  private def verifyCrossPairs(cand: DataFrame, corpus: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, shingleSize: Int): DataFrame = {
    // 64-bit hashed shingle sets, as in ngramJaccard — ~3x fewer verify
    // bytes per pair-side (see the representation note there)
    def shingled(df: DataFrame, as: String, shAs: String) =
      df.select(col(idCol).as(as), array_distinct(transform(
        F.word_shingles(T.tokens(col(textCol)), shingleSize), s => xxhash64(s))).as(shAs))
    val corpusNeeded = corpus.join(
      cand.select(col("id_corpus").as(idCol)).distinct(), Seq(idCol), "left_semi")
    cand.join(shingled(newDocs, "id_new", "__sh_n"), "id_new")
      .join(shingled(corpusNeeded, "id_corpus", "__sh_c"), "id_corpus")
      // union via |A|+|B|−|A∩B| — see ngramJaccard's identity note
      .select(col("id_new"), col("id_corpus"),
        size(array_intersect(col("__sh_n"), col("__sh_c"))).as("__i"),
        size(col("__sh_n")).as("__sa"), size(col("__sh_c")).as("__sb"))
      .select(col("id_new"), col("id_corpus"),
        (col("__i").cast("double") /
         (col("__sa") + col("__sb") - col("__i")).cast("double")).as("jaccard"))
  }

  /** New-batch rows surviving ingest dedup against the existing corpus:
    * exact first (normalized-md5 anti-join — 16 bytes/row shuffle, catches
    * the zero-shingle short-doc edge the Jaccard stage cannot), then
    * near-dup (incremental LSH + exact-Jaccard verify). Within-batch
    * duplicates are NOT resolved here — run [[exactDedup]] /
    * [[minHashDuplicates]] on the batch itself for that.
    */
  /** Exact-collapse note (r15, measurement-driven — BASELINE.md "r15:
    * dedup_incremental attributed and exact-collapsed": stage attribution on
    * the verbatim sf25 fixture attributed the gate's 43 s as: exact stage 3 s,
    * candidate generation 25 s, verify ~15 s, with member-level corpus
    * banding at 5.5 s vs 1.4 s over distinct texts): near-dup membership is
    * a function of TEXT alone and this surface returns only batch-side ids,
    * so the whole near stage runs between one representative per DISTINCT
    * corpus text and one per distinct surviving batch text; flagged batch
    * reps expand back to every member sharing their normalized text. The
    * result set is EXACTLY the uncollapsed one (suite-pinned) modulo the
    * bucket-cap degradation regime, as in [[collapsedMinHash]]: a member m
    * with rep r and any corpus doc c with rep cr satisfy J(m, c) = J(r, cr),
    * but when `maxBucketSize` trips, the hot-bucket guard now applies at
    * REP level, so the flagged id set in cap-trip regimes can differ from
    * the old member-level path (both are documented degradations, and the
    * rep-level one is strictly less lossy — exact piles no longer inflate
    * buckets). Exact-dup cliques on either side no longer multiply banding,
    * bucket-join, or verify work.
    */
  def incrementalDedup(corpus: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.7,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // one groupBy yields both the exact-stage hash set and the corpus reps.
    // Deliberately NOT exactCollapse: that helper eagerly checkpoints a
    // corpus-member-sized (hash, id) frame this path never consumes — the
    // ingest surface needs only reps on the corpus side
    val corpusAgg = corpus.groupBy(normTextHash(textCol).as("__h"))
      .agg(min(col(idCol)).as("__rid"),
        min_by(col(textCol), col(idCol)).as("__rtext"))
      .cut(false) // lazy — materializes in the first consumer (r17)
    // checkpointed: consumed by the member map, the rep aggregate, and the
    // final anti-join — without it each consumer re-runs the batch scan +
    // hash + anti-join lineage
    val exactSurvivors = newDocs.withColumn("__h", normTextHash(textCol))
      .join(corpusAgg.select(col("__h")), Seq("__h"), "left_anti")
      .drop("__h")
      .cut(false) // lazy — see corpusAgg note
    // batch-side collapse: (hash, member id) map + one rep doc per text
    val batchMembers = exactSurvivors
      .select(normTextHash(textCol).as("__bh"), col(idCol).as("__mid"))
    val batchReps = exactSurvivors.groupBy(normTextHash(textCol).as("__bh"))
      .agg(min(col(idCol)).as("__bid"),
        min_by(col(textCol), col(idCol)).as("__btext"))
      .cut(false) // lazy — see corpusAgg note
    val corpusReps = corpusAgg.select(col("__rid").as(idCol), col("__rtext").as(textCol))
    val flaggedRepIds = incrementalMinHash(corpusReps,
        batchReps.select(col("__bid").as(idCol), col("__btext").as(textCol)),
        idCol, textCol, threshold, shingleSize, numHashes, bands, maxBucketSize)
      .select(col("id_new").as("__bid")).distinct()
    // flagged rep -> every batch member sharing its normalized text
    val nearDups = batchMembers
      .join(batchReps.join(flaggedRepIds, Seq("__bid"), "left_semi")
        .select(col("__bh")), Seq("__bh"), "left_semi")
      .select(col("__mid").as(idCol))
    exactSurvivors.join(nearDups, Seq(idCol), "left_anti")
  }

  /** The persisted acceleration structure for repeated ingest: the corpus's
    * distinct normalized hashes (exact stage) and its banded LSH rows with
    * hot buckets ALREADY reduced to their [[HotBucketWitnesses]] smallest-id
    * members (candidate stage). Both are plain DataFrames — write them out when the corpus
    * lands (bucket `banded` by (band, bucket) via [[Bucketing]] for
    * shuffle-free candidate joins) and every subsequent batch skips the
    * full-corpus signature pass that [[incrementalDedup]] pays per call.
    * Hot-bucket stats are EXACT at build time (one keyed aggregate,
    * amortized over every future ingest) rather than sampled per call.
    * The config fields must match between build and query — the banding is
    * deterministic in them.
    */
  final case class IngestIndex(shingleSize: Int, numHashes: Int, bands: Int,
      hashes: DataFrame, banded: DataFrame)

  /** r16 exact-collapse (measurement: BASELINE.md "r16: ingestIndexBuild
    * collapse, decided by measurement", index_build vs index_build_reps — on
    * the verbatim sf25 corpus member-level banding
    * was the build's dominant cost, paid once per exact-dup clique member
    * for identical banded keys): the index bands ONE representative (min
    * id) per DISTINCT normalized text. Near-dup candidacy is a function of
    * text alone, and [[incrementalDedup]](index, ...) uses banded ids only
    * to look up candidate TEXTS (J(batch, member) = J(batch, rep)), so the
    * rep-level index convicts exactly the same batch ids — and the r15
    * ad-hoc path already collapsed its corpus side, so this also removes
    * the last member-level banding between the two ingest surfaces.
    * Consumers that need MEMBER-level corpus ids call [[memberIds]] (one
    * rejoin through [[normTextHash]], suite-pinned against the member-level
    * ground truth) — the same O(members) map the old build burned into every
    * persisted index whether or not any consumer wanted it. Build-time
    * hot-bucket stats are exact at REP granularity, matching the collapsed
    * query paths' cap semantics.
    */
  def ingestIndexBuild(corpus: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      maxBucketSize: Int = DefaultMaxBucketSize): IngestIndex = {
    val reps = corpus.groupBy(normTextHash(textCol).as("__h"))
      .agg(min(col(idCol)).as(idCol), min_by(col(textCol), col(idCol)).as(textCol))
      .cut(true) // eager: feeds both the hash set and the banding scan
    val hashes = reps.select(col("__h"))
    val full = minHashBanded(reps.drop("__h"), idCol, textCol, shingleSize, numHashes, bands)
    val banded =
      if (maxBucketSize == Int.MaxValue) full
      else {
        // distributed, exact: no driver collect, and NO broadcast hint — the
        // hot frame is rows*bands/cap-bounded, which on the degenerate
        // boilerplate corpus this guard exists for can exceed broadcast
        // limits; the keyed join lets Catalyst/AQE pick broadcast when it
        // is actually small and shuffle when it is not
        val hot = full.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("__cnt"))
          .where(col("__cnt") > maxBucketSize)
        hotBucketWitnessRows(full, hot.select(col("band"), col("bucket")))
      }
    IngestIndex(shingleSize, numHashes, bands, hashes, banded)
  }

  /** Rehydrate an [[IngestIndex]] from persisted tables (hashes: (__h);
    * banded: (band, bucket, id)) written by [[ingestIndexBuild]] at the
    * same config.
    */
  def ingestIndexFrom(shingleSize: Int, numHashes: Int, bands: Int,
      hashes: DataFrame, banded: DataFrame): IngestIndex =
    IngestIndex(shingleSize, numHashes, bands,
      hashes.select(col("__h")), banded.select(col("band"), col("bucket"), col("id")))

  /** Member-level corpus ids for REP-level flags — the one-call rejoin the
    * rep-level surfaces ([[ingestIndexBuild]]'s banded ids,
    * [[incrementalMinHash]]'s `id_corpus` against a rep-level index)
    * otherwise require consumers to hand-roll. The join key is
    * [[normTextHash]] — the single normalized-content hash every exact-dedup
    * surface uses — NOT the id column: joining flagged rep ids straight
    * against corpus ids silently returns only the reps themselves and drops
    * every other clique member.
    *
    * Shuffle budget: `repIds` is typically flag-bounded (≪ corpus), so the
    * first semi-join broadcasts it and cuts the corpus map-side; the flagged
    * hash set is equally small, so the expansion semi-join broadcasts too —
    * the corpus is scanned twice but never shuffled, and only (id, 16-byte
    * hash) pairs move.
    *
    * @param repIds any frame bearing `repCol` with corpus rep ids (duplicates
    *               fine — e.g. the raw `id_corpus` column of verified ingest
    *               pairs)
    * @param repCol the rep-id column in `repIds`; defaults to `idCol`
    * @return one column `idCol`: every corpus id whose normalized text equals
    *         some named rep's text (the reps themselves included)
    */
  def memberIds(corpus: DataFrame, repIds: DataFrame, idCol: String,
      textCol: String, repCol: String = ""): DataFrame = {
    val rc = if (repCol.isEmpty) idCol else repCol
    val withH = corpus.select(col(idCol), normTextHash(textCol).as("__h"))
    val flaggedHashes = withH
      .join(repIds.select(col(rc).as(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col("__h")).where(col("__h").isNotNull).distinct()
    withH.join(flaggedHashes, Seq("__h"), "left_semi").select(col(idCol))
  }

  /** Serialized Bloom filter over an [[IngestIndex]]'s corpus hashes — the
    * map-side prefilter for the ingest exact stage. Sizing (optimal-k
    * filter): ~1.44 * log2(1/fpp) bits per item, so 1e9 corpus docs at the
    * default 1% fpp is ~1.2 GB serialized — broadcastable on the executor
    * sizes a 100 TB corpus implies. Beyond that, shard the corpus by hash
    * prefix and run per-shard batches, or skip the bloom entirely: it is an
    * OPTIMIZATION only; the exact anti-join fallback stays correct and the
    * bloom path returns identical results at any fpp (false positives are
    * resolved exactly, and a Bloom filter has no false negatives).
    */
  def ingestBloomBuild(index: IngestIndex, fpp: Double = 0.01): Array[Byte] = {
    val n = index.hashes.count()
    // stat.bloomFilter NPEs on zero input rows (null aggregate buffer) —
    // an empty corpus gets an explicit empty filter instead
    val bf =
      if (n == 0) org.apache.spark.util.sketch.BloomFilter.create(1, fpp)
      else index.hashes.stat.bloomFilter("__h", n, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Deserializes the broadcast filter once per executor (lazily), not per
    * row — the probe itself is a handful of hash ops on the already-computed
    * content hash. Shared with the streaming twin
    * ([[graft.streaming.Streaming.exactIngestStreamBloom]]) so the probe
    * semantics cannot drift between the batch and stream paths.
    */
  private[graft] final class BloomMightContain(
      bytes: org.apache.spark.broadcast.Broadcast[Array[Byte]])
      extends (String => Boolean) with Serializable {
    @transient private lazy val bf = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bytes.value))
    def apply(h: String): Boolean = h != null && bf.mightContainString(h)
  }

  /** Exact-stage survivors with a Bloom prefilter: rows whose hash the
    * filter rules out are definitely new (no false negatives) and skip the
    * hash-table lookup entirely; only the batch's "maybe" hashes — a set
    * bounded by batch size x (dup rate + fpp) — touch the corpus hash
    * table, via a broadcast semi-join that cuts it down map-side. Per-batch
    * shuffle cost drops from a two-sided hash-table anti-join to ZERO
    * exchanges: every join here broadcasts the batch-bounded side, and the
    * (huge) hash table is scanned map-side once. Result is bit-identical to
    * the plain anti-join at any fpp.
    */
  private def bloomExactSurvivors(hashes: DataFrame, withH: DataFrame,
      bloomBytes: Array[Byte]): DataFrame = {
    val spark = withH.sparkSession
    val bc = spark.sparkContext.broadcast(bloomBytes)
    val might = udf(new BloomMightContain(bc))
    val probed = withH.withColumn("__maybe", might(col("__h")))
    val maybeHashes = probed.where(col("__maybe")).select(col("__h")).distinct()
    // present ⊆ maybeHashes, so it is batch-bounded too: both joins broadcast
    val present = hashes.join(broadcast(maybeHashes), Seq("__h"), "left_semi")
    probed.join(broadcast(present), Seq("__h"), "left_anti").drop("__maybe")
  }

  /** [[incrementalDedup]] against a prebuilt [[IngestIndex]]: the per-batch
    * cost drops to banding the BATCH, two anti-joins, and a verification
    * join that touches only candidate corpus docs (`corpus` is still needed
    * for candidate text lookup — it is semi-joined down to candidate ids
    * before any shingle is computed). Pass `bloom` (from
    * [[ingestBloomBuild]] over the same index) to prefilter the exact stage
    * map-side: definite-new rows skip the hash table and the residual
    * lookups all broadcast — results are identical with or without it.
    */
  def incrementalDedup(index: IngestIndex, corpus: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame =
    incrementalDedup(index, corpus, newDocs, idCol, textCol, threshold, None)

  def incrementalDedup(index: IngestIndex, corpus: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      bloom: Option[Array[Byte]]): DataFrame = {
    val withH = newDocs.withColumn("__h", normTextHash(textCol))
    // deliberately NOT checkpointed (r17 optimization pass): the three
    // consumers (banding, verify shingle build, final anti-join) re-run the
    // batch-sized exact-stage lineage, but a checkpoint here severs the
    // exact stage from the executed plan — hiding the zero-exchange
    // broadcast shape PlanSuite pins — and the stage is batch-bounded
    // map-side work, far below the candidate/verify cost measured in
    // BASELINE.md "r15: dedup_incremental attributed and exact-collapsed"
    val exactSurvivors = (bloom match {
      case Some(b) => bloomExactSurvivors(index.hashes, withH, b)
      case None => withH.join(index.hashes, Seq("__h"), "left_anti")
    }).drop("__h")
    val newBanded = minHashBanded(exactSurvivors, idCol, textCol,
        index.shingleSize, index.numHashes, index.bands)
      .withColumnRenamed("id", "id_new")
    val cand = index.banded.join(newBanded, Seq("band", "bucket"))
      .select(col("id_new"), col("id").as("id_corpus")).distinct()
      // EAGER on purpose — the known materialized size is what lets the
      // exact-stage and verify joins broadcast (see collapsedMinHash note)
      .cut(true)
    val convicted = verifyCrossPairs(cand, corpus, exactSurvivors, idCol, textCol,
        index.shingleSize)
      .where(col("jaccard") >= threshold)
      .select(col("id_new").as(idCol)).distinct()
    exactSurvivors.join(convicted, Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard for given candidate pairs (id_a, id_b).
    *
    * Shuffle budget: shingle sets are built and shuffled ONLY for docs that
    * appear in a candidate pair — a left-semi join restricts the corpus
    * BEFORE the (heavy, ~3x the text bytes) shingle expression evaluates,
    * so verify cost scales with the candidate set, not the corpus (the r14
    * stage attribution measured the old build-shingles-for-everyone shape
    * as the single biggest slice of the sf5 minhash gate). Pairs explode
    * into (pair, side, id) rows, one join on id attaches shingles, and a
    * pair-keyed aggregate reunites the two sides.
    *
    * Join shape: two id-keyed joins, attaching each side's set directly.
    * The old explode-sides + pair-keyed reunite shape shuffled BOTH sides'
    * sets once per pair (2 x pairs sets through the reunite exchange); the
    * two-join shape moves pairs-with-one-set through one exchange plus the
    * (small) per-doc set table twice — ~half the set bytes when pairs
    * outnumber docs, which is exactly the clique-heavy regime banding
    * produces on duplicate-rich corpora (r14 stage attribution: 54
    * pairs/doc on the bench corpus made verify the gate's biggest slice).
    *
    * Set representation: the reunited sets are 64-BIT SHINGLE HASHES
    * (xxhash64), not shingle strings. Rationale measured at sf25: the
    * verify joins move one set per pair-side, and on clique-heavy corpora
    * (27 pairs per doc on the bench data) string sets made that exchange
    * ~3 KB/pair-side — a single sf25 gate spilled past the machine's free
    * disk. Hashed sets are ~1 KB/side (8 B/shingle) and compare as
    * primitive longs. Intersection/union cardinalities equal the string
    * sets' unless two DISTINCT shingles of the same doc pair collide in 64
    * bits (probability ~2^-64 per shingle pair, ~1e-12 per pair at typical
    * set sizes — and the DuckDB oracle still computes STRING jaccard, so
    * the gate would catch a collision loudly rather than mask it). MinHash
    * candidate generation already lives on exactly this reduction.
    *
    * NOTE: `pairs` is consumed twice (the join input + the semi-join id
    * set) — callers whose pair frame has an expensive lineage must
    * checkpoint it first, as [[minHashDuplicates]] does. The per-doc set
    * table is checkpointed here (it is consumed once per side).
    */
  def ngramJaccard(pairs: DataFrame, df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3): DataFrame = {
    val sh = hashedShingleSets(pairs, df, idCol, textCol, shingleSize)
    pairs
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      // |A∪B| = |A|+|B|−|A∩B| exactly (both sides are array_distinct'ed
      // sets), so the union ARRAY never materializes — at tens of millions
      // of verify pairs the union allocation was as expensive as the
      // intersection itself; same int operands ⟹ bit-identical jaccard
      // doubles, gates stay hash-exact
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("__i"),
        size(col("sh_a")).as("__sa"), size(col("sh_b")).as("__sb"))
      .select(col("id_a"), col("id_b"),
        (col("__i").cast("double") /
         (col("__sa") + col("__sb") - col("__i")).cast("double")).as("jaccard"))
  }

  /** The checkpointed (id, array<long> shingle-hash set) table for every
    * doc that appears in `pairs` — the shared verify-side build of
    * [[ngramJaccard]] / [[ngramContainment]]. Distinct is taken over the
    * hashes (equal cardinality to distinct strings w.h.p., see
    * [[ngramJaccard]]'s representation note).
    */
  private def hashedShingleSets(pairs: DataFrame, df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int): DataFrame = {
    val needed = pairs.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    df.select(col(idCol).as("id"), col(textCol))
      .join(needed, Seq("id"), "left_semi")
      .select(col("id"), array_distinct(transform(
        F.word_shingles(T.tokens(col(textCol)), shingleSize), s => xxhash64(s))).as("sh"))
      .where(col("sh").isNotNull) // null-text docs drop, as the old reunite shape did
      .cut(false) // lazy reuse — both side-joins read it in one action
  }

  /** Exact n-gram CONTAINMENT for given candidate pairs: |A ∩ B| / |A|,
    * where A is the id_a side's shingle set — the asymmetric overlap score
    * fuzzy decontamination uses (a small eval doc fully contained in a huge
    * training doc scores ~1.0 where Jaccard dilutes toward 0). Same verified
    * join shape and shuffle budget as [[ngramJaccard]]: candidate-scoped
    * shingle builds, checkpointed set table, id-keyed attach joins; `pairs`
    * is consumed twice, so expensive lineages should be checkpointed by the
    * caller. Emits jaccard alongside so one pass serves both scores.
    */
  def ngramContainment(pairs: DataFrame, df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3): DataFrame = {
    val sh = hashedShingleSets(pairs, df, idCol, textCol, shingleSize)
    pairs
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      // union via |A|+|B|−|A∩B| — see ngramJaccard's identity note
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("__i"),
        size(col("sh_a")).as("__sa"), size(col("sh_b")).as("__sb"))
      .select(col("id_a"), col("id_b"),
        (col("__i").cast("double") / col("__sa").cast("double")).as("containment"),
        (col("__i").cast("double") /
         (col("__sa") + col("__sb") - col("__i")).cast("double")).as("jaccard"))
  }

  /** `blocks` sentinel for [[simHashDuplicates]] / [[simHashDuplicateGroups]]:
    * force the single-table banding scheme regardless of distance. Exists for
    * scheme A/B measurement (BASELINE.md "r16: multi-table SimHash banding
    * (Manku '07)"); production callers
    * should leave `blocks = 0` and let the auto-route pick — a forced scheme
    * whose bucket keys are too narrow for the corpus silently cap-degrades
    * (see [[simHashAutoBlocks]]).
    */
  val SimHashSingleTable: Int = -1

  /** Skew margin for [[simHashAutoBlocks]]' occupancy rule: a banding
    * scheme is considered cap-safe when its EXPECTED bucket occupancy
    * (nRows / 2^keyBits, worst-case floor key width) stays under
    * maxBucketSize / this factor — simhashes of templated/near-dup corpora
    * cluster far above uniform, so the average must sit well below the cap
    * for the hot tail to clear it. Calibrated r17 (BASELINE r17 "blocks
    * knob"): at d=8 on 1.5M mutated-sf50m reps, blocks=10 (expected
    * occupancy ~366 — above cap/10) silently cap-dropped ~85% of true
    * pairs, while blocks=11 (occupancy ~46 — under) recovered them.
    */
  val SimHashOccupancySkewMargin = 10

  /** Auto-routing rule between the banding schemes — now a function of the
    * DISTANCE and the CORPUS SIZE (r16 + r17 measurements, BASELINE.md
    * "SimHash banding scheme A/B" and "blocks knob at sf50m").
    *
    * The failure mode both measurements hit is the same: when a scheme's
    * bucket keys are too narrow for the corpus, buckets saturate the
    * hot-bucket cap and the verified output silently loses most true pairs
    * (r16: single-table d=8 lost ~96% at 625k docs; r17: multi-table
    * blocks=10 lost ~85% at 1.5M reps). Narrow keys are a function of BOTH
    * knobs, so the route probes expected occupancy = nRows / 2^keyBits
    * (floor key width — the narrowest table) against
    * maxBucketSize / [[SimHashOccupancySkewMargin]]:
    *
    *  - single-table (maxHamming + 1 bands of 64/(d+1)-bit keys) is kept
    *    when d <= 5 AND its occupancy clears the target — the cheap scheme
    *    where it is safe (all sf0.1 gates, verbatim-scale reps).
    *  - otherwise the smallest blocks b >= d + 2 whose C(b, b−d) table
    *    count fits the 512 cap AND whose (b−d)-block keys clear the
    *    occupancy target; wider keys cost combinatorially more tables, so
    *    smallest-passing is cheapest-correct. If no feasible b clears the
    *    target, the WIDEST feasible b is returned (closest to complete;
    *    the cap guard remains the backstop).
    *  - d = 0 stays single-table (one 64-bit exact key — no wider key
    *    exists), and d >= 31 stays single-table (C(d+2, 2) > 512 already,
    *    and with half the bits free to differ Hamming banding has stopped
    *    discriminating — the cap guard is the only defense either way).
    *
    * The probe costs one `count()` of the banding input at the call site —
    * milliseconds against the checkpointed reps frame on the groups path,
    * one input scan on the raw pairs surface (documented there).
    */
  private[graft] def simHashAutoBlocks(maxHamming: Int, nRows: Long,
      maxBucketSize: Int = DefaultMaxBucketSize): Option[Int] = {
    if (maxHamming < 1 || maxHamming > 30) return None
    val target = math.max(1.0, maxBucketSize.toDouble / SimHashOccupancySkewMargin)
    def occupancy(keyBits: Int): Double =
      nRows.toDouble / math.pow(2.0, math.min(keyBits, 62))
    val singleKeyBits = 64 / (maxHamming + 1)
    if (maxHamming <= 5 && occupancy(singleKeyBits) <= target) return None
    def tables(b: Int): Long = {
      // C(b, b - d) with overflow-safe early exit past the 512 cap
      val k = math.min(b - maxHamming, maxHamming)
      var c = 1L
      for (i <- 1 to k) { c = c * (b - k + i) / i; if (c > 4096) return c }
      c
    }
    val feasible = (maxHamming + 2 to 64).iterator
      .takeWhile(b => tables(b) <= 512).toVector
    if (feasible.isEmpty) return None // unreachable for d <= 30 (C(d+2,2) <= 512)
    Some(feasible
      .find(b => occupancy((b - maxHamming) * (64 / b)) <= target)
      .getOrElse(feasible.last))
  }

  /** SimHash near-dup candidates: 64-bit simhash split into `maxHamming + 1`
    * bit-blocks (Manku et al. '07). A pair within Hamming distance d differs
    * in at most d blocks, so with d+1 blocks at least one block is intact —
    * candidate generation is *complete* for the requested distance, and exact
    * popcount verification makes precision 1.0, so the result EQUALS
    * brute-force all-pairs Hamming (asserted in DedupSuite).
    *
    * Scale note: larger maxHamming means narrower blocks, hence coarser
    * buckets and bigger bucket sizes — past the [[simHashAutoBlocks]] floor
    * that is a CORRECTNESS cliff (the cap guard star-links saturated
    * buckets), so aggressive distances auto-route to the Manku multi-table
    * scheme; `blocks` overrides the route.
    */
  /** @param portable hash tokens with the md5-derived engine-portable hash
    *                  (see [[graft.functions.SimHash64]]) so an external SQL
    *                  oracle can recompute the simhashes bit-for-bit; the
    *                  banding stays complete either way (pigeonhole — it does
    *                  not depend on the hash function)
    * @param blocks 0 (default) = AUTO: probe the input size (one `count()`
    *               of `df` at call time) and pick the cheapest scheme whose
    *               expected bucket occupancy clears the hot-bucket cap —
    *               single-table when d <= 5 and the corpus is small enough,
    *               else the smallest multi-table block count that is
    *               cap-safe at this scale (see [[simHashAutoBlocks]]; r17
    *               measured blocks = d + 2 itself silently cap-dropping
    *               ~85% of true pairs at 1.5M reps/d=8 — the blocks choice
    *               is corpus-sized, not distance-sized);
    *               > 0 = explicit multi-table with that block count;
    *               [[SimHashSingleTable]] (−1) = force single-table (A/B
    *               measurement and tests only — WRONG at aggressive
    *               distances).
    *
    * OUTPUT-SIZE CONTRACT: this operator MATERIALIZES every near-dup pair,
    * and exact duplicates are Hamming distance 0, so a boilerplate clique of
    * m identical texts contributes m*(m-1)/2 rows — quadratic in clique
    * size BY CONTRACT (each pair costs an O(1) popcount, but the output
    * itself detonates on crawled corpora at scale). Consumers that want
    * GROUPS — the usual reason to enumerate pairs — must use
    * [[simHashDuplicateGroups]], which exact-collapses first and never
    * materializes intra-clique pairs.
    */
  def simHashDuplicates(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = DefaultMaxBucketSize,
      portable: Boolean = false, blocks: Int = 0): DataFrame = {
    require(blocks >= SimHashSingleTable,
      s"blocks must be -1 (force single-table), 0 (auto), or > maxHamming; got $blocks")
    val routed =
      // AUTO probes the input size (one count — the occupancy rule needs
      // the corpus scale, see simHashAutoBlocks; groups-path callers pass
      // the checkpointed reps frame, so the probe is a metadata-cheap job)
      if (blocks == 0) simHashAutoBlocks(maxHamming, df.count(), maxBucketSize)
      else if (blocks > 0) Some(blocks)
      else None // SimHashSingleTable: forced single-table (A/B, tests)
    routed match {
      case Some(b) =>
        simHashDuplicatesMultiTable(df, idCol, textCol, maxHamming, b,
          maxBucketSize, portable)
      case None =>
        simHashSingleTableDuplicates(df, idCol, textCol, maxHamming,
          maxBucketSize, portable)
    }
  }

  /** The single-table banding body of [[simHashDuplicates]] — correct and
    * cheapest where its 64/(maxHamming+1)-bit keys are wide enough for the
    * corpus; cap-degrades past that (the reason the public surface
    * auto-routes on (distance, corpus size) — see [[simHashAutoBlocks]]).
    */
  private def simHashSingleTableDuplicates(df: DataFrame, idCol: String,
      textCol: String, maxHamming: Int, maxBucketSize: Int,
      portable: Boolean): DataFrame = {
    val bands = maxHamming + 1
    require(bands >= 1 && bands <= 64, s"maxHamming must be in [0, 63], got $maxHamming")
    val (widths, offsets) = simHashBlockSpec(bands)
    def mkBanded(rows: DataFrame): DataFrame = rows
      .select(col(idCol).as("id"), F.simhash64(T.tokens(col(textCol)), portable).as("sim"))
      .select(col("id"), col("sim"), posexplode(
        array((0 until bands).map(b =>
          simHashBlockVal(col("sim"), widths, offsets, b)): _*)
      ).as(Seq("band", "bucket")))
    cappedBucketPairs(df, mkBanded, Seq("band", "bucket"), Seq("sim"), maxBucketSize)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      // filter BEFORE distinct: hamming is pair-determined, so the result is
      // identical and the cross-band pair-dedup exchange carries only
      // verified pairs instead of every candidate
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Contiguous 64-bit block layout: `blocks` blocks with widths as even as
    * possible (the first 64 % blocks blocks take the extra bit).
    */
  private def simHashBlockSpec(blocks: Int): (Array[Int], Array[Int]) = {
    val base = 64 / blocks
    val rem = 64 % blocks
    val widths = Array.tabulate(blocks)(i => if (i < rem) base + 1 else base)
    (widths, widths.scanLeft(0)(_ + _))
  }

  private def simHashBlockVal(sim: Column, widths: Array[Int],
      offsets: Array[Int], b: Int): Column = {
    val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1L
    shiftright(sim, offsets(b)).bitwiseAND(lit(mask))
  }

  /** Multi-table SimHash banding (Manku, Jain & Das Sarma '07, §3) for
    * AGGRESSIVE Hamming distances — the extension point
    * [[simHashDuplicates]]'s scale note promises. The single-table scheme
    * keys each of `maxHamming + 1` contiguous blocks alone, so at
    * maxHamming = 8 the bucket key is 64/9 ≈ 7 bits: 128 distinct buckets
    * per band, and candidate pressure ~ n²/128 per band regardless of
    * corpus. This variant splits the 64 bits into `blocks` contiguous
    * blocks and builds one table per (blocks − maxHamming)-subset of them,
    * keyed on the CONCATENATION of the subset's block values: a pair within
    * Hamming distance d differs in at most d blocks, hence agrees on at
    * least blocks − d, hence agrees on every block of at least one table
    * key (any (blocks−d)-subset of the agreeing blocks — all are tables).
    * Candidate generation is therefore COMPLETE for the requested distance
    * (pigeonhole, hash-independent) and exact popcount verification makes
    * the result EQUAL brute-force all-pairs Hamming — the same contract as
    * [[simHashDuplicates]], asserted against it in DedupSuite.
    *
    * The trade: C(blocks, maxHamming) tables instead of maxHamming + 1
    * bands, but each key is (blocks − maxHamming) blocks wide. At
    * maxHamming = 8 with blocks = 10: 45 tables of ~12.8-bit keys vs 9
    * bands of ~7-bit keys — per-table collision mass drops 2^6 ≈ 64× while
    * table count grows 5×, a net ~13× candidate-pressure relief on
    * uniform hashes (and more on real corpora, where 7-bit buckets saturate
    * long before 13-bit ones; measured relief is recorded in BASELINE.md).
    * Banded-row volume grows tables/bands ×, so this is the right scheme
    * when the bucket self-join dominates banding — exactly the aggressive-
    * distance regime.
    *
    * @param blocks number of contiguous blocks (> maxHamming; key width =
    *               (blocks − maxHamming) · 64/blocks bits). The table count
    *               C(blocks, maxHamming) is capped at 512 — past that the
    *               banded-row volume dwarfs any self-join relief.
    */
  def simHashDuplicatesMultiTable(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 8, blocks: Int = 10,
      maxBucketSize: Int = DefaultMaxBucketSize,
      portable: Boolean = false): DataFrame =
    simHashMultiTableCandidates(df, idCol, textCol, maxHamming, blocks,
        maxBucketSize, portable)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      // filter BEFORE distinct — see simHashDuplicates
      .where(col("hamming") <= maxHamming)
      .distinct()

  /** Raw capped bucket pairs of the multi-table scheme (pre-verify, may
    * contain cross-table duplicates).
    */
  private def simHashMultiTableCandidates(df: DataFrame, idCol: String,
      textCol: String, maxHamming: Int, blocks: Int,
      maxBucketSize: Int, portable: Boolean): DataFrame = {
    require(blocks > maxHamming && blocks <= 64,
      s"blocks must be in (maxHamming, 64], got $blocks for maxHamming=$maxHamming")
    val keyBlocks = blocks - maxHamming
    val subsets = (0 until blocks).combinations(keyBlocks).toArray
    require(subsets.length <= 512,
      s"C($blocks, $maxHamming) = ${subsets.length} tables exceeds 512; " +
        "use fewer blocks (coarser keys) or the single-table scheme")
    val (widths, offsets) = simHashBlockSpec(blocks)
    def mkBanded(rows: DataFrame): DataFrame = rows
      .select(col(idCol).as("id"), F.simhash64(T.tokens(col(textCol)), portable).as("sim"))
      .select(col("id"), col("sim"), posexplode(
        array(subsets.map { ss =>
          // table key = hash of the subset's block values; the table index
          // (posexplode pos) joins alongside, so buckets need not be
          // unique across tables
          xxhash64(ss.map(b => simHashBlockVal(col("sim"), widths, offsets, b)): _*)
        }: _*)).as(Seq("table", "bucket")))
    cappedBucketPairs(df, mkBanded, Seq("table", "bucket"), Seq("sim"), maxBucketSize)
  }

  /** SimHash near-duplicate GROUPS without materializing the quadratic pair
    * set — the exact-collapse composition [[collapsedMinHash]] pioneered,
    * applied to the Hamming path. SimHash is a function of the token
    * multiset, and equal normalized text ([[normTextHash]]) ⟹ equal tokens
    * ⟹ equal simhash ⟹ Hamming distance 0 ≤ any `maxHamming`, so every
    * intra-clique edge of the full graph is subsumed by rep→member star
    * edges and every cross-clique edge (x, y) has the same Hamming distance
    * as (rep(x), rep(y)). Components — and their min-id labels, and the
    * node set (every doc appearing in some qualifying pair) — therefore
    * EQUAL `duplicateGroups(simHashDuplicates(df, ...))` (suite-pinned),
    * but banding, bucket self-join, and popcount verification run at
    * DISTINCT-text scale and the edge frame is |repPairs| + |members of
    * non-singleton exact groups| instead of quadratic in clique sizes.
    *
    * NOTE: `strategy = "star"` always enforces converge-or-throw —
    * `requireConvergence` is honored only by the minLabel/auto paths (see
    * [[dispatchGroups]]; call [[duplicateGroupsStar]] directly to opt out).
    *
    * @param blocks banding-scheme route for the rep-level pair stage, same
    *               semantics as [[simHashDuplicates]]: 0 (default) = AUTO —
    *               the occupancy rule probes the DISTINCT-text rep count
    *               (a metadata-cheap count of the collapse checkpoint) and
    *               picks the cheapest cap-safe scheme for (maxHamming,
    *               corpus scale), see [[simHashAutoBlocks]]; > 0 = explicit
    *               multi-table; [[SimHashSingleTable]] = force single-table.
    */
  def simHashDuplicateGroups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = DefaultMaxBucketSize,
      portable: Boolean = false,
      maxIter: Int = 20, requireConvergence: Boolean = false,
      strategy: String = "auto",
      blocks: Int = 0): DataFrame = {
    val ec = exactCollapse(df, idCol, textCol)
    val repDocs = ec.repDocs(idCol, textCol)
    // the routed pair surface picks the banding scheme: multi-table when
    // `blocks` says so or AUTO decides the single-table keys are too narrow
    // (the aggressive-distance regime where they cap-degrade — see
    // simHashAutoBlocks), single-table otherwise
    val repPairs = simHashDuplicates(repDocs, idCol, textCol, maxHamming,
      maxBucketSize, portable, blocks)
    val edges = repPairs.select(col("id_a"), col("id_b"))
      .unionByName(ec.starEdges)
    dispatchGroups(edges, maxIter, requireConvergence, strategy)
  }

  /** Embedding near-dup pairs: cosine >= threshold via LSH bucketing (same
    * bucket => candidate) verified with exact cosine. Map-side bucket
    * assignment, one keyed shuffle, no cartesian.
    */
  def embeddingDuplicates(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, bits: Int = 8, tables: Int = 1,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // L independent hash tables (disjoint hyperplane sets): a pair is a
    // candidate if it collides in ANY table. Recall = 1-(1-p^bits)^tables,
    // tuned via (bits, tables); each table is one keyed shuffle.
    def mkBanded(rows: DataFrame): DataFrame = rows.select(
      col(idCol).as("id"), col(vecCol).as("v"),
      posexplode(array((0 until tables).map(t =>
        F.lsh_bucket(col(vecCol), bits, planeOffset = t * bits)): _*))
        .as(Seq("table", "bucket")))
    cappedBucketPairs(df, mkBanded, Seq("table", "bucket"), Seq("v"), maxBucketSize)
      .select(col("id_a"), col("id_b"), F.cosine_similarity(col("v_a"), col("v_b")).as("cosine"))
      .where(col("cosine") >= threshold)
      .distinct()
  }

  /** Embedding ingest dedup: verified (id_new, id_corpus, cosine) pairs
    * between a NEW vector batch and the EXISTING corpus — the embedding twin
    * of the text ingest path. Both sides band map-side into `tables`
    * hyperplane tables and join on (table, bucket), so no corpus self-join
    * forms; vectors ride the banded rows, making verification an inline
    * exact cosine with no second corpus lookup. Hot corpus buckets (zero /
    * boilerplate vectors) reduce to their sample-min representative via the
    * shared [[sampledHotBuckets]] detection — one witness convicts a new
    * vector. Ids must be disjoint across the inputs.
    */
  def incrementalEmbedding(corpus: DataFrame, newVecs: DataFrame,
      idCol: String, vecCol: String, threshold: Double = 0.95,
      bits: Int = 8, tables: Int = 1,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    def mkBanded(rows: DataFrame): DataFrame = rows.select(
      col(idCol).as("id"), col(vecCol).as("v"),
      posexplode(array((0 until tables).map(t =>
        F.lsh_bucket(col(vecCol), bits, planeOffset = t * bits)): _*))
        .as(Seq("table", "bucket")))
    val newBanded = mkBanded(newVecs).select(
      col("table"), col("bucket"), col("id").as("id_new"), col("v").as("__v_n"))
    val corpusSide =
      if (maxBucketSize == Int.MaxValue) mkBanded(corpus)
      else sampledHotBuckets(corpus, mkBanded, Seq("table", "bucket"), maxBucketSize) match {
        case None => mkBanded(corpus)
        case Some(hot) =>
          mkBanded(corpus).join(hot, Seq("table", "bucket"), "left")
            .where(col("__scnt").isNull || col("id") === col("__repid"))
            .select(col("table"), col("bucket"), col("id"), col("v"))
      }
    corpusSide.join(newBanded, Seq("table", "bucket"))
      .select(col("id_new"), col("id").as("id_corpus"),
        F.cosine_similarity(col("__v_n"), col("v")).as("cosine"))
      .where(col("cosine") >= threshold)
      .distinct()
  }

  /** SemDeDup semantic near-dup PAIRS (Abbas et al. '23, arXiv:2303.09540):
    * cluster embeddings with the same spherical k-means coarse quantizer IVF
    * uses ([[Similarity.trainSphericalQuantizer]] — seeded uniform sample,
    * driver-local fit, codegen'd argmin assignment), then compare vectors
    * only WITHIN a cluster and keep pairs with exact cosine >= `threshold`.
    *
    * vs [[embeddingDuplicates]] (hyperplane LSH): the quantizer adapts to
    * the data's density — clusters land where the corpus mass is, so at
    * equal candidate budget the cells capture more true pairs on clustered
    * corpora, at the cost of cross-cell misses being data-dependent rather
    * than analytically bounded (recall is measured, not derived — the
    * SemDeDup tradeoff). Each row lands in exactly ONE cell, so pairs are
    * unique by construction — no dedup shuffle after verification.
    *
    * `probes` > 1 soft-assigns every row to its `probes` nearest cells
    * (the IVF multi-probe idea applied to the dedup side): a pair is a
    * candidate if ANY cell is shared, which recovers the near-boundary
    * pairs single assignment loses — at the cost of `probes`x banded rows.
    * Exact-cosine verification keeps precision 1.0 either way, and pairs
    * colliding in several shared cells collapse under the final distinct
    * (elided at probes=1, where each row lives in exactly one cell).
    *
    * Scale: within-cell pairing is quadratic in cell size, so `nCells`
    * should track corpus size — and the sizing must count the probes
    * multiplier: banded occupancy is rows x probes / nCells, and it is THAT
    * number that must sit well under `maxCellSize`, or the hot-bucket guard
    * (meant for degenerate boilerplate/zero-vector cells; sampled detection
    * at ~maxCellSize) star-links the working regime and recall collapses
    * (BASELINE.md "Round-6 semantic-dedup scaling evidence" — cells at the
    * detection point lost essentially all pairs). Rule: target ~400
    * rows/cell at the default cap, i.e. nCells ~ rows x probes / 400, which also bounds the
    * within-cell join at ~80k pairs/cell; the quantizer still fits on a
    * bounded sample at any corpus size.
    */
  def semanticDuplicates(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nCells: Int = 16, sampleSize: Int = 4096,
      maxCellSize: Int = DefaultMaxBucketSize, probes: Int = 1): DataFrame = {
    val centroids = Similarity.trainSphericalQuantizer(df, vecCol, nCells, sampleSize)
    semanticPairs(df, idCol, vecCol, centroids, threshold, maxCellSize, probes)
  }

  /** Cell-join candidates + exact-cosine verification for trained centroids
    * — the ONE pair-generation path behind both [[semanticDuplicates]] and
    * [[semanticDedup]], so the threshold/distinct semantics cannot drift
    * between the pair-listing and retention entry points.
    */
  private def semanticPairs(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], threshold: Double,
      maxCellSize: Int, probes: Int): DataFrame = {
    val pairs = cappedBucketPairs(df, semanticBanded(idCol, vecCol, centroids, probes),
        Seq("cell"), Seq("v"), maxCellSize)
      .select(col("id_a"), col("id_b"),
        F.cosine_similarity(col("v_a"), col("v_b")).as("cosine"))
      .where(col("cosine") >= threshold)
    if (probes <= 1) pairs else pairs.distinct()
  }

  private def semanticBanded(idCol: String, vecCol: String,
      centroids: Array[Array[Double]], probes: Int)(rows: DataFrame): DataFrame =
    if (probes <= 1)
      rows.select(col(idCol).as("id"), col(vecCol).as("v"),
        F.argmin_centroid(col(vecCol), centroids).as("cell"))
    else
      rows.select(col(idCol).as("id"), col(vecCol).as("v"),
        explode(F.nearest_centroids(col(vecCol), centroids, probes)).as("cell"))

  /** SemDeDup retention: every input row labeled with its semantic duplicate
    * group and whether it SURVIVES dedup. Groups are connected components of
    * [[semanticDuplicates]] pairs ([[duplicateGroups]] min-label
    * propagation); one representative per group is kept, singletons keep
    * themselves.
    *
    * Keep policy:
    *  - `keepLowCentroidSim = false` (default): min-id member —
    *    deterministic and SQL-oracle-checkable.
    *  - `keepLowCentroidSim = true`: the member with the LOWEST cosine to
    *    its cluster centroid (the paper's choice — of a semantic duplicate
    *    group, keep the most atypical example; §3 "low similarity to
    *    centroid"), min-id tiebreak. The centroid cosine is computed
    *    codegen-side against the trained centroid table (a literal array —
    *    no second quantizer fit, no UDF).
    *
    * @return (id, group_id, kept) for EVERY input row, group_id coalesced to
    *         the row's own id for singletons
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nCells: Int = 16, sampleSize: Int = 4096,
      maxCellSize: Int = DefaultMaxBucketSize, probes: Int = 1,
      keepLowCentroidSim: Boolean = false,
      maxIter: Int = 20, requireConvergence: Boolean = false,
      strategy: String = "auto"): DataFrame = {
    val centroids = Similarity.trainSphericalQuantizer(df, vecCol, nCells, sampleSize)
    val pairs = semanticPairs(df, idCol, vecCol, centroids, threshold, maxCellSize, probes)
    val groups = duplicateGroups(pairs, maxIter, requireConvergence, strategy)
    // Min-id policy shuffles only (id, group_id) into the per-group window;
    // the paper policy additionally computes each row's cosine to its own
    // cluster centroid MAP-SIDE before the shuffle (centroids ride in as one
    // literal array-of-arrays column indexed by the codegen argmin — one
    // extra nCells-dot-product pass, same cost as the cell assignment), so
    // the window shuffles one extra double, never the vectors.
    val base =
      if (!keepLowCentroidSim) df.select(col(idCol), col(idCol).cast("double").as("__rank"))
      else {
        val centroidLit = typedlit(centroids.map(_.toSeq).toSeq)
        df.select(col(idCol),
          F.cosine_similarity(col(vecCol).cast("array<double>"),
            element_at(centroidLit, F.argmin_centroid(col(vecCol), centroids) + 1))
            .as("__rank"))
      }
    val labeled = base
      .join(groups.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("group_id", coalesce(col("group_id"), col(idCol)))
    val w = Window.partitionBy(col("group_id"))
      .orderBy(col("__rank").asc, col(idCol).asc)
    labeled.withColumn("__rn", row_number().over(w))
      .select(col(idCol).as("id"), col("group_id"), (col("__rn") === 1).as("kept"))
  }
}
