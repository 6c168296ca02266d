package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions => F}
import graft.operators.Ckpt.Ops

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: the query set is the small side — it is broadcast, so the
  * corpus never shuffles for scoring; each corpus partition scores its rows
  * against all queries map-side (whole-stage codegen through
  * CosineSimilarity.doGenCode). Only (query_id, corpus_id, sim) survives to
  * the per-query top-k, which shuffles k*queries rows — independent of
  * corpus size. The IVF/LSH variant prunes the scored fraction: corpus rows
  * and queries get a coarse bucket map-side and only same-bucket pairs are
  * scored (multi-probe = the query also probes neighboring buckets).
  */
object Similarity {

  /** Brute-force exact top-k cosine neighbors for each query vector.
    * Deterministic tie-break on corpus id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    val scored = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("__cv"))
      .join(broadcast(queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"))))
      .where(if (excludeSelf) col("nn_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("nn_id"),
        F.cosine_similarity(col("__cv"), col("__qv")).as("cosine"))
    topK(scored, k)
  }

  /** The per-query top-k of scored (query_id, nn_id, cosine) rows, ranked
    * by cosine desc then nn_id asc: (query_id, nn_id, cosine, rank). The
    * `rank <= k` filter over the window lets Spark insert a map-side
    * WindowGroupLimit.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "nn_id", "cosine", "rank")
  }

  /** LSH-bucketed ANN: score only corpus rows in the query's hyperplane
    * bucket (plus all 1-bit-flip neighbor buckets when multiProbe). Recall
    * is tunable two ways: multiProbe widens each table's probe set, and
    * `tables` unions independent hyperplane tables (recall 1-(1-p)^T for
    * per-table hit rate p — the standard way to push recall toward 1 without
    * coarsening buckets). Cost drops ~2^bits/(probes*tables)-fold vs brute
    * force; each table is one map-side bucket column, the join key is
    * (table, bucket) so tables don't cross-collide.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
      k: Int, bits: Int = 6, multiProbe: Boolean = true, tables: Int = 1,
      excludeSelf: Boolean = true): DataFrame =
    lshQuery(lshBuild(corpus, idCol, vecCol, bits, tables), queries, qIdCol, qVecCol,
      k, multiProbe, excludeSelf)

  /** A banded LSH corpus — the serving index for [[lshQuery]]: columns
    * (table, bucket, nn_id, __cv). The banding is a pure map over the
    * corpus, but at 100 TB re-hashing every vector per query batch is a full
    * scan's worth of work — persist `banded` bucketed by (table, bucket)
    * (see [[Bucketing]]) and probes become shuffle-free bucket lookups
    * across restarts; rehydrate with [[lshFromBanded]] using the SAME
    * bits/tables (the hyperplanes are deterministic in them).
    */
  final case class LshIndex(bits: Int, tables: Int, banded: DataFrame)

  def lshBuild(corpus: DataFrame, idCol: String, vecCol: String,
      bits: Int = 6, tables: Int = 1): LshIndex = {
    require(tables >= 1)
    LshIndex(bits, tables, withBuckets(
      corpus.select(col(idCol).as("nn_id"), col(vecCol).as("__cv")),
      "__cv", "bucket", bits, tables))
  }

  /** Rehydrate a serving index from a persisted banded table (columns
    * table, bucket, nn_id, __cv) produced by [[lshBuild]] at the same
    * bits/tables config.
    */
  def lshFromBanded(bits: Int, tables: Int, banded: DataFrame): LshIndex =
    LshIndex(bits, tables, banded.select(col("table"), col("bucket"), col("nn_id"), col("__cv")))

  /** Top-k query against a prebuilt banded index — no corpus re-hash. */
  def lshQuery(index: LshIndex, queries: DataFrame,
      qIdCol: String, qVecCol: String, k: Int, multiProbe: Boolean = true,
      excludeSelf: Boolean = true): DataFrame = {
    val scored = lshQueryCandidates(index, queries, qIdCol, qVecCol, multiProbe, excludeSelf)
      .select(col("query_id"), col("nn_id"),
        F.cosine_similarity(col("__cv"), col("__qv")).as("cosine"))
      .groupBy("query_id", "nn_id").agg(max("cosine").as("cosine")) // dedup multi-probe hits
    topK(scored, k)
  }

  // single-table: no generate node on the scan (the common fast path)
  private def withBuckets(df: DataFrame, vc: String, bucketName: String,
      bits: Int, tables: Int): DataFrame =
    if (tables == 1)
      df.withColumn("table", lit(0)).withColumn(bucketName, F.lsh_bucket(col(vc), bits))
    else
      df.select(scala.collection.immutable.ArraySeq.unsafeWrapArray(df.columns.map(col)) :+ posexplode(array((0 until tables).map(t =>
        F.lsh_bucket(col(vc), bits, planeOffset = t * bits)): _*))
        .as(Seq("table", bucketName)): _*)

  private[operators] def lshQueryCandidates(index: LshIndex, queries: DataFrame,
      qIdCol: String, qVecCol: String, multiProbe: Boolean,
      excludeSelf: Boolean): DataFrame = {
    val qb = withBuckets(
      queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv")),
      "__qv", "__qb", index.bits, index.tables)
    val probes =
      if (multiProbe)
        qb.select(col("query_id"), col("__qv"), col("table"), explode(
          array((lit(0) +: (0 until index.bits).map(b => lit(1 << b))).map(m => col("__qb").bitwiseXOR(m)): _*)
        ).as("bucket"))
      else qb.withColumnRenamed("__qb", "bucket")
    index.banded.join(probes, Seq("table", "bucket"))
      .where(if (excludeSelf) col("nn_id") =!= col("query_id") else lit(true))
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    * corpus into `nCells` cells; each query scores only the rows in its
    * `nProbe` nearest cells. The scale path when LSH recall is too blunt:
    * centroids are trained once on a sample (driver-side k-means on a few
    * thousand vectors), cell assignment is a map-side argmin against the
    * broadcast centroid array, and scoring shuffles nothing — only the
    * per-query top-k survives. Cost drops ~nCells/nProbe-fold vs brute force.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 3, sampleSize: Int = 4096,
      excludeSelf: Boolean = true): DataFrame =
    ivfQuery(ivfBuild(corpus, idCol, vecCol, nCells, sampleSize), queries, qIdCol, qVecCol,
      k, nProbe, excludeSelf)

  /** A trained IVF coarse quantizer plus its corpus cell assignment — the
    * build-once / query-many production shape. Build when the corpus lands,
    * then serve query batch after query batch without re-training or
    * re-assigning; persist `cells` (e.g. a bucketed-by-cell parquet write
    * via [[Bucketing]]) and rehydrate with [[ivfFromCells]] to survive
    * restarts. `cells` columns: (nn_id, __cv, cell).
    */
  final case class IvfIndex(centroids: Array[Array[Double]], cells: DataFrame)

  /** Train the quantizer and assign every corpus row to its cell.
    *
    * Training: a *uniform* seeded sample. limit() alone would take the first
    * partitions only, so on a partitioned corpus the centroids would learn
    * one shard. A seeded random sort key + limit compiles to
    * TakeOrderedAndProject: every partition keeps its local top-sampleSize
    * by the key (a bounded heap, no shuffle, no sort spill) and the driver
    * merges — a uniform random sampleSize-subset in ONE job and one corpus
    * pass, with no count() (which on JDBC/USL-backed corpora would be a full
    * scan of its own). The sample collects to the driver (<= sampleSize
    * vectors) and fits locally — KMeansLite. The sample is then sorted by
    * content before the fit: k-means++ seeding indexes into the array, so
    * without the sort the centroids (and hence which cells get probed) would
    * depend on partition/arrival order. The quantizer is SPHERICAL k-means
    * (unit-norm points and centroids): scoring is cosine, so cells must be
    * carved in cosine geometry — Euclidean cells over unnormalized vectors
    * would split cosine neighborhoods across norm bands and cost recall.
    *
    * Assignment: map-side codegen'd argmin over the centroid table (rides
    * into generated code as a reference object — no UDF serialization,
    * stays inside whole-stage codegen on the corpus scan).
    */
  def ivfBuild(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, sampleSize: Int = 4096): IvfIndex = {
    val centroids = trainSphericalQuantizer(corpus, vecCol, nCells, sampleSize)
    val cells = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("__cv"),
      F.argmin_centroid(col(vecCol), centroids).as("cell"))
    IvfIndex(centroids, cells)
  }

  /** The quantizer-training half of [[ivfBuild]], shared with
    * [[Dedup.semanticDuplicates]] (SemDeDup clusters with the same spherical
    * coarse quantizer IVF uses for cell pruning).
    */
  private[operators] def trainSphericalQuantizer(corpus: DataFrame, vecCol: String,
      nCells: Int, sampleSize: Int): Array[Array[Double]] =
    KMeansLite.fit(sampleUnitVectors(corpus, vecCol, sampleSize), nCells,
      iters = 25, seed = 42L, spherical = true)

  /** Rehydrate an index from persisted cells (columns nn_id, __cv, cell) and
    * the centroid table used to produce them.
    */
  def ivfFromCells(centroids: Array[Array[Double]], cells: DataFrame): IvfIndex =
    IvfIndex(centroids, cells.select(col("nn_id"), col("__cv"), col("cell")))

  /** Top-k query against a prebuilt index: probes the nProbe nearest cells
    * per query, scores map-side, no re-training and no corpus re-assignment.
    */
  def ivfQuery(index: IvfIndex, queries: DataFrame,
      qIdCol: String, qVecCol: String, k: Int, nProbe: Int = 3,
      excludeSelf: Boolean = true): DataFrame = {
    val scored = ivfQueryCandidates(index, queries, qIdCol, qVecCol, nProbe, excludeSelf)
      .select(col("query_id"), col("nn_id"),
        F.cosine_similarity(col("__cv"), col("__qv")).as("cosine"))
    topK(scored, k)
  }

  private[operators] def ivfQueryCandidates(index: IvfIndex, queries: DataFrame,
      qIdCol: String, qVecCol: String, nProbe: Int,
      excludeSelf: Boolean): DataFrame = {
    val probes = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"),
      explode(F.nearest_centroids(col(qVecCol), index.centroids, nProbe)).as("cell"))
    // score within probed cells only; queries side broadcasts
    index.cells.join(broadcast(probes), Seq("cell"))
      .where(if (excludeSelf) col("nn_id") =!= col("query_id") else lit(true))
  }

  // ---- Product quantization (Jegou et al. '11) ----

  /** A trained PQ index: per-subspace codebooks plus the corpus encoded to
    * M small integer codes per row — at the default m=8 that is 8 bytes of
    * code per vector versus 4·D bytes of floats, the ~32x memory story that
    * lets a 100 TB corpus's ANN scan live in RAM. `codes` columns:
    * (nn_id, codes); persist as parquet and rehydrate with [[pqFromCodes]].
    * Vectors deliberately do NOT ride the codes table: the ADC scan reads
    * codes only, and exact re-ranking fetches full vectors for just the
    * shortlist by id (a broadcast-bounded semi-join against the corpus).
    */
  final case class PqIndex(codebooks: Array[Array[Array[Double]]], codes: DataFrame)

  /** Train per-subspace codebooks and encode the corpus. Training is the
    * quantizer-sample pattern ([[trainSphericalQuantizer]]) sliced into `m`
    * contiguous subspaces, each fit with EUCLIDEAN k-means on the
    * L2-normalized sample (subvectors of a unit vector are not unit —
    * quantization error, not direction, is what PQ minimizes); encoding is
    * the codegen'd [[graft.functions.PqEncode]] argmin, map-side over the
    * corpus scan.
    */
  def pqBuild(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ks: Int = 16, sampleSize: Int = 4096): PqIndex = {
    val samplePts = sampleUnitVectors(corpus, vecCol, sampleSize)
    val codebooks = fitCodebooks(samplePts, m, ks)
    val codes = corpus.select(col(idCol).as("nn_id"),
      F.pq_encode(col(vecCol), codebooks).as("codes"))
    PqIndex(codebooks, codes)
  }

  /** The quantizer-sample pattern (seeded TakeOrderedAndProject, one corpus
    * pass, content-sorted for partition-order independence), shared by the
    * spherical coarse quantizer and the PQ codebook fits.
    */
  private def sampleUnitVectors(corpus: DataFrame, vecCol: String,
      sampleSize: Int): Array[Array[Double]] =
    corpus
      .select(col(vecCol).cast("array<double>").as("__v"), rand(42L).as("__r"))
      .orderBy(col("__r"))
      .limit(sampleSize)
      .collect().map(r => KMeansLite.normalized(r.getSeq[Double](0).toArray))
      .sortBy(p => p.toSeq: Seq[Double])(math.Ordering.Implicits.seqOrdering)

  /** Per-subspace EUCLIDEAN k-means codebooks over an already-collected
    * unit-vector sample (subvectors of a unit vector are not unit —
    * quantization error, not direction, is what PQ minimizes).
    */
  private def fitCodebooks(samplePts: Array[Array[Double]], m: Int,
      ks: Int): Array[Array[Array[Double]]] = {
    require(samplePts.nonEmpty, "PQ training needs a non-empty corpus")
    val d = samplePts.map(_.length).max
    require(m >= 1 && m <= d, s"m=$m must be in [1, dim=$d]")
    // ragged split: subspace i covers [i*d/m, (i+1)*d/m)
    val bounds = (0 to m).map(i => i * d / m).toArray
    // the m subspace fits are independent deterministic functions of
    // (sample, i) — run them on parallel driver threads (the PQ codebook
    // training was most of ann_pq/ann_ivfpq's driver-side serial gap);
    // output array order is by subspace index, as before
    val out = new Array[Array[Array[Double]]](m)
    KMeansLite.parEach(m) { i =>
      val lo = bounds(i); val hi = bounds(i + 1)
      val sub = samplePts.map(p =>
        Array.tabulate(hi - lo)(j => if (lo + j < p.length) p(lo + j) else 0.0))
      out(i) = KMeansLite.fit(sub, ks, iters = 25, seed = 42L + i)
    }
    out
  }

  /** Rehydrate a PQ index from persisted codes (columns nn_id, codes) and
    * the codebooks used to produce them.
    */
  def pqFromCodes(codebooks: Array[Array[Array[Double]]], codes: DataFrame): PqIndex =
    PqIndex(codebooks, codes.select(col("nn_id"), col("codes")))

  /** Top-k query against a PQ index: ADC scan over the codes (per-query
    * lookup tables built driver-side from the broadcast-small query batch,
    * M lookups per corpus row inside codegen), shortlist the top `rerank`
    * per query by approximate score, then fetch full vectors for the
    * shortlist ONLY and re-rank by exact cosine — so the emitted cosines
    * are exact (the same contract the other ANN operators gate on) and
    * recall is set by the shortlist depth. The corpus never shuffles its
    * payload: the ADC scan is map-side, the `rank <= shortlist` filter
    * triggers Spark's WindowGroupLimit so every scan partition truncates to
    * its local per-query top-shortlist BEFORE the exchange (asserted in
    * PlanSuite — at most shortlist x partitions x |queries| id/score rows
    * move), and the re-rank fetch is a broadcast semi-join.
    */
  def pqTopK(index: PqIndex, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
      k: Int, rerank: Int = 0, excludeSelf: Boolean = true): DataFrame = {
    val shortlist = math.max(if (rerank <= 0) 4 * k else rerank, k)
    val qPinned = pinQueries(queries, qIdCol, qVecCol)
    val luts = buildAdcLuts(index.codebooks, qPinned)
    require(luts.nonEmpty, "pqTopK needs at least one query")
    val adc = index.codes.crossJoin(broadcast(qPinned.select(col("query_id"))))
      .where(if (excludeSelf) col("nn_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("nn_id"),
        F.pq_lut_score(col("codes"), col("query_id"), luts).as("__adc"))
    adcShortlistRerank(adc, corpus, idCol, vecCol, qPinned, k, shortlist)
  }

  /** One pinned evaluation of the query batch: (query_id: long, __qv),
    * eagerly materialized so the driver-side LUT build and every Spark-side
    * reuse (ADC query frame, IVF probe list, re-rank vectors) see the SAME
    * rows — a non-deterministic `queries` frame (sample, limit over
    * unordered input) would otherwise key the LUTs on one row set and probe
    * with another, silently scoring null.
    */
  private def pinQueries(queries: DataFrame, qIdCol: String,
      qVecCol: String): DataFrame =
    queries.select(col(qIdCol).cast("long").as("query_id"), col(qVecCol).as("__qv"))
      .cut(true)

  /** Per-query ADC lookup tables from the pinned query frame:
    * luts(qid)(m)(code) = dot(query subvector m, codeword `code`).
    */
  private def buildAdcLuts(codebooks: Array[Array[Array[Double]]],
      qPinned: DataFrame): Map[Long, Array[Array[Double]]] = {
    val bounds = codebooks.map(_.head.length).scanLeft(0)(_ + _)
    qPinned.select(col("query_id"), col("__qv").cast("array<double>"))
      .collect().map { r =>
        val q = KMeansLite.normalized(r.getSeq[Double](1).toArray)
        r.getLong(0) -> Array.tabulate(codebooks.length) { mm =>
          val lo = bounds(mm)
          codebooks(mm).map { cw =>
            var s = 0.0; var j = 0
            while (j < cw.length) {
              if (lo + j < q.length) s += q(lo + j) * cw(j)
              j += 1
            }
            s
          }
        }
      }.toMap
  }

  /** Shared PQ tail: shortlist the top `shortlist` per query by ADC score
    * (WindowGroupLimit truncates map-side, PlanSuite-asserted), fetch full
    * vectors for the shortlist ONLY via broadcast joins, and re-rank by
    * exact cosine — used by both the flat-ADC and IVFxPQ paths so scoring
    * and tie-break semantics cannot drift between them.
    */
  private def adcShortlistRerank(adc: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, qPinned: DataFrame,
      k: Int, shortlist: Int): DataFrame = {
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").desc, col("nn_id").asc)
    val cand = adc.withColumn("__r", row_number().over(wA))
      .where(col("__r") <= shortlist)
      .select(col("query_id"), col("nn_id"))
    val withV = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("__cv"))
      .join(broadcast(cand), Seq("nn_id"))
    val scored = withV.join(broadcast(qPinned), Seq("query_id"))
      .select(col("query_id"), col("nn_id"),
        F.cosine_similarity(col("__cv"), col("__qv")).as("cosine"))
    topK(scored, k)
  }

  /** [[pqTopK]] with build included — the one-shot shape the gate uses. */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
      k: Int, m: Int, ks: Int, rerank: Int,
      sampleSize: Int, excludeSelf: Boolean): DataFrame =
    pqTopK(pqBuild(corpus, idCol, vecCol, m, ks, sampleSize),
      corpus, queries, idCol, vecCol, qIdCol, qVecCol, k, rerank, excludeSelf)

  /** IVF x PQ (the paper's full IVFADC shape): coarse cells prune WHICH rows
    * the ADC scan touches, PQ codes shrink WHAT each touched row costs —
    * at 100 TB both levers matter (nProbe/nCells of the corpus scanned, 16
    * bytes of it per row). `cells` columns: (nn_id, cell, codes); persist
    * bucketed by cell ([[graft.operators.Bucketing]]) for shuffle-free
    * probes and rehydrate with [[ivfPqFromCells]]. One corpus pass builds
    * both structures (single scan: cell argmax and code argmins are
    * map-side expressions in the same projection).
    */
  final case class IvfPqIndex(centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], cells: DataFrame,
      residual: Boolean = false)

  def ivfPqBuild(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, m: Int = 8, ks: Int = 16,
      sampleSize: Int = 4096, residual: Boolean = false): IvfPqIndex = {
    // ONE sample collection feeds both fits (the coarse spherical quantizer
    // and the per-subspace codebooks) — no second corpus scan
    val samplePts = sampleUnitVectors(corpus, vecCol, sampleSize)
    val centroids = graft.functions.CentroidTable.normalizeRows(
      KMeansLite.fit(samplePts, nCells, iters = 25, seed = 42L, spherical = true))
    if (!residual) {
      val codebooks = fitCodebooks(samplePts, m, ks)
      val cells = corpus.select(col(idCol).as("nn_id"),
        F.argmin_centroid(col(vecCol), centroids).as("cell"),
        F.pq_encode(col(vecCol), codebooks).as("codes"))
      IvfPqIndex(centroids, codebooks, cells, residual = false)
    } else {
      // IVFADC proper (Jegou '11 §III): codes quantize the RESIDUAL
      // unit(x) - centroid(cell), whose spread is much tighter than the
      // vectors' own, so the same ks budget yields finer quantization —
      // the lever behind residual IVFADC's recall at small corpora.
      // Driver-side cell assignment must mirror ArgminCentroid exactly
      // (argmax dot vs the unit table, first-best on ties).
      def assign(p: Array[Double]): Int = {
        var best = 0; var bd = Double.NegativeInfinity; var c = 0
        while (c < centroids.length) {
          var d = 0.0; var i = 0
          val cc = centroids(c); val n = math.min(cc.length, p.length)
          while (i < n) { d += p(i) * cc(i); i += 1 }
          if (d > bd) { bd = d; best = c }
          c += 1
        }
        best
      }
      val residuals = samplePts.map { p =>
        val cc = centroids(assign(p))
        Array.tabulate(p.length)(i => p(i) - (if (i < cc.length) cc(i) else 0.0))
      }
      val codebooks = fitCodebooks(residuals, m, ks)
      val cells = corpus
        .withColumn("cell", F.argmin_centroid(col(vecCol), centroids))
        .select(col(idCol).as("nn_id"), col("cell"),
          F.pq_encode(residualCol(col(vecCol), col("cell"), centroids), codebooks,
            normalize = false).as("codes"))
      IvfPqIndex(centroids, codebooks, cells, residual = true)
    }
  }

  /** unit(vec) - centroids(cell), with built-ins only (higher-order array
    * functions over a nested-array centroid literal) so the residual stays
    * a map-side projection on the corpus scan.
    */
  private def residualCol(vec: org.apache.spark.sql.Column,
      cell: org.apache.spark.sql.Column,
      centroids: Array[Array[Double]]): org.apache.spark.sql.Column = {
    val nrm = sqrt(aggregate(vec, lit(0.0),
      (a, x) => a + x.cast("double") * x.cast("double")))
    val unit = transform(vec,
      x => when(nrm === 0.0, lit(0.0)).otherwise(x.cast("double") / nrm))
    val table = typedLit(centroids.map(_.toSeq).toSeq)
    zip_with(unit, element_at(table, cell + 1), (a, b) => a - b)
  }

  def ivfPqFromCells(centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], cells: DataFrame,
      residual: Boolean = false): IvfPqIndex =
    IvfPqIndex(centroids, codebooks,
      cells.select(col("nn_id"), col("cell"), col("codes")), residual)

  /** Top-k against an IVF x PQ index: probe the nProbe nearest cells per
    * query, ADC-score only rows in probed cells (M lookups each, inside
    * codegen), shortlist, then exact-cosine re-rank fetched by broadcast
    * semi-join — emitted cosines are exact, recall is set by (nProbe,
    * rerank). Same zero-corpus-shuffle shape as [[pqTopK]] with the scan
    * cut to the probed fraction.
    */
  def ivfPqTopK(index: IvfPqIndex, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
      k: Int, nProbe: Int = 3, rerank: Int = 0,
      excludeSelf: Boolean = true): DataFrame = {
    val shortlist = math.max(if (rerank <= 0) 4 * k else rerank, k)
    val qPinned = pinQueries(queries, qIdCol, qVecCol)
    val luts = buildAdcLuts(index.codebooks, qPinned)
    require(luts.nonEmpty, "ivfPqTopK needs at least one query")
    // per-query probe list joins on cell — only probed-cell codes are
    // scored. In residual mode the score decomposes as dot(unit(q), c) +
    // dot(unit(q), residual): the first term rides the (tiny) probe frame
    // as __qc, the second stays the LUT lookup over the codes.
    val probeBase = qPinned.select(col("query_id"), col("__qv"),
      explode(F.nearest_centroids(col("__qv"), index.centroids, nProbe)).as("cell"))
    val probes =
      if (!index.residual) probeBase.select(col("query_id"), col("cell"), lit(0.0).as("__qc"))
      else {
        val table = typedLit(index.centroids.map(_.toSeq).toSeq)
        val nrm = sqrt(aggregate(col("__qv"), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double")))
        val unit = transform(col("__qv"),
          x => when(nrm === 0.0, lit(0.0)).otherwise(x.cast("double") / nrm))
        probeBase.select(col("query_id"), col("cell"),
          aggregate(zip_with(unit, element_at(table, col("cell") + 1),
            (a, b) => a * b), lit(0.0), (acc, v) => acc + v).as("__qc"))
      }
    val adc = index.cells.join(broadcast(probes), Seq("cell"))
      .where(if (excludeSelf) col("nn_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("nn_id"),
        (col("__qc") + F.pq_lut_score(col("codes"), col("query_id"), luts)).as("__adc"))
    adcShortlistRerank(adc, corpus, idCol, vecCol, qPinned, k, shortlist)
  }

  /** Deterministic local k-means (k-means++ seeding + Lloyd's iterations)
    * over the collected training sample. The sample is small by construction
    * (<= sampleSize vectors), so fitting on the driver avoids the ~10
    * scheduler round trips an MLlib fit costs — the distributed parts of IVF
    * are the cell assignment and scoring, not the tiny quantizer fit.
    */
  private[operators] object KMeansLite {
    /** Run `n` independent tasks on driver threads, bounded by BOTH the
      * SESSION's declared parallelism (local[k] ⇒ k — the bench contract
      * measures scaling against the configured core count, and the JVM
      * common pool would silently use every host core at any local[k]) AND
      * the driver host's core count: these are DRIVER threads, and on a
      * cluster `defaultParallelism` is the total executor core count (r18,
      * VERDICT r17 #3 — a 400-core cluster must not spawn a 400-wide
      * driver pool for a 16-core driver).
      */
    private[operators] def parEach(n: Int)(body: Int => Unit): Unit = {
      val bound = math.min(
        Runtime.getRuntime.availableProcessors(),
        org.apache.spark.sql.SparkSession.getActiveSession
          .map(_.sparkContext.defaultParallelism)
          .getOrElse(Int.MaxValue))
      val width = math.max(1, math.min(n, bound))
      if (width == 1) { var i = 0; while (i < n) { body(i); i += 1 } }
      else {
        val pool = new java.util.concurrent.ForkJoinPool(width)
        try pool.submit(new Runnable {
          def run(): Unit =
            java.util.stream.IntStream.range(0, n).parallel().forEach(i => body(i))
        }).get()
        finally pool.shutdown()
      }
    }

    private def sqdist(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val x = a(i) - b(i); d += x * x; i += 1 }
      d
    }

    /** Scale to unit L2 norm (zero vectors pass through unchanged). */
    def normalized(p: Array[Double]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < p.length) { s += p(i) * p(i); i += 1 }
      if (s == 0.0) p
      else {
        val inv = 1.0 / math.sqrt(s)
        val out = new Array[Double](p.length)
        i = 0
        while (i < p.length) { out(i) = p(i) * inv; i += 1 }
        out
      }
    }

    /** Best-of-N restarts: k-means++ is seed-sensitive (a bad first center
      * costs recall downstream), and on a <= sampleSize driver-local sample
      * extra restarts are microseconds — so take the lowest-inertia fit.
      * With `spherical` the centers are re-normalized after every Lloyd
      * update (spherical k-means): on unit-norm inputs squared-L2 assignment
      * is then monotone in cosine (||x-c||^2 = 2 - 2*dot), matching the
      * dot-product cell assignment in ArgminCentroid/NearestCentroids.
      */
    def fit(points: Array[Array[Double]], k: Int, iters: Int, seed: Long,
        restarts: Int = 5, spherical: Boolean = false): Array[Array[Double]] = {
      if (points.isEmpty) return Array(Array(0.0))
      // restarts are independent (each fully determined by its own seed), so
      // they run on parallel driver threads — the quantizer fit was the
      // measured driver-side serial gap of the ANN gates (OPTIMIZATION_r17.md
      // §3: ann_ivfpq wall 2.4 s, of which only 0.56 s was Spark jobs). The
      // winner is selected by (cost, restart index), which is EXACTLY the
      // sequential loop's first-lowest-cost rule — bit-identical output.
      val costs = new Array[Double](restarts)
      val fits = new Array[Array[Array[Double]]](restarts)
      parEach(restarts) { r =>
        val c = fitOnce(points, k, iters, seed + r * 7919L, spherical)
        var cost = 0.0
        var i = 0
        while (i < points.length) {
          var bd = Double.MaxValue; var cc = 0
          while (cc < c.length) { val d = sqdist(points(i), c(cc)); if (d < bd) bd = d; cc += 1 }
          cost += bd; i += 1
        }
        costs(r) = cost; fits(r) = c
      }
      var best = 0
      var r = 1
      while (r < restarts) { if (costs(r) < costs(best)) best = r; r += 1 }
      fits(best)
    }

    private def fitOnce(points: Array[Array[Double]], k: Int, iters: Int, seed: Long,
        spherical: Boolean): Array[Array[Double]] = {
      val rnd = new java.util.Random(seed)
      val n = points.length
      val kk = math.min(k, n)
      val centers = new Array[Array[Double]](kk)
      centers(0) = points(rnd.nextInt(n)).clone()
      val d2 = Array.fill(n)(Double.MaxValue)
      var c = 1
      while (c < kk) { // k-means++: sample next center ~ D^2
        var sum = 0.0; var i = 0
        while (i < n) {
          val d = sqdist(points(i), centers(c - 1))
          if (d < d2(i)) d2(i) = d
          sum += d2(i); i += 1
        }
        var target = rnd.nextDouble() * sum
        var idx = 0
        while (idx < n - 1 && target > d2(idx)) { target -= d2(idx); idx += 1 }
        centers(c) = points(idx).clone()
        c += 1
      }
      val dim = points(0).length
      var it = 0
      var converged = false
      while (it < iters && !converged) {
        val sums = Array.fill(kk)(new Array[Double](dim))
        val counts = new Array[Int](kk)
        var i = 0
        while (i < n) {
          var best = 0; var bd = Double.MaxValue; var cc = 0
          while (cc < kk) {
            val d = sqdist(points(i), centers(cc))
            if (d < bd) { bd = d; best = cc }
            cc += 1
          }
          val s = sums(best); var j = 0
          while (j < dim) { s(j) += points(i)(j); j += 1 }
          counts(best) += 1
          i += 1
        }
        // Lloyd early exit: the update is a deterministic function of the
        // assignments, and assignments of the EXACT same centers repeat —
        // once no center moves a single bit, every remaining iteration is
        // an identical no-op, so breaking returns bit-identical centers
        // (the fixed `iters` stays the determinism bound for callers)
        converged = true
        var cc = 0
        while (cc < kk) {
          if (counts(cc) > 0) {
            val updated = new Array[Double](dim)
            var j = 0
            while (j < dim) { updated(j) = sums(cc)(j) / counts(cc); j += 1 }
            val next = if (spherical) normalized(updated) else updated
            if (converged && !java.util.Arrays.equals(next, centers(cc)))
              converged = false
            centers(cc) = next
          }
          cc += 1
        }
        it += 1
      }
      centers
    }
  }
}
