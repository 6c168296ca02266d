package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions => F, TextFunctions => T}
import graft.operators.{Dedup, Similarity}
import graft.operators.Ckpt.Ops
import QueryPack.t

/** Training-data-pipeline operator coverage: dedup (exact / MinHash-LSH /
  * SimHash / n-gram Jaccard), ANN similarity search, and text analysis over
  * the `documents` / `embeddings` testdata tables.
  *
  * Oracle notes: DuckDB regexp functions need the explicit 'g' flag to match
  * Spark's replace-all semantics; shingle Jaccard is int/int with one double
  * division (bit-identical across engines); cosine similarity is rounded to 6
  * decimals on BOTH sides because the two engines may differ in the last ulp
  * of the sqrt/divide.
  */
object Pipeline {

  // Shared DuckDB SQL fragments for the oracle side.
  private val normSql = """regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"""
  private val toksSql = s"string_split($normSql, ' ')"
  // 3-gram shingles of the token list, distinct, as DuckDB list comprehension.
  private val shingleSql =
    s"""CASE WHEN len($toksSql) <= 3
        THEN [array_to_string($toksSql, ' ')]
        ELSE list_distinct([ tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
               for i in generate_series(1, len(tk) - 2) ])
        END"""

  /** Half-oracle contract for the seeded ANN gates: DuckDB cannot recompute
    * WHICH neighbors the hyperplane/k-means candidate generation picks, but
    * everything else about the returned (query_id, nn_id, cosine, rank)
    * rows is value-checkable — so the gate emits, per query,
    *  - `n_results`: exactly k rows came back,
    *  - `rank_ok`: ranks are the dense 1..k sequence AND the rows sort by
    *    the declared (cosine desc, nn_id asc) order,
    *  - `cosine_ok`: every returned cosine equals an INDEPENDENT recompute
    *    from the base embeddings table (built-in zip_with/aggregate SQL
    *    functions — a different kernel than the codegen CosineSimilarity
    *    expression the operators use),
    * and the static oracle asserts the expected constants. Set membership —
    * the one unverifiable dimension — is covered by the recall >= 0.9
    * assertions in SimilaritySuite at the exact gate configs.
    */
  private def annContract(ann: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def cosExact(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
      def nrm(c: org.apache.spark.sql.Column) =
        sqrt(aggregate(c, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
      val denom = nrm(a) * nrm(b)
      when(denom === 0.0, 0.0).otherwise(dot / denom)
    }
    // ann is k*|queries| rows — broadcast it against the corpus so the
    // embeddings table never shuffles for the recompute
    val withC = corpus.select(col("vec_id").as("nn_id"), col("embedding").as("__cv"))
      .join(broadcast(ann), Seq("nn_id"))
    val withQ = withC.join(
      broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("__qv"))),
      Seq("query_id"))
    val w = Window.partitionBy("query_id").orderBy("rank")
    withQ
      .withColumn("__cos_ok", abs(cosExact(col("__cv"), col("__qv")) - col("cosine")) <= lit(1e-9))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__pc", lag(col("cosine"), 1).over(w))
      .withColumn("__pn", lag(col("nn_id"), 1).over(w))
      .withColumn("__ord_ok",
        col("__rn") === col("rank") &&
          (col("__pc").isNull || col("cosine") < col("__pc") ||
            (col("cosine") === col("__pc") && col("nn_id") > col("__pn"))))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_results"),
        bool_and(col("__ord_ok")).as("rank_ok"),
        bool_and(col("__cos_ok")).as("cosine_ok"))
      .orderBy("query_id")
  }

  private val annContractOracle =
    """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_results,
        TRUE AS rank_ok, TRUE AS cosine_ok
      FROM embeddings WHERE vec_id < 20 ORDER BY query_id"""

  /** Parallel driver-side media-fixture synthesis, bounded by the SESSION's
    * declared parallelism (local[k] ⇒ k — same honesty rule as the
    * KMeansLite fits: the bench's core-count scaling must not be inflated
    * by unbounded host threads) AND the driver host's core count — these
    * are DRIVER threads, and on a cluster `defaultParallelism` is the
    * total executor core count, not anything about the driver (r18,
    * VERDICT r17 #3). The multimodal gates synthesize ~30 independent
    * deterministic payloads per run, and serial synthesis was their
    * measured driver gap (OPTIMIZATION_r17.md §4: the mp3 gate spent 1.55 s
    * of its 2.9 s wall between jobs). Output order — hence the gate rows — is
    * identical to the serial map.
    */
  private def parRows[T](spark: org.apache.spark.sql.SparkSession,
      specs: IndexedSeq[T])(f: T => org.apache.spark.sql.Row): Seq[org.apache.spark.sql.Row] = {
    val out = new Array[org.apache.spark.sql.Row](specs.length)
    val bound = math.max(1, math.min(specs.length, math.min(
      Runtime.getRuntime.availableProcessors(),
      spark.sparkContext.defaultParallelism)))
    if (bound == 1) specs.indices.foreach(i => out(i) = f(specs(i)))
    else {
      val pool = new java.util.concurrent.ForkJoinPool(bound)
      try pool.submit(new Runnable {
        def run(): Unit = java.util.stream.IntStream.range(0, specs.length)
          .parallel().forEach(i => out(i) = f(specs(i)))
      }).get()
      finally pool.shutdown()
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** The `text_gopher_quality` gate over a `documents`-shaped frame
    * (`doc_id`, `text`): per-doc word count, mean word length and
    * alphabetic-word fraction, the top-bigram occupancy (most frequent
    * 2-shingle count / total bigrams) and the composite keep flag. Docs
    * whose text is null have no bigrams and no row.
    *
    * Each value is computed once per document: the tokens and the three
    * scalars are projected BELOW the bigram explode, so the Generate only
    * carries them along. Selected in the same `select` as the explode, they
    * would sit in a Project above the Generate and re-tokenize the
    * document once per bigram row — quadratic in its length. The
    * aggregates recover the per-doc scalars with first(), so there is one
    * corpus scan and no doc-keyed join.
    */
  private[graft] def gopherQuality(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tk = col("tk")
    val nWords = size(tk).cast("long")
    val perDoc = d.select(col("doc_id"), T.tokens(col("text")).as("tk"))
      .select(col("doc_id"), tk, nWords.as("n_words"),
        (aggregate(tk, lit(0L), (a, w) => a + length(w).cast("long"))
          .cast("double") / nWords.cast("double")).as("mean_word_len"),
        (size(filter(tk, w => w.rlike("[a-z]"))).cast("double") / nWords.cast("double"))
          .as("frac_alpha_words"))
    val enriched = perDoc.select(col("doc_id"), col("n_words"), col("mean_word_len"),
      col("frac_alpha_words"), explode(F.word_shingles(tk, 2)).as("bg"))
    val perBg = enriched.groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("count"), first(col("n_words")).as("n_words"),
        first(col("mean_word_len")).as("mean_word_len"),
        first(col("frac_alpha_words")).as("frac_alpha_words"))
    val w = Window.partitionBy(col("doc_id"))
    perBg.withColumn("mx", max(col("count")).over(w))
      .groupBy(col("doc_id"))
      .agg(first(col("n_words")).as("n_words"),
        first(col("mean_word_len")).as("mean_word_len"),
        first(col("frac_alpha_words")).as("frac_alpha_words"),
        (first(col("mx")).cast("double") / sum(col("count")).cast("double")).as("top_bigram_frac"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("frac_alpha_words"), col("top_bigram_frac"),
        (col("n_words") >= 10 && col("n_words") <= 10000 &&
         col("mean_word_len") >= 2.0 && col("mean_word_len") <= 12.0 &&
         col("frac_alpha_words") >= 0.7 && col("top_bigram_frac") <= 0.2).as("keep"))
      .orderBy(col("doc_id"))
  }

  val specs: Seq[QuerySpec] = Seq(

    // ---- Exact dedup: hash-groupBy on normalized text (one keyed shuffle) ----
    QuerySpec("dedup_exact",
      (s, dir) => Dedup.exactDuplicates(t(s, dir, "documents"), "doc_id", "text")
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id")),
      Some(s"""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM (SELECT doc_id, $normSql AS norm FROM documents)
        GROUP BY norm ORDER BY keep_id""")),

    // ---- Member-level expansion of rep-level flags (r17 memberIds): the
    // rejoin consumers of the rep-level ingest index need, gated as a
    // first-class operator. Flags here are the reps of over-1-copy exact
    // cliques (the shape a rep-level surface emits); memberIds recovers
    // every clique member through normTextHash. Null-normalizing texts
    // expand to nothing on both sides (equi-join vs SQL IN null semantics
    // agree). ----
    QuerySpec("dedup_member_expand",
      (s, dir) => {
        // the gate corpus has no exact cliques, so build them the way the
        // sf1+ scale fixtures did (BASELINE.md "Round 10: real sf1 on-disk
        // run"): a key-shifted verbatim copy of the first 100 docs (cliques of
        // 2). Flag a SUBSET of clique reps (rep % 5 == 0) so the gate proves
        // selective expansion, not just group recovery.
        val d = t(s, dir, "documents")
        val corpus = d.select(col("doc_id"), col("text")).unionByName(
          d.where(col("doc_id") < 100)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        val flagged = Dedup.exactDuplicates(corpus, "doc_id", "text")
          .where(col("n_copies") > 1 && col("keep_id") % 5 === 0)
          .select(col("keep_id").as("doc_id"))
        Dedup.memberIds(corpus, flagged, "doc_id", "text").orderBy(col("doc_id"))
      },
      Some(s"""WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 100
        ), nh AS (SELECT doc_id, $normSql AS nrm FROM corpus),
        flagged AS (
          SELECT nrm FROM nh GROUP BY nrm HAVING COUNT(*) > 1 AND MIN(doc_id) % 5 = 0
        )
        SELECT doc_id FROM nh WHERE nrm IN (SELECT nrm FROM flagged)
        ORDER BY doc_id""")),

    // ---- MinHash-LSH near-dup pairs, verified with exact shingle Jaccard.
    // Oracle is the brute-force all-pairs Jaccard: at threshold 0.7 the LSH
    // (128 hashes / 32 bands; miss prob (1-s^4)^32 ~ 1e-4 at s=0.7) finds
    // every qualifying pair in this corpus, so the two agree exactly. ----
    QuerySpec("dedup_minhash",
      (s, dir) => Dedup.minHashDuplicates(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.7)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH sh AS (
          SELECT doc_id, $shingleSql AS s
          FROM (SELECT doc_id, $toksSql AS tk, text FROM documents)
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(a.s || b.s)) AS jaccard
        FROM sh a, sh b WHERE a.doc_id < b.doc_id
          AND len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(a.s || b.s)) >= 0.7
        ORDER BY id_a, id_b""")),

    // ---- Incremental ingest dedup: odd doc_ids play the NEW batch, even
    // the EXISTING corpus; survivors = new docs with no exact-normalized
    // match and no cross-side Jaccard >= 0.7 partner. No corpus self-join
    // forms (the daily-ingest shape). LSH candidate completeness on this
    // corpus is the dedup_minhash argument — cross-side pairs are a subset
    // of all pairs — so the brute-force oracle applies hash-exact. ----
    QuerySpec("dedup_incremental",
      (s, dir) => {
        val d = t(s, dir, "documents")
        Dedup.incrementalDedup(
            d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 === 1),
            "doc_id", "text", threshold = 0.7)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH sh AS (
          SELECT doc_id, $shingleSql AS s, $normSql AS nrm
          FROM (SELECT doc_id, $toksSql AS tk, text FROM documents)
        ), matched AS (
          SELECT DISTINCT n.doc_id
          FROM sh n JOIN sh c ON n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
            AND (n.nrm = c.nrm
              OR len(list_intersect(n.s, c.s)) * 1.0 / len(list_distinct(n.s || c.s)) >= 0.7)
        )
        SELECT doc_id FROM sh
        WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM matched)
        ORDER BY doc_id""")),

    // ---- Ingest dedup through the persisted index + Bloom prefilter: the
    // bloom rules out definite-new hashes map-side and the residual exact
    // lookups broadcast; results are identical to the plain anti-join at
    // any fpp, so the brute-force oracle applies hash-exact (doc_id % 3
    // split so this gate cannot alias dedup_incremental's). ----
    QuerySpec("dedup_ingest_bloom",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val corpus = d.where(col("doc_id") % 3 === 0)
        val batch = d.where(col("doc_id") % 3 =!= 0)
        val idx = Dedup.ingestIndexBuild(corpus, "doc_id", "text")
        val bloom = Dedup.ingestBloomBuild(idx)
        Dedup.incrementalDedup(idx, corpus, batch, "doc_id", "text",
            threshold = 0.7, bloom = Some(bloom))
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH sh AS (
          SELECT doc_id, $shingleSql AS s, $normSql AS nrm
          FROM (SELECT doc_id, $toksSql AS tk, text FROM documents)
        ), matched AS (
          SELECT DISTINCT n.doc_id
          FROM sh n JOIN sh c ON n.doc_id % 3 != 0 AND c.doc_id % 3 = 0
            AND (n.nrm = c.nrm
              OR len(list_intersect(n.s, c.s)) * 1.0 / len(list_distinct(n.s || c.s)) >= 0.7)
        )
        SELECT doc_id FROM sh
        WHERE doc_id % 3 != 0 AND doc_id NOT IN (SELECT doc_id FROM matched)
        ORDER BY doc_id""")),

    // ---- Exact n-gram Jaccard on a fixed candidate set (all pairs within a
    // doc_id window — exercises the verifier independently of LSH) ----
    QuerySpec("dedup_ngram_jaccard",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val ids = d.select(col("doc_id").as("id_a")).where(col("id_a") < 30)
        val pairs = ids.crossJoin(d.select(col("doc_id").as("id_b")).where(col("id_b") < 30))
          .where(col("id_a") < col("id_b"))
        Dedup.ngramJaccard(pairs, d, "doc_id", "text")
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH sh AS (
          SELECT doc_id, $shingleSql AS s
          FROM (SELECT doc_id, $toksSql AS tk, text FROM documents) WHERE doc_id < 30
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(a.s || b.s)) AS jaccard
        FROM sh a, sh b WHERE a.doc_id < b.doc_id ORDER BY id_a, id_b""")),

    // ---- Exact n-gram CONTAINMENT (|A∩B| / |A|) on the same fixed pair
    // set — the asymmetric overlap score fuzzy decontamination uses: a
    // short eval doc fully inside a long training doc scores ~1.0 where
    // Jaccard dilutes toward 0. Same verified-join machinery as the
    // jaccard gate (candidate-scoped shingles, id-keyed attach joins). ----
    QuerySpec("dedup_containment",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val ids = d.select(col("doc_id").as("id_a")).where(col("id_a") < 30)
        val pairs = ids.crossJoin(d.select(col("doc_id").as("id_b")).where(col("id_b") < 30))
          .where(col("id_a") < col("id_b"))
        Dedup.ngramContainment(pairs, d, "doc_id", "text")
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH sh AS (
          SELECT doc_id, $shingleSql AS s
          FROM (SELECT doc_id, $toksSql AS tk, text FROM documents) WHERE doc_id < 30
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          len(list_intersect(a.s, b.s)) * 1.0 / len(a.s) AS containment,
          len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(a.s || b.s)) AS jaccard
        FROM sh a, sh b WHERE a.doc_id < b.doc_id ORDER BY id_a, id_b""")),

    // ---- SimHash near-dup (Hamming-LSH, maxHamming+1 bit-blocks => complete
    // candidate generation; DedupSuite asserts equality with brute-force
    // all-pairs Hamming). distance 4 = 5 bands of 12-13 bits: buckets stay
    // fine-grained (completeness at larger distances forces coarser blocks
    // and quadratically more candidates). The gate runs the PORTABLE token
    // hash (md5-derived, see HashFamily.md5Long) so DuckDB recomputes the
    // simhashes bit-for-bit; banding completeness is hash-independent
    // (pigeonhole), so the result still EQUALS brute-force all-pairs Hamming
    // — which is exactly what the oracle computes. ----
    QuerySpec("dedup_simhash",
      (s, dir) => Dedup.simHashDuplicates(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 4, portable = true)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH th AS (
          SELECT doc_id, ('0x' || substr(md5(u.t), 1, 16))::UBIGINT AS h
          FROM (SELECT doc_id, $toksSql AS tk FROM documents), UNNEST(tk) AS u(t)
        ), bits AS (
          SELECT doc_id, g.b AS b,
            (SUM(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) > 0) AS bit
          FROM th, generate_series(0, 63) AS g(b)
          GROUP BY doc_id, g.b
        ), ham AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT) AS hamming
          FROM bits a JOIN bits b ON a.b = b.b AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 4 ORDER BY id_a, id_b""")),

    // ---- Multi-table SimHash banding (Manku '07 block combinations): the
    // aggressive-distance scheme — blocks=6 keyed on 2-block subsets gives
    // 15 tables of ~21-bit keys. Candidate generation is complete by
    // pigeonhole at maxHamming=4 exactly like the single-table scheme, so
    // the SAME brute-force all-pairs Hamming oracle applies hash-exact;
    // DedupSuite pins full-row parity with simHashDuplicates and with
    // brute force at maxHamming=8 (the distance the scheme exists for). ----
    QuerySpec("dedup_simhash_multitable",
      (s, dir) => Dedup.simHashDuplicatesMultiTable(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 4, blocks = 6, portable = true)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH th AS (
          SELECT doc_id, ('0x' || substr(md5(u.t), 1, 16))::UBIGINT AS h
          FROM (SELECT doc_id, $toksSql AS tk FROM documents), UNNEST(tk) AS u(t)
        ), bits AS (
          SELECT doc_id, g.b AS b,
            (SUM(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) > 0) AS bit
          FROM th, generate_series(0, 63) AS g(b)
          GROUP BY doc_id, g.b
        ), ham AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT) AS hamming
          FROM bits a JOIN bits b ON a.b = b.b AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 4 ORDER BY id_a, id_b""")),

    // ---- SimHash duplicate GROUPS via the exact-collapse path: banding +
    // popcount verify run once per DISTINCT normalized text, members rejoin
    // through rep->member star edges (simhash is a function of the token
    // multiset, so exact dups share a simhash — Hamming 0). The oracle is
    // the same brute-force Hamming pair set as dedup_simhash fed through
    // the same recursive-CTE components as dedup_groups, so this gate pins
    // the collapsed composition against an uncollapsed ground truth. ----
    QuerySpec("dedup_simhash_groups",
      (s, dir) => Dedup.simHashDuplicateGroups(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 4, portable = true)
        .orderBy(col("id")),
      Some(s"""WITH RECURSIVE th AS (
          SELECT doc_id, ('0x' || substr(md5(u.t), 1, 16))::UBIGINT AS h
          FROM (SELECT doc_id, $toksSql AS tk FROM documents), UNNEST(tk) AS u(t)
        ), bits AS (
          SELECT doc_id, g.b AS b,
            (SUM(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) > 0) AS bit
          FROM th, generate_series(0, 63) AS g(b)
          GROUP BY doc_id, g.b
        ), pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bits a JOIN bits b ON a.b = b.b AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
          HAVING SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 4
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach(id, comp) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.comp FROM reach r JOIN edges e ON r.id = e.src WHERE r.comp < e.dst
        )
        SELECT id, MIN(comp) AS group_id FROM reach GROUP BY id ORDER BY id""")),

    // ---- SimHash GROUPS routed through the multi-table banding (r16,
    // blocks=6 at d=4): pins the blocks>0 path of simHashDuplicateGroups —
    // exact-collapse + Manku block-combination tables + star edges + CC —
    // against the same uncollapsed recursive-CTE ground truth as
    // dedup_simhash_groups (completeness is pigeonhole either way, so the
    // components must be identical). ----
    QuerySpec("dedup_simhash_groups_mt",
      (s, dir) => Dedup.simHashDuplicateGroups(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 4, portable = true, blocks = 6)
        .orderBy(col("id")),
      Some(s"""WITH RECURSIVE th AS (
          SELECT doc_id, ('0x' || substr(md5(u.t), 1, 16))::UBIGINT AS h
          FROM (SELECT doc_id, $toksSql AS tk FROM documents), UNNEST(tk) AS u(t)
        ), bits AS (
          SELECT doc_id, g.b AS b,
            (SUM(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) > 0) AS bit
          FROM th, generate_series(0, 63) AS g(b)
          GROUP BY doc_id, g.b
        ), pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bits a JOIN bits b ON a.b = b.b AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
          HAVING SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 4
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach(id, comp) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.comp FROM reach r JOIN edges e ON r.id = e.src WHERE r.comp < e.dst
        )
        SELECT id, MIN(comp) AS group_id FROM reach GROUP BY id ORDER BY id""")),

    // ---- Embedding near-dup via hyperplane LSH + exact cosine verify.
    // bits=5 x tables=20 is the measured-complete config at this corpus +
    // threshold: every exact-cosine pair >= 0.45 collides in >= 1 table
    // (DedupSuite asserts candidates == exact brute force at THIS config), so
    // the brute-force cosine oracle applies hash-exact. The completeness
    // search and per-pair collision margins are recorded in BASELINE.md. ----
    QuerySpec("dedup_embedding",
      (s, dir) => Dedup.embeddingDuplicates(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.45, bits = 5, tables = 20)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy(col("id_a"), col("id_b")),
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
        ORDER BY id_a, id_b""")),

    // ---- Embedding ingest dedup: odd vec_ids are the NEW batch, even the
    // corpus; verified cross-side cosine pairs at the measured-complete
    // bits=5 x tables=20 config (candidates == brute force at 0.45 on this
    // corpus, DedupSuite), so the brute-force oracle applies hash-exact;
    // cross pairs are a subset of the proven-complete all-pairs set. ----
    QuerySpec("dedup_embedding_inc",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Dedup.incrementalEmbedding(
            e.where(col("vec_id") % 2 === 0), e.where(col("vec_id") % 2 === 1),
            "vec_id", "embedding", threshold = 0.45, bits = 5, tables = 20)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy(col("id_new"), col("id_corpus"))
      },
      Some("""SELECT n.vec_id AS id_new, c.vec_id AS id_corpus,
          round(list_cosine_similarity(n.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine
        FROM embeddings n JOIN embeddings c ON n.vec_id % 2 = 1 AND c.vec_id % 2 = 0
        WHERE list_cosine_similarity(n.embedding::DOUBLE[], c.embedding::DOUBLE[]) >= 0.45
        ORDER BY id_new, id_corpus""")),

    // ---- SemDeDup (Abbas '23): spherical k-means cells + within-cell exact
    // cosine -> connected components -> min-id retention, labeling EVERY row
    // (id, group_id, kept). nCells=4 x probes=2 is the measured-complete
    // config at this corpus + threshold: every brute-force pair >= 0.45
    // shares >= 1 soft-assigned cell (DedupSuite asserts semantic pairs ==
    // brute force at THIS config; single assignment loses half the pairs),
    // so the recursive-CTE oracle over brute-force pairs applies hash-exact.
    // The paper's low-centroid-sim keep policy is quantizer-dependent (not
    // SQL-expressible) and is ground-truthed in DedupSuite instead. ----
    QuerySpec("dedup_semantic",
      (s, dir) => Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.45, nCells = 4, probes = 2)
        .orderBy(col("id")),
      Some("""WITH RECURSIVE pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach(id, comp) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.comp FROM reach r JOIN edges e ON r.id = e.src WHERE r.comp < e.dst
        ), comp AS (
          SELECT id, MIN(comp) AS group_id FROM reach GROUP BY id
        )
        SELECT e.vec_id AS id, COALESCE(c.group_id, e.vec_id) AS group_id,
          (c.group_id IS NULL OR e.vec_id = c.group_id) AS kept
        FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.id
        ORDER BY id""")),

    // ---- multimodal feature extraction, value-verified: one in-memory WAV
    // per nation row (constant-amplitude square wave, amplitude derived from
    // the key), through the REAL batched decode path (mapPartitions +
    // wavFeatures). Every RMS window of a constant-|v| signal is exactly
    // amp/32768, so feature = amp/16384 - 1 — a dyadic rational that is
    // EXACT in both float and double, making the gate hash-exact without
    // tolerance games. Oracle recomputes the closed form in SQL. ----
    QuerySpec("multimodal_features",
      (s, dir) => {
        val fixtures = t(s, dir, "nation").select(col("n_nationkey")).collect().map { r =>
          val key = r.getInt(0)
          val amp = 1000 + key * 500
          val rate = 8000
          val n = 1600 // FeatureDim divides it: every window is 100 samples
          val data = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val v = if (i % 2 == 0) amp else -amp
            data(i * 2) = (v & 0xFF).toByte
            data(i * 2 + 1) = ((v >> 8) & 0xFF).toByte
            i += 1
          }
          val bb = java.nio.ByteBuffer.allocate(44 + data.length)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes).putInt(36 + data.length).put("WAVE".getBytes)
          bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
            .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
          bb.put("data".getBytes).putInt(data.length).put(data)
          org.apache.spark.sql.Row(key.toLong, "audio", bb.array())
        }
        val media = s.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(fixtures: _*)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("media_id", org.apache.spark.sql.types.LongType, false),
            org.apache.spark.sql.types.StructField("modality", org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("bytes", org.apache.spark.sql.types.BinaryType))))
        graft.multimodal.Multimodal.extractFeatures(media)
          .select(col("media_id").cast("int").as("n_nationkey"),
            posexplode(col("features")).as(Seq("w", "feat")))
          .withColumn("feat", round(col("feat").cast("double"), 6))
          .orderBy(col("n_nationkey"), col("w"))
      },
      Some("""SELECT n_nationkey, CAST(ws.w AS INT) AS w,
          round(CAST(1000 + n_nationkey * 500 AS DOUBLE) / 16384 - 1, 6) AS feat
        FROM nation CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS w) ws
        ORDER BY n_nationkey, w""")),

    // ---- multimodal IMAGE features, value-verified: one 4x4 solid-gray PNG
    // per nation row (gray level derived from the key) through the real
    // ImageIO luminance-grid path. At 4x4 every grid cell is ONE pixel, so
    // no accumulation rounding: feature = (0.299v+0.587v+0.114v)/127.5 - 1
    // truncated to float — and the oracle replicates the truncation with
    // CAST(.. AS REAL), making the gate hash-exact. ----
    QuerySpec("multimodal_image_features",
      (s, dir) => {
        val fixtures = t(s, dir, "nation").select(col("n_nationkey")).collect().map { r =>
          val key = r.getInt(0)
          val v = 40 + key * 8
          val img = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 4) { var x = 0; while (x < 4) { img.setRGB(x, y, (v << 16) | (v << 8) | v); x += 1 }; y += 1 }
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", out)
          org.apache.spark.sql.Row(key.toLong, "image", out.toByteArray)
        }
        val media = s.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(fixtures: _*)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("media_id", org.apache.spark.sql.types.LongType, false),
            org.apache.spark.sql.types.StructField("modality", org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("bytes", org.apache.spark.sql.types.BinaryType))))
        graft.multimodal.Multimodal.extractFeatures(media)
          .select(col("media_id").cast("int").as("n_nationkey"),
            posexplode(col("features")).as(Seq("w", "feat")))
          .withColumn("feat", round(col("feat").cast("double"), 6))
          .orderBy(col("n_nationkey"), col("w"))
      },
      Some("""SELECT n_nationkey, CAST(ws.w AS INT) AS w,
          round(CAST(CAST(
            (0.299 * (40 + n_nationkey * 8) + 0.587 * (40 + n_nationkey * 8)
              + 0.114 * (40 + n_nationkey * 8)) / 127.5 - 1.0
          AS REAL) AS DOUBLE), 6) AS feat
        FROM nation CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS w) ws
        ORDER BY n_nationkey, w""")),

    // ---- PERCEPTUAL IMAGE DEDUP (real ImageIO decode): one deterministic
    // noise image per nation key plus, for region 2, a single-pixel-edited
    // twin at key+100. dHash puts each twin within 2 bits of its original
    // while distinct noise fields scatter ~32 bits apart (margins asserted
    // in MultimodalSuite), so the banded Hamming join must surface EXACTLY
    // the planted (k, k+100) pairs — which the oracle states relationally.
    // Decode and hashing are map-side; only (band, bits, id) shuffles. ----
    QuerySpec("multimodal_image_dedup",
      (s, dir) => {
        def noisePng(k: Long, perturb: Boolean): Array[Byte] = {
          val img = new java.awt.image.BufferedImage(64, 64,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          for (y <- 0 until 64; x <- 0 until 64) {
            var z = k * 0x9E3779B97F4A7C15L + x * 0xBF58476D1CE4E5B9L + y * 0x94D049BB133111EBL
            z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
            z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
            val v = ((z >>> 40) & 0xFF).toInt
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
          }
          if (perturb) img.setRGB(14, 16, 0xFFFFFF)
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", out)
          out.toByteArray
        }
        val keys = t(s, dir, "nation").select("n_nationkey", "n_regionkey")
          .collect().map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong))
        val fixtureSpecs: IndexedSeq[(Long, Long, Boolean)] =
          (keys.map { case (k, _) => (k, k, false) } ++
            keys.collect { case (k, r) if r == 2 => (k + 100L, k, true) }).toIndexedSeq
        val rows = parRows(s, fixtureSpecs) { case (id, pk, pert) =>
          org.apache.spark.sql.Row(id, noisePng(pk, pert)) }
        val media = s.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(rows: _*)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, false),
            org.apache.spark.sql.types.StructField("bytes", org.apache.spark.sql.types.BinaryType))))
        graft.multimodal.Multimodal.imageNearDuplicates(media, "id", "bytes", maxDistance = 6)
          .select(col("id_a"), col("id_b"))
          .orderBy(col("id_a"))
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS id_a,
          CAST(n_nationkey + 100 AS BIGINT) AS id_b
        FROM nation WHERE n_regionkey = 2 ORDER BY id_a""")),

    // ---- PERCEPTUAL AUDIO DEDUP (real PCM decode): one amplitude-
    // modulated tone per nation key, plus — for region 1 — a GAIN-SCALED,
    // one-window-glitched twin at key+100. The 64-bit energy-contour
    // fingerprint is gain-invariant by construction (uniform gain scales
    // every window energy, preserving the comparisons), the glitch flips
    // <= 3 contour bits, and distinct envelopes scatter (margins in
    // MultimodalSuite) — so the banded Hamming join surfaces exactly the
    // planted pairs, which the oracle states relationally. ----
    QuerySpec("multimodal_audio_dedup",
      (s, dir) => {
        def toneWav(k: Long, gain: Double, glitch: Boolean): Array[Byte] = {
          val rate = 8000; val n = rate
          val data = new Array[Byte](n * 2)
          for (i <- 0 until n) {
            val w = i * 65 / n
            var z = k * 0x9E3779B97F4A7C15L + w * 0xBF58476D1CE4E5B9L
            z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
            val amp = 0.1 + 0.8 * ((z >>> 40) & 0xFF) / 255.0
            val base = amp * gain * math.sin(2 * math.Pi * 440 * i / rate)
            val v = math.max(-1.0, math.min(1.0, if (glitch && w == 30) 0.0 else base))
            val sv = (v * 20000).toShort
            data(i * 2) = (sv & 0xFF).toByte
            data(i * 2 + 1) = ((sv >> 8) & 0xFF).toByte
          }
          val bb = java.nio.ByteBuffer.allocate(44 + data.length)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes).putInt(36 + data.length).put("WAVE".getBytes)
          bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
            .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
          bb.put("data".getBytes).putInt(data.length).put(data)
          bb.array()
        }
        val keys = t(s, dir, "nation").select("n_nationkey", "n_regionkey")
          .collect().map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong))
        val fixtureSpecs: IndexedSeq[(Long, Long, Double, Boolean)] =
          (keys.map { case (k, _) => (k, k, 1.0, false) } ++
            keys.collect { case (k, r) if r == 1 => (k + 100L, k, 0.6, true) }).toIndexedSeq
        val rows = parRows(s, fixtureSpecs) { case (id, tk, g, gl) =>
          org.apache.spark.sql.Row(id, toneWav(tk, g, glitch = gl)) }
        val media = s.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(rows: _*)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, false),
            org.apache.spark.sql.types.StructField("bytes", org.apache.spark.sql.types.BinaryType))))
        graft.multimodal.Multimodal.audioNearDuplicates(media, "id", "bytes", maxDistance = 4)
          .select(col("id_a"), col("id_b"))
          .orderBy(col("id_a"))
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS id_a,
          CAST(n_nationkey + 100 AS BIGINT) AS id_b
        FROM nation WHERE n_regionkey = 1 ORDER BY id_a""")),

    // ---- PERCEPTUAL AUDIO DEDUP over REAL MP3 payloads: the same planted-
    // pair design as multimodal_audio_dedup, but every payload is a Layer
    // III stream ([[graft.multimodal.Mp3Encode]]) decoded for real by
    // [[graft.multimodal.Mp3Decode]] inside the fingerprint path. MP3 is
    // LOSSY, so the fixture is designed for margin: envelope amplitudes
    // come from 4 discrete levels with adjacent contour windows forced to
    // different levels (min energy ratio 1.86x), far above the combined
    // per-granule global_gain grid wobble (2^±1/4) + |is|<=5 quantization
    // noise (<=~1.7x worst case); the codec delay shifts both pair members
    // identically, so the contour comparison bits still align. Gain
    // invariance survives the codec because the quantizer scales step with
    // the signal (same `is` values, shifted global_gain). ----
    QuerySpec("multimodal_audio_mp3_dedup",
      (s, dir) => {
        def toneMp3(k: Long, gain: Double, glitch: Boolean): Array[Byte] = {
          val rate = 32000; val n = rate // 1 s
          val levels = Array(0.15, 0.35, 0.55, 0.75)
          val lvl = new Array[Int](65)
          var prevLvl = -1
          for (w <- 0 until 65) {
            var z = k * 0x9E3779B97F4A7C15L + w * 0xBF58476D1CE4E5B9L
            z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
            var li = ((z >>> 40) & 3).toInt
            if (li == prevLvl) li = (li + 1) & 3 // adjacent windows differ
            lvl(w) = li; prevLvl = li
          }
          val pcm = new Array[Double](n)
          for (i <- 0 until n) {
            val w = i * 65 / n
            val amp = if (glitch && w == 30) 0.0 else levels(lvl(w)) * gain
            pcm(i) = amp * math.sin(2 * math.Pi * 440 * i / rate)
          }
          graft.multimodal.Mp3Encode.encode(Array(pcm), 32000)
        }
        val keys = t(s, dir, "nation").select("n_nationkey", "n_regionkey")
          .collect().map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong))
        val fixtureSpecs: IndexedSeq[(Long, Long, Double, Boolean)] =
          (keys.map { case (k, _) => (k, k, 1.0, false) } ++
            keys.collect { case (k, r) if r == 1 => (k + 100L, k, 0.6, true) }).toIndexedSeq
        val rows = parRows(s, fixtureSpecs) { case (id, tk, g, gl) =>
          org.apache.spark.sql.Row(id, toneMp3(tk, g, glitch = gl)) }
        val media = s.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(rows: _*)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, false),
            org.apache.spark.sql.types.StructField("bytes", org.apache.spark.sql.types.BinaryType))))
        graft.multimodal.Multimodal.audioNearDuplicates(media, "id", "bytes", maxDistance = 4)
          .select(col("id_a"), col("id_b"))
          .orderBy(col("id_a"))
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS id_a,
          CAST(n_nationkey + 100 AS BIGINT) AS id_b
        FROM nation WHERE n_regionkey = 1 ORDER BY id_a""")),

    // ---- ANN: brute-force exact top-5 cosine neighbors for 20 query vectors.
    // Corpus never shuffles: queries broadcast, scoring is map-side codegen,
    // only k*|queries| rows reach the window. ----
    QuerySpec("ann_bruteforce",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.where(col("vec_id") < 20)
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", "vec_id", "embedding", k = 5)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 20),
          scored AS (
            SELECT q.query_id, e.vec_id AS nn_id,
              round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cosine
            FROM embeddings e, q WHERE e.vec_id <> q.query_id
          ), ranked AS (
            SELECT query_id, nn_id, cosine,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, nn_id ASC) AS rank
            FROM scored
          )
          SELECT query_id, nn_id, cosine, CAST(rank AS INT) AS rank FROM ranked
          WHERE rank <= 5 ORDER BY query_id, rank""")),

    // ---- ANN: LSH-bucketed variant (multi-probe, 12 independent hyperplane
    // tables). The candidate SET uses splitmix64 hyperplanes — not
    // SQL-expressible — so the gate hash-checks the half-oracle CONTRACT
    // instead (see [[annContract]]): per query, exactly k results whose
    // cosines are independently recomputed from the base table and whose
    // rank order is the declared (cosine desc, nn_id asc). Set membership
    // itself is held to recall >= 0.9 vs brute force in SimilaritySuite AT
    // THIS EXACT CONFIG (bits=6, multiProbe, tables=12) — the gate and the
    // ground-truth assertion share parameters by design. ----
    QuerySpec("ann_lsh",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.where(col("vec_id") < 20)
        annContract(Similarity.lshTopK(e, q, "vec_id", "embedding", "vec_id", "embedding",
          k = 5, bits = 6, multiProbe = true, tables = 12), e, q)
      },
      Some(annContractOracle)),

    // ---- ANN: IVF variant (k-means coarse quantizer fit locally on a seeded
    // sample, codegen'd argmin cell assignment, nProbe nearest cells probed
    // per query). Centroid training is not SQL-expressible; same half-oracle
    // contract as ann_lsh. Recall vs brute force asserted in SimilaritySuite. ----
    QuerySpec("ann_ivf",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.where(col("vec_id") < 20)
        annContract(Similarity.ivfTopK(e, q, "vec_id", "embedding", "vec_id", "embedding",
          k = 5, nCells = 8, nProbe = 6), e, q)
      },
      Some(annContractOracle)),

    // ---- ANN: product-quantization variant (Jegou '11) — codes are 16
    // bytes/vector vs 256 of floats, ADC scan + exact re-rank of a 50-deep
    // shortlist, so emitted cosines are exact and the same half-oracle
    // contract applies. Recall >= 0.9 at this exact config asserted in
    // SimilaritySuite. ----
    // ---- ANN: HNSW variant (Malkov-Yashunin '16) — shard-local
    // hierarchical graphs built in parallel, scatter-gather probe, global
    // top-k merge. Deterministic by construction (id-hash levels, id-sorted
    // insertion, id tie-breaks), so the same half-oracle contract
    // hash-checks it; recall >= 0.9 vs brute force asserted in
    // SimilaritySuite AT THIS CONFIG (shards=4, m=8, efC=64, efS=48). ----
    QuerySpec("ann_hnsw",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.where(col("vec_id") < 20)
        annContract(graft.operators.Hnsw.hnswTopK(e, q,
          "vec_id", "embedding", "vec_id", "embedding",
          k = 5, shards = 4, m = 8, efConstruction = 64, efSearch = 48), e, q)
      },
      Some(annContractOracle)),

    QuerySpec("ann_pq",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.where(col("vec_id") < 20)
        annContract(Similarity.pqTopK(e, q, "vec_id", "embedding", "vec_id", "embedding",
          k = 5, m = 16, ks = 16, rerank = 50, sampleSize = 4096,
          excludeSelf = true), e, q)
      },
      Some(annContractOracle)),

    // ---- ANN: IVF x PQ (the full IVFADC shape) — coarse cells prune WHICH
    // rows the ADC scan touches, codes shrink WHAT each row costs; exact
    // re-rank keeps the half-oracle contract applicable. Recall >= 0.9 at
    // this exact config asserted in SimilaritySuite. ----
    QuerySpec("ann_ivfpq",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.where(col("vec_id") < 20)
        val idx = Similarity.ivfPqBuild(e, "vec_id", "embedding",
          nCells = 8, m = 16, ks = 16)
        annContract(Similarity.ivfPqTopK(idx, e, q, "vec_id", "embedding",
          "vec_id", "embedding", k = 5, nProbe = 6, rerank = 100), e, q)
      },
      Some(annContractOracle)),

    // ---- Duplicate GROUPS from verified near-dup pairs: connected
    // components via the default `auto` strategy (min-label rounds with a
    // star fallback past the round budget — the clique-shaped graph here
    // converges inside it), hash-matched against a DuckDB recursive-CTE
    // ground truth over the same brute-force pair set. ----
    QuerySpec("dedup_groups",
      (s, dir) => Dedup.minHashDuplicateGroups(t(s, dir, "documents"),
          "doc_id", "text", threshold = 0.7)
        .orderBy(col("id")),
      Some(s"""WITH RECURSIVE sh AS (
          SELECT doc_id, $shingleSql AS s
          FROM (SELECT doc_id, $toksSql AS tk, text FROM documents)
        ), pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a, sh b WHERE a.doc_id < b.doc_id
            AND len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(a.s || b.s)) >= 0.7
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach(id, comp) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.comp FROM reach r JOIN edges e ON r.id = e.src WHERE r.comp < e.dst
        )
        SELECT id, MIN(comp) AS group_id FROM reach GROUP BY id ORDER BY id""")),

    // ---- Same components via the ALTERNATING large-star/small-star
    // algorithm — the O(log n)-round scale path for chain-shaped graphs
    // whose diameter grows with the corpus (min-label above is
    // diameter-bound). Connected components are unique, so the identical
    // recursive-CTE oracle pins both implementations to each other. ----
    QuerySpec("dedup_groups_star",
      (s, dir) => Dedup.minHashDuplicateGroups(t(s, dir, "documents"),
          "doc_id", "text", threshold = 0.7, strategy = "star", maxIter = 35)
        .orderBy(col("id")),
      Some(s"""WITH RECURSIVE sh AS (
          SELECT doc_id, $shingleSql AS s
          FROM (SELECT doc_id, $toksSql AS tk, text FROM documents)
        ), pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a, sh b WHERE a.doc_id < b.doc_id
            AND len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(a.s || b.s)) >= 0.7
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach(id, comp) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.comp FROM reach r JOIN edges e ON r.id = e.src WHERE r.comp < e.dst
        )
        SELECT id, MIN(comp) AS group_id FROM reach GROUP BY id ORDER BY id""")),

    // ---- PII scrubbing: emails/SSNs/IPv4s/phones replaced by typed tokens,
    // plus per-category counts. The input plants deterministic PII derived
    // from doc_id so both engines scrub the same strings with the same
    // regexes (java.util.regex and RE2 agree on this subset). ----
    QuerySpec("text_pii_scrub",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val planted = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."),
          (col("doc_id") % 200).cast("string"), lit(".7 call 555-123-4567 ssn 987-65-4321"))
        val counts = T.piiCounts(planted)
        d.select(col("doc_id"),
            T.scrubPii(planted).as("scrubbed"),
            counts(0).cast("long").as("n_email"), counts(1).cast("long").as("n_ssn"),
            counts(2).cast("long").as("n_ip"), counts(3).cast("long").as("n_phone"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH planted AS (
          SELECT doc_id, text || ' contact user' || doc_id || '@example.com from 10.0.'
            || (doc_id % 200) || '.7 call 555-123-4567 ssn 987-65-4321' AS t
          FROM documents
        ), s1 AS (
          SELECT doc_id, t,
            regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
          FROM planted
        ), s2 AS (
          SELECT doc_id, t, t1, regexp_replace(t1, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS t2 FROM s1
        ), s3 AS (
          SELECT doc_id, t, t1, t2, regexp_replace(t2, '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t3 FROM s2
        )
        SELECT doc_id,
          regexp_replace(t3, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS scrubbed,
          len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
          len(regexp_extract_all(t1, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
          len(regexp_extract_all(t2, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS n_ip,
          len(regexp_extract_all(t3, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone
        FROM s3 ORDER BY doc_id""")),

    // ---- Text quality metrics, one row per document ----
    QuerySpec("text_quality",
      (s, dir) => {
        val d = t(s, dir, "documents")
        d.select(col("doc_id") +: T.qualityMetrics(col("text")): _*)
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id,
          len(text) AS n_chars,
          len(tk) AS n_tokens,
          len(list_distinct(tk)) AS n_distinct_tokens,
          len(list_filter(tk, w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS n_stopwords,
          len(regexp_replace(text, '[\\w\\s]', '', 'g')) AS n_punct,
          len(list_filter(tk, w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) * 1.0 / len(tk) AS stopword_ratio,
          len(list_distinct(tk)) * 1.0 / len(tk) AS lexical_diversity,
          len(text) * 1.0 / len(tk) AS chars_per_token
        FROM (SELECT doc_id, text, $toksSql AS tk FROM documents)
        ORDER BY doc_id""")),

    // ---- Language-ID by marker-word voting + token counting, aggregated ----
    QuerySpec("text_langid",
      (s, dir) => {
        val d = t(s, dir, "documents")
        d.select(col("doc_id"), T.langId(col("text")).as("lang_pred"),
            T.tokenCount(col("text")).cast("long").as("n_tokens"),
            T.subwordCount(col("text")).as("n_subwords"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH scored AS (
          SELECT doc_id, tk,
            len(list_filter(tk, w -> w IN ('the','a','of','and','to','in','is','it','that','for'))) AS s_en,
            len(list_filter(tk, w -> w IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS s_de,
            len(list_filter(tk, w -> w IN ('el','la','de','que','y','en','un','una','por','con'))) AS s_es,
            len(list_filter(tk, w -> w IN ('le','la','les','et','un','une','dans','est','pour','que'))) AS s_fr,
            len(list_filter(tk, w -> w IN ('的','是','了','在','我','有','和','不','人','这'))) AS s_zh
          FROM (SELECT doc_id, $toksSql AS tk FROM documents)
        )
        SELECT doc_id,
          CASE WHEN greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 THEN 'und'
               WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'en'
               WHEN s_de = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'de'
               WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'es'
               WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'fr'
               ELSE 'zh' END AS lang_pred,
          len(tk) AS n_tokens,
          CAST(list_sum(list_transform(tk, w -> CAST(ceil(len(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords
        FROM scored ORDER BY doc_id""")),

    // ---- Composite quality filter: the "keep good documents" pipeline step.
    // Thresholds on exact-int-derived ratios keep the predicate deterministic
    // across engines. ----
    QuerySpec("text_quality_filter",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val nTok = T.tokenCount(col("text")).cast("long")
        val stopRatio = T.stopwordCount(col("text")).cast("double") / nTok.cast("double")
        val lexDiv = T.distinctTokenCount(col("text")).cast("double") / nTok.cast("double")
        d.select(col("doc_id"), col("source"), nTok.as("n_tokens"),
            stopRatio.as("stopword_ratio"), lexDiv.as("lexical_diversity"))
          .where(col("n_tokens") >= 20 && col("n_tokens") <= 120 &&
            col("lexical_diversity") >= 0.5)
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, source, len(tk) AS n_tokens,
          len(list_filter(tk, w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) * 1.0 / len(tk) AS stopword_ratio,
          len(list_distinct(tk)) * 1.0 / len(tk) AS lexical_diversity
        FROM (SELECT doc_id, source, $toksSql AS tk FROM documents)
        WHERE len(tk) BETWEEN 20 AND 120
          AND len(list_distinct(tk)) * 1.0 / len(tk) >= 0.5
        ORDER BY doc_id""")),

    // ---- Sequence packing (pretraining prep): concatenate docs per source
    // in doc_id order, chunk the token stream into fixed budgets. start_tok
    // is an exclusive-prefix window sum WITHIN each source partition — the
    // scale story is packing per shard, never a global single-partition
    // ordering. ----
    QuerySpec("text_seq_pack",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val budget = 512
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        d.select(col("source"), col("doc_id"),
            T.tokenCount(col("text")).cast("long").as("n_tokens"))
          .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .withColumn("seq_id", (col("start_tok") / budget).cast("long"))
          .orderBy(col("source"), col("doc_id"))
      },
      Some(s"""SELECT source, doc_id, len(tk) AS n_tokens,
          CAST(COALESCE(SUM(len(tk)) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok,
          CAST(COALESCE(SUM(len(tk)) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT) AS seq_id
        FROM (SELECT source, doc_id, $toksSql AS tk FROM documents)
        ORDER BY source, doc_id""")),

    // ---- Retention policy: within each near-dup group keep the highest-
    // quality member (lexical diversity, min-id tiebreak); singletons keep
    // themselves. Exercises the pipeline-level Dedup.keepBest entry point
    // (groups + quality scoring + window top-1, with the cluster switches
    // defaulted off). ----
    QuerySpec("dedup_keep_best",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val nTok = T.tokenCount(col("text")).cast("long")
        Dedup.keepBest(d, "doc_id", "text",
            T.distinctTokenCount(col("text")).cast("double") / nTok.cast("double"),
            threshold = 0.7)
          .select(col("group_id"), col("keep_id"), round(col("quality"), 6).as("quality"))
          .orderBy(col("group_id"))
      },
      Some(s"""WITH RECURSIVE sh AS (
          SELECT doc_id, $shingleSql AS s
          FROM (SELECT doc_id, $toksSql AS tk, text FROM documents)
        ), pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a, sh b WHERE a.doc_id < b.doc_id
            AND len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(a.s || b.s)) >= 0.7
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach(id, comp) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.comp FROM reach r JOIN edges e ON r.id = e.src WHERE r.comp < e.dst
        ), grp AS (
          SELECT id, MIN(comp) AS group_id FROM reach GROUP BY id
        ), scored AS (
          SELECT d.doc_id, COALESCE(g.group_id, d.doc_id) AS group_id,
            len(list_distinct(tk)) * 1.0 / len(tk) AS quality
          FROM (SELECT doc_id, $toksSql AS tk FROM documents) d
          LEFT JOIN grp g ON g.id = d.doc_id
        ), ranked AS (
          SELECT group_id, doc_id, quality,
            ROW_NUMBER() OVER (PARTITION BY group_id ORDER BY quality DESC, doc_id ASC) AS rn
          FROM scored
        )
        SELECT group_id, doc_id AS keep_id, round(quality, 6) AS quality
        FROM ranked WHERE rn = 1 ORDER BY group_id""")),

    // ---- Unicode NFC normalization: combining sequences composed to
    // canonical form. Both engines normalize the same planted decomposed
    // text (e + U+0301 -> e-acute). ----
    QuerySpec("text_nfc",
      (s, dir) => {
        val d = t(s, dir, "documents")
        // decomposed combining sequences: e + U+0301, i + U+0308
        val planted = concat(col("text"), lit(" cafe\u0301 nai\u0308ve"))
        d.select(col("doc_id"), T.nfc(planted).as("norm"),
            length(T.nfc(planted)).cast("long").as("n_chars_nfc"),
            length(planted).cast("long").as("n_chars_raw"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
          nfc_normalize(text || ' cafe' || chr(769) || ' nai' || chr(776) || 've') AS norm,
          CAST(length(nfc_normalize(text || ' cafe' || chr(769) || ' nai' || chr(776) || 've')) AS BIGINT) AS n_chars_nfc,
          CAST(length(text || ' cafe' || chr(769) || ' nai' || chr(776) || 've') AS BIGINT) AS n_chars_raw
        FROM documents ORDER BY doc_id""")),

    // ---- Corpus-wide span dedup: every sentence keeps only its first
    // occurrence (by doc_id, position) across the corpus; docs reassemble
    // from surviving spans. Hash-matched end to end, including the
    // reassembled text. ----
    QuerySpec("dedup_spans",
      (s, dir) => Dedup.dedupSpans(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id")),
      Some("""WITH spans AS (
          SELECT doc_id, u.pos AS pos, u.span AS span FROM (
            SELECT doc_id, [{'pos': i, 'span': s[i]} for i in generate_series(1, len(s))] AS ps
            FROM (SELECT doc_id, string_split(text, '. ') AS s FROM documents)
          ), UNNEST(ps) AS t(u)
          WHERE len(trim(u.span)) > 0
        ), marked AS (
          SELECT doc_id, pos, span,
            ROW_NUMBER() OVER (
              PARTITION BY regexp_replace(lower(trim(span)), '\s+', ' ', 'g')
              ORDER BY doc_id, pos) AS rn
          FROM spans
        ), agg AS (
          SELECT doc_id,
            COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, '. ' ORDER BY pos), '') AS kept_text,
            COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
            COUNT(*) AS n_total
          FROM marked GROUP BY doc_id
        )
        SELECT d.doc_id, COALESCE(a.kept_text, '') AS kept_text,
          COALESCE(a.n_kept, 0) AS n_kept, COALESCE(a.n_total, 0) AS n_total
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        ORDER BY d.doc_id""")),

    // ---- Benchmark decontamination: training docs (doc_id < 480) sharing
    // any 5-gram with the "eval set" (doc_id >= 480) get flagged with their
    // collision count. Eval n-grams broadcast; the training side never
    // shuffles. ----
    QuerySpec("text_decontaminate",
      (s, dir) => {
        val d = t(s, dir, "documents")
        Dedup.contaminated(
            d.where(col("doc_id") < 480), d.where(col("doc_id") >= 480),
            "doc_id", "text", shingleSize = 5)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ng AS (
          SELECT doc_id, CASE WHEN len(tk) <= 5 THEN [array_to_string(tk, ' ')]
            ELSE list_distinct([ tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]
                   for i in generate_series(1, len(tk) - 4) ]) END AS ngs
          FROM (SELECT doc_id, $toksSql AS tk FROM documents)
        ), eval_ng AS (
          SELECT DISTINCT u.ng FROM ng, UNNEST(ngs) AS u(ng) WHERE doc_id >= 480
        ), train_ng AS (
          SELECT doc_id, u.ng FROM ng, UNNEST(ngs) AS u(ng) WHERE doc_id < 480
        )
        SELECT t.doc_id, COUNT(*) AS n_shared_ngrams
        FROM train_ng t JOIN eval_ng e ON t.ng = e.ng
        GROUP BY t.doc_id ORDER BY t.doc_id""")),

    // ---- Gopher-style quality/repetition metrics (Rae et al. '21 §A1.1):
    // word-length shape, alphabetic-word fraction, and the top-bigram
    // repetition fraction, with the composite keep flag. All exact-int
    // derived -> hash-comparable. ----
    QuerySpec("text_gopher_quality",
      (s, dir) => gopherQuality(t(s, dir, "documents")),
      Some(s"""WITH base AS (
          SELECT doc_id, tk, len(tk) AS n_words,
            CAST(list_sum(list_transform(tk, w -> len(w))) AS DOUBLE) / len(tk) AS mean_word_len,
            CAST(len(list_filter(tk, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) / len(tk) AS frac_alpha_words
          FROM (SELECT doc_id, $toksSql AS tk FROM documents)
        ), bigrams AS (
          SELECT doc_id, bg, COUNT(*) AS c
          FROM (
            SELECT doc_id, CASE WHEN len(tk) <= 2 THEN [array_to_string(tk, ' ')]
              ELSE [ tk[i] || ' ' || tk[i+1] for i in generate_series(1, len(tk) - 1) ] END AS bgs
            FROM (SELECT doc_id, $toksSql AS tk FROM documents)
          ), UNNEST(bgs) AS u(bg)
          GROUP BY doc_id, bg
        ), topbi AS (
          SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac
          FROM bigrams GROUP BY doc_id
        )
        SELECT b.doc_id, CAST(b.n_words AS BIGINT) AS n_words, b.mean_word_len,
          b.frac_alpha_words, t.top_bigram_frac,
          (b.n_words >= 10 AND b.n_words <= 10000 AND
           b.mean_word_len >= 2.0 AND b.mean_word_len <= 12.0 AND
           b.frac_alpha_words >= 0.7 AND t.top_bigram_frac <= 0.2) AS keep
        FROM base b JOIN topbi t ON b.doc_id = t.doc_id
        ORDER BY b.doc_id""")),

    // ---- The FULL Gopher repetition battery (Rae '21 Table A1): dup
    // line/paragraph fractions, top {2,3,4}-gram occupancy, dup {5..10}-gram
    // coverage — ONE map-side expression per doc (gopher_repetition), zero
    // shuffles. The corpus has no line structure, so the gate PLANTS it
    // (c4 pattern): l1 always repeats as a line; l2 repeats when doc_id%5=0;
    // the whole first paragraph repeats when doc_id%3=0 — so every signal
    // exercises both zero and non-zero paths across the corpus. The oracle
    // recomputes all 13 signals in SQL over the same construction. ----
    QuerySpec("text_gopher_repetition",
      (s, dir) => {
        import graft.functions.GopherRepetition
        // tokenize each document once: `tk` is projected first and every
        // seg slices that column (inlined, the tokens were rebuilt per seg)
        val tk = col("tk")
        def seg(from: Int, n: Int) = concat_ws(" ", slice(tk, from, n))
        val l1 = seg(1, 6); val l2 = seg(7, 5); val l4 = seg(12, 6)
        val l5 = when(col("doc_id") % 5 === 0, l2).otherwise(seg(18, 5))
        val p1 = concat_ws("\n", l1, l2)
        val p2 = concat_ws("\n", l1, l4, l5)
        val p3 = when(col("doc_id") % 3 === 0, p1).otherwise(seg(23, 8))
        val lined = concat_ws("\n\n", p1, p2, p3)
        val flat = GopherRepetition.FieldNames.map(f =>
          round(col("__g").getField(f), 6).as(f))
        val keep = GopherRepetition.KeepThresholds
          .map { case (f, th) => col(f) <= th }.reduce(_ && _)
        t(s, dir, "documents")
          .select(col("doc_id"), T.tokens(col("text")).as("tk"))
          .select(col("doc_id"), F.gopher_repetition(lined).as("__g"))
          .select(col("doc_id") +: flat: _*)
          .withColumn("keep", keep)
          .orderBy(col("doc_id"))
      },
      Some {
        import graft.functions.GopherRepetition
        // DuckDB's generate_series can't take lateral column args as a table
        // function, so n-gram expansion rides list comprehensions (the
        // text_gopher_quality pattern) and scalar generate_series (returns a
        // LIST in scalar position) for position ranges.
        def ngramList(n: Int) =
          s"""CASE WHEN len(tk) >= $n
              THEN [ array_to_string(tk[i:i+${n - 1}], ' ') for i in generate_series(1, len(tk) - ${n - 1}) ]
              ELSE CAST([] AS VARCHAR[]) END"""
        def topBlock(n: Int) = s"""
          ng$n AS (SELECT doc_id, u.ng FROM (
              SELECT doc_id, ${ngramList(n)} AS ngs FROM toks), UNNEST(ngs) AS u(ng)),
          top$n AS (SELECT doc_id, CAST(cnt AS DOUBLE) * nglen AS mass
            FROM (SELECT doc_id, cnt, nglen,
                    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, nglen DESC) AS rn
                  FROM (SELECT doc_id, ng, COUNT(*) AS cnt, len(ng) AS nglen
                        FROM ng$n GROUP BY doc_id, ng))
            WHERE rn = 1)"""
        def covBlock(n: Int) = s"""
          ngu$n AS (SELECT doc_id, u.ng FROM (
              SELECT doc_id, ${ngramList(n)} AS ngs FROM toks), UNNEST(ngs) AS u(ng)),
          dupv$n AS (SELECT doc_id, list(ng) AS dups FROM (
              SELECT doc_id, ng FROM ngu$n GROUP BY doc_id, ng HAVING COUNT(*) > 1)
            GROUP BY doc_id),
          cov$n AS (SELECT DISTINCT doc_id, u.idx FROM (
              SELECT t.doc_id, flatten([
                  CASE WHEN list_contains(d.dups, array_to_string(tk[i:i+${n - 1}], ' '))
                    THEN generate_series(i - 1, i + ${n - 2}) ELSE CAST([] AS BIGINT[]) END
                  for i in generate_series(1, len(tk) - ${n - 1}) ]) AS idxs
              FROM toks t JOIN dupv$n d ON t.doc_id = d.doc_id), UNNEST(idxs) AS u(idx)),
          covs$n AS (SELECT c.doc_id, SUM(len(t.tk[c.idx + 1])) AS cov
            FROM cov$n c JOIN toks t ON c.doc_id = t.doc_id GROUP BY c.doc_id)"""
        def topFrac(n: Int) =
          s"round(CASE WHEN nl.nlen = 0 THEN 0.0 ELSE COALESCE(top$n.mass, 0.0) / nl.nlen END, 6) AS top_${n}gram_char_frac"
        def covFrac(n: Int) =
          s"round(CASE WHEN wt.tot IS NULL OR wt.tot = 0 THEN 0.0 ELSE CAST(COALESCE(covs$n.cov, 0) AS DOUBLE) / wt.tot END, 6) AS dup_${n}gram_char_frac"
        val keepSql = GopherRepetition.KeepThresholds
          .map { case (f, th) => s"$f <= $th" }.mkString(" AND ")
        s"""WITH segsrc AS (
          SELECT doc_id, $toksSql AS tk0 FROM documents
        ), planted AS (
          SELECT doc_id,
            coalesce(array_to_string(tk0[1:6], ' '), '') AS l1,
            coalesce(array_to_string(tk0[7:11], ' '), '') AS l2,
            coalesce(array_to_string(tk0[12:17], ' '), '') AS l4,
            CASE WHEN doc_id % 5 = 0 THEN coalesce(array_to_string(tk0[7:11], ' '), '')
                 ELSE coalesce(array_to_string(tk0[18:22], ' '), '') END AS l5,
            coalesce(array_to_string(tk0[23:30], ' '), '') AS s23
          FROM segsrc
        ), txt AS (
          SELECT doc_id,
            (l1 || chr(10) || l2) || chr(10) || chr(10) ||
            (l1 || chr(10) || l4 || chr(10) || l5) || chr(10) || chr(10) ||
            (CASE WHEN doc_id % 3 = 0 THEN l1 || chr(10) || l2 ELSE s23 END) AS text
          FROM planted
        ), lines AS (
          SELECT doc_id, l AS e FROM txt, UNNEST(string_split(text, chr(10))) AS u(l)
          WHERE trim(l) <> ''
        ), lstats AS (
          SELECT doc_id,
            CAST(SUM(cnt - 1) AS DOUBLE) / SUM(cnt) AS dup_line_frac,
            CAST(SUM((cnt - 1) * elen) AS DOUBLE) / SUM(cnt * elen) AS dup_line_char_frac
          FROM (SELECT doc_id, e, COUNT(*) AS cnt, len(e) AS elen FROM lines GROUP BY doc_id, e)
          GROUP BY doc_id
        ), paras AS (
          SELECT doc_id, p AS e FROM txt, UNNEST(string_split(text, chr(10) || chr(10))) AS u(p)
          WHERE trim(p) <> ''
        ), pstats AS (
          SELECT doc_id,
            CAST(SUM(cnt - 1) AS DOUBLE) / SUM(cnt) AS dup_para_frac,
            CAST(SUM((cnt - 1) * elen) AS DOUBLE) / SUM(cnt * elen) AS dup_para_char_frac
          FROM (SELECT doc_id, e, COUNT(*) AS cnt, len(e) AS elen FROM paras GROUP BY doc_id, e)
          GROUP BY doc_id
        ), toks AS (
          SELECT doc_id,
            string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk,
            regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
          FROM txt
        ), nl AS (
          SELECT doc_id, len(norm) AS nlen FROM toks
        ), wt AS (
          SELECT doc_id, CAST(list_sum(list_transform(tk, w -> len(w))) AS BIGINT) AS tot
          FROM toks
        ), ${(2 to 4).map(topBlock).mkString(",")},
        ${(5 to 10).map(covBlock).mkString(",")},
        final AS (
          SELECT d.doc_id,
            round(COALESCE(lstats.dup_line_frac, 0.0), 6) AS dup_line_frac,
            round(COALESCE(lstats.dup_line_char_frac, 0.0), 6) AS dup_line_char_frac,
            round(COALESCE(pstats.dup_para_frac, 0.0), 6) AS dup_para_frac,
            round(COALESCE(pstats.dup_para_char_frac, 0.0), 6) AS dup_para_char_frac,
            ${(2 to 4).map(topFrac).mkString(",\n            ")},
            ${(5 to 10).map(covFrac).mkString(",\n            ")}
          FROM documents d
          LEFT JOIN lstats ON d.doc_id = lstats.doc_id
          LEFT JOIN pstats ON d.doc_id = pstats.doc_id
          LEFT JOIN nl ON d.doc_id = nl.doc_id
          LEFT JOIN wt ON d.doc_id = wt.doc_id
          ${(2 to 4).map(n => s"LEFT JOIN top$n ON d.doc_id = top$n.doc_id").mkString("\n          ")}
          ${(5 to 10).map(n => s"LEFT JOIN covs$n ON d.doc_id = covs$n.doc_id").mkString("\n          ")}
        )
        SELECT *, ($keepSql) AS keep FROM final ORDER BY doc_id"""
      }),

    // ---- C4-style line-level cleaning (Raffel et al. '20 §2.2). The
    // synthetic corpus has no line structure, so the gate PLANTS it
    // deterministically (same pattern as the planted-PII gate): six lines
    // per doc exercising every rule — terminal punctuation, minimum words,
    // the javascript marker, curly braces, and doc-level lorem-ipsum
    // rejection — then hash-matches lines kept, reassembled text, and the
    // keep flag against DuckDB running the identical construction. ----
    // ---- Doc-local line dedup REWRITE (RefinedWeb-style cleanup): drop
    // repeated lines beyond their first occurrence. The planted input
    // repeats 'line A' three times per doc; the rewrite is one map-side
    // split -> array_distinct -> join stage (zero shuffles). The oracle
    // reproduces first-occurrence order with a min(ord) group-by. ----
    QuerySpec("text_line_dedup",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val planted = concat(col("text"), lit("\nline A\nline A\ndoc "),
          col("doc_id").cast("string"), lit("\nline A"))
        d.select(col("doc_id"), Dedup.dedupElementsLocal(planted).as("cleaned"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH planted AS (
          SELECT doc_id, text || chr(10) || 'line A' || chr(10) || 'line A' || chr(10)
            || 'doc ' || doc_id || chr(10) || 'line A' AS t
          FROM documents),
        exploded AS (
          SELECT doc_id, unnest(string_split(t, chr(10))) AS line,
                 generate_subscripts(string_split(t, chr(10)), 1) AS ord
          FROM planted),
        firsts AS (
          SELECT doc_id, line, MIN(ord) AS first_ord FROM exploded GROUP BY doc_id, line)
        SELECT doc_id, string_agg(line, chr(10) ORDER BY first_ord) AS cleaned
        FROM firsts GROUP BY doc_id ORDER BY doc_id""")),

    // ---- Cross-document boilerplate stripping (CCNet-style): paragraphs
    // whose document frequency betrays them as template ('All rights
    // reserved.' in every doc, 'Subscribe...' in half) are removed; the
    // per-doc unique paragraph survives. The (paragraph, count) agg is the
    // only exchange — the flagged set broadcasts as a literal into a
    // map-side filter lambda, so the corpus text never shuffles. ----
    QuerySpec("text_boilerplate_strip",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val planted = concat(col("text"), lit("\n\n"),
          when(col("doc_id") % 2 === 0, lit("Subscribe to our newsletter."))
            .otherwise(concat(lit("Unique para "), col("doc_id").cast("string"))),
          lit("\n\nAll rights reserved."))
        val df = d.select(col("doc_id"), planted.as("t"))
        Dedup.stripBoilerplate(df, "t", minDocFreq = 10)
          .select(col("doc_id"), col("t").as("cleaned"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH planted AS (
          SELECT doc_id, text || chr(10) || chr(10) ||
            (CASE WHEN doc_id % 2 = 0 THEN 'Subscribe to our newsletter.'
                  ELSE 'Unique para ' || doc_id END)
            || chr(10) || chr(10) || 'All rights reserved.' AS t
          FROM documents),
        paras AS (
          SELECT doc_id, unnest(list_distinct(string_split(t, chr(10) || chr(10)))) AS p
          FROM planted),
        bp AS (
          SELECT p FROM paras WHERE len(trim(p)) > 0 GROUP BY p HAVING COUNT(*) >= 10),
        exploded AS (
          SELECT doc_id, unnest(string_split(t, chr(10) || chr(10))) AS p,
                 generate_subscripts(string_split(t, chr(10) || chr(10)), 1) AS ord
          FROM planted),
        kept AS (
          SELECT doc_id, string_agg(p, chr(10) || chr(10) ORDER BY ord) AS cleaned
          FROM exploded WHERE p NOT IN (SELECT p FROM bp)
          GROUP BY doc_id)
        SELECT pl.doc_id, coalesce(k.cleaned, '') AS cleaned
        FROM planted pl LEFT JOIN kept k ON pl.doc_id = k.doc_id
        ORDER BY pl.doc_id""")),

    QuerySpec("text_c4_clean",
      (s, dir) => {
        // staged projections compute `tk`, `lined` and `kept` once per
        // document: the lambdas in c4KeptLines keep the select out of
        // whole-stage codegen, so nothing would share a repeated subtree,
        // and CollapseProject never inlines a costly alias used twice
        val tk = col("tk")
        def seg(from: Int, n: Int) = concat_ws(" ", slice(tk, from, n))
        val lined = concat_ws("\n",
          concat(seg(1, 8), lit(".")),                                    // kept
          seg(9, 3),                                                      // short + no punct
          concat(seg(12, 6), lit(" maybe javascript needed.")),           // marker word
          concat(seg(18, 8), when(col("doc_id") % 3 === 0, lit("!")).otherwise(lit(""))),
          when(col("doc_id") % 7 === 0, lit("function() { return 1; }."))
            .otherwise(concat(seg(26, 7), lit("?"))),
          when(col("doc_id") % 97 === 0, lit("standard lorem ipsum filler text here."))
            .otherwise(concat(seg(33, 5), lit("."))))
        val (ln, kept) = (col("lined"), col("kept"))
        t(s, dir, "documents")
          .select(col("doc_id"), T.tokens(col("text")).as("tk"))
          .select(col("doc_id"), lined.as("lined"))
          .select(col("doc_id"), ln, T.c4KeptLines(ln).as("kept"))
          .select(col("doc_id"),
            size(split(ln, "\n")).cast("long").as("n_lines"),
            size(kept).cast("long").as("n_kept"),
            concat_ws(" ", kept).as("kept_text"),
            T.c4Keep(kept, ln).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH lined AS (
          -- out-of-range list slices are NULL in DuckDB but empty in Spark,
          -- so every slice is coalesced to ''
          SELECT doc_id,
            coalesce(array_to_string(tk[1:8], ' '), '') || '.' || chr(10) ||
            coalesce(array_to_string(tk[9:11], ' '), '') || chr(10) ||
            coalesce(array_to_string(tk[12:17], ' '), '') || ' maybe javascript needed.' || chr(10) ||
            coalesce(array_to_string(tk[18:25], ' '), '') || (CASE WHEN doc_id % 3 = 0 THEN '!' ELSE '' END) || chr(10) ||
            (CASE WHEN doc_id % 7 = 0 THEN 'function() { return 1; }.'
              ELSE coalesce(array_to_string(tk[26:32], ' '), '') || '?' END) || chr(10) ||
            (CASE WHEN doc_id % 97 = 0 THEN 'standard lorem ipsum filler text here.'
              ELSE coalesce(array_to_string(tk[33:37], ' '), '') || '.' END) AS lined
          FROM (SELECT doc_id, $toksSql AS tk FROM documents)
        ), cleaned AS (
          SELECT doc_id, lined,
            len(string_split(lined, chr(10))) AS n_lines,
            list_filter(string_split(lined, chr(10)), l ->
              regexp_matches(trim(l), '[.!?"]$$') AND len(string_split(trim(l), ' ')) >= 5
              AND NOT contains(lower(l), 'javascript') AND NOT contains(l, '{')) AS kept
          FROM lined
        )
        SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
          CAST(len(kept) AS BIGINT) AS n_kept,
          array_to_string(kept, ' ') AS kept_text,
          (len(kept) >= 3 AND NOT contains(lower(lined), 'lorem ipsum')) AS keep
        FROM cleaned ORDER BY doc_id""")),

    // ---- END-TO-END CURATION COMPOSITION: quality filter -> exact dedup
    // (md5 winners) -> per-source corpus stats, all in ONE declarative plan
    // so Catalyst optimizes across the stage boundaries (the integration
    // twin of the individually-gated pieces). Hash-exact oracle. ----
    QuerySpec("pipeline_curation",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val nTok = T.tokenCount(col("text")).cast("long")
        val lexDiv = T.distinctTokenCount(col("text")).cast("double") / nTok.cast("double")
        val quality = d.select(col("doc_id"), col("source"), col("text"), nTok.as("n_tokens"))
          .where(col("n_tokens") >= 20 && lexDiv >= 0.5)
        val winners = Dedup.exactDuplicates(quality, "doc_id", "text")
          .select(col("keep_id").as("doc_id"))
        quality.join(winners, "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
          .orderBy(col("source"))
      },
      Some(s"""WITH quality AS (
          -- h only groups duplicates within THIS query, so md5-of-varchar is
          -- interchangeable with Spark's md5-of-binary: same winners
          SELECT doc_id, source, len($toksSql) AS n_tokens, md5($normSql) AS h
          FROM documents
          WHERE len($toksSql) >= 20
            AND len(list_distinct($toksSql)) * 1.0 / len($toksSql) >= 0.5
        ), winners AS (
          SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY h
        )
        SELECT q.source, COUNT(*) AS n_docs, CAST(SUM(q.n_tokens) AS BIGINT) AS n_tokens
        FROM quality q JOIN winners w ON q.doc_id = w.doc_id
        GROUP BY q.source ORDER BY q.source""")),

    // ---- r6 curation pipeline: the round's new signals composed end to
    // end — LM-fluency cut (bigram xent at the text_bigram_xent config) ->
    // NB domain routing (text_nb_source config) -> exact dedup -> token
    // budget per predicted label. Every stage runs at its individually
    // gate-proven configuration, so the two boundary-distance proofs
    // (CorpusStatsSuite / ClassifySuite) carry over: the bigram check
    // covers exactly this scored set, the NB check covers every model
    // combo regardless of which docs are scored. ----
    // ---- r7 curation pipeline: the round's TRAINED signals composed —
    // Kneser-Ney fluency cut (text_kn_xent config) -> gradient-descent
    // logistic-regression quality keep (text_logreg_quality config:
    // the oracle RETRAINS the model, three unrolled iterations) -> exact
    // dedup -> per-source stats. One declarative plan; the oracle stacks
    // every stage's proven CTE fragments into one statement. ----
    QuerySpec("pipeline_curation_v3",
      (s, dir) => {
        import graft.operators.{Classify, CorpusStats, Dedup}
        val d = t(s, dir, "documents")
        // ONE tokenized projection feeds every trained stage (KN train, KN
        // score, LR train, LR score, final token counts): tokenizing is the
        // pipeline's repeated map-side cost, and without the checkpoint each
        // stage would re-run scan+normalize+split over its slice of the
        // corpus. The operators' tokensOf convention passes array<string>
        // columns through untouched, so values — and the gate hash — are
        // identical to per-stage tokenization.
        val dTok = d.select(col("doc_id"), col("source"), col("text"),
            T.tokens(col("text")).as("__toks"))
          .cut()
        val batch = dTok.where(col("doc_id") % 5 === 0)
        // Materialize the trained bigram table once (model-sized, not
        // corpus-sized): inside this pipeline the KN model is consumed by
        // four separate broadcast subtrees (score join, contexts,
        // continuations, stats) that AQE does NOT reuse across broadcast
        // exchanges — measured r17: v3 5.0 → 3.8 s with this one
        // checkpoint. The one-shot text_kn_xent gate deliberately does NOT
        // do this (the barrier costs more than the reuse there).
        val lm0 = CorpusStats.knTrain(dTok.where(col("doc_id") % 5 =!= 0), "__toks")
        val lm = lm0.copy(bigrams = lm0.bigrams.cut())
        val fluent = CorpusStats.knScore(lm, batch, "doc_id", "__toks")
          .where(col("xent_bits") <= 5.0).select(col("id").as("doc_id"))
        // routed's lineage is the whole KN score (bigram explode + three
        // model joins + per-doc aggregate); it feeds BOTH the LR scoring
        // pass and the final pool join — checkpoint so the KN stage runs
        // once (guide §2.4), like dTok above. Values unchanged.
        val routed = batch.join(fluent, "doc_id").cut()
        val labeled = dTok.withColumn("y",
          col("source").isin("src0", "src1", "src2", "src3", "src4").cast("int"))
        val wts = Classify.logregTrain(labeled.where(col("doc_id") % 4 =!= 0),
          "doc_id", "y", "__toks", buckets = 16, iters = 3, lrate = 0.5)
        val kept = Classify.logregScore(wts, routed, "doc_id", "__toks", buckets = 16)
          .where(col("prob") >= 0.997).select(col("id").as("doc_id"))
        // pool feeds the exact-dup winner aggregate AND the final join —
        // checkpoint for the same one-materialization reason as routed
        val pool = routed.join(kept, "doc_id").cut()
        val winners = Dedup.exactDuplicates(pool, "doc_id", "text")
          .select(col("keep_id").as("doc_id"))
        pool.join(winners, "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(col("__toks")).cast("long")).as("n_tokens"))
          .orderBy(col("source"))
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, source, $toksSql AS t, md5($normSql) AS h FROM documents
        ), bg AS (
          SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2
          FROM tk, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        ), tb AS (
          SELECT w1, w2, COUNT(*) AS c2 FROM bg WHERE doc_id % 5 != 0 GROUP BY 1, 2
        ), tc AS (
          SELECT w1, SUM(c2) AS c1, COUNT(*) AS n1p FROM tb GROUP BY 1
        ), tw AS (
          SELECT w2, COUNT(*) AS cont FROM tb GROUP BY 1
        ), v AS (
          SELECT COUNT(DISTINCT t[u.i]) AS nv
          FROM tk, UNNEST(generate_series(1, len(t))) AS u(i)
          WHERE doc_id % 5 != 0
        ), st AS (
          SELECT COUNT(*) AS b,
            CASE WHEN COUNT(*) FILTER (WHERE c2 = 1) + 2 * COUNT(*) FILTER (WHERE c2 = 2) > 0
              THEN CAST(COUNT(*) FILTER (WHERE c2 = 1) AS DOUBLE) /
                (COUNT(*) FILTER (WHERE c2 = 1) + 2 * COUNT(*) FILTER (WHERE c2 = 2))
              ELSE 0.75 END AS d
          FROM tb
        ), kterms AS (
          SELECT s.doc_id,
            CAST(ROUND(ln(
              CASE WHEN tc.c1 IS NOT NULL THEN
                GREATEST(COALESCE(tb.c2, 0) - st.d, 0.0) / tc.c1 +
                st.d * tc.n1p / tc.c1 *
                  ((COALESCE(tw.cont, 0) + 1) / (st.b + v.nv + 1.0))
              ELSE (COALESCE(tw.cont, 0) + 1) / (st.b + v.nv + 1.0) END
            ) / ln(2.0), 9) AS DECIMAL(28,9)) AS term
          FROM bg s
          LEFT JOIN tb ON s.w1 = tb.w1 AND s.w2 = tb.w2
          LEFT JOIN tc ON s.w1 = tc.w1
          LEFT JOIN tw ON s.w2 = tw.w2
          CROSS JOIN v CROSS JOIN st
          WHERE s.doc_id % 5 = 0
        ), routed AS (
          SELECT doc_id FROM kterms GROUP BY doc_id
          HAVING ROUND(-CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) <= 5.0
        ), lab AS (
          SELECT doc_id,
            CAST(CASE WHEN source IN ('src0','src1','src2','src3','src4')
              THEN 1 ELSE 0 END AS DECIMAL(10,9)) AS y,
            t FROM tk WHERE TRUE
        ), ltok AS (
          SELECT doc_id, ('0x' || substr(md5(t[u.i]), 1, 15))::BIGINT % 16 AS bucket
          FROM lab, UNNEST(generate_series(1, len(t))) AS u(i)
        ), feat AS (
          SELECT doc_id, bucket, COUNT(*) AS c
          FROM ltok WHERE doc_id % 4 != 0 GROUP BY 1, 2
        ), tr AS (
          SELECT doc_id, y FROM lab WHERE doc_id % 4 != 0
        ), nn AS (
          SELECT COUNT(*)::DOUBLE AS n FROM tr
        ), e1 AS (
          SELECT doc_id, CAST(0.5 AS DECIMAL(10,9)) - y AS err FROM tr
        ), w1 AS (
          SELECT f.bucket,
            CAST(0 - ROUND(0.5 * CAST(SUM(e.err * f.c) AS DOUBLE)
              / (SELECT n FROM nn), 12) AS DECIMAL(14,12)) AS w
          FROM e1 e JOIN feat f USING (doc_id) GROUP BY f.bucket
        ), b1 AS (
          SELECT CAST(0 - ROUND(0.5 * CAST(SUM(err) AS DOUBLE)
            / (SELECT n FROM nn), 12) AS DECIMAL(14,12)) AS b FROM e1
        ), e2 AS (
          SELECT z.doc_id,
            CAST(ROUND(1.0 / (1.0 + exp(-CAST(z.z AS DOUBLE))), 9)
              AS DECIMAL(10,9)) - z.y AS err
          FROM (
            SELECT t2.doc_id, t2.y,
              CAST(COALESCE(SUM(w.w * f.c), 0) AS DECIMAL(26,12))
                + (SELECT b FROM b1) AS z
            FROM tr t2
            LEFT JOIN feat f ON f.doc_id = t2.doc_id
            LEFT JOIN w1 w ON w.bucket = f.bucket
            GROUP BY 1, 2) z
        ), w2 AS (
          SELECT w1.bucket,
            CAST(w1.w - ROUND(0.5 * CAST(g.g AS DOUBLE)
              / (SELECT n FROM nn), 12) AS DECIMAL(14,12)) AS w
          FROM w1 JOIN (
            SELECT f.bucket, SUM(e.err * f.c) AS g
            FROM e2 e JOIN feat f USING (doc_id) GROUP BY 1) g
            ON g.bucket = w1.bucket
        ), b2 AS (
          SELECT CAST((SELECT b FROM b1) - ROUND(0.5 * CAST(SUM(err) AS DOUBLE)
            / (SELECT n FROM nn), 12) AS DECIMAL(14,12)) AS b FROM e2
        ), e3 AS (
          SELECT z.doc_id,
            CAST(ROUND(1.0 / (1.0 + exp(-CAST(z.z AS DOUBLE))), 9)
              AS DECIMAL(10,9)) - z.y AS err
          FROM (
            SELECT t3.doc_id, t3.y,
              CAST(COALESCE(SUM(w.w * f.c), 0) AS DECIMAL(26,12))
                + (SELECT b FROM b2) AS z
            FROM tr t3
            LEFT JOIN feat f ON f.doc_id = t3.doc_id
            LEFT JOIN w2 w ON w.bucket = f.bucket
            GROUP BY 1, 2) z
        ), w3 AS (
          SELECT w2.bucket,
            CAST(w2.w - ROUND(0.5 * CAST(g.g AS DOUBLE)
              / (SELECT n FROM nn), 12) AS DECIMAL(14,12)) AS w
          FROM w2 JOIN (
            SELECT f.bucket, SUM(e.err * f.c) AS g
            FROM e3 e JOIN feat f USING (doc_id) GROUP BY 1) g
            ON g.bucket = w2.bucket
        ), b3 AS (
          SELECT CAST((SELECT b FROM b2) - ROUND(0.5 * CAST(SUM(err) AS DOUBLE)
            / (SELECT n FROM nn), 12) AS DECIMAL(14,12)) AS b FROM e3
        ), sfeat AS (
          SELECT l.doc_id, l.bucket, COUNT(*) AS c
          FROM ltok l JOIN routed r ON r.doc_id = l.doc_id
          GROUP BY 1, 2
        ), kept AS (
          SELECT r.doc_id
          FROM routed r
          LEFT JOIN sfeat f ON f.doc_id = r.doc_id
          LEFT JOIN w3 w ON w.bucket = f.bucket
          GROUP BY r.doc_id
          HAVING ROUND(1.0 / (1.0 + exp(-CAST(
            CAST(COALESCE(SUM(w.w * f.c), 0) AS DECIMAL(26,12))
              + (SELECT b FROM b3) AS DOUBLE))), 9) >= 0.997
        ), pool AS (
          SELECT tk.doc_id, tk.source, len(tk.t) AS n_tokens, tk.h
          FROM tk JOIN kept k ON k.doc_id = tk.doc_id
        ), winners AS (
          SELECT MIN(doc_id) AS doc_id FROM pool GROUP BY h
        )
        SELECT p.source, COUNT(*) AS n_docs, CAST(SUM(p.n_tokens) AS BIGINT) AS n_tokens
        FROM pool p JOIN winners w ON p.doc_id = w.doc_id
        GROUP BY p.source ORDER BY p.source""")),

    QuerySpec("pipeline_curation_v2",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val batch = d.where(col("doc_id") % 5 === 0)
        val lm = graft.operators.CorpusStats.bigramTrain(
          d.where(col("doc_id") % 5 =!= 0), "text")
        val fluent = graft.operators.CorpusStats.bigramScore(lm, batch, "doc_id", "text")
          .where(col("xent_bits") <= 4.95)
          .select(col("id").as("doc_id"))
        // routed's lineage is the whole bigram-LM score; it feeds the NB
        // prediction, the exact-dup winner aggregate AND the final join —
        // checkpoint so the LM stage runs once (guide §2.4)
        val routed = batch.join(fluent, "doc_id").cut()
        val nb = graft.operators.Classify.nbTrain(
          d.where(col("doc_id") % 4 =!= 0), "source", "text")
        val labeled = graft.operators.Classify.nbPredict(nb, routed, "doc_id", "text")
          .select(col("id").as("doc_id"), col("label"))
        val winners = Dedup.exactDuplicates(routed, "doc_id", "text")
          .select(col("keep_id").as("doc_id"))
        routed.join(winners, "doc_id").join(labeled, "doc_id")
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_docs"),
            sum(T.tokenCount(col("text")).cast("long")).as("n_tokens"))
          .orderBy(col("label"))
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, source, $toksSql AS t FROM documents
        ), bg AS (
          SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2
          FROM tk, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        ), tb AS (
          SELECT w1, w2, COUNT(*) AS c2 FROM bg WHERE doc_id % 5 != 0 GROUP BY 1, 2
        ), tcx AS (
          SELECT w1, SUM(c2) AS c1 FROM tb GROUP BY 1
        ), vx AS (
          SELECT COUNT(DISTINCT t[u.i]) AS nv
          FROM tk, UNNEST(generate_series(1, len(t))) AS u(i)
          WHERE doc_id % 5 != 0
        ), xterms AS (
          SELECT s.doc_id,
            CAST(ROUND(ln((COALESCE(tb.c2, 0) + 1) /
                (COALESCE(tcx.c1, 0) + vx.nv + 1.0)) / ln(2.0), 9)
              AS DECIMAL(28,9)) AS term
          FROM bg s
          LEFT JOIN tb ON s.w1 = tb.w1 AND s.w2 = tb.w2
          LEFT JOIN tcx ON s.w1 = tcx.w1
          CROSS JOIN vx
          WHERE s.doc_id % 5 = 0
        ), fluent AS (
          SELECT doc_id FROM (
            SELECT doc_id, ROUND(-CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS xent
            FROM xterms GROUP BY doc_id)
          WHERE xent <= 4.95
        ), tok AS (
          SELECT doc_id, source, t[u.i] AS w
          FROM tk, UNNEST(generate_series(1, len(t))) AS u(i)
        ), train4 AS (
          SELECT * FROM tok WHERE doc_id % 4 != 0
        ), tc4 AS (
          SELECT source AS label, w, COUNT(*) AS cnt FROM train4 GROUP BY 1, 2
        ), ct4 AS (
          SELECT source AS label, COUNT(DISTINCT doc_id) AS n_docs,
            COUNT(*) AS n_tokens
          FROM train4 GROUP BY 1
        ), v4 AS (
          SELECT COUNT(DISTINCT w) AS nv FROM train4
        ), nd4 AS (
          SELECT SUM(n_docs) AS t FROM ct4
        ), priors4 AS (
          SELECT ct4.label, ct4.n_tokens,
            CAST(ROUND(ln(ct4.n_docs * 1.0 / nd4.t) / ln(2.0), 9)
              AS DECIMAL(20,9)) AS prior
          FROM ct4, nd4
        ), nbterms AS (
          SELECT s.doc_id, p.label,
            CAST(ROUND(ln((COALESCE(tc4.cnt, 0) + 1) /
                (p.n_tokens + v4.nv + 1.0)) / ln(2.0), 9)
              AS DECIMAL(20,9)) AS term
          FROM tok s
          CROSS JOIN priors4 p
          LEFT JOIN tc4 ON tc4.label = p.label AND tc4.w = s.w
          CROSS JOIN v4
          WHERE s.doc_id IN (SELECT doc_id FROM fluent)
        ), labeled AS (
          SELECT doc_id, label FROM (
            SELECT t.doc_id, t.label, ROW_NUMBER() OVER (
                PARTITION BY t.doc_id
                ORDER BY MIN(p.prior) + SUM(t.term) DESC, t.label ASC) AS rk
            FROM nbterms t JOIN priors4 p ON p.label = t.label
            GROUP BY t.doc_id, t.label)
          WHERE rk = 1
        ), routed AS (
          SELECT d.doc_id, len($toksSql) AS n_tokens, md5($normSql) AS h
          FROM documents d JOIN fluent f ON d.doc_id = f.doc_id
        ), winners AS (
          SELECT MIN(doc_id) AS doc_id FROM routed GROUP BY h
        )
        SELECT l.label, COUNT(*) AS n_docs,
          CAST(SUM(r.n_tokens) AS BIGINT) AS n_tokens
        FROM routed r
        JOIN winners w ON r.doc_id = w.doc_id
        JOIN labeled l ON r.doc_id = l.doc_id
        GROUP BY l.label ORDER BY l.label""")),

    // ---- Corpus novelty scoring: fraction of each doc's distinct bigrams
    // that are corpus-rare (present in <= 2 docs). Integer-exact by design
    // (the hash-checkable cousin of LM-perplexity filtering). ----
    QuerySpec("text_novelty",
      (s, dir) => {
        graft.operators.CorpusStats.noveltyScores(t(s, dir, "documents"), "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, $toksSql AS tk FROM documents
        ), doc_bg AS (
          SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(tk) <= 2 THEN [array_to_string(tk, ' ')]
              ELSE [ tk[i] || ' ' || tk[i+1] for i in generate_series(1, len(tk) - 1) ] END)) AS bg
          FROM toks
        ), counts AS (
          SELECT bg, COUNT(*) AS bg_docs FROM doc_bg GROUP BY bg
        )
        SELECT d.doc_id, COUNT(*) AS n_bigrams,
          COUNT(CASE WHEN c.bg_docs <= 2 THEN 1 END) AS n_rare,
          CAST(COUNT(CASE WHEN c.bg_docs <= 2 THEN 1 END) AS DOUBLE) / COUNT(*) AS novelty
        FROM doc_bg d JOIN counts c ON d.bg = c.bg
        GROUP BY d.doc_id ORDER BY d.doc_id""")),

    // ---- URL/domain curation: extract normalized hosts (lowercase, www.
    // stripped), aggregate per-domain doc counts, flag blocklisted domains.
    // URLs are PLANTED deterministically (the planted-PII pattern) since the
    // synthetic corpus has none. ----
    QuerySpec("text_domain_stats",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val planted = concat(col("text"),
          lit(" see https://www.Site"), (col("doc_id") % 50).cast("string"),
          lit(".example.com/page and http://cdn"), (col("doc_id") % 7).cast("string"),
          lit(".net/x"))
        d.select(explode(T.urlHosts(planted)).as("domain"))
          .groupBy("domain").agg(count(lit(1)).as("n_docs"))
          .withColumn("blocked", col("domain").isin("site3.example.com", "cdn2.net"))
          .orderBy("domain")
      },
      Some("""WITH planted AS (
          SELECT doc_id, text || ' see https://www.Site' || (doc_id % 50)
            || '.example.com/page and http://cdn' || (doc_id % 7) || '.net/x' AS t
          FROM documents
        ), hosts AS (
          SELECT DISTINCT doc_id, regexp_replace(lower(h), '^www\.', '') AS domain
          FROM planted, UNNEST(regexp_extract_all(t, 'https?://([A-Za-z0-9.-]+)', 1)) AS u(h)
        )
        SELECT domain, COUNT(*) AS n_docs,
          domain IN ('site3.example.com', 'cdn2.net') AS blocked
        FROM hosts GROUP BY domain ORDER BY domain""")),

    // ---- Vocabulary: top-5 tokens per source by frequency (count desc,
    // token asc tiebreak) — the "what is this shard made of" report. ----
    QuerySpec("text_vocab_topk",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val counts = d.select(col("source"), explode(T.tokens(col("text"))).as("token"))
          .groupBy("source", "token").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n").desc, col("token").asc)
        counts.withColumn("rank", row_number().over(w))
          .where(col("rank") <= 5)
          .orderBy(col("source"), col("rank"))
      },
      Some(s"""WITH counts AS (
          SELECT source, token, COUNT(*) AS n
          FROM (SELECT source, $toksSql AS tk FROM documents), UNNEST(tk) AS u(token)
          GROUP BY source, token
        ), ranked AS (
          SELECT source, token, CAST(n AS BIGINT) AS n,
            CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, token ASC) AS INT) AS rank
          FROM counts
        )
        SELECT source, token, n, rank FROM ranked WHERE rank <= 5
        ORDER BY source, rank""")),

    // ---- Corpus stats by source (exact int sums, one double division) ----
    QuerySpec("text_source_stats",
      (s, dir) => {
        val d = t(s, dir, "documents")
        d.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(T.tokenCount(col("text")).cast("long")).as("total_tokens"),
            sum(length(col("text")).cast("long")).as("total_chars"),
            (sum(length(col("text")).cast("long")).cast("double") /
              sum(T.tokenCount(col("text")).cast("long")).cast("double")).as("avg_chars_per_token"))
          .orderBy(col("source"))
      },
      Some(s"""SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(len(tk)) AS BIGINT) AS total_tokens,
          CAST(SUM(len(text)) AS BIGINT) AS total_chars,
          SUM(len(text)) * 1.0 / SUM(len(tk)) AS avg_chars_per_token
        FROM (SELECT source, text, $toksSql AS tk FROM documents)
        GROUP BY source ORDER BY source""")),

    // ---- Train/val/test split by seeded id-hash bucket: membership is a
    // pure map-side filter, stable under resharding (the anti-leakage
    // property randomSplit lacks). The gate runs the PORTABLE bucket (60-bit
    // md5-derived, Sampling.bucketCol) so DuckDB reproduces the assignment
    // bit-for-bit; SamplingSuite asserts label/frame agreement and reshard
    // stability for both hash variants. ----
    QuerySpec("sample_hash_split",
      (s, dir) => {
        // single-pass labeled shape: one scan for all three splits (the
        // unioned per-split frames would scan the corpus once per split);
        // SamplingSuite asserts the labels agree with hashSplit exactly
        graft.operators.Sampling.splitLabels(t(s, dir, "documents"), "doc_id",
            Seq(0.8, 0.1, 0.1), seed = 11L, names = Seq("train", "val", "test"),
            portable = true)
          .groupBy("split").agg(count(lit(1)).as("n_docs"))
          .orderBy(col("split"))
      },
      Some("""WITH b AS (
          SELECT CASE WHEN bk < 8000 THEN 'train' WHEN bk < 9000 THEN 'val' ELSE 'test' END AS split
          FROM (SELECT ('0x' || substr(md5(doc_id::VARCHAR || ':11'), 1, 15))::BIGINT % 10000 AS bk
                FROM documents)
        )
        SELECT split, COUNT(*) AS n_docs FROM b GROUP BY split ORDER BY split""")),

    // ---- Per-group capping (domain balancing): each source contributes at
    // most 20 docs, chosen by seeded id-hash (reshard-stable). WHICH docs
    // survive is hash-specific, but the per-source counts are exactly
    // min(cap, source size) — that contract is the hash-exact oracle;
    // SamplingSuite covers selection determinism. ----
    QuerySpec("sample_group_cap",
      (s, dir) => {
        graft.operators.Sampling.capPerGroup(t(s, dir, "documents"),
            "source", "doc_id", n = 20, seed = 5L)
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
          .orderBy(col("source"))
      },
      Some("""SELECT source,
          CAST(LEAST(20, COUNT(*)) AS BIGINT) AS n_docs
        FROM documents GROUP BY source ORDER BY source""")),

    // ---- Corpus-level MinHash sketches: one algebraic aggregate per source,
    // then a tiny cross of the 20 sketches estimates every pairwise Jaccard
    // without joining documents. Deterministic (min is commutative) but
    // hash-specific -> rows-only. ----
    // Hash-exact via the ERROR-BOUND CONTRACT (the q_approx_distinct
    // pattern): both engines emit the exact token-set jaccard plus the
    // boolean |sketch - exact| <= 2/sqrt(k); the oracle cannot compute the
    // sketch but can assert the contract the sketch must satisfy
    // (deterministic: fixed hashes + fixed data; measured max error at all
    // three SFs is 0.017 vs the 0.177 bound).
    QuerySpec("sketch_source_similarity",
      (s, dir) => {
        import graft.functions.{GraftFunctions => GF}
        val sk = t(s, dir, "documents")
          .groupBy(col("source"))
          .agg(GF.minhash_agg(T.tokens(col("text"))).as("sig"),
            array_distinct(flatten(collect_list(T.tokens(col("text"))))).as("toks"))
        val a = sk.select(col("source").as("src_a"), col("sig").as("sig_a"), col("toks").as("t_a"))
        val b = sk.select(col("source").as("src_b"), col("sig").as("sig_b"), col("toks").as("t_b"))
        val nInter = size(array_intersect(col("t_a"), col("t_b"))).cast("double")
        val nUnion = size(col("t_a")).cast("double") + size(col("t_b")).cast("double") - nInter
        val exact = nInter / nUnion
        a.crossJoin(b).where(col("src_a") < col("src_b"))
          .select(col("src_a"), col("src_b"),
            round(exact, 6).as("exact_jaccard"),
            (abs(GF.sketch_jaccard(col("sig_a"), col("sig_b")) - exact) <=
              2.0 / math.sqrt(128)).as("within_bound"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(s"""WITH st AS (
          SELECT DISTINCT source, tok
          FROM (SELECT source, unnest(list_distinct($toksSql)) AS tok FROM documents)
        ), srcs AS (
          SELECT source, list(tok) AS toks FROM st GROUP BY source
        )
        SELECT a.source AS src_a, b.source AS src_b,
          round(len(list_intersect(a.toks, b.toks)) * 1.0 /
            (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6)
            AS exact_jaccard,
          TRUE AS within_bound
        FROM srcs a JOIN srcs b ON a.source < b.source
        ORDER BY src_a, src_b""")),

    // ---- Winnowed rolling-hash fingerprints (Schleimer '03). The gate runs
    // the PORTABLE mod-P polynomial (k=9, w=4, P=2^31-1, base 1000003 — every
    // intermediate < 2^52, so DuckDB's checked BIGINT arithmetic evaluates the
    // identical polynomial) and the oracle winnows with window functions:
    // per-position k-gram hashes, MIN over each w-window of starts, then the
    // consecutive-dedup count. The data floor (len >= 48 chars, ASCII-only,
    // TESTDATA corpus) keeps every doc on the nh > w path the SQL models;
    // FingerprintSuite asserts the Schleimer guarantees on BOTH variants plus
    // the nh <= w and n < k edges the oracle never sees. ----
    QuerySpec("text_fingerprint",
      (s, dir) => {
        val d = t(s, dir, "documents")
        d.select(col("doc_id"), F.winnowed_fingerprints(col("text"), portable = true).as("fp"))
          .select(col("doc_id"), size(col("fp")).as("n_fp"),
            array_min(col("fp")).as("fp_min"), array_max(col("fp")).as("fp_max"))
          .orderBy(col("doc_id"))
      },
      Some(fingerprintOracleSql)),

    // ---- BPE tokenizer (Sennrich '16): merges trained on the corpus
    // itself, every doc encoded and decoded back. The piece identities are
    // engine-specific (pinned on known vectors in BpeSuite), so the gate
    // hash-checks the CONTRACT per doc: decode(encode(x)) == x exactly, and
    // the piece count sits in [n_words, n_chars + n_words] (>= 1 piece per
    // word, <= one per char plus the Eow marker) — plus the oracle-computable
    // n_words as real data. ----
    QuerySpec("text_bpe_roundtrip",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val model = graft.functions.Bpe.train(d, "text", numMerges = 200, sampleSize = 500)
        val p = graft.functions.Bpe.pieces(s, model)(col("text"))
        d.select(col("doc_id"), T.normText(col("text")).as("__n"), p.as("__p"))
          .select(col("doc_id"),
            size(T.tokens(col("__n"))).as("n_words"),
            (graft.functions.Bpe.decodePieces(col("__p")) === col("__n")).as("roundtrip"),
            (size(col("__p")).between(size(T.tokens(col("__n"))),
              length(col("__n")) + size(T.tokens(col("__n"))))).as("bounded"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, CAST(len($toksSql) AS INT) AS n_words,
          TRUE AS roundtrip, TRUE AS bounded
        FROM documents ORDER BY doc_id""")),

    // ---- Unigram-LM tokenizer (Kudo '18, SentencePiece's default): EM-
    // trained piece probabilities, Viterbi-best encode. Same contract gate
    // shape as BPE: decode(encode(x)) == normText(x) per document (single
    // chars never prune, OOV floors — encoding is total), piece count
    // bounded by [words, chars + words]. ----
    QuerySpec("text_unigram_roundtrip",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val model = graft.functions.Unigram.train(d, "text",
          vocabSize = 300, sampleSize = 500)
        val p = graft.functions.Unigram.pieces(s, model)(col("text"))
        d.select(col("doc_id"), T.normText(col("text")).as("__n"), p.as("__p"))
          .select(col("doc_id"),
            size(T.tokens(col("__n"))).as("n_words"),
            (graft.functions.Bpe.decodePieces(col("__p")) === col("__n")).as("roundtrip"),
            (size(col("__p")).between(size(T.tokens(col("__n"))),
              length(col("__n")) + size(T.tokens(col("__n"))))).as("bounded"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, CAST(len($toksSql) AS INT) AS n_words,
          TRUE AS roundtrip, TRUE AS bounded
        FROM documents ORDER BY doc_id""")),

    // ---- Bigram LM cross-entropy (CCNet-style perplexity filtering):
    // add-one-smoothed bigram model trained on doc_id % 5 != 0, scoring the
    // held-out % 5 == 0 docs. Hash-exact across engines because each log
    // term is rounded to 9 decimals (absorbing libm ulp differences) and
    // summed as DECIMAL (order-independent); BOUNDARY DISTANCES verified
    // offline for this fixed corpus — no term or final division sits near a
    // rounding cut (see CorpusStatsSuite). ----
    QuerySpec("text_bigram_xent",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val lm = graft.operators.CorpusStats.bigramTrain(
          d.where(col("doc_id") % 5 =!= 0), "text")
        graft.operators.CorpusStats.bigramScore(lm,
            d.where(col("doc_id") % 5 === 0), "doc_id", "text")
          .select(col("id").as("doc_id"), col("n_bigrams"), col("xent_bits"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, $toksSql AS t FROM documents
        ), bg AS (
          SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2
          FROM tk, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        ), tb AS (
          SELECT w1, w2, COUNT(*) AS c2 FROM bg WHERE doc_id % 5 != 0 GROUP BY 1, 2
        ), tc AS (
          SELECT w1, SUM(c2) AS c1 FROM tb GROUP BY 1
        ), v AS (
          SELECT COUNT(DISTINCT t[u.i]) AS nv
          FROM tk, UNNEST(generate_series(1, len(t))) AS u(i)
          WHERE doc_id % 5 != 0
        ), terms AS (
          SELECT s.doc_id,
            CAST(ROUND(ln((COALESCE(tb.c2, 0) + 1) /
                (COALESCE(tc.c1, 0) + v.nv + 1.0)) / ln(2.0), 9)
              AS DECIMAL(28,9)) AS term
          FROM bg s
          LEFT JOIN tb ON s.w1 = tb.w1 AND s.w2 = tb.w2
          LEFT JOIN tc ON s.w1 = tc.w1
          CROSS JOIN v
          WHERE s.doc_id % 5 = 0
        )
        SELECT doc_id, COUNT(*) AS n_bigrams,
          ROUND(-CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS xent_bits
        FROM terms GROUP BY doc_id ORDER BY doc_id""")),

    // ---- Interpolated Kneser-Ney bigram cross-entropy (Kneser & Ney '95,
    // KenLM's default smoothing): same train/score split as
    // text_bigram_xent, but the probability interpolates the discounted
    // bigram estimate with the CONTINUATION distribution —
    // P = max(c2-D,0)/c1 + D*n1p(w1)/c1 * Pcont(w2), unseen contexts back
    // off to Pcont, D = n1/(n1+2*n2) from the count-of-counts. The oracle
    // replays every table (counts, distinct successors, continuations,
    // discount) and the full interpolation per bigram. ----
    QuerySpec("text_kn_xent",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val lm = graft.operators.CorpusStats.knTrain(
          d.where(col("doc_id") % 5 =!= 0), "text")
        graft.operators.CorpusStats.knScore(lm,
            d.where(col("doc_id") % 5 === 0), "doc_id", "text")
          .select(col("id").as("doc_id"), col("n_bigrams"), col("xent_bits"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, $toksSql AS t FROM documents
        ), bg AS (
          SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2
          FROM tk, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        ), tb AS (
          SELECT w1, w2, COUNT(*) AS c2 FROM bg WHERE doc_id % 5 != 0 GROUP BY 1, 2
        ), tc AS (
          SELECT w1, SUM(c2) AS c1, COUNT(*) AS n1p FROM tb GROUP BY 1
        ), tw AS (
          SELECT w2, COUNT(*) AS cont FROM tb GROUP BY 1
        ), v AS (
          SELECT COUNT(DISTINCT t[u.i]) AS nv
          FROM tk, UNNEST(generate_series(1, len(t))) AS u(i)
          WHERE doc_id % 5 != 0
        ), st AS (
          SELECT COUNT(*) AS b,
            CASE WHEN COUNT(*) FILTER (WHERE c2 = 1) + 2 * COUNT(*) FILTER (WHERE c2 = 2) > 0
              THEN CAST(COUNT(*) FILTER (WHERE c2 = 1) AS DOUBLE) /
                (COUNT(*) FILTER (WHERE c2 = 1) + 2 * COUNT(*) FILTER (WHERE c2 = 2))
              ELSE 0.75 END AS d
          FROM tb
        ), terms AS (
          SELECT s.doc_id,
            CAST(ROUND(ln(
              CASE WHEN tc.c1 IS NOT NULL THEN
                GREATEST(COALESCE(tb.c2, 0) - st.d, 0.0) / tc.c1 +
                st.d * tc.n1p / tc.c1 *
                  ((COALESCE(tw.cont, 0) + 1) / (st.b + v.nv + 1.0))
              ELSE (COALESCE(tw.cont, 0) + 1) / (st.b + v.nv + 1.0) END
            ) / ln(2.0), 9) AS DECIMAL(28,9)) AS term
          FROM bg s
          LEFT JOIN tb ON s.w1 = tb.w1 AND s.w2 = tb.w2
          LEFT JOIN tc ON s.w1 = tc.w1
          LEFT JOIN tw ON s.w2 = tw.w2
          CROSS JOIN v CROSS JOIN st
          WHERE s.doc_id % 5 = 0
        )
        SELECT doc_id, COUNT(*) AS n_bigrams,
          ROUND(-CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS xent_bits
        FROM terms GROUP BY doc_id ORDER BY doc_id""")),

    // ---- DSIR importance resampling (Xie '23): target LM = sources
    // src0-src3, raw LM = whole train split; held-out docs get the
    // per-bigram log-likelihood ratio, the linearized keep weight, and the
    // reshard-stable keep decision (portable md5 hash01 < weight). Both
    // LMs ride the text_bigram_xent portable-decimal discipline, so all
    // four columns hash-match DuckDB exactly. ----
    QuerySpec("pipeline_dsir",
      (s, dir) => {
        import graft.operators.CorpusStats
        val d = t(s, dir, "documents")
        val train = d.where(col("doc_id") % 5 =!= 0)
        val heldout = d.where(col("doc_id") % 5 === 0)
        val tgt = CorpusStats.bigramTrain(
          train.where(col("source").isin("src0", "src1", "src2", "src3")), "text")
        val raw = CorpusStats.bigramTrain(train, "text")
        val hash01 = pmod(conv(substring(
            md5(concat(col("id").cast("string"), lit(":17"))), 1, 15), 16, 10)
          .cast("long"), lit(10000L)).cast("double") / 10000.0
        CorpusStats.dsirWeights(tgt, raw, heldout, "doc_id", "text", scale = 4.0)
          .withColumn("kept", hash01 < col("weight"))
          .select(col("id").as("doc_id"), col("n_bigrams"), col("llr_rate"),
            col("weight"), col("kept"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, source, $toksSql AS t FROM documents
        ), bg AS (
          SELECT doc_id, source, t[u.i] AS w1, t[u.i + 1] AS w2
          FROM tk, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        ), tb_t AS (
          SELECT w1, w2, COUNT(*) AS c2 FROM bg
          WHERE doc_id % 5 != 0 AND source IN ('src0','src1','src2','src3')
          GROUP BY 1, 2
        ), tc_t AS (
          SELECT w1, SUM(c2) AS c1 FROM tb_t GROUP BY 1
        ), v_t AS (
          SELECT COUNT(DISTINCT t[u.i]) AS nv
          FROM tk, UNNEST(generate_series(1, len(t))) AS u(i)
          WHERE doc_id % 5 != 0 AND source IN ('src0','src1','src2','src3')
        ), tb_r AS (
          SELECT w1, w2, COUNT(*) AS c2 FROM bg WHERE doc_id % 5 != 0 GROUP BY 1, 2
        ), tc_r AS (
          SELECT w1, SUM(c2) AS c1 FROM tb_r GROUP BY 1
        ), v_r AS (
          SELECT COUNT(DISTINCT t[u.i]) AS nv
          FROM tk, UNNEST(generate_series(1, len(t))) AS u(i)
          WHERE doc_id % 5 != 0
        ), terms AS (
          SELECT s.doc_id,
            CAST(ROUND(ln((COALESCE(tt.c2, 0) + 1) /
                (COALESCE(ttc.c1, 0) + vt.nv + 1.0)) / ln(2.0), 9)
              AS DECIMAL(28,9)) AS term_t,
            CAST(ROUND(ln((COALESCE(tr.c2, 0) + 1) /
                (COALESCE(trc.c1, 0) + vr.nv + 1.0)) / ln(2.0), 9)
              AS DECIMAL(28,9)) AS term_r
          FROM bg s
          LEFT JOIN tb_t tt ON s.w1 = tt.w1 AND s.w2 = tt.w2
          LEFT JOIN tc_t ttc ON s.w1 = ttc.w1
          LEFT JOIN tb_r tr ON s.w1 = tr.w1 AND s.w2 = tr.w2
          LEFT JOIN tc_r trc ON s.w1 = trc.w1
          CROSS JOIN v_t vt CROSS JOIN v_r vr
          WHERE s.doc_id % 5 = 0
        ), sc AS (
          SELECT doc_id, COUNT(*) AS n_bigrams,
            ROUND(-CAST(SUM(term_t) AS DOUBLE) / COUNT(*), 6) AS xt,
            ROUND(-CAST(SUM(term_r) AS DOUBLE) / COUNT(*), 6) AS xr
          FROM terms GROUP BY doc_id
        ), lr AS (
          SELECT doc_id, n_bigrams, ROUND(xr - xt, 6) AS llr_rate FROM sc
        ), w AS (
          -- weight deliberately UNROUNDED: IEEE add/divide/clamp on the
          -- engine-identical llr doubles; a 6-decimal round here hits exact
          -- HALF_UP ties (llr*1e6 = 2 mod 4) the engines resolve differently
          SELECT doc_id, n_bigrams, llr_rate,
            LEAST(1.0, GREATEST(0.0, 0.5 + llr_rate / 4.0)) AS weight
          FROM lr
        )
        SELECT doc_id, n_bigrams, llr_rate, weight,
          (('0x' || substr(md5(doc_id::VARCHAR || ':17'), 1, 15))::BIGINT % 10000)
            / 10000.0 < weight AS kept
        FROM w ORDER BY doc_id""")),

    // ---- Multinomial Naive Bayes source classification (the fastText /
    // CCNet quality-classifier shape in closed form): model trained on
    // doc_id % 4 != 0, held-out docs classified by add-one-smoothed
    // log2-joint argmax. Same portable-decimal-term discipline as
    // text_bigram_xent (boundary distances proven in ClassifySuite), so
    // predictions AND scores hash-match DuckDB exactly. ----
    QuerySpec("text_nb_source",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val model = graft.operators.Classify.nbTrain(
          d.where(col("doc_id") % 4 =!= 0), "source", "text")
        graft.operators.Classify.nbPredict(model,
            d.where(col("doc_id") % 4 === 0), "doc_id", "text")
          .select(col("id").as("doc_id"), col("label"), col("score"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, source, $toksSql AS t FROM documents
        ), tok AS (
          SELECT doc_id, source, t[u.i] AS w
          FROM tk, UNNEST(generate_series(1, len(t))) AS u(i)
        ), train AS (
          SELECT * FROM tok WHERE doc_id % 4 != 0
        ), tc AS (
          SELECT source AS label, w, COUNT(*) AS cnt FROM train GROUP BY 1, 2
        ), ct AS (
          SELECT source AS label, COUNT(DISTINCT doc_id) AS n_docs,
            COUNT(*) AS n_tokens
          FROM train GROUP BY 1
        ), v AS (
          SELECT COUNT(DISTINCT w) AS nv FROM train
        ), nd AS (
          SELECT SUM(n_docs) AS t FROM ct
        ), priors AS (
          SELECT ct.label, ct.n_tokens,
            CAST(ROUND(ln(ct.n_docs * 1.0 / nd.t) / ln(2.0), 9)
              AS DECIMAL(20,9)) AS prior
          FROM ct, nd
        ), terms AS (
          SELECT s.doc_id, p.label,
            CAST(ROUND(ln((COALESCE(tc.cnt, 0) + 1) /
                (p.n_tokens + v.nv + 1.0)) / ln(2.0), 9)
              AS DECIMAL(20,9)) AS term
          FROM tok s
          CROSS JOIN priors p
          LEFT JOIN tc ON tc.label = p.label AND tc.w = s.w
          CROSS JOIN v
          WHERE s.doc_id % 4 = 0
        ), scored AS (
          SELECT t.doc_id, t.label, MIN(p.prior) + SUM(t.term) AS score
          FROM terms t JOIN priors p ON p.label = t.label
          GROUP BY 1, 2
        )
        SELECT doc_id, label, CAST(score AS DOUBLE) AS score
        FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score DESC, label ASC) AS rk
          FROM scored)
        WHERE rk = 1 ORDER BY doc_id""")),

    // ---- TRAINED QUALITY CLASSIFIER (DCLM / fastText shape, with an
    // actual gradient-descent linear model): logistic regression over
    // hashed token counts, 3 full-batch iterations at a fixed learning
    // rate, trained in-engine on the odd-quarter docs and scored on the
    // held-out quarter. Training is deterministic by construction (exact
    // decimal gradient sums, sigmoid rounded to 9, updates rounded to 12),
    // so the ORACLE RERUNS THE WHOLE TRAINING — all three iterations
    // unrolled as CTE stages — and must land on the identical weights,
    // probabilities, and predictions. ----
    QuerySpec("text_logreg_quality",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val labeled = d.withColumn("y",
          col("source").isin("src0", "src1", "src2", "src3", "src4").cast("int"))
        val wts = graft.operators.Classify.logregTrain(
          labeled.where(col("doc_id") % 4 =!= 0), "doc_id", "y", "text",
          buckets = 16, iters = 3, lrate = 0.5)
        graft.operators.Classify.logregScore(wts,
            labeled.where(col("doc_id") % 4 === 0), "doc_id", "text", buckets = 16)
          .select(col("id").as("doc_id"), col("prob"), col("pred"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH lab AS (
          SELECT doc_id,
            CAST(CASE WHEN source IN ('src0','src1','src2','src3','src4')
              THEN 1 ELSE 0 END AS DECIMAL(10,9)) AS y,
            $toksSql AS t
          FROM documents WHERE text IS NOT NULL
        ), tok AS (
          SELECT doc_id, ('0x' || substr(md5(t[u.i]), 1, 15))::BIGINT % 16 AS bucket
          FROM lab, UNNEST(generate_series(1, len(t))) AS u(i)
        ), feat AS (
          SELECT doc_id, bucket, COUNT(*) AS c
          FROM tok WHERE doc_id % 4 != 0 GROUP BY 1, 2
        ), tr AS (
          SELECT doc_id, y FROM lab WHERE doc_id % 4 != 0
        ), nn AS (
          SELECT COUNT(*)::DOUBLE AS n FROM tr
        ), e1 AS (
          -- iteration 1 from zero weights: z = 0, sigmoid = 0.5 exactly
          SELECT doc_id, CAST(0.5 AS DECIMAL(10,9)) - y AS err FROM tr
        ), w1 AS (
          SELECT f.bucket,
            CAST(0 - ROUND(0.5 * CAST(SUM(e.err * f.c) AS DOUBLE)
              / (SELECT n FROM nn), 12) AS DECIMAL(14,12)) AS w
          FROM e1 e JOIN feat f USING (doc_id) GROUP BY f.bucket
        ), b1 AS (
          SELECT CAST(0 - ROUND(0.5 * CAST(SUM(err) AS DOUBLE)
            / (SELECT n FROM nn), 12) AS DECIMAL(14,12)) AS b FROM e1
        ), e2 AS (
          SELECT z.doc_id,
            CAST(ROUND(1.0 / (1.0 + exp(-CAST(z.z AS DOUBLE))), 9)
              AS DECIMAL(10,9)) - z.y AS err
          FROM (
            SELECT t.doc_id, t.y,
              CAST(COALESCE(SUM(w.w * f.c), 0) AS DECIMAL(26,12))
                + (SELECT b FROM b1) AS z
            FROM tr t
            LEFT JOIN feat f ON f.doc_id = t.doc_id
            LEFT JOIN w1 w ON w.bucket = f.bucket
            GROUP BY 1, 2) z
        ), w2 AS (
          SELECT w1.bucket,
            CAST(w1.w - ROUND(0.5 * CAST(g.g AS DOUBLE)
              / (SELECT n FROM nn), 12) AS DECIMAL(14,12)) AS w
          FROM w1 JOIN (
            SELECT f.bucket, SUM(e.err * f.c) AS g
            FROM e2 e JOIN feat f USING (doc_id) GROUP BY 1) g
            ON g.bucket = w1.bucket
        ), b2 AS (
          SELECT CAST((SELECT b FROM b1) - ROUND(0.5 * CAST(SUM(err) AS DOUBLE)
            / (SELECT n FROM nn), 12) AS DECIMAL(14,12)) AS b FROM e2
        ), e3 AS (
          SELECT z.doc_id,
            CAST(ROUND(1.0 / (1.0 + exp(-CAST(z.z AS DOUBLE))), 9)
              AS DECIMAL(10,9)) - z.y AS err
          FROM (
            SELECT t.doc_id, t.y,
              CAST(COALESCE(SUM(w.w * f.c), 0) AS DECIMAL(26,12))
                + (SELECT b FROM b2) AS z
            FROM tr t
            LEFT JOIN feat f ON f.doc_id = t.doc_id
            LEFT JOIN w2 w ON w.bucket = f.bucket
            GROUP BY 1, 2) z
        ), w3 AS (
          SELECT w2.bucket,
            CAST(w2.w - ROUND(0.5 * CAST(g.g AS DOUBLE)
              / (SELECT n FROM nn), 12) AS DECIMAL(14,12)) AS w
          FROM w2 JOIN (
            SELECT f.bucket, SUM(e.err * f.c) AS g
            FROM e3 e JOIN feat f USING (doc_id) GROUP BY 1) g
            ON g.bucket = w2.bucket
        ), b3 AS (
          SELECT CAST((SELECT b FROM b2) - ROUND(0.5 * CAST(SUM(err) AS DOUBLE)
            / (SELECT n FROM nn), 12) AS DECIMAL(14,12)) AS b FROM e3
        ), sfeat AS (
          SELECT doc_id, bucket, COUNT(*) AS c
          FROM tok WHERE doc_id % 4 = 0 GROUP BY 1, 2
        ), sc AS (
          SELECT l.doc_id,
            ROUND(1.0 / (1.0 + exp(-CAST(
              CAST(COALESCE(SUM(w.w * f.c), 0) AS DECIMAL(26,12))
                + (SELECT b FROM b3) AS DOUBLE))), 9) AS prob
          FROM (SELECT doc_id FROM lab WHERE doc_id % 4 = 0) l
          LEFT JOIN sfeat f ON f.doc_id = l.doc_id
          LEFT JOIN w3 w ON w.bucket = f.bucket
          GROUP BY 1
        )
        SELECT doc_id, prob,
          CAST(CASE WHEN prob >= 0.5 THEN 1 ELSE 0 END AS INT) AS pred
        FROM sc ORDER BY doc_id"""))
  )

  /** DuckDB oracle for text_fingerprint: the k-gram hash is the direct
    * polynomial sum with the B^j mod P power table inlined from the SAME
    * constants the Scala expression uses (WinnowedFingerprints.Portable*),
    * so the two sides cannot drift.
    */
  private def fingerprintOracleSql: String = {
    val P = graft.functions.WinnowedFingerprints.PortableMod
    val B = graft.functions.WinnowedFingerprints.PortableBase
    val k = 9
    val w = 4
    val pw = Array.iterate(1L, k)(p => p * B % P) // B^0 .. B^(k-1) mod P
    // char at offset d of the window carries coefficient B^(k-1-d)
    val cases = (0 until k)
      .map(d => s"WHEN ${d} THEN ${pw(k - 1 - d)}").mkString(" ")
    s"""WITH cp AS (
        -- UNNEST(generate_series(..)) rather than a lateral table function:
        -- DuckDB's generate_series table form cannot take column arguments
        SELECT doc_id, u.i AS i, unicode(text[u.i]) AS c
        FROM documents, UNNEST(generate_series(1, len(text))) AS u(i)
      ), hs AS (
        SELECT x.doc_id, x.i AS pos,
          CAST(SUM(y.c::BIGINT * (CASE y.i - x.i $cases END)) % $P AS BIGINT) AS h
        FROM cp x JOIN cp y ON y.doc_id = x.doc_id AND y.i BETWEEN x.i AND x.i + ${k - 1}
        GROUP BY x.doc_id, x.i
        HAVING COUNT(*) = $k
      ), wm AS (
        SELECT doc_id, pos,
          MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS m,
          COUNT(*) OVER (PARTITION BY doc_id) AS nh
        FROM hs
      ), sel AS (
        SELECT doc_id, m, LAG(m) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM wm WHERE pos <= nh - ${w - 1}
      )
      SELECT doc_id,
        CAST(COUNT(CASE WHEN prev IS NULL OR m <> prev THEN 1 END) AS INT) AS n_fp,
        MIN(m) AS fp_min, MAX(m) AS fp_max
      FROM sel GROUP BY doc_id ORDER BY doc_id"""
  }
}
