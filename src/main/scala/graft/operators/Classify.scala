package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions => F, TextFunctions => T}
import graft.operators.Ckpt.Ops

/** Multinomial Naive Bayes text classification — the closed-form stand-in
  * for the fastText-style quality/domain classifiers a curation pipeline
  * trains on seed labels (CCNet's "looks like Wikipedia" filter shape).
  * Training is nothing but counting, so unlike SGD models it is exactly
  * reproducible, trivially distributed, and — with the same
  * rounded-decimal-term discipline as [[CorpusStats.bigramScore]] —
  * hash-checkable against an independent SQL engine.
  *
  * Model tables (all plain DataFrames, parquet-persistable):
  * `tokenCounts` (label, w, cnt), `classTotals` (label, n_docs, n_tokens),
  * `vocab` (single row __v = distinct train token count).
  *
  * Scale shape: training is one keyed aggregate over (label, token) plus
  * two small reductions. Scoring explodes doc tokens once, joins the
  * model on token (the model side is vocab x classes — reduced long before
  * the join; Catalyst broadcasts it when small), crosses each token row
  * with the class list (bounded fan-out: |classes|), and runs one
  * (doc, label) aggregate plus a per-doc argmax window. The corpus text
  * shuffles once, as tokens.
  */
object Classify {

  final case class NaiveBayesModel(tokenCounts: DataFrame, classTotals: DataFrame,
      vocab: DataFrame)

  def nbTrain(df: DataFrame, labelCol: String, textCol: String): NaiveBayesModel = {
    // null text carries no tokens, so a null-text doc cannot influence the
    // likelihoods — excluding it from the PRIOR counts too keeps the model
    // well-defined (and keeps n_docs derivable from the token stream, the
    // form an independent SQL oracle naturally computes)
    val docs = df.where(col(textCol).isNotNull)
    val toks = docs.select(col(labelCol).as("label"),
      explode(T.tokens(col(textCol))).as("w"))
    // ONE tokenize pass over the training corpus (r18, guide §2.4):
    // [[nbPredict]] consumes the three model tables through four separate
    // subtrees (the tokenCounts join, classTotals twice inside the priors
    // broadcast, vocab once), and without a barrier EACH re-ran the full
    // corpus-scan + tokenize + aggregate lineage — four passes per scoring
    // query (measured: the dominant jobs of pipeline_curation_v2). The
    // (label, w, cnt) table is checkpointed — model-sized, |vocab| x
    // |classes| rows, never corpus-sized — and the other two tables DERIVE
    // from it: n_tokens = sum(cnt) per label (the same long sum), vocab =
    // countDistinct(w) over its keys (the same distinct token set); only
    // n_docs needs the corpus again, as a label-only count whose scan
    // prunes the text column entirely. Values are identical by
    // construction (oracle-pinned on all three NB gates).
    val tokenCounts = toks.groupBy(col("label"), col("w"))
      .agg(count(lit(1)).as("cnt")).cut(true)
    val nDocs = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs"))
    val classTotals = nDocs.join(
        tokenCounts.groupBy(col("label")).agg(sum(col("cnt")).as("__nt")),
        Seq("label"), "left")
      .select(col("label"), col("n_docs"),
        coalesce(col("__nt"), lit(0L)).as("n_tokens"))
    val vocab = tokenCounts.agg(countDistinct(col("w")).as("__v"))
    NaiveBayesModel(tokenCounts, classTotals, vocab)
  }

  /** Per-doc class prediction: argmax over labels of
    * log2 P(label) + sum over tokens of log2 P(token|label), with add-one
    * smoothing — P(token|label) = (cnt+1)/(n_tokens + V + 1), prior =
    * n_docs_label / n_docs_total. Ties break toward the smaller label.
    *
    * Exactness-portability: every log term (priors included) rounds to 9
    * decimals and sums as DECIMAL, so scores are partitioning-invariant
    * and the argmax is engine-exact given terms agree — the same
    * cross-libm argument as [[CorpusStats.bigramScore]], with the
    * boundary-distance check for the gate corpus in ClassifySuite.
    *
    * @return (id, label, score) — score = the winning class's rounded
    *         log2-joint, a ranking signal (confidence needs the softmax
    *         over all classes, deliberately not emitted).
    */
  def nbPredict(model: NaiveBayesModel, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    // precision 20, not 28: sum(decimal(20,9)) widens to decimal(30,9) and
    // adding the prior lands at decimal(31,9) — still inside Spark's 38-digit
    // ceiling. With 28 the sum hits decimal(38,9) and the final addition
    // OVERFLOWS precision, silently dropping the scale to 8 and shearing the
    // ninth decimal off every score. 20 digits still hold |score| < 1e10 —
    // far beyond any log-joint over a document.
    val dec = "decimal(20,9)"
    val labels = model.classTotals.select(col("label"), col("n_docs"), col("n_tokens"))
    val totalDocs = model.classTotals.agg(sum(col("n_docs")).as("__nd"))
    // (label, prior_term, n_tokens) with the prior already rounded-decimal
    val priors = labels.crossJoin(broadcast(totalDocs))
      .crossJoin(broadcast(model.vocab))
      .select(col("label"), col("n_tokens"), col("__v"),
        round(log(2.0, col("n_docs").cast("double") / col("__nd").cast("double")), 9)
          .cast(dec).as("__prior"))
    // null-text docs carry no tokens and are not scored (explode drops
    // them) — mirror nbTrain's treatment rather than inventing a prior-only
    // score for them. Tokens COLLAPSE to (id, w, c) before the label
    // fan-out (r18, guide §2.3 "aggregate before you shuffle"): a token
    // occurring c times in a doc contributes c identical rounded terms, so
    // summing c * __t is value-exact vs summing the term c times — and the
    // |classes|-way fan-out, the model join, and the per-(doc, label)
    // aggregate all run at distinct-(doc, token) volume instead of
    // occurrence volume. The collapse itself is MAP-SIDE ([[docTokenCounts]])
    // — a groupBy(id, w) collapse was measured to ADD an occurrence-volume
    // exchange that costs more than the fan-out it saves whenever the
    // model join broadcasts (sf0.1 A/B +15%), while the map-side form
    // never shuffles occurrences at all.
    val docToks = docTokenCounts(docs.where(col(textCol).isNotNull), idCol, textCol)
    // every (distinct doc token, label) pair: bounded fan-out of |classes|
    val perLabel = docToks.crossJoin(broadcast(priors))
      .join(model.tokenCounts, Seq("label", "w"), "left")
      .select(col("id"), col("label"), col("__prior"),
        round(log(2.0,
          (coalesce(col("cnt"), lit(0L)) + lit(1)).cast("double") /
            (col("n_tokens") + col("__v") + lit(1)).cast("double")), 9)
          .cast(dec).as("__t"), col("c"))
    // precision plan for the weighted sum: __t is decimal(20,9) with
    // |__t| <= log2(n_tokens + V + 1) < 64; c is a per-doc token count, so
    // |__t * c| stays far inside decimal(26,9) (would need a 1.5e15-token
    // doc to overflow). The product is an exact integer multiple of a
    // scale-9 decimal (exact), sum(decimal(26,9)) widens to decimal(36,9)
    // (no precision cap hit), and adding the decimal(20,9) prior lands at
    // decimal(37,9) — still inside Spark's 38-digit ceiling, so no silent
    // scale-shearing anywhere (the same overflow discipline as `dec`).
    val scored = perLabel.groupBy(col("id"), col("label"))
      .agg((first(col("__prior")) +
        sum((col("__t") * col("c").cast("decimal(16,0)")).cast("decimal(26,9)")))
        .as("__score"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("__score").desc, col("label").asc)
    scored.withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .select(col("id"), col("label"),
        col("__score").cast("double").as("score"))
  }

  /** (id, w, c): each distinct token `w` of each doc's text with its
    * occurrence count `c` (long), computed map-side in one hash pass over
    * the doc's tokens ([[graft.functions.TokenCounts]]) — linear in the
    * document's length. Null-text docs yield no rows.
    */
  private[graft] def docTokenCounts(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(F.token_counts(T.tokens(col(textCol)))).as("e"))
      .select(col("id"), col("e.w").as("w"), col("e.c").cast("long").as("c"))

  // ---- Logistic regression on hashed token features (the DCLM/fastText
  // quality-classifier shape with an actual trained linear model) ----

  /** Token → feature bucket, the portable md5 contract shared with
    * [[Sampling.bucketCol]] (DuckDB: `('0x' || substr(md5(w), 1, 15))::BIGINT
    * % buckets`).
    */
  private def bucketOf(w: Column, buckets: Int): Column =
    pmod(conv(substring(md5(w), 1, 15), 16, 10).cast("long"), lit(buckets.toLong))

  private val WDec = "decimal(14,12)"
  private val PDec = "decimal(10,9)"

  /** Full-batch gradient-descent logistic regression over hashed token
    * counts — deterministic by construction: a FIXED iteration count, exact
    * decimal feature/gradient sums (partitioning-invariant), the per-doc
    * sigmoid rounded to 9 decimals, and each weight update rounded to 12 —
    * so training is exactly reproducible AND recomputable by an independent
    * SQL engine with the iterations unrolled as CTE stages (the
    * `text_logreg_quality` gate does exactly that).
    *
    * Scale shape: the corpus tokenizes and shuffles once into the
    * per-(doc, bucket) count table, which is localCheckpointed and reused;
    * each iteration is one broadcast join of the tiny weight vector plus
    * two partial-combine aggregates (per-doc z, per-bucket gradient — the
    * bucket key space IS the model size). Weights live on the driver
    * between iterations exactly like the ANN quantizer fits — the model is
    * `buckets + 1` numbers, not data-scale state.
    *
    * @param labelCol 0/1 integer label column
    * @return (bucket, w) weight rows, bucket -1 = bias — a plain
    *         persistable DataFrame for [[logregScore]]
    */
  def logregTrain(df: DataFrame, idCol: String, labelCol: String, textCol: String,
      buckets: Int = 16, iters: Int = 3, lrate: Double = 0.5): DataFrame = {
    require(buckets >= 2 && iters >= 1 && lrate > 0)
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(labelCol).cast(PDec).as("y"),
        T.tokensOf(df, textCol).as("__toks"))
    val feats = base.select(col("id"), explode(col("__toks")).as("__w"))
      .select(col("id"), bucketOf(col("__w"), buckets).as("bucket"))
      .groupBy(col("id"), col("bucket")).agg(count(lit(1)).as("c"))
      .cut()
    val ydf = base.select(col("id"), col("y")).cut()
    val n = ydf.count()
    require(n > 0, "logregTrain: no training documents with text")
    // features plus one synthetic bucket -1 row per training doc (c = 1):
    // the bias gradient is then just another group of the per-bucket
    // aggregate — sum(__err * 1) is decimal-exact-identical to the separate
    // sum(__err) action it replaces, so each iteration runs ONE gradient
    // job instead of two (r18, guide §1/§2.4 — the LR loop is
    // serial-action-bound at gate scale). Narrow union of two checkpoints.
    val featsB = feats.unionByName(
      ydf.select(col("id"), lit(-1L).as("bucket"), lit(1L).as("c")))

    val zero = java.math.BigDecimal.ZERO.setScale(12)
    var weights: Map[Long, java.math.BigDecimal] =
      (0L until buckets.toLong).map(_ -> zero).toMap
    var bias = zero
    for (_ <- 1 to iters) {
      val wDf = weights.toSeq.sortBy(_._1)
        .map { case (b, w) => (b, scala.math.BigDecimal(w)) }
        .toDF("bucket", "wv")
        .select(col("bucket"), col("wv").cast(WDec).as("wv"))
      // z_d = bias + sum_b w_b * c_db — decimal-exact, so invariant to
      // partitioning; the single transcendental (sigmoid) rounds to 9
      val z = feats.join(broadcast(wDf), "bucket")
        .groupBy(col("id")).agg(sum(col("wv") * col("c")).as("__zw"))
      // materialized once per iteration: BOTH gradient aggregates below (the
      // per-bucket update and the bias update) consume this frame, and
      // without the checkpoint each would re-run the z-join + sigmoid
      // lineage — two evaluations of the iteration's whole compute (guide
      // §2.4: consumers of one subtree should share one materialization).
      // The frame is train-doc-sized (id, y, err), far below the feature
      // table this function already checkpoints.
      val scored = ydf.join(z, Seq("id"), "left")
        .select(col("id"), col("y"),
          (coalesce(col("__zw"), lit(0).cast(WDec)) +
            lit(bias).cast(WDec)).cast("double").as("__z"))
        .withColumn("__p", round(lit(1.0) / (lit(1.0) + exp(-col("__z"))), 9).cast(PDec))
        .withColumn("__err", col("__p") - col("y"))
        .cut()
      // per-bucket update (bucket -1 = bias, see featsB), rounded to 12
      // decimals INSIDE the query so both engines round the identical double
      val upd = scored.join(featsB, "id")
        .groupBy(col("bucket"))
        .agg(round(lit(lrate) * sum(col("__err") * col("c")).cast("double") /
          lit(n.toDouble), 12).cast(WDec).as("u"))
        .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
      val biasUpd = upd(-1L)
      weights = weights.map { case (b, w) =>
        b -> upd.get(b).map(u => w.subtract(u.setScale(12))).getOrElse(w)
      }
      bias = bias.subtract(biasUpd.setScale(12))
    }
    (weights.toSeq.sortBy(_._1) :+ (-1L, bias))
      .map { case (b, w) => (b, scala.math.BigDecimal(w)) }
      .toDF("bucket", "w")
      .select(col("bucket"), col("w").cast(WDec).as("w"))
  }

  /** Score docs with a [[logregTrain]] weight table: `prob` =
    * round(sigmoid(bias + Σ w_b c_b), 9), `pred` = prob >= 0.5. One
    * map-side tokenize + one (id, bucket) aggregate + a broadcast join of
    * the weight vector — the corpus shuffles once, as hashed buckets.
    */
  def logregScore(weights: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, buckets: Int = 16): DataFrame = {
    val base = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), T.tokensOf(docs, textCol).as("__toks"))
    val feats = base.select(col("id"), explode(col("__toks")).as("__w"))
      .select(col("id"), bucketOf(col("__w"), buckets).as("bucket"))
      .groupBy(col("id"), col("bucket")).agg(count(lit(1)).as("c"))
    val z = feats.join(broadcast(weights.where(col("bucket") >= 0)), "bucket")
      .groupBy(col("id")).agg(sum(col("w") * col("c")).as("__zw"))
    val biasRow = weights.where(col("bucket") === -1).select(col("w").as("__b"))
    base.select(col("id")).join(z, Seq("id"), "left")
      .crossJoin(broadcast(biasRow))
      .select(col("id"),
        round(lit(1.0) / (lit(1.0) + exp(-(coalesce(col("__zw"), lit(0).cast(WDec)) +
          col("__b")).cast("double"))), 9).as("prob"))
      .withColumn("pred", (col("prob") >= 0.5).cast("int"))
  }
}
