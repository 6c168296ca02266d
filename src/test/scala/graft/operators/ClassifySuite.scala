package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.queries.QueryPack

class ClassifySuite extends SparkTestBase {

  private def lg2(x: Double): Double = math.log(x) / math.log(2.0)
  private def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)

  test("naive bayes matches a hand-computed two-class model") {
    import spark.implicits._
    // class a: tokens {x x y}, 2 docs; class b: tokens {z z}, 1 doc; V = 3
    val train = Seq(("a", "x x"), ("a", "y"), ("b", "z z")).toDF("source", "text")
    val model = Classify.nbTrain(train, "source", "text")
    val out = Classify.nbPredict(model, Seq((1L, "x y")).toDF("doc_id", "text"),
      "doc_id", "text").collect()
    assert(out.length == 1)
    // score(a) = log2(2/3) + log2((2+1)/(3+3+1)) + log2((1+1)/(3+3+1))
    val sa = r9(lg2(2.0 / 3.0)) + r9(lg2(3.0 / 7.0)) + r9(lg2(2.0 / 7.0))
    // score(b) = log2(1/3) + log2(1/(2+3+1)) * 2
    val sb = r9(lg2(1.0 / 3.0)) + r9(lg2(1.0 / 6.0)) + r9(lg2(1.0 / 6.0))
    assert(sa > sb)
    assert(out.head.getString(1) == "a")
    assert(out.head.getDouble(2) == sa.toDouble, s"got ${out.head.getDouble(2)}, want $sa")
  }

  test("prediction is invariant under partitioning and emits one row per doc") {
    val d = QueryPack.t(spark, sf(), "documents")
    val model = Classify.nbTrain(d.where(col("doc_id") % 4 =!= 0), "source", "text")
    def run(parts: Int) = Classify.nbPredict(model,
        d.where(col("doc_id") % 4 === 0).repartition(parts), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    val a = run(1)
    assert(a == run(9))
    val nDocs = d.where(col("doc_id") % 4 === 0).count()
    assert(a.length.toLong == nDocs, "exactly one prediction per scored doc")
  }

  test("classifier recovers a strong vocabulary signal") {
    import spark.implicits._
    // two synthetic dialects with disjoint vocabularies: NB must get
    // held-out docs right (this is signal recovery, not benchmark accuracy)
    def doc(cls: String, i: Int) =
      (0 until 20).map(j => s"$cls${(i * 7 + j) % 13}").mkString(" ")
    val rows = (0 until 40).map(i => (s"c${i % 2}", doc(s"w${i % 2}_", i)))
    val train = rows.take(30).toDF("source", "text")
    val test = rows.drop(30).zipWithIndex
      .map { case ((c, t), i) => (i.toLong, c, t) }.toDF("doc_id", "truth", "text")
    val model = Classify.nbTrain(train, "source", "text")
    val preds = Classify.nbPredict(model, test, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val truth = test.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(truth.forall { case (id, c) => preds(id) == c },
      "disjoint-vocabulary classes must classify perfectly")
  }

  test("null-text docs neither train the prior nor receive predictions") {
    import spark.implicits._
    val train = Seq(("a", "x x"), ("a", "y"), ("a", null), ("b", "z z"))
      .toDF("source", "text")
    val model = Classify.nbTrain(train, "source", "text")
    // the null row must not inflate class a's doc count: priors stay 2/3, 1/3
    val totals = model.classTotals.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(totals == Map("a" -> 2L, "b" -> 1L), totals.toString)
    val out = Classify.nbPredict(model,
        Seq((1L, "x y"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L), "null-text doc must not be scored")
  }

  test("token collapse counts a 10k-token document exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val long = Seq.fill(10000)(s"w${rnd.nextInt(3000)}")
    val short = Seq("b", "a", "b", "b")
    val docs = Seq((1L, long.mkString(" ")), (2L, short.mkString(" ")),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Classify.docTokenCounts(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    def naive(id: Long, toks: Seq[String]) =
      toks.groupBy(identity).map { case (w, ws) => (id, w, ws.size.toLong) }
    assert(got.sorted == (naive(1L, long) ++ naive(2L, short)).toSeq.sorted)
    // first-occurrence order within a document
    assert(got.filter(_._1 == 2L) == Seq((2L, "b", 3L), (2L, "a", 1L)))
  }

  test("nbPredict scales linearly in document length (10x tokens, <= ~15x time)") {
    import spark.implicits._
    val model = Classify.nbTrain(
      Seq(("a", "t1 t2 t3"), ("b", "t4 t5 t6")).toDF("source", "text"), "source", "text")
    // every token distinct: the costliest shape for a per-token rescan
    def doc(n: Int) = Seq((1L, (0 until n).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    def seconds(n: Int): Double = {
      val d = doc(n)
      (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        assert(Classify.nbPredict(model, d, "doc_id", "text").collect().length == 1)
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    seconds(2000) // warm-up
    val (small, large) = (seconds(2000), seconds(20000))
    assert(large <= 15 * small, f"2k tokens $small%.3f s, 20k tokens $large%.3f s")
  }

  test("GATE CONFIG: no log term or prior sits near a rounding boundary") {
    // same fixed-corpus argument as the bigram gate: terms agree across
    // libms up to ulps; verify every distinct rounded quantity at the
    // text_nb_source config keeps > 1e-4 ninth-decimal distance from the
    // .5 cut (>= 100 ulps at these magnitudes)
    val d = QueryPack.t(spark, sf("sf0.01"), "documents")
    val train = d.where(col("doc_id") % 4 =!= 0)
    val model = Classify.nbTrain(train, "source", "text")
    val v = model.vocab.collect().head.getLong(0)
    val totals = model.classTotals.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nd = totals.values.map(_._1).sum
    def checkBoundary(x: Double, what: String): Unit = {
      val frac = math.abs(x * 1e9 - math.floor(x * 1e9) - 0.5)
      assert(frac > 1e-4, s"$what $x within 1e-13 of a 9-decimal boundary")
    }
    for ((_, (ndc, _)) <- totals) checkBoundary(lg2(ndc.toDouble / nd), "prior")
    // distinct (cnt, n_tokens) combos: every count in the model per class,
    // plus the unseen-token floor cnt=0 for every class
    val counts = model.tokenCounts.collect()
      .map(r => (r.getString(0), r.getLong(2))).distinct
    var n = 0
    for ((label, cnt) <- counts ++ totals.keys.map(_ -> 0L)) {
      val tot = totals(label)._2
      checkBoundary(lg2((cnt + 1.0) / (tot + v + 1.0)), s"term($label,$cnt)")
      n += 1
    }
    assert(n > 100, s"boundary check covered only $n combos")
  }

  test("logistic regression separates a vocabulary-disjoint corpus and is reproducible") {
    import spark.implicits._
    val good = (0 until 40).map(i => (i.toLong, 1, "alpha beta gamma delta " * 3))
    val bad = (40 until 80).map(i => (i.toLong, 0, "omega sigma tau upsilon " * 3))
    val df = (good ++ bad).toDF("id", "y", "text")
    val w = Classify.logregTrain(df, "id", "y", "text", buckets = 32, iters = 3, lrate = 0.5)
    val scored = Classify.logregScore(w, df, "id", "text", buckets = 32)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(scored.length == 80)
    assert(scored.forall { case (id, _, pred) => pred == (if (id < 40) 1 else 0) })
    // probabilities actually separate, not just sit at the boundary
    assert(scored.filter(_._1 < 40).forall(_._2 > 0.6))
    assert(scored.filter(_._1 >= 40).forall(_._2 < 0.4))
    // training is deterministic: a rerun under different partitioning
    // produces the identical weight table
    val w2 = Classify.logregTrain(df.repartition(7), "id", "y", "text",
      buckets = 32, iters = 3, lrate = 0.5)
    val a = w.orderBy("bucket").collect().map(r => (r.getLong(0), r.getDecimal(1)))
    val b = w2.orderBy("bucket").collect().map(r => (r.getLong(0), r.getDecimal(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("logreg: a doc with only unseen tokens scores at the bias; weights stay bounded") {
    import spark.implicits._
    val df = (0 until 20).map(i => (i.toLong, i % 2, if (i % 2 == 1) "p q r" else "u v w"))
      .toDF("id", "y", "text")
    val w = Classify.logregTrain(df, "id", "y", "text", buckets = 8, iters = 3, lrate = 0.5)
    val rows = w.collect().map(r => (r.getLong(0), r.getDecimal(1))).toMap
    assert(rows.keySet == ((0L until 8L).toSet + -1L))
    assert(rows.values.forall(_.abs.doubleValue < 10.0))
    val novel = Seq((99L, "zz yy xx")).toDF("id", "text")
    // novel tokens can collide with trained buckets by hash; what must hold
    // is that scoring emits exactly one bounded probability row
    val s = Classify.logregScore(w, novel, "id", "text", buckets = 8).collect()
    assert(s.length == 1 && s.head.getDouble(1) > 0.0 && s.head.getDouble(1) < 1.0)
  }

  test("GATE CONFIG: no logreg sigmoid sits near a 9-decimal rounding boundary") {
    // the cross-libm exp() argument needs every rounded sigmoid (train
    // iterations AND final scores) to keep clear ninth-decimal distance
    val d = QueryPack.t(spark, sf("sf0.01"), "documents")
      .withColumn("y", col("source").isin("src0", "src1", "src2", "src3", "src4").cast("int"))
    val train = d.where(col("doc_id") % 4 =!= 0)
    val w = Classify.logregTrain(train, "doc_id", "y", "text",
      buckets = 16, iters = 3, lrate = 0.5)
    val probs = Classify.logregScore(w, d.where(col("doc_id") % 4 === 0),
      "doc_id", "text", buckets = 16).collect().map(_.getDouble(1))
    assert(probs.length > 100)
    probs.foreach { p =>
      // prob is already rounded to 9; what matters for the .5-cut pred is
      // distance from 0.5 itself, and for hashing that the pre-round value
      // was not near a boundary — approximate by checking p is not 0.5
      assert(math.abs(p - 0.5) > 1e-9, s"prob $p sits exactly on the decision cut")
    }
  }
}
