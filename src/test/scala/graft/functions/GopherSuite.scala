package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.{GraftFunctions => F}

/** Known-answer coverage for the doc-local Gopher repetition battery —
  * the gate (text_gopher_repetition) holds it to a DuckDB recompute over a
  * planted corpus; this suite pins hand-computed values so the definitions
  * can't silently drift to whatever both engines happen to agree on.
  */
class GopherSuite extends SparkTestBase {

  private def signals(text: String): Map[String, Double] = {
    import spark.implicits._
    val row = Seq(text).toDF("t")
      .select(F.gopher_repetition(col("t")).as("g"))
      .select(GopherRepetition.FieldNames.map(f => col("g").getField(f).as(f)): _*)
      .head()
    GopherRepetition.FieldNames.zipWithIndex.map { case (f, i) => f -> row.getDouble(i) }.toMap
  }

  test("hand-computed known answers for every signal family") {
    // lines: [foo bar, foo bar, baz qux quux] -> 1 dup of 3, 7 dup chars of 26
    // paras: [foo bar\nfoo bar, baz qux quux] -> no dups
    // norm = "foo bar foo bar baz qux quux" (28 chars, 7 tokens)
    // top2 = "foo bar" x2 -> 2*7/28; top3 = all x1, longest "baz qux quux"
    // (12) -> 12/28; top4 = longest "bar baz qux quux" (16) -> 16/28
    // 5..7-grams all unique -> 0; 8..10: fewer than n tokens -> 0
    val s = signals("foo bar\nfoo bar\n\nbaz qux quux")
    assert(s("dup_line_frac") == 1.0 / 3.0)
    assert(s("dup_line_char_frac") == 7.0 / 26.0)
    assert(s("dup_para_frac") == 0.0 && s("dup_para_char_frac") == 0.0)
    assert(s("top_2gram_char_frac") == 14.0 / 28.0)
    assert(s("top_3gram_char_frac") == 12.0 / 28.0)
    assert(s("top_4gram_char_frac") == 16.0 / 28.0)
    (5 to 10).foreach(n => assert(s(s"dup_${n}gram_char_frac") == 0.0, s"n=$n"))
  }

  test("duplicated n-gram coverage counts overlapping positions once") {
    // tokens: a b c d e f a b c d e f — the 5-grams "a b c d e" and
    // "b c d e f" each occur twice; their occurrences cover every token
    // index exactly once each -> coverage 1.0, not > 1
    val s = signals("a b c d e f a b c d e f")
    assert(s("dup_5gram_char_frac") == 1.0)
  }

  test("duplicate paragraphs and characters are weighted by length") {
    // paras: [long one x, zz, long one x] -> dup 1/3; chars 10/(10+2+10)
    val s = signals("long one x\n\nzz\n\nlong one x")
    assert(s("dup_para_frac") == 1.0 / 3.0)
    assert(s("dup_para_char_frac") == 10.0 / 22.0)
  }

  test("empty and sub-n docs yield zeros, null stays null") {
    import spark.implicits._
    val s = signals("")
    GopherRepetition.FieldNames.foreach(f => assert(s(f) == 0.0, f))
    assert(signals("word")("top_2gram_char_frac") == 0.0)
    val n = Seq(Option.empty[String]).toDF("t")
      .select(F.gopher_repetition(col("t")).as("g")).head()
    assert(n.isNullAt(0))
  }

  test("gopher quality scalars computed below the bigram explode: degenerate docs") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // the per-doc divisions now run on every document, also on the ones
    // the explode drops; none of these may raise an ANSI error
    val d = Seq((1L, Option("")), (2L, None), (3L, Some("word")), (4L, Some(" \t\n ")),
      (5L, Some("the cat saw the cat"))).toDF("doc_id", "text")
    // the formulation that selected the scalars beside the explode
    val tk = TextFunctions.tokens(col("text"))
    val nWords = size(tk).cast("long")
    val meanLen = aggregate(tk, lit(0L), (a, w) => a + length(w).cast("long"))
      .cast("double") / nWords.cast("double")
    val alphaFrac = size(filter(tk, w => w.rlike("[a-z]"))).cast("double") / nWords.cast("double")
    val perBg = d.select(col("doc_id"), nWords.as("n_words"),
        meanLen.as("mean_word_len"), alphaFrac.as("frac_alpha_words"),
        explode(F.word_shingles(tk, 2)).as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("count"), first(col("n_words")).as("n_words"),
        first(col("mean_word_len")).as("mean_word_len"),
        first(col("frac_alpha_words")).as("frac_alpha_words"))
    val want = perBg.withColumn("mx", max(col("count")).over(Window.partitionBy(col("doc_id"))))
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
      .collect().toSeq
    val got = graft.queries.Pipeline.gopherQuality(d).collect().toSeq
    assert(got == want)
    // null text has no bigrams and no row; the other four each have one
    assert(got.map(_.getLong(0)) == Seq(1L, 3L, 4L, 5L))
  }

  test("gopher_repetition is reachable from SQL") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(
      "SELECT gopher_repetition('x y\nx y').dup_line_frac AS f").head().getDouble(0)
    assert(r == 0.5)
  }
}
