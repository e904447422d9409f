package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextScore
import graft.pipeline.TextAnalysis

/** The native single-pass TextScore expression must be value-identical to
  * the Column/HOF formulation it replaces (tokens → langMasks → scorers) on
  * every metric — including the split(limit=-1) edge semantics around
  * non-space whitespace that `trim` does not strip.
  */
class TextScoreSpec extends AnyFunSuite with TestSession {

  private val tricky = Seq(
    "",
    " ",
    "\t",
    "the quick brown fox and the lazy dog",
    "  leading and trailing spaces  ",
    "\tleading tab",
    "trailing tab\t",
    "inner\t\ttabs and\nnewlines\r\n mixed",
    "der die und das ist nicht mit ein",
    "le la et les des un une est pour",
    "el la de que y en un los se no",
    "il di che la e per un in non si",
    "THE AND OF TO IN IS — uppercase stopwords",
    "punctuation!!! lots, of; it: (right)? [yes] {sure} - \"quoted\"",
    "x",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    "supercalifragilisticexpialidocious antidisestablishmentarianism",
    "café naïve résumé über straße",
    "日本語のテキスト some ascii",
    "emoji 😀 mixed 🎉 in text",
    "numbers 123 456_789 under_scores",
    "word,comma word.dot word;semi",
    "12345678 123456789 overlongtokenthatcannotpack",
    "the the the the and and of",
    "  \t mixed   space\ttab  edges \t ")

  private def df = {
    import spark.implicits._
    tricky.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  test("native stats ≡ HOF formulation on every metric") {
    val hof = df
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .withColumn("__masks", TextAnalysis.langMasks(col("__toks")))
      .select(col("id"),
        TextAnalysis.langIdFromMasks(col("__masks")).as("lang_pred"),
        TextAnalysis.qualityScoreFromMasks(col("text"), col("__toks"),
          col("__masks")).as("quality"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpe_tokens"),
        size(col("__toks")).as("ntoks"),
        TextAnalysis.charCount(col("text")).as("nchars"))
      .orderBy(col("id")).collect()
    val native = df
      .withColumn("__st", TextScore.stats(col("text")))
      .select(col("id"),
        TextScore.langIdFromStats(col("__st")).as("lang_pred"),
        TextScore.qualityScoreFromStats(col("__st")).as("quality"),
        TextScore.bpeishFromStats(col("__st")).as("bpe_tokens"),
        col("__st.ntoks").as("ntoks"),
        col("__st.nchars").as("nchars"))
      .orderBy(col("id")).collect()
    assert(hof.length == native.length)
    hof.zip(native).foreach { case (h, n) =>
      assert(h == n, s"text=${tricky(h.getLong(0).toInt)}")
    }
  }

  test("native stats ≡ HOF formulation on the documents fixture") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val hof = docs
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .withColumn("__masks", TextAnalysis.langMasks(col("__toks")))
      .select(col("doc_id"),
        TextAnalysis.langIdFromMasks(col("__masks")).as("lang_pred"),
        TextAnalysis.qualityScoreFromMasks(col("text"), col("__toks"),
          col("__masks")).as("quality"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpe_tokens"))
      .orderBy(col("doc_id")).collect()
    val native = docs
      .withColumn("__st", TextScore.stats(col("text")))
      .select(col("doc_id"),
        TextScore.langIdFromStats(col("__st")).as("lang_pred"),
        TextScore.qualityScoreFromStats(col("__st")).as("quality"),
        TextScore.bpeishFromStats(col("__st")).as("bpe_tokens"))
      .orderBy(col("doc_id")).collect()
    assert(hof.length == native.length && hof.nonEmpty)
    hof.zip(native).foreach { case (h, n) => assert(h == n) }
  }

  test("interpreted eval matches codegen") {
    // force the interpreted path by evaluating through a filter that Spark
    // can't codegen as a whole stage: compare collected results instead —
    // eval() and doGenCode() share TextScorer.score, so assert stats on a
    // handful of rows via direct expression evaluation
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val e = graft.functions.TextScore(Literal(UTF8String.fromString(
      "\tthe café and,punct 12ab_c  ")))
    val row = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    // trim strips spaces only → "\tthe café and,punct 12ab_c": fields are
    // ["", "the", "café", "and,punct", "12ab_c"] (leading tab ⇒ empty field)
    assert(row.getInt(0) == 5) // ntoks
    assert(row.getLong(1) == 0 + 3 + 4 + 9 + 6) // toklen in chars
    assert(row.getInt(2) == 1) // punct: the comma
    assert(row.getInt(3) == 28) // nchars of the raw string
    // bpeish: words [the, caf, and, punct, 12ab_c] + é + comma = 7
    assert(row.getInt(4) == 7)
    assert(row.getInt(5) == 1) // h_en: "the"
  }
}
