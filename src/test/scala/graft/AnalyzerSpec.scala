package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.Analyzers

/** Golden token-stream vectors from FIXTURES.md §C (derived from the
  * reference's `src/config/settings.json` analyzer definitions). */
class AnalyzerSpec extends SparkSpec {
  import spark.implicits._

  private def run(c: org.apache.spark.sql.Column, input: String): Seq[String] =
    Seq(input).toDF("v").select(c.as("out"))
      .head().getSeq[String](0)

  // Staged reference implementations of the fused pipelines: the
  // single-filter functions chained one stage per filter, in the
  // order `settings.json` lists them.
  private def englandoStaged(c: Column): Column = {
    import Analyzers._
    porterStemTokens(removeStopwords(lowercaseTokens(possessiveStem(
      tokenize(htmlStrip(c))))))
  }
  private def customNgramStaged(c: Column): Column = {
    import Analyzers._
    ngramTokens(asciiFoldTokens(lowercaseTokens(tokenize(htmlStrip(c)))))
  }
  private def customShinglesStaged(c: Column): Column = {
    import Analyzers._
    shingleTokens(asciiFoldTokens(lowercaseTokens(tokenize(htmlStrip(c)))))
  }

  test("englando: stem + stop + possessive + html_strip") {
    assert(run(Analyzers.englando($"v"), "The Foxes' <b>Running</b> houses")
      == Seq("fox", "run", "hous"))
  }

  test("custom_ngram: asciifold + 1..10-grams, length-major") {
    assert(run(Analyzers.customNgram($"v"), "Éva")
      == Seq("e", "v", "a", "ev", "va", "eva"))
  }

  test("custom_shingles: unigrams then concatenated bigrams") {
    assert(run(Analyzers.customShingles($"v"), "New York City")
      == Seq("new", "york", "city", "newyork", "yorkcity"))
  }

  test("keyword_lowercase") {
    assert(run(Analyzers.keywordLowercase($"v"), "Ukraine") == Seq("ukraine"))
  }

  test("tokenizer: empty and punctuation-only inputs") {
    assert(run(Analyzers.tokenize($"v"), "...!?") == Seq.empty)
    assert(run(Analyzers.tokenize($"v"), "don't stop") == Seq("don't", "stop"))
  }

  test("stopword filter keeps duplicates of non-stopwords") {
    assert(run(Analyzers.removeStopwords(Analyzers.tokenize(lower($"v"))),
      "the cat the cat") == Seq("cat", "cat"))
  }

  test("ngram respects maxGram") {
    val grams = run(Analyzers.ngramTokens(array(lit("abcdefghijkl")), 1, 10), "x")
    assert(grams.forall(_.length <= 10))
    assert(grams.count(_.length == 1) == 12)
    assert(grams.count(_.length == 10) == 3)
  }

  test("fused pipeline expressions equal the staged reference on real text") {
    val docs = Tables.documents(spark, sf).limit(200)
    def cmp(fused: org.apache.spark.sql.Column,
            staged: org.apache.spark.sql.Column): Unit = {
      val bad = docs.select(fused.as("f"), staged.as("s"))
        .filter(not(col("f") === col("s"))).count()
      assert(bad == 0L)
    }
    cmp(Analyzers.englando(col("text")), englandoStaged(col("text")))
    cmp(Analyzers.customNgram(col("text")), customNgramStaged(col("text")))
    cmp(Analyzers.customShingles(col("text")),
      customShinglesStaged(col("text")))
  }

  test("fused pipeline edge cases: possessives, accents, html, empties") {
    val f = Analyzers.englando($"v")
    assert(run(f, "The Foxes' <b>Running</b> houses") == Seq("fox", "run", "hous"))
    assert(run(f, "IT'S JOHN'S") == Seq("john"))
    assert(run(f, "") == Seq.empty)
    assert(run(Analyzers.customNgram($"v"), "Éva")
      == Seq("e", "v", "a", "ev", "va", "eva"))
    assert(run(Analyzers.customShingles($"v"), "solo") == Seq("solo"))
    assert(run(Analyzers.customShingles($"v"), "") == Seq.empty)
  }
}
