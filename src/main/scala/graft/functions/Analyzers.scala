package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis pipelines — the Spark re-expression of the reference's
  * Elasticsearch analyzers (kuko6/tweets-elastic
  * `src/config/settings.json:7-69`, bound to fields in
  * `src/config/mapping.json:5-8,23-54,88-91,118-152`). Each stage is a
  * `Column => Column` over either a raw string or a token array
  * (`ArrayType(StringType)`); the 4 named pipelines compose them exactly
  * as the reference's `analyzer` definitions do (SURVEY.md §2.8 T1–T11).
  *
  * Everything except Porter stemming and ASCII-folding is built from
  * codegen'd builtins + higher-order functions; those two are custom
  * Catalyst expressions ([[expressions]]).
  */
object Analyzers {

  /** T1 `html_strip` char filter (`settings.json:12,23,33`). */
  def htmlStrip(c: Column): Column = regexp_replace(c, "<[^>]*>", " ")

  /** T2 `standard` tokenizer (`settings.json:11,22,32`): maximal runs
    * of letters/digits with apostrophes allowed word-internally
    * (UAX#29-ish — "don't" stays one token, edge quotes drop).
    *
    * One `regexp_extract_all` pass per value — NOT split + a per-token
    * trim lambda: tokenization sits under every analyzer/dedup/stats
    * operator, and the lambda formulation costs one interpreted regex
    * call per token (measured 26 s for 5 k docs at sf0.1 vs ~1 s for
    * this form). */
  val tokenPattern = "[\\p{L}\\p{N}](?:[\\p{L}\\p{N}'’]*[\\p{L}\\p{N}])?"
  def tokenize(c: Column): Column =
    regexp_extract_all(c, lit(tokenPattern), lit(0))

  /** T3 `keyword` tokenizer (`settings.json:42`): whole value = 1 token. */
  def keywordTokenize(c: Column): Column = array(c)

  /** T4 `lowercase` token filter (`settings.json:15,26,35,43`). */
  def lowercaseTokens(toks: Column): Column = transform(toks, t => lower(t))

  /** T5 `asciifolding` token filter (`settings.json:26,36`). */
  def asciiFoldTokens(toks: Column): Column =
    transform(toks, t => expressions.ascii_fold(t))

  /** Lucene's `_english_` stopword set, used by the reference's
    * `english_stop` filter (`settings.json:60-63`). */
  val englishStopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with")

  /** T6 `english_stop` token filter (`settings.json:16,60-63`).
    * `filter` + `isin`, not `array_except` — the latter would also
    * dedupe, which the ES stop filter does not. */
  def removeStopwords(toks: Column): Column =
    filter(toks, t => !t.isin(englishStopwords: _*))

  /** T7 `english_possessive_stemmer` (`settings.json:56-59`): strip 's. */
  def possessiveStem(toks: Column): Column =
    transform(toks, t => regexp_replace(t, "(?i)['’]s$", ""))

  /** T8 `english_stemmer` / Porter (`settings.json:64-67`). */
  def porterStemTokens(toks: Column): Column =
    transform(toks, t => expressions.porter_stem(t))

  /** T9 `ngram` token filter, min=1 max=10 (`settings.json:47-51`):
    * every min..max-char substring of each token, length-major order
    * (FIXTURES.md §C golden vector). Pure higher-order functions — no
    * UDF, no explode — so it composes inside a single projection. */
  def ngramTokens(toks: Column, minGram: Int = 1, maxGram: Int = 10): Column =
    flatten(transform(filter(toks, t => length(t) >= minGram), t =>
      flatten(transform(
        sequence(lit(minGram), least(lit(maxGram), length(t))),
        n => transform(
          sequence(lit(1), length(t) - n + 1),
          s => t.substr(s, n))))))

  /** T10 `shingle` filter with `token_separator: ""`
    * (`settings.json:52-55`): unigrams followed by concatenated
    * word-bigrams ("new york" → newyork), FIXTURES.md §C order. */
  def shingleTokens(toks: Column): Column = {
    val n = size(toks)
    val bigrams = zip_with(
      slice(toks, lit(1), greatest(n - 1, lit(0))),
      slice(toks, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat(a, b))
    concat(toks, bigrams)
  }

  // ---- T11: the 4 named pipelines (`settings.json:9-44`) ----
  // Each pipeline's token-filter chain runs as ONE fused codegen'd
  // expression (expressions.EnglishChain / FoldNgrams / FoldShingles):
  // the staged single-filter functions above stay as the semantic
  // reference (AnalyzerSpec chains them and asserts fused == staged),
  // but higher-order-function chains are CodegenFallback and re-walk
  // the token array once per stage — the fused form is one primitive
  // loop inside whole-stage codegen.

  /** `englando` (`settings.json:9-19`):
    * html_strip → standard → possessive → lowercase → stop → porter. */
  def englando(c: Column): Column =
    expressions.english_chain(tokenize(htmlStrip(c)))

  /** `custom_ngram` (`settings.json:20-29`):
    * html_strip → standard → lowercase → asciifold → ngram(1,10). */
  def customNgram(c: Column, minGram: Int = 1, maxGram: Int = 10): Column =
    expressions.fold_ngrams(tokenize(htmlStrip(c)), minGram, maxGram)

  /** `custom_shingles` (`settings.json:30-39`):
    * html_strip → standard → lowercase → asciifold → shingle. */
  def customShingles(c: Column): Column =
    expressions.fold_shingles(tokenize(htmlStrip(c)))

  /** `keyword_lowercase` (`settings.json:40-44`): keyword → lowercase. */
  def keywordLowercase(c: Column): Column =
    lowercaseTokens(keywordTokenize(c))
}
