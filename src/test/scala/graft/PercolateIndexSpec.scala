package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Percolate

/** The percolator's candidate pre-selection: the indexed path must be
  * result-identical to the nested-loop path (the index is a necessary
  * condition, never a filter on semantics), and on a large stored-query
  * set it must actually prune — the point of the index is that a 100 TB
  * corpus against thousands of alerting queries evaluates a few
  * candidates per doc, not |docs|×|queries| pairs. */
class PercolateIndexSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf)

  /** (docs×queries evaluated by the nested loop, pairs the index would
    * evaluate) — the pre-selection win of the live
    * [[Percolate.indexSpec]], measured over the live
    * [[Percolate.tokenized]] analysis. */
  private def evaluationCounts(docs: DataFrame, qs: Seq[Percolate.StoredQuery],
                               df: Map[String, Long] = Map.empty,
                               conjunctionTerms: Int = 2): (Long, Long) = {
    // ONE aggregate serves both counts, and the sum is null-guarded:
    // over zero docs it aggregates to null, which reports (0, 0)
    val r = Percolate.tokenized(docs).agg(count(lit(1)).as("n_docs"),
      sum(size(graft.functions.expressions
        .candidate_queries(col("toks"),
          Percolate.indexSpec(qs, df, conjunctionTerms)))).as("n"))
      .head()
    val full = r.getLong(0) * qs.length
    val cand = if (r.isNullAt(1)) 0L else r.getLong(1)
    (full, cand)
  }

  /** 1000 deterministic stored queries over a vocabulary: two-thirds
    * must-queries, a quarter should-queries, a sliver of residual
    * match-unless queries with no necessary term. */
  private def fixture(vocab: Seq[String]): Seq[Percolate.StoredQuery] = {
    val v = vocab.length
    (0 until 1000).map { i =>
      val a = vocab(i % v); val b = vocab((i * 7 + 3) % v)
      val c = vocab((i * 13 + 5) % v)
      i % 12 match {
        case k if k < 8 => // must + must_not
          (i.toLong, Seq(a, b), Seq(c), Seq.empty[String], 0)
        case k if k < 11 => // pure should with a floor
          (i.toLong, Seq.empty[String], Seq.empty[String], Seq(a, b, c), 2)
        case _ => // residual: no necessary condition
          (i.toLong, Seq.empty[String], Seq(a), Seq.empty[String], 0)
      }
    }
  }

  /** Stored queries over the real corpus' own (tiny, ~31-term) vocab —
    * every query term actually occurs, so the equality check exercises
    * dense hit sets. */
  private lazy val corpusFixture: Seq[Percolate.StoredQuery] =
    fixture(docs
      .select(explode(array_distinct(
        graft.functions.Analyzers.tokenize(lower(col("text"))))).as("t"))
      .groupBy("t").count()
      .orderBy(desc("count"), asc("t"))
      .limit(200).collect().map(_.getString(0)).toSeq)

  /** A synthetic sparse corpus (2000-term vocabulary, 30 tokens/doc) —
    * the realistic regime for the PRUNING claim: the driver corpus'
    * 31-term vocabulary puts nearly every term in nearly every doc, so
    * no term index could prune it. */
  private lazy val sparseVocab: Seq[String] = (0 until 2000).map(i => s"w$i")
  private lazy val sparseDocs = {
    import spark.implicits._
    (0 until 500).map { i =>
      val text = (0 until 30)
        .map(j => sparseVocab(((i * 31 + j * 17 + i * j) % 7919) % 2000))
        .mkString(" ")
      (i.toLong, text)
    }.toDF("doc_id", "text")
  }

  test("indexed percolate equals the nested-loop percolate on 1000 queries") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2))
    for ((corpus, qs) <- Seq((docs, corpusFixture),
                             (sparseDocs, fixture(sparseVocab)))) {
      val full = Percolate.percolate(corpus, qs).collect().map(key).toSet
      val idx = Percolate.percolateIndexed(corpus, qs).collect().map(key).toSet
      assert(full.nonEmpty, "fixture must produce hits to be meaningful")
      assert(idx == full)
    }
  }

  test("candidate pre-selection prunes most of the evaluation pairs") {
    val qs = fixture(sparseVocab)
    val (full, cand) = evaluationCounts(sparseDocs, qs)
    assert(full == 500L * 1000)
    // residual (no-necessary-term) queries are always-candidates by
    // construction — subtract that floor; the INDEXABLE queries must
    // prune to under 10% of their pairs
    val residualFloor =
      qs.count { case (_, m, _, sh, ms) =>
        m.isEmpty && (ms == 0 || sh.isEmpty) } * 500L
    assert((cand - residualFloor) < (full - residualFloor) / 10,
      s"index evaluated $cand of $full pairs (floor $residualFloor) — " +
      "no real pruning")
  }

  /** Skewed regime for the df-based must-term choice: 40 COMMON terms
    * with long names (in ~every doc) and 2000 RARE terms with short
    * names (a couple of docs each). Every must-query pairs one common
    * with one rare term, so the length-as-rarity proxy always picks the
    * WRONG (common) term while real df statistics pick the rare one —
    * the adversarial case for the heuristic the round-6 index shipped
    * with. */
  private lazy val skewVocabCommon =
    (0 until 40).map(i => s"commonheadterm$i")
  private lazy val skewVocabRare = (0 until 2000).map(i => s"r$i")
  private lazy val skewDocTokens: Seq[(Long, Seq[String])] =
    (0 until 500).map { i =>
      val common = (0 until 10).map(j => skewVocabCommon((i + j * 3) % 40))
      val rare = Seq(skewVocabRare((i * 7) % 2000),
        skewVocabRare((i * 13 + 1) % 2000))
      (i.toLong, (common ++ rare).distinct)
    }
  private lazy val skewDocs = {
    import spark.implicits._
    skewDocTokens.map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
  }
  /** Real df over the skew corpus, computed from the same token sets. */
  private lazy val skewDf: Map[String, Long] = skewDocTokens
    .flatMap(_._2.distinct).groupBy(identity)
    .map { case (t, xs) => t -> xs.size.toLong }
  private def skewFixture(n: Int): Seq[Percolate.StoredQuery] =
    (0 until n).map { i =>
      (i.toLong, Seq(skewVocabCommon(i % 40), skewVocabRare(i % 2000)),
        Seq(skewVocabRare((i * 3 + 7) % 2000)), Seq.empty[String], 0)
    }

  test("df-based must-term choice beats the length heuristic on 10k skewed queries") {
    // conjunctionTerms = 1 isolates the RANKING claim: with the
    // two-term intersection on, both rankings collapse to the same
    // (tiny) candidate set on this fixture and the comparison is moot
    val qs = skewFixture(10000)
    val (full, byLength) = evaluationCounts(skewDocs, qs,
      conjunctionTerms = 1)
    val (_, byDf) = evaluationCounts(skewDocs, qs, skewDf,
      conjunctionTerms = 1)
    assert(full == 500L * 10000)
    // the length proxy keys on the common term → candidate sets the
    // size of that term's posting list; df keys on the rare term
    assert(byDf * 5 < byLength,
      s"df-based index evaluated $byDf pairs vs $byLength by length — " +
      "no measured shrink")
    // and the df-indexed path is still result-identical
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val fullHits = Percolate.percolate(skewDocs, qs).collect().map(key).toSet
    val idxHits =
      Percolate.percolateIndexed(skewDocs, qs, skewDf).collect().map(key).toSet
    assert(fullHits.nonEmpty && idxHits == fullHits)
  }

  test("dfForQueries collects only the query terms' rows") {
    import spark.implicits._
    val termDf = skewDf.toSeq.toDF("term", "df")
    val qs = skewFixture(50)
    val m = Percolate.dfForQueries(termDf, qs)
    val wanted = qs.flatMap { case (_, mu, _, sh, _) => mu ++ sh }.toSet
    assert(m.keySet.subsetOf(wanted))
    assert(m(skewVocabCommon(0)) == skewDf(skewVocabCommon(0)))
  }

  /** Mid-frequency regime for CONJUNCTION pre-selection: 100 terms
    * each in ~10% of docs. A single-term key leaves candidate sets at
    * ~10% of the corpus no matter which term it picks — rarity ranking
    * can't help when there are no rare terms — while requiring BOTH
    * must terms intersects two ~10% posting lists to ~1%:
    * the multiplicative shrink, measured. */
  private lazy val midVocab = (0 until 100).map(i => s"mid$i")
  private lazy val midDocs = {
    import spark.implicits._
    (0 until 500).map { i =>
      val toks = (0 until 10)
        .map(j => midVocab(((i * 13 + j * 29 + i * j) % 997) % 100))
        .distinct
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
  }
  private def midFixture(n: Int): Seq[Percolate.StoredQuery] =
    (0 until n).map { i =>
      val a = i % 100
      val b = { val x = (i * 41 + 17) % 100; if (x == a) (x + 1) % 100 else x }
      (i.toLong, Seq(midVocab(a), midVocab(b)),
        Seq.empty[String], Seq.empty[String], 0)
    }

  test("two-term conjunction shrinks candidates multiplicatively vs single-term") {
    val qs = midFixture(10000)
    val (full, single) = evaluationCounts(midDocs, qs,
      conjunctionTerms = 1)
    val (_, conj) = evaluationCounts(midDocs, qs,
      conjunctionTerms = 2)
    assert(full == 500L * 10000)
    // single-term candidates ≈ |posting(rarest)| ≈ 10% of pairs; the
    // intersection must cut that by a further multiple
    assert(conj * 3 < single,
      s"conjunction evaluated $conj pairs vs $single single-term — " +
      "no multiplicative shrink")
    // and the conjunction-indexed path is still result-identical
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val fullHits = Percolate.percolate(midDocs, qs).collect().map(key).toSet
    val idxHits = Percolate.percolateIndexed(midDocs, qs).collect()
      .map(key).toSet
    assert(fullHits.nonEmpty && idxHits == fullHits)
  }

  test("the 5-query driver fixture matches across both paths too") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val full = Percolate.percolate(docs).collect().map(key).toSet
    val idx = Percolate.percolateIndexed(docs).collect().map(key).toSet
    assert(idx == full && full.nonEmpty)
  }
}
