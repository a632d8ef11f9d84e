package graft

import org.apache.spark.sql.functions._
import graft.operators.{Search, TweetFixture}

/** The reference's one search query (kuko6/tweets-elastic
  * `src/used_queries/elastic_queries.json:1-46`) executed against the
  * reference-schema documents: weighted nested match on
  * context_annotations.domain.name, numeric range filters on the
  * author, exists(links.url), score-ordered. */
class SearchSpec extends SparkSpec {

  lazy val docs = TweetFixture.docs(spark, withAnalyzers = false).cache()

  test("the elastic_queries.json query: filters + weighted should + ranking") {
    val matchDomain = exists(col("context_annotations"),
      a => a.getField("domain").getField("name").contains("News"))
    val hits = docs
      .filter(col("author.following_count") > 100 &&
        col("author.followers_count") > 5 &&
        exists(col("links"), l => l.getField("url").isNotNull))
      .withColumn("score", when(matchDomain, lit(5.0)).otherwise(lit(0.0)))
      .orderBy(col("score").desc, col("id"))
      .collect()
    // only the main tweet passes the filters (parent has no links);
    // its nested domain matches → weight 5
    assert(hits.length == 1)
    assert(hits.head.getAs[Long]("id") == TweetFixture.mainId)
    assert(hits.head.getAs[Double]("score") == 5.0)
  }

  test("pushed-down scored search equals the docs-based plan") {
    // same scoring, two plans: over the materialized nested corpus vs
    // straight off the raw tables (the 100 TB path used by f1)
    val overDocs = Search.scoredSearch(
        graft.operators.Denorm.docs(spark, sf), "NATION_1", 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pushed = Search.scoredSearchRaw(spark, sf, "NATION_1", 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pushed.toSeq == overDocs.toSeq)
  }

  test("nested match respects analyzed-text semantics") {
    val m = docs.filter(exists(col("context_annotations"),
      a => array_contains(
        graft.functions.Analyzers.englando(a.getField("entity").getField("name")),
        graft.functions.PorterStemmer.stem("conflicts"))))
    // englando stems "Conflicts" -> "conflict" and matches the
    // tokenized entity name "Russo-Ukrainian conflict"
    assert(m.count() == 1)
  }

  test("significant terms surfaces the category-enriched token") {
    import spark.implicits._
    // 'zebra' appears in every cat-a doc and nowhere else; common
    // filler is uniform across categories, so JLH must rank zebra
    // first for a and never surface it for b
    val corpus = ((1 to 20).map(i => (s"a", i.toLong,
        s"zebra common word filler $i")) ++
      (21 to 40).map(i => (s"b", i.toLong,
        s"common word filler other $i"))).toDF("cat", "doc_id", "text")
    val top = Search.significantTerms(corpus, "cat", k = 2)
    val aTop = top.filter(col("cat") === "a" && col("rk") === 1)
      .select("token").head().getString(0)
    assert(aTop == "zebra")
    assert(top.filter(col("cat") === "b" && col("token") === "zebra")
      .count() == 0)
    // fuzzy match: one edit away hits, two stays out
    val fz = corpus.select(
      Search.fuzzyCount(graft.functions.Analyzers.tokenize(col("text")),
        "zebre", maxEdits = 1).as("n"))
    assert(fz.filter(col("n") > 0).count() == 20)
  }
}
