package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Search, TextIndex}

/** The index-served BM25 statistics read (Search.indexedStats): one
  * driver read per request, no Spark job, scored as literals. Job
  * counts come from a listener ([[SparkSpec.jobsOf]]), never from wall
  * time; scores must stay bit-identical to the scan paths. */
class IndexedStatsSpec extends SparkSpec {

  private lazy val ix: TextIndex.Loaded =
    TextIndex.build(Tables.documents(spark, sf), Scratch.dir("stats-ix"))

  private def same(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq)
    val as = a.collect().map(_.toSeq).toSeq
    val bs = b.collect().map(_.toSeq).toSeq
    assert(as == bs, s"first diff: ${as.diff(bs).take(2)} vs ${bs.diff(as).take(2)}")
  }

  /** The jobs of one warm request: the frame is built and collected
    * inside the count, after a first run filled the handle's schemas. */
  private def warmJobs(request: => DataFrame): Seq[Seq[String]] = {
    request.collect()
    jobsOf { request.collect(); () }
  }

  // Warm jobs per request before the statistics became a driver read
  // (sf0.001, local[4], 4 shuffle partitions), when they were a
  // broadcast subtree costing three jobs: the dictionary aggregate's
  // shuffle, the corpus broadcast of its cross join and the broadcast
  // of the joined row.
  private val SubtreeBm25Indexed = 6
  private val SubtreeBoosting = 5
  private val SubtreeMatchBoolPrefix = 7

  test("a warm index-served request reads its statistics without a Spark job") {
    def search = Search.searchBm25Indexed(spark, ix, Seq("table", "spark"), k = 20)
    // the bucket-local postings aggregate and the top-k, in one job:
    // nothing else
    val jobs = warmJobs(search)
    assert(jobs.size == 1, jobs)
    // building the frame reads the statistics, and launches no job
    assert(jobsOf { search; () }.isEmpty)
    val bm25 = warmJobs(Search.bm25Indexed(spark, ix, "spark"))
    assert(bm25.size == SubtreeBm25Indexed - 3, bm25)
    val boosting = warmJobs(Search.boosting(spark, ix, "spark", "slow"))
    assert(boosting.size == SubtreeBoosting - 3, boosting)
    // its two legs meet in a full-outer doc_id join that the bucketed
    // postings co-partition: the statistics' three jobs and the legs'
    // three shuffle jobs are all gone
    val prefix = warmJobs(
      Search.matchBoolPrefix(spark, ix, Seq("merge"), "ba", k = 10))
    assert(prefix.size == SubtreeMatchBoolPrefix - 6, prefix)
  }

  test("an addSegment through a held handle is visible to its next request") {
    val docs = Tables.documents(spark, sf)
    val held = TextIndex.build(docs.filter(col("doc_id") % 3 =!= 0),
      Scratch.dir("stats-grown"))
    val terms = Seq("table", "spark", "merge")
    val before = Search.searchBm25Indexed(spark, held, terms, k = 20)
      .collect().toSeq
    TextIndex.addSegment(held, docs.filter(col("doc_id") % 3 === 0))
    val after = Search.searchBm25Indexed(spark, held, terms, k = 20)
    // the grown corpus is the whole table: the scan twin over it
    same(after, Search.searchBm25(spark, sf, terms, k = 20))
    assert(after.collect().toSeq != before)
  }

  test("a query term absent from the dictionary scores bit-identically (df 0)") {
    val terms = Seq("table", "zzz_not_a_term", "spark")
    same(Search.searchBm25Indexed(spark, ix, terms, k = 20),
      Search.searchBm25(spark, sf, terms, k = 20))
  }

  test("an index over an empty corpus answers with no rows") {
    // its corpus row has n 0 and a null avgdl
    val empty = TextIndex.build(Tables.documents(spark, sf).filter(lit(false)),
      Scratch.dir("stats-empty"))
    assert(Search.searchBm25Indexed(spark, empty, Seq("table"), k = 20)
      .collect().isEmpty)
    assert(Search.explainBm25(spark, empty, "table").collect().isEmpty)
  }

  test("a term's df summed over several dictionary rows scores bit-identically") {
    val split = TextIndex.build(Tables.documents(spark, sf),
      Scratch.dir("stats-split"))
    // every df > 1 split over two rows of the same term
    val dict = split.termDf(spark).localCheckpoint()
    dict.filter(col("df") > 1)
      .select(col("term"), explode(array(col("df") - 1, lit(1L))).as("df"))
      .unionByName(dict.filter(col("df") <= 1))
      .write.mode("overwrite").parquet(s"${split.dir}/term_df")
    assert(split.termDf(spark).count() > dict.count())
    val terms = Seq("table", "spark", "merge")
    same(Search.searchBm25Indexed(spark, split, terms, k = 20),
      Search.searchBm25(spark, sf, terms, k = 20))
  }
}
