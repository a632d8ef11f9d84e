package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.TweetFixture
import graft.sources.Sink

/** The reference's full `main()` lifecycle (SURVEY.md §3.1,
  * kuko6/tweets-elastic `src/main.py:165-181`) as one flow:
  * index DDL → denormalize → bulk import with id routing → count →
  * search → scripted update (merge) → idempotent re-import. */
class IntegrationSpec extends SparkSpec {

  test("create index → import → count → search → update → reimport") {
    val tmp = Files.createTempDirectory("graft-e2e").toString

    // create_index (src/main.py:12-35): drop-if-exists + create
    Sink.dropIfExists(spark, "tweets")
    val docs = TweetFixture.docs(spark, withAnalyzers = false)

    // import_data (src/main.py:106-162): bulk write, id-routed shards
    val n = Sink.bulkWrite(spark, docs, "id", tmp, shards = 3)
    Sink.createTable(spark, "tweets", tmp)
    assert(spark.catalog.tableExists("tweets"))

    // _count (docs/protokol.md:643)
    assert(spark.table("tweets").count() == n && n == 2)

    // the search query (elastic_queries.json) over the index
    val hits = spark.table("tweets")
      .filter(exists(col("links"), l => l.getField("url").isNotNull))
      .withColumn("score", when(exists(col("context_annotations"),
          a => a.getField("domain").getField("name").contains("News")), lit(5.0))
        .otherwise(lit(0.0)))
      .orderBy(col("score").desc, col("id"))
    assert(hits.head().getAs[Long]("id") == TweetFixture.mainId)

    // scripted partial update (docs/protokol.md:596-611):
    // retweet_count += delta, merged and re-imported
    val deltas = spark.range(1).select(
      lit(TweetFixture.mainId).as("id"), lit(100).as("delta"))
    val updated = spark.table("tweets").as("t")
      .join(deltas.as("d"), col("t.id") === col("d.id"), "left")
      .withColumn("retweet_count",
        col("retweet_count") + coalesce(col("delta"), lit(0)))
      .drop("delta").drop(col("d.id"))
    val rt = updated.filter(col("id") === TweetFixture.mainId)
      .select("retweet_count").head().getInt(0)
    assert(rt == 6185) // 6085 + 100

    // idempotent re-import: same ids overwrite, count unchanged
    val tmp2 = Files.createTempDirectory("graft-e2e2").toString
    assert(Sink.bulkWrite(spark, updated, "id", tmp2, shards = 3) == n)
    assert(spark.read.parquet(tmp2).count() == n)

    Sink.dropIfExists(spark, "tweets")
  }

  test("dedup pipeline computes pairs once, reused by report and apply") {
    // the training-pipeline shape: the pair set is an expensive
    // intermediate — persist it and feed BOTH the dup report and the
    // shipped corpus from the same computation instead of re-running
    // the inverted-index join inside the apply step
    val docs = Tables.documents(spark, sf)
    val pairs = graft.operators.Dedup.jaccardPairs(docs, threshold = 0.5)
      .persist()
    try {
      val nDups = pairs.select("id_b").distinct().count() // report side
      val shipped = graft.operators.Dedup.applyDedup(docs, pairs)
      shipped.write.format("noop").mode("overwrite").save()
      assert(shipped.count() == docs.count() - nDups)
      val plan = shipped.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan") ||
        plan.contains("TableCacheQueryStage"), plan)
    } finally { pairs.unpersist(); () }
  }
}
