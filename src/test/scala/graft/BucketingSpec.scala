package graft

import org.apache.spark.sql.{DataFrame, GraftShim, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions._
import graft.operators.ArtifactGen

/** Plan-level proof that bucketing co-locates the join: two tables
  * bucketed+sorted on the join key join with NO shuffle exchange and
  * NO sort (bucket layout satisfies both requirements). The tables go
  * through the one bucket writer and reader the library uses
  * ([[ArtifactGen.writeBuckets]], `GraftShim.readBucketed`). */
class BucketingSpec extends SparkSpec {

  private def spec(key: String) = BucketSpec(8, Seq(key), Seq(key))

  /** `df` written into 8 buckets on `key` under a scratch directory,
    * read back as a bucketed relation. */
  private def bucketed(df: DataFrame, name: String, key: String): DataFrame = {
    val dir = Scratch.dir(name)
    ArtifactGen.writeBuckets(ArtifactGen.byBucket(df, spec(key)), dir,
      SaveMode.Overwrite, spec(key))
    GraftShim.readBucketed(spark, dir, df.schema, spec(key))
  }

  private lazy val bOrders =
    bucketed(Tables.orders(spark, sf), "b_orders", "o_orderkey")

  test("bucketed join plans with zero exchanges") {
    val bItems = bucketed(
      Tables.lineitem(spark, sf).groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("qty")),
      "b_items", "l_orderkey")
    val joined = bOrders
      .hint("merge") // force SMJ so the exchange question is meaningful
      .join(bItems, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("qty"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    assert(joined.count() > 0)
    // correctness identical to the unbucketed join
    val direct = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf).groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("qty")),
        col("o_orderkey") === col("l_orderkey"))
    assert(joined.count() == direct.count())
  }

  test("aggregation on the bucket key also avoids the shuffle") {
    val agg = bOrders.groupBy("o_custkey").count()
    val aggOnKey = bOrders.groupBy("o_orderkey").count()
    val planOnKey = aggOnKey.queryExecution.executedPlan.toString
    val planOffKey = agg.queryExecution.executedPlan.toString
    assert(!planOnKey.contains("Exchange"))
    assert(planOffKey.contains("Exchange")) // sanity: off-key does shuffle
  }

  test("a fresh session resolves z3's bucketed layout with no job") {
    SparkEntry.bucketedTablesFor(spark, sf)
    // a new session on the same SparkContext with its own shared state:
    // an empty catalog, as in a later session of a long-lived JVM
    spark.sparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val fresh = SparkSession.builder().getOrCreate()
    SparkSession.setDefaultSession(spark)
    SparkSession.setActiveSession(spark)
    assert(fresh ne spark)
    var tables: (DataFrame, DataFrame) = null
    val jobs = jobsOf { tables = SparkEntry.bucketedTablesFor(fresh, sf) }
    assert(jobs.isEmpty, s"resolving the persisted layout ran jobs: $jobs")
    val (o, l) = tables
    val plan = o.join(l.hint("merge"), col("o_orderkey") === col("l_orderkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"), plan)
  }

  test("an empty input yields a readable bucketed directory on any key") {
    val empty = Tables.orders(spark, sf).filter(lit(false))
      .select(col("o_custkey"), col("o_orderstatus"))
    val read = bucketed(empty, "b_empty", "o_custkey")
    assert(read.columns.toSeq == Seq("o_custkey", "o_orderstatus"))
    assert(read.count() == 0L)
    assert(!read.groupBy("o_custkey").count()
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }
}
