package graft

import org.apache.spark.sql.functions._
import graft.operators.Prune

class PruneSpec extends SparkSpec {
  private def urgent = Tables.orders(spark, sf)
    .filter(col("o_orderpriority") === "1-URGENT")

  test("rank bucketing makes the skewed dim z-orderable (equi-depth)") {
    val evRaw = Tables.events(spark, sf)
    // raw `value` is exponentially skewed; rank buckets are equi-depth
    // by construction, so ANY contiguous bucket box is selective
    val vb = Prune.rankBucket(evRaw, "value", buckets = 64)
    val ev = evRaw.select(col("event_id"),
      (col("user_id") % 256L).as("ua"), vb.as("vb"))
    val n = ev.count()
    val inBox = ev.filter(col("vb") <= 15).count()
    assert(math.abs(inBox.toDouble / n - 0.25) < 0.10,
      s"first-quartile box holds $inBox of $n rows - not equi-depth")
  }

  test("bloom functions are SQL-callable with a scalar-subquery build") {
    graft.functions.GraftFunctions.register(spark)
    Tables.lineitem(spark, sf).createOrReplaceTempView("li_bf")
    Tables.orders(spark, sf).createOrReplaceTempView("ord_bf")
    val n = spark.sql(
      """SELECT count(*) FROM li_bf
         WHERE might_contain((SELECT bloom_filter_agg(xxhash64(o_orderkey))
                              FROM ord_bf WHERE o_orderpriority = '1-URGENT'),
                             xxhash64(l_orderkey))""").head().getLong(0)
    val exact = Tables.lineitem(spark, sf)
      .join(urgent.select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    val total = Tables.lineitem(spark, sf).count()
    assert(n >= exact && n < total)
  }
}
