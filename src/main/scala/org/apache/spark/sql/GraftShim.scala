package org.apache.spark.sql

import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.types.StructType

/** Bridge between the public API and Spark internals.
  *
  * Spark 4 moved the Expression-backed Column constructor behind
  * `private[sql] org.apache.spark.sql.classic.ExpressionUtils`; custom
  * scalar expressions (graft.functions.expressions) still need to cross
  * that boundary, so this one-file shim lives in the sql package.
  *
  * The public writer also buckets only into a catalog table, and a
  * path read carries no bucket spec. The two parquet calls below write and
  * read a hash-bucketed directory with no catalog table, through the same
  * `DataSource` plumbing `DataFrameWriter.save` and `DataFrameReader.load`
  * use: Spark's own bucket hash and bucket-file naming on the way out, a
  * bucketed relation (one scan task per bucket, co-partitioned with any
  * aggregate or join keyed on the bucket columns) on the way in.
  */
object GraftShim {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Write `df` as parquet under `path`, one file per (task, bucket),
    * each file sorted by `spec`'s sort columns. */
  def writeBucketed(df: DataFrame, path: String, mode: SaveMode,
                    spec: BucketSpec): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val cmd = DataSource(ds.sparkSession, "parquet", bucketSpec = Some(spec),
      options = Map("path" -> path)).planForWriting(mode, ds.logicalPlan)
    // a command runs when its Dataset is created
    classic.Dataset.ofRows(ds.sparkSession, cmd)
    ()
  }

  /** The parquet directory `path`, written by [[writeBucketed]] with
    * `spec`, read with `schema` (no inference) as a bucketed relation. */
  def readBucketed(spark: SparkSession, path: String, schema: StructType,
                   spec: BucketSpec): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    session.baseRelationToDataFrame(DataSource(session, "parquet",
      paths = Seq(path), userSpecifiedSchema = Some(schema),
      bucketSpec = Some(spec)).resolveRelation())
  }
}
