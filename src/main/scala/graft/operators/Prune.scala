package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-skipping layout keys: the values a layout clusters by so that
  * a selective scan skips whole files, the cheapest win there is at
  * 100 TB.
  */
object Prune {

  /** Morton (Z-order) interleave of two non-negative bucketed dims:
    * bit i of `a` lands at position 2i+1, bit i of `b` at 2i. Rows
    * close in z-value are close in BOTH dims, so sorting the layout by
    * z clusters the file-level min/max ranges of both columns at once —
    * the multi-dimensional data-skipping layout (Delta/Iceberg
    * Z-ORDER). A linear sort clusters only its leading column; a
    * predicate on the second dim then intersects EVERY file.
    * Plain builtin bit ops — codegen'd, and replayed verbatim by the
    * DuckDB oracle (`zvalueSql`). */
  def zvalue(a: Column, b: Column, bits: Int = 8): Column =
    (0 until bits).flatMap { i =>
      Seq(shiftleft(shiftrightunsigned(a.cast("long"), i).bitwiseAND(1L),
            2 * i + 1),
          shiftleft(shiftrightunsigned(b.cast("long"), i).bitwiseAND(1L),
            2 * i))
    }.reduce(_ bitwiseOR _)

  /** The matching DuckDB replay of [[zvalue]] for oracle SQL. */
  def zvalueSql(a: String, b: String, bits: Int = 8): String =
    (0 until bits).flatMap { i =>
      Seq(s"((($a >> $i) & 1) << ${2 * i + 1})",
          s"((($b >> $i) & 1) << ${2 * i})")
    }.mkString("(", " | ", ")::BIGINT")

  /** Equi-depth (rank) bucketing for a skewed numeric dim — the prep
    * step that makes z-ordering real data work. Raw value ranges are
    * useless as Morton coordinates when the distribution is skewed
    * (a box over raw values holds 70% of the rows); production
    * z-ordering therefore interleaves RANKS, not values. Bucket
    * boundaries come from `approxQuantile` (Greenwald–Khanna, one pass,
    * bounded driver state — the x5/a6 sketch discipline); the bucket id
    * is then a row-local count of boundaries ≤ value over a ~`buckets`-
    * element literal array: scan-side, codegen'd, no shuffle. */
  def rankBucket(df: DataFrame, dim: String, buckets: Int = 64,
                 err: Double = 0.01): Column = {
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds = df.stat.approxQuantile(dim, probs, err).distinct.sorted
    val arr = typedlit[Seq[Double]](bounds.toSeq)
    size(filter(arr, b => b <= col(dim).cast("double"))).cast("long")
  }
}
