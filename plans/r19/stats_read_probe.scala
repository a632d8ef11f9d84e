package graft

import org.apache.spark.sql.functions._
import graft.operators.{Search, TextIndex}

/** Throwaway probe (not part of the suite), run in a scratch copy of
  * the change with `stats_read_probe.patch` applied: that patch makes
  * `Search.searchBm25Indexed` pick its statistics read from the system
  * property `stats.mode` — `parent` (the broadcast subtree), `union`
  * (one collect of the corpus table unioned with the dictionary slice:
  * one Spark job, values as literals), `bcast` (a one-level broadcast
  * of that union), `driver` (the parquet-hadoop driver read, no job,
  * values as literals) or `param` (the same driver read, values as
  * non-folded 0-arg UDFs, which is what `expressions.bound_double`
  * does in the change). Warm requests at sf0.01 with the modes
  * interleaved per iteration; a phrase request is the control.
  *
  * Runs 1 and 2 timed fixed term sets (`table spark` and friends,
  * modes union/driver/bcast, then parent/union/driver); run 3, this
  * file, times varied term sets drawn from the 25 most frequent terms
  * next to a fixed one. Every checked reply must equal the scan path's. */
class ZzTimingProbe extends SparkSpec {
  test("timing") {
    val dir = sf.stripSuffix("sf0.001") + "sf0.01"
    val ix = TextIndex.build(Tables.documents(spark, dir), Scratch.dir("tp-ix"))
    val dict = ix.termDf(spark).orderBy(col("df").desc, col("term")).collect().map(_.getString(0))
    val rng = new scala.util.Random(7)
    val sets = (0 until 200).map(_ => Seq.fill(1 + rng.nextInt(3))(dict(rng.nextInt(math.min(25, dict.length)))).distinct)
    val modes = Seq("parent", "driver", "param")
    val times = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    for (it <- 0 until 40; m <- modes) {
      sys.props("stats.mode") = m
      val terms = sets(it)
      val t = System.nanoTime()
      val got = Search.searchBm25Indexed(spark, ix, terms, k = 20).collect().toSeq
      val ms = (System.nanoTime() - t) / 1e6
      if (it >= 5) times(s"$m/varied") ::= ms
      if (it % 10 == 0) assert(got == Search.searchBm25(spark, dir, terms, k = 20).collect().toSeq, m)
      val t2 = System.nanoTime()
      Search.searchBm25Indexed(spark, ix, Seq("table", "spark"), k = 20).collect()
      if (it >= 5) times(s"$m/fixed") ::= (System.nanoTime() - t2) / 1e6
      val t3 = System.nanoTime()
      Search.phraseFromIndex(spark, ix, Seq("table", "spark")).limit(20).collect()
      if (it >= 5) times(s"$m/phrase") ::= (System.nanoTime() - t3) / 1e6
    }
    times.toSeq.sortBy(_._1).foreach { case (k, xs) => val s = xs.sorted; println(f"TIMING $k%-16s p50=${s(s.size / 2)}%.1f n=${s.size}") }
  }
}
