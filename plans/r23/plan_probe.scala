package graft

import graft.operators.{Search, TextIndex}

/** Throwaway probe, run once per side in a scratch copy (not part of
  * the suite): the executed plan of the timed bm25 request,
  * `searchBm25Indexed`, with 1 and 3 terms at sf0.001, expression ids
  * and the scratch index path blanked so two checkouts compare as
  * text. */
class PlanProbe extends SparkSpec {
  test("executed plan of searchBm25Indexed") {
    val ix = TextIndex.build(Tables.documents(spark, sf),
      Scratch.dir("plan-probe-ix"))
    val out = new StringBuilder
    Seq(Seq("spark"), Seq("table", "spark", "merge")).foreach { terms =>
      val df = Search.searchBm25Indexed(spark, ix, terms, k = 20)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .replaceAll("#\\d+L?", "#")
        .replace(ix.dir, "<ix>")
      out ++= s"terms ${terms.mkString(",")}:\n$plan\n"
    }
    println("PLAN_PROBE_BEGIN\n" + out + "PLAN_PROBE_END")
  }
}
