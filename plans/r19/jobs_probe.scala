package graft

import org.apache.spark.GraftBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.DataFrame
import graft.operators.{Denorm, Search, TextIndex}
import scala.jdk.CollectionConverters._

/** Throwaway probe, run once per side in a scratch copy (not part of
  * the suite): the jobs one WARM request of each kind launches at
  * sf0.001, with each job's stages — id, task count (or "skipped" when
  * an earlier job of the request already ran it) and the SQL operator
  * scopes of its RDDs. A request's frame is built and
  * collected inside the count, after a first run filled the handle's
  * schemas. */
class JobsProbe extends SparkSpec {
  test("jobs per warm request") {
    val ix = TextIndex.build(Tables.documents(spark, sf),
      Scratch.dir("probe-ix"))
    val storeDir = Scratch.dir("probe-store")
    Denorm.docs(spark, sf).write.mode("overwrite").parquet(storeDir)
    val store = spark.read.parquet(storeDir)
    val requests: Seq[(String, () => DataFrame)] = Seq(
      "search.bm25 = searchBm25Indexed" ->
        (() => Search.searchBm25Indexed(spark, ix, Seq("table", "spark"), k = 20)),
      "search.phrase = phraseFromIndex" ->
        (() => Search.phraseFromIndex(spark, ix, Seq("table", "scan")).limit(20)),
      "search.prefix = phrasePrefixFromIndex" ->
        (() => Search.phrasePrefixFromIndex(spark, ix, Seq("table"), "s").limit(20)),
      "search.nested = scoredSearch" ->
        (() => Search.scoredSearch(store, "ASIA nation", k = 50)),
      "bm25Indexed" -> (() => Search.bm25Indexed(spark, ix, "spark")),
      "tfidfIndexed" -> (() => Search.tfidfIndexed(spark, ix, "spark")),
      "boosting" -> (() => Search.boosting(spark, ix, "spark", "slow")),
      "matchBoolPrefix" ->
        (() => Search.matchBoolPrefix(spark, ix, Seq("merge"), "ba", k = 10)),
      "explainBm25" -> (() => Search.explainBm25(spark, ix, "spark", k = 10)),
      "minShouldMatchIndexed" -> (() => Search.minShouldMatchIndexed(spark, ix,
        Seq("table", "spark", "merge"), minMatch = 2)),
      "rescoreIndexed" -> (() => Search.rescoreIndexed(spark, sf, ix,
        Seq("table", "scan"), "table scan")),
      "topHitsIndexed" -> (() => Search.topHitsIndexed(spark, sf, ix, "spark", k = 2)),
      "collapseIndexed" -> (() => Search.collapseIndexed(spark, sf, ix, "spark", k = 10)))
    val sc = spark.sparkContext
    val out = new StringBuilder
    requests.foreach { case (name, req) =>
      req().collect()
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[StageInfo]]()
      val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          jobs.add(js.stageInfos); ()
        }
        override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = {
          ran.add(ss.stageInfo.stageId); ()
        }
      }
      assert(GraftBusShim.waitUntilListenerBusEmpty(sc, 30000))
      sc.addSparkListener(listener)
      try {
        req().collect()
        assert(GraftBusShim.waitUntilListenerBusEmpty(sc, 30000))
      } finally sc.removeSparkListener(listener)
      // a stage an earlier job already ran is listed again, skipped
      val js = jobs.asScala.toSeq.map(_.map { s =>
        val scopes = s.rddInfos.flatMap(_.scope.map(_.name.trim)).distinct.sorted
        val how = if (ran.contains(s.stageId)) s"${s.numTasks} tasks" else "skipped"
        s"[stage ${s.stageId}, $how: ${scopes.mkString(" | ")}]"
      }.mkString(" "))
      out ++= s"$name: ${js.size} jobs\n"
      js.zipWithIndex.foreach { case (j, i) => out ++= s"  job ${i + 1}: $j\n" }
    }
    println("JOBS_PROBE_BEGIN\n" + out + "JOBS_PROBE_END")
  }
}
