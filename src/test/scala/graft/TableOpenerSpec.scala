package graft

import org.apache.spark.GraftBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.operators.{AnnIndex, DedupIndex, Search, TextIndex}

/** The per-`Loaded` table opener (operators.ArtifactGen.Handle.open):
  * a table's schema is inferred on its first open only. Counts Spark
  * jobs by their call sites (the stage names), never wall time. */
class TableOpenerSpec extends SparkSpec {

  /** The stage names of every job `body` launches, one Seq per job.
    * The listener bus is drained before and after, so no other job's
    * events land in the record. */
  private def jobsOf(body: => Unit): Seq[Seq[String]] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.add(js.stageInfos.map(_.name)); ()
      }
    }
    assert(GraftBusShim.waitUntilListenerBusEmpty(sc, 30000))
    sc.addSparkListener(listener)
    try {
      body
      assert(GraftBusShim.waitUntilListenerBusEmpty(sc, 30000))
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  /** A job that infers a parquet schema: its stage is named after the
    * `spark.read.parquet` call. */
  private def inference(job: Seq[String]): Boolean =
    job.exists(_.startsWith("parquet at "))

  test("a second open of every Loaded table launches no Spark job") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 200)
    val text = TextIndex.build(docs, Scratch.dir("opener-text"))
    val dedup = DedupIndex.build(docs, Scratch.dir("opener-dedup"))
    val ann = AnnIndex.build(Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")),
      Scratch.dir("opener-ann"))
    val opens: Seq[() => DataFrame] = Seq(
      () => text.postings(spark), () => text.termDf(spark),
      () => text.shingles(spark), () => text.shingleDf(spark),
      () => text.doclen(spark), () => text.corpus(spark),
      () => dedup.fingerprints(spark), () => dedup.buckets(spark),
      () => dedup.shingleSets(spark),
      () => ann.ivf(spark), () => ann.pqCodes(spark),
      () => ann.ivfPqCodes(spark), () => ann.sq8(spark))
    // the first open of each table infers its schema — one job each
    val first = opens.map(o => jobsOf(o()))
    first.foreach(jobs => assert(jobs.count(inference) == 1, jobs))
    // every later open reuses that schema and launches nothing
    val second = jobsOf(opens.foreach(_()))
    assert(second.isEmpty, second)
  }

  test("warm index-served search requests launch no schema-inference job") {
    val ix = TextIndex.build(Tables.documents(spark, sf),
      Scratch.dir("opener-search"))
    def requests(): Unit = {
      Search.searchBm25Indexed(spark, ix, Seq("table", "spark"), k = 20)
        .collect()
      Search.phraseFromIndex(spark, ix, Seq("table", "scan")).collect()
      Search.phrasePrefixFromIndex(spark, ix, Seq("table"), "s").collect()
      ()
    }
    val cold = jobsOf(requests())
    assert(cold.exists(inference), cold)
    val warm = jobsOf(requests())
    assert(warm.nonEmpty)
    assert(!warm.exists(inference), warm)
  }
}
