package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, DedupIndex, Search, TextIndex}

/** The per-`Loaded` table opener (operators.ArtifactGen.Handle.open):
  * a table's schema is inferred on its first open only. Counts Spark
  * jobs by their call sites (the stage names, SparkSpec.jobsOf), never
  * wall time. */
class TableOpenerSpec extends SparkSpec {

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

  test("a second Tables.documents call launches no Spark job") {
    val dir = Scratch.dir("opener-tables")
    Tables.documents(spark, sf).write.parquet(s"$dir/documents.parquet")
    val first = jobsOf { Tables.documents(spark, dir); () }
    assert(first.count(inference) == 1, first)
    val second = jobsOf { Tables.documents(spark, dir); () }
    assert(second.isEmpty, second)
  }

  test("a table rewritten with a different schema is inferred again") {
    val dir = Scratch.dir("opener-rewrite")
    val s = spark
    import s.implicits._
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    assert(Tables.documents(spark, dir).columns.toSeq == Seq("doc_id", "text"))
    Seq((1L, "a", 2.0)).toDF("doc_id", "text", "score")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val reread = Tables.documents(spark, dir)
    assert(reread.columns.toSeq == Seq("doc_id", "text", "score"))
    assert(reread.collect().map(_.getDouble(2)).toSeq == Seq(2.0))
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
