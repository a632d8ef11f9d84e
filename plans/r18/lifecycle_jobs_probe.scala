package graft

import org.apache.spark.GraftBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, ArtifactGen, DedupIndex, TextIndex}

/** Prints the Spark job count of each managed-lifecycle call. */
class LifecycleJobsProbe extends SparkSpec {
  import spark.implicits._

  private def jobs(name: String)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    assert(GraftBusShim.waitUntilListenerBusEmpty(sc, 30000))
    sc.addSparkListener(l)
    try { body; assert(GraftBusShim.waitUntilListenerBusEmpty(sc, 30000)) }
    finally sc.removeSparkListener(l)
    println(s"[probe] $name jobs=${n.get}")
  }

  test("lifecycle job counts") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 300)
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("label"), col("embedding"))
    for ((fam, ensure, evict, root) <- Seq[(String, () => Unit, String => Unit, String => java.nio.file.Path)](
        ("text", () => { TextIndex.ensure(docs, "probe-text"); () }, TextIndex.evictMemo, TextIndex.rootFor),
        ("dedup", () => { DedupIndex.ensure(docs, "probe-dedup"); () }, DedupIndex.evictMemo, DedupIndex.rootFor),
        ("ann", () => { AnnIndex.ensure(vecs, "probe-ann"); () }, AnnIndex.evictMemo, AnnIndex.rootFor))) {
      val key = s"probe-$fam"
      evict(key); ArtifactGen.wipe(root(key))
      jobs(s"$fam.ensure_build")(ensure())
      evict(key)
      jobs(s"$fam.ensure_resolve")(ensure())
    }
    val t = TextIndex.ensure(docs, "probe-text")
    t.postings(spark); t.termDf(spark); t.shingles(spark); t.shingleDf(spark); t.doclen(spark); t.corpus(spark)
    val extra = Tables.documents(spark, sf).filter(col("doc_id") >= 300 && col("doc_id") < 340)
    jobs("text.add_segment")(TextIndex.addSegment(t, extra))
    jobs("text.delete_by_query")(TextIndex.deleteByQuery(spark, t, extra.select(col("doc_id"))))
    jobs("text.purge")(TextIndex.purgeDeletes(spark, t))
    val a = AnnIndex.ensure(vecs, "probe-ann")
    a.ivf(spark); a.pqCodes(spark); a.ivfPqCodes(spark); a.sq8(spark)
    val nv = vecs.limit(5).select((col("vec_id") + 7000000L).as("vec_id"), col("label"), col("embedding"))
    jobs("ann.add_vectors")(AnnIndex.addVectors(a, nv))
    jobs("ann.delete_vectors")(AnnIndex.deleteVectors(spark, a, nv.select(col("vec_id"))))
    jobs("ann.purge")(AnnIndex.purgeDeletes(spark, a))
    val d = DedupIndex.ensure(docs, "probe-dedup")
    d.fingerprints(spark); d.buckets(spark); d.shingleSets(spark)
    jobs("dedup.add_batch")(DedupIndex.addBatch(spark, d, extra))
  }
}
