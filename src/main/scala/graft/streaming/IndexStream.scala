package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{AnnIndex, ArtifactGen, TextIndex}

/** Streaming INDEX ingest — the search index maintained from a
  * document STREAM, one Lucene-model segment per micro-batch: the
  * composition of the streaming bulk-import loop (EventStream scaladoc;
  * kuko6/tweets-elastic `src/main.py:106-162` re-expressed as
  * Structured Streaming) with the incremental index maintenance of
  * [[TextIndex.addSegment]]. This is exactly how ES ingests: every
  * bulk batch becomes a new segment, commits are O(batch), and the
  * index the searches read is the merged view over all committed
  * segments — the corpus is never re-analyzed.
  */
object IndexStream {

  /** Shared ingest scaffold: land `input` as an `nSplits`-file
    * directory, stream it back one file per micro-batch
    * (`maxFilesPerTrigger = 1` — several REAL batches, not one), and
    * fold every non-empty batch through `fold`. Shuffle partitions are
    * pinned for the run (each micro-batch runs a handful of small
    * index jobs whose shuffles would otherwise fan out to the
    * session-wide count — the runToMemory discipline, same
    * sequential-harness caveat). Returns the number of non-empty
    * batches folded, so callers can assert the run was genuinely
    * incremental. */
  private def foldFileStream(spark: SparkSession, input: DataFrame,
                             nSplits: Int, prefix: String)
                            (fold: DataFrame => Unit): Long = {
    val src = EventStream.freshDir(prefix + "src")
    input.repartition(nSplits).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    var batches = 0L
    // REPLAY guard (round-13 review): foreachBatch is at-least-once —
    // a query restarted from its checkpoint re-delivers the last
    // uncommitted micro-batch, and folding it twice would wedge the
    // ingest on addSegment's duplicate-id rejection (or double-count
    // a delete fold). The marker records the last FOLDED batch id,
    // written after the fold: a replayed id ≤ marker is skipped; a
    // tear between fold and marker-write still surfaces as the loud
    // duplicate rejection, never a silent double-fold. This run's
    // checkpoint is fresh, so the guard is inert today — it makes the
    // scaffold safe for callers that persist the checkpoint.
    val marker = java.nio.file.Paths.get(
      EventStream.freshDir(prefix + "meta"), "_LAST_FOLDED")
    EventStream.withPinnedStreamPartitions(spark) {
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          // defensive parse: Files.write is not atomic, so a crash
          // mid-write can leave an empty/torn marker — treat it as
          // "no marker" (-1) and let the fold-twice case degrade to
          // addSegment's loud duplicate rejection, never a
          // NumberFormatException that wedges the ingest undiagnosed
          val last =
            if (!java.nio.file.Files.exists(marker)) -1L
            else scala.util.Try(new String(
              java.nio.file.Files.readAllBytes(marker),
              "UTF-8").trim.toLong).getOrElse(-1L)
          if (id > last) {
            val b = batch.persist()
            try {
              if (b.count() > 0) { fold(b); batches += 1 }
            } finally { b.unpersist(); () }
            java.nio.file.Files.write(marker,
              id.toString.getBytes("UTF-8"))
            ()
          }
        }
        .option("checkpointLocation", EventStream.freshDir(prefix + "ck"))
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    batches
  }

  /** Run the documents table as a multi-file stream, folding every
    * batch into the index inside `foreachBatch` — the first batch
    * builds, each later one commits a segment against the standing
    * artifact (O(batch) ingest, duplicate ids rejected loudly by
    * addSegment). Returns the final index and the number of non-empty
    * batches folded. The converged index must be bit-equivalent to a
    * full rebuild on every corpus invariant — batch boundaries are an
    * ingest accident, never semantics. */
  def runIndexIngest(spark: SparkSession, dir: String,
                     nSplits: Int = 2): (TextIndex.Loaded, Long) = {
    var ix: Option[TextIndex.Loaded] = None
    val batches = foldFileStream(spark,
        graft.Tables.documents(spark, dir), nSplits, "st10") { b =>
      ix = Some(ix match {
        case None => TextIndex.build(b, graft.Scratch.dir("st10ix"))
        case Some(base) => TextIndex.addSegment(base, b)
      })
    }
    (ix.getOrElse(sys.error("document stream delivered no rows")), batches)
  }

  /** Streaming DELETE ingest — retention / right-to-be-forgotten
    * delete requests arriving as a STREAM, folded into the standing
    * index `ix` of `a` as tombstone appends per micro-batch
    * ([[ArtifactGen.Tombstoned.deleteByQuery]] — O(batch), the index
    * tables untouched) under the tombstone-pressure policy
    * ([[ArtifactGen.Tombstoned.maybePurge]]), then ONE terminal
    * [[ArtifactGen.Tombstoned.purgeDeletes]] at stream close (ES
    * forcemerge on rollover): a final sub-threshold remainder must not
    * outlive the stream, because the readback describes LIVE rows.
    * This is exactly ES's shape: delete_by_query requests tombstone as
    * they arrive; segment merges reclaim on their own cadence. Returns
    * the purged index, the number of non-empty request batches, and the
    * total ids tombstoned. */
  private def foldDeletes(a: ArtifactGen.Tombstoned)(spark: SparkSession,
      ix: a.L, victims: DataFrame, nSplits: Int,
      prefix: String): (a.L, Long, Long) = {
    var deleted = 0L
    val batches = foldFileStream(spark, victims, nSplits, prefix) { b =>
      deleted += a.deleteByQuery(spark, ix, b)
      a.maybePurge(spark, ix)
      ()
    }
    (a.purgeDeletes(spark, ix), batches, deleted)
  }

  /** ST12: [[foldDeletes]] over the text index, a third of the
    * documents deleted (each batch ~1/6 of the corpus, far past the
    * pressure threshold, so each batch purges). */
  def runDeleteIngest(spark: SparkSession, dir: String,
                      nSplits: Int = 2): (TextIndex.Loaded, Long, Long) = {
    val docs = graft.Tables.documents(spark, dir)
    foldDeletes(TextIndex)(spark,
      TextIndex.build(docs, graft.Scratch.dir("st12ix")),
      docs.filter(col("doc_id") % 3 === 0).select(col("doc_id")),
      nSplits, "st12")
  }

  /** ST13: [[foldDeletes]] over the ANN index — the streaming face of
    * n12's batch lifecycle, a fifth of the vectors deleted. */
  def runVectorDeleteIngest(spark: SparkSession, dir: String,
                            nSplits: Int = 2)
      : (AnnIndex.Loaded, Long, Long) = {
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    foldDeletes(AnnIndex)(spark,
      AnnIndex.build(emb, graft.Scratch.dir("st13ix")),
      emb.filter(col("vec_id") % 5 === 0).select(col("vec_id")),
      nSplits, "st13")
  }

  /** Streaming VECTOR ingest — the ANN twin of [[runIndexIngest]] and
    * the FAISS `add()` loop run as a stream: the base index trains
    * ONCE on the standing corpus (`seed`), then delta vectors arrive
    * as a multi-batch file stream and every micro-batch is encoded
    * against the FROZEN centroids/codebooks and appended to all four
    * index tables ([[graft.operators.AnnIndex.addVectors]] — O(batch)
    * commits, no retraining; drift is the scheduled rebuild's job).
    * Returns the index and the number of non-empty delta batches. */
  def runVectorIngest(spark: SparkSession, seed: DataFrame,
                      delta: DataFrame, nSplits: Int = 2)
      : (graft.operators.AnnIndex.Loaded, Long) = {
    import graft.operators.AnnIndex
    val ix = AnnIndex.build(seed, graft.Scratch.dir("st11ix"))
    val batches = foldFileStream(spark, delta, nSplits, "st11") { b =>
      AnnIndex.addVectors(ix, b); ()
    }
    (ix, batches)
  }
}
