package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The STANDING DEDUP INDEX as a persisted ingest artifact — the
  * [[TextIndex]]/[[AnnIndex]] discipline applied to the third
  * query-many structure a training-data platform maintains: the
  * state a daily-ingest dedup service screens every arriving batch
  * against. Before this artifact, d10/d12 rebuilt their standing
  * frames in-query (their scaladocs said so: "built here only
  * because the harness has no persisted state") — at 100 TB that is
  * a full-corpus fingerprint+signature pass per arriving batch, the
  * exact waste the artifact model exists to remove. Production keeps
  * these frames ON DISK and appends the screened batch's survivors:
  * screening cost O(batch), maintenance cost O(batch).
  *
  * Artifact layout under `dir/` (normalize + tokenize + hashed
  * 3-gram shingles — the d-family's shared analyzer):
  *   fingerprints/  (fingerprint, keep_id) — the md5 exact-dup index
  *                  ([[Dedup.exact]] minus the count column)
  *   buckets/       (id, band, bucket) — the banded MinHash LSH
  *                  index rows ([[Dedup.bandBuckets]]) of the
  *                  fingerprint REPRESENTATIVES (one per fingerprint
  *                  — exact copies carry identical rows, see build)
  *   shingle_sets/  (id, shingles) — the exact-Jaccard verify side
  *                  ([[Dedup.withHashedShingleSet]]), representatives
  *                  only likewise
  *   _DONE          written last; torn build ⇒ rebuild
  *
  * Lifecycle: [[ArtifactGen.ManagedArtifact]], like the other two
  * artifacts — rebuilds land in fresh generations, invalidation evicts
  * the in-JVM memo. This family has no tombstones: its standing index
  * only grows.
  */
object DedupIndex extends ArtifactGen.ManagedArtifact("DedupIndex",
    "graft_dedup_index",
    // "v2": the build switched to representative-only buckets/shingle
    // tables (earlier all-docs artifacts would trip the exact lockstep
    // invariant)
    version = "v2") {

  final case class Loaded(dir: String, key: String = "")
      extends ArtifactGen.Handle {
    def fingerprints(spark: SparkSession): DataFrame =
      open(spark, "fingerprints")
    def buckets(spark: SparkSession): DataFrame =
      open(spark, "buckets")
    def shingleSets(spark: SparkSession): DataFrame =
      open(spark, "shingle_sets")
  }

  type L = Loaded

  protected def loadKeyed(spark: SparkSession, dir: String,
                          key: String): Loaded = Loaded(dir, key)

  protected def buildKeyed(docs: DataFrame, dir: String,
                           key: String): Loaded =
    build(docs, dir).copy(key = key)

  /** The cross-table invariants a complete artifact always satisfies
    * (build and append both store one row-set per fingerprint
    * representative): one shingle row per fingerprint, and bucket
    * rows a whole multiple of the band count, at most [[Dedup.Bands]]
    * per fingerprint (shingle-less/null-text representatives band to
    * nothing, so ≤, not ==). Every crash prefix of addBatch's
    * sequential appends ({fingerprints}, {fingerprints, buckets})
    * breaks f == s. */
  protected def lockstep(spark: SparkSession, l: Loaded): Boolean = {
    // three independent reads of settled state, overlapped (the
    // TextIndex.lockstep discipline) — one wall per ensure()
    var f, s, b = 0L
    Par.run(
      () => f = l.fingerprints(spark).count(),
      () => s = l.shingleSets(spark).count(),
      () => b = l.buckets(spark).count())
    f == s && b % Dedup.Bands == 0 && b <= f * Dedup.Bands
  }

  /** The ingest job: fingerprint, signature-band, and shingle the
    * standing corpus ONCE; every screening batch thereafter only
    * reads.
    *
    * All three tables store one row per FINGERPRINT REPRESENTATIVE
    * (the keep_id — what [[addBatch]] already appended): the standing
    * index holds the kept corpus, not raw arrivals. Dropping the
    * exact-dup copies changes no screening verdict — identical
    * normalized text means identical shingle sets and identical LSH
    * rows, and the representative IS each group's min id, so
    * `dup_of = min(old_id)` resolves to the same doc either way. It
    * also makes the cross-table lockstep invariant exact (one
    * bucket-band/shingle row-set per fingerprint): the round-9
    * review found the earlier all-docs build tripping the validator
    * on every corpus that contained an exact duplicate. */
  def build(docs: DataFrame, dir: String): Loaded = {
    // same null-fingerprint screen as [[addBatch]]: a null-text doc
    // is unindexable by content and must not enter the standing
    // tables from EITHER path — the all-docs build persisted the
    // null group (and a null shingle_sets row for its representative)
    // while addBatch filtered it, structurally diverging the two
    // artifacts for the same corpus (round-13 review)
    Dedup.exact(docs).select(col("fingerprint"), col("keep_id"))
      .filter(col("fingerprint").isNotNull)
      .write.mode("overwrite").parquet(s"$dir/fingerprints")
    val spark = docs.sparkSession
    val reps = docs.join(
      spark.read.parquet(s"$dir/fingerprints")
        .select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    // analyze the representatives ONCE: the banded LSH index and the
    // shingle verify side are both derived from the same hashed
    // shingle sets, which used to be recomputed per table (two full
    // tokenize+shingle passes over the reps). Pinned, the two
    // INDEPENDENT table writes also run concurrently (Par scaladoc —
    // the jobs back-fill each other's scheduling/commit gaps); tear
    // safety is untouched because this is a fresh generation dir and
    // _DONE is written last, below.
    val sets = Dedup.withHashedShingleSet(reps).persist()
    try {
      Par.run(
        () => Dedup.bandBucketsFromSets(sets)
          .write.mode("overwrite").parquet(s"$dir/buckets"),
        () => sets.write.mode("overwrite").parquet(s"$dir/shingle_sets"))
    } finally { sets.unpersist(blocking = false); () }
    ArtifactGen.markDone(dir)
    Loaded(dir)
  }

  /** Exact screening from the artifact — [[Dedup.incrementalExact]]
    * against the persisted fingerprint index. */
  def screenExact(spark: SparkSession, ix: Loaded,
                  batch: DataFrame): DataFrame =
    Dedup.incrementalExact(batch, ix.fingerprints(spark))

  /** Near-dup screening from the artifact —
    * [[Dedup.incrementalMinhash]] against the persisted band buckets
    * and shingle verify-side. */
  def screenNear(spark: SparkSession, ix: Loaded,
                 batch: DataFrame, threshold: Double = 0.5): DataFrame =
    Dedup.incrementalMinhash(batch, ix.buckets(spark),
      ix.shingleSets(spark), threshold = threshold)

  /** The maintenance append — the production daily loop: after
    * screening, the batch's SURVIVORS (is_new exact-screen verdicts)
    * enter the standing index so tomorrow's batch screens against
    * them. O(batch) parquet appends to all three tables; fingerprints
    * new to the index are keyed by the batch's min doc id (intra-batch
    * duplicates collapse to one survivor). A failure partway tears
    * the artifact — `_DONE` removed and the memo evicted so the next
    * ensure() rebuilds a fresh generation, the [[TextIndex]]
    * discipline. Returns (batch docs whose fingerprint entered the
    * index, fingerprints added); NULL-text docs are excluded from
    * both — they are unindexable by content (see the in-body note)
    * and re-screen as arrivals every delivery, matching d10's oracle
    * semantics.
    *
    * `nearThreshold` opts into STRICT admission: admission is
    * otherwise keyed on exact screening only, so a RE-WORDED
    * duplicate (new fingerprint, high Jaccard against a standing doc)
    * would enter the index and be reported as a dup-pair forever —
    * arriving daily with fresh rewordings, it would grow the index
    * every day. Under `Some(t)`, exact-new representatives are
    * additionally near-screened against the standing side and those
    * with verified Jaccard ≥ t are refused admission to ALL three
    * tables (they stay perpetual near-dup arrivals, exactly like the
    * default policy's reports — but the index stays
    * distinct-content-sized). Default `None` keeps the established
    * exact-only admission. */
  def addBatch(spark: SparkSession, ix: Loaded, batch: DataFrame,
               nearThreshold: Option[Double] = None): (Long, Long) = {
    // MATERIALIZE the screening verdict to scratch parquet before
    // anything consumes it, for two reasons. (1) Cost: without a
    // stable snapshot, the two counts and the three appends each
    // re-run the batch normalization + screening + the
    // standing-fingerprint anti-join (~5 redundant O(batch) passes in
    // the daily loop). (2) CORRECTNESS under lazy re-evaluation: the
    // first append below writes INTO the very fingerprints table the
    // screening plan reads — a later consumer that re-evaluated the
    // screening after that append (memory-cache eviction recomputes;
    // a fresh file listing then sees the appended rows) would find
    // every survivor "already known" and silently append EMPTY bucket
    // and shingle tables. A parquet snapshot is immune to both: the
    // downstream appends replay fixed files, never the live query.
    val scratch = graft.Scratch.dir("dedupAddBatch")
    try {
      // the snapshot keeps Dedup.exact's n_dups column: summed over the
      // admitted fingerprints it IS the "docs whose fingerprint entered
      // the index" number (every copy of a fingerprint gets the same
      // screening verdict, so the survivors the exact aggregation
      // grouped are exactly the docs the old md5-rescan counted) — the
      // full batch re-normalization pass nNew used to pay becomes a
      // one-file aggregate over the snapshot
      Dedup.exact(batch.join(
          screenExact(spark, ix, batch)
            .filter(col("is_new")).select(col("doc_id")), Seq("doc_id"),
          "left_semi"))
        .select(col("fingerprint"), col("keep_id"), col("n_dups"))
        .join(ix.fingerprints(spark).select(col("fingerprint")),
          Seq("fingerprint"), "left_anti")
        // a NULL-text doc has a NULL fingerprint, which can never
        // match under SQL join semantics — on BOTH engines (d10's
        // oracle agrees): it would screen "new" on every delivery and
        // re-append forever, breaking idempotence. Such docs are
        // unindexable by content; they stay perpetual arrivals and
        // never enter the standing index.
        .filter(col("fingerprint").isNotNull)
        .write.parquet(s"$scratch/newfps")
      val exactNew = spark.read.parquet(s"$scratch/newfps")
      val newFps = nearThreshold match {
        case None => exactNew
        case Some(t) =>
          // strict admission: near-screen the exact-new REPRESENTATIVES
          // (not the whole batch) against the standing side; a verified
          // near-duplicate's fingerprint is refused. Snapshotted like
          // the exact verdict — the screen reads the very bucket and
          // shingle tables the appends below write into. The reps'
          // hashed shingle sets are pinned across their two consumers
          // inside the screening plan (banded signatures + Jaccard
          // verify side) so the reps tokenize+shingle once, not twice.
          val reps = batch.join(
            exactNew.select(col("keep_id").as("doc_id")), Seq("doc_id"),
            "left_semi")
          val repSets = Dedup.withHashedShingleSet(reps).persist()
          try {
            exactNew.join(
                Dedup.incrementalMinhashFromSets(repSets,
                    ix.buckets(spark), ix.shingleSets(spark),
                    threshold = t)
                  .filter(col("is_new"))
                  .select(col("doc_id").as("keep_id")),
                Seq("keep_id"), "left_semi")
              .select(col("fingerprint"), col("keep_id"), col("n_dups"))
              .write.parquet(s"$scratch/admitfps")
          } finally { repSets.unpersist(blocking = false); () }
          spark.read.parquet(s"$scratch/admitfps")
      }
      // one representative per new fingerprint enters every table: the
      // standing index stores the kept corpus, not raw arrivals
      val kept = batch.join(
        newFps.select(col("keep_id").as("doc_id")), Seq("doc_id"),
        "left_semi")
      // both admission numbers from ONE one-file aggregate over the
      // snapshot (was: a snapshot count + a full batch re-scan)
      val Array(nFps, nNew) = newFps
        .agg(count(lit(1)), coalesce(sum(col("n_dups")), lit(0L)))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      // the kept representatives' analysis is shared the same way the
      // build shares it: one tokenize+shingle pass feeds the banded
      // index AND the verify-side append. The three appends stay
      // SEQUENTIAL on purpose: with fingerprints-first ordering every
      // hard-crash prefix ({fps}, {fps,buckets}) breaks the f == s
      // lockstep equality, while a concurrent schedule could leave
      // {fps, shingle_sets} appended without buckets — a tear the ≤
      // bucket-count invariant cannot always flag.
      val keptSets = Dedup.withHashedShingleSet(kept).persist()
      try appending(ix, "batch append") {
        newFps.select(col("fingerprint"), col("keep_id"))
          .write.mode("append").parquet(s"${ix.dir}/fingerprints")
        Dedup.bandBucketsFromSets(keptSets)
          .write.mode("append").parquet(s"${ix.dir}/buckets")
        keptSets.write.mode("append").parquet(s"${ix.dir}/shingle_sets")
      } finally { keptSets.unpersist(blocking = false); () }
      (nNew, nFps)
    } finally
      // the snapshot is consumed once the appends land; a long-lived
      // ingest service calling this daily must not accumulate one
      // scratch dir per batch until JVM exit
      ArtifactGen.wipe(java.nio.file.Paths.get(scratch))
  }
}
