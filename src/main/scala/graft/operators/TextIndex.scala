package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, GraftShim, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions._
import graft.functions.Analyzers

/** The text search index as a PERSISTED INGEST ARTIFACT — the same
  * indexing-time-analysis discipline [[AnnIndex]] applies to vectors,
  * applied to the BM25/TF-IDF/significant-terms family. ES runs every
  * analyzer at INDEX time and keeps per-field statistics (doc count,
  * per-term document frequency, field-length norms) NEXT to the
  * postings; before this artifact, every search-family query
  * re-tokenized the whole corpus and re-aggregated those statistics
  * per query — at 100 TB that is a full-corpus analysis pass per
  * search, the one thing a search engine exists to avoid.
  *
  * Artifact layout under `dir/` (analyzer: `tokenize(lower(text))`,
  * the standard pipeline every consumer query uses):
  *   postings/   (term, doc_id, len, tf, positions) — the inverted
  *               index, with the doc-length norm denormalized into
  *               the posting (Lucene stores norms alongside) and the
  *               term's 0-based token POSITIONS as a sorted int array
  *               (Lucene's position postings — what serves
  *               match_phrase / span queries from the index instead
  *               of a corpus re-tokenization; ~one int per
  *               occurrence, the same storage trade Lucene makes by
  *               default). SHARDED by doc_id, the way ES routes each
  *               document to one shard by id hash: `buckets` hash
  *               buckets (Spark's bucket hash and bucket-file names),
  *               each file sorted by (term, doc_id), so a term or
  *               prefix predicate still prunes row groups
  *               (PushedFilters + row-group min/max on `term`). Read
  *               as a bucketed relation, every per-document aggregate
  *               or doc_id join over postings runs shard-locally with
  *               no shuffle: a search request is one Spark job of one
  *               task per bucket, its top-k merged on the driver.
  *   _BUCKETS    the bucket count: the building session's
  *               `spark.sql.shuffle.partitions`, fixed for the
  *               generation (appends, purges and compaction keep it).
  *   term_df/    (term, df) — per-term document frequency (the term
  *               dictionary statistics).
  *   shingles/   (term, doc_id) — doc-membership postings over the
  *               unigram+bigram SHINGLE stream (`shingleTokens`),
  *               distinct per doc: what serves rare_terms and the
  *               significant-shingles family without re-tokenizing
  *               the corpus per query. No positions/tf — membership
  *               is all shingle statistics need, so the table is a
  *               fraction of the positional postings' size. Kept as
  *               postings (not just df) so delete/purge can rebuild
  *               the dictionary from retained docs exactly.
  *   shingle_df/ (term, df) — the shingle dictionary statistics
  *               derived from `shingles/`; rare_terms IS a pruned
  *               read of this table.
  *   doclen/     (doc_id, len) — every document's token count, also
  *               the docs with no postings (empty/punct-only text).
  *   corpus/     1 row (n, avgdl) — index-level statistics, computed
  *               with the SAME aggregate expressions the in-query
  *               stats pass used, so scores are bit-identical.
  *   _DONE       marker written last (torn build ⇒ rebuild).
  *
  * Counts are exact integers and avg() over an integral column sums
  * in exact longs, so every statistic round-trips identically and the
  * artifact-backed queries hash-match their scan-based oracles.
  */
object TextIndex extends ArtifactGen.Tombstoned("TextIndex",
    "graft_text_index",
    // "v6": postings bucketed by doc_id ("v5" added the shingle
    // membership postings + dictionary, "v4" generations and
    // positional postings)
    version = "v6", idCol = "doc_id") {

  final case class Loaded(dir: String, key: String = "")
      extends ArtifactGen.Handle {
    /** The generation's postings bucket count, from `_BUCKETS`. */
    lazy val buckets: Int =
      new String(Files.readAllBytes(Paths.get(dir, "_BUCKETS")), UTF_8).trim.toInt
    def postings(spark: SparkSession): DataFrame =
      GraftShim.readBucketed(spark, s"$dir/postings",
        schema(spark, "postings"), postingsSpec(buckets))
    def termDf(spark: SparkSession): DataFrame =
      open(spark, "term_df")
    def shingles(spark: SparkSession): DataFrame =
      open(spark, "shingles")
    def shingleDf(spark: SparkSession): DataFrame =
      open(spark, "shingle_df")
    def doclen(spark: SparkSession): DataFrame =
      open(spark, "doclen")
    def corpus(spark: SparkSession): DataFrame =
      open(spark, "corpus")
  }

  /** Corpus-version fingerprint from parquet file metadata (same
    * discipline as [[AnnIndex.corpusKey]]). */
  def corpusKey(sfDir: String): String =
    Fingerprint.ofTables(sfDir, "documents")

  type L = Loaded

  protected def loadKeyed(spark: SparkSession, dir: String,
                          key: String): Loaded = Loaded(dir, key)

  protected def buildKeyed(docs: DataFrame, dir: String,
                           key: String): Loaded =
    build(docs, dir).copy(key = key)

  /** Invariants every complete artifact satisfies, tombstones or not
    * (deletes never touch these tables until a purge, which swaps all
    * of them): the corpus row's doc count matches doclen, the
    * dictionary's df mass matches the physical posting rows, and the
    * shingle dictionary's mass matches the membership rows. Each
    * addSegment tear point (crash after doclen; after postings;
    * after a dictionary swap but before the corpus swap) breaks at
    * least one of the three. */
  protected def lockstep(spark: SparkSession, l: Loaded): Boolean = {
    // the six reads are independent (all describe settled on-disk
    // state) and OVERLAPPED (Par scaladoc): the happy path — every
    // ensure() on a fresh JVM, s15 pays it four times in-query —
    // costs one wall instead of six serial small jobs. A torn
    // artifact evaluates every check instead of short-circuiting,
    // which only the rare rebuild path pays.
    var n, doclenCnt, dfMass, postingsCnt, shMass, shinglesCnt = 0L
    Par.run(
      () => n = l.corpus(spark).head().getAs[Double]("n").toLong,
      () => doclenCnt = l.doclen(spark).count(),
      () => dfMass = l.termDf(spark)
        .agg(coalesce(sum(col("df")), lit(0L))).head().getLong(0),
      () => postingsCnt = l.postings(spark).count(),
      () => shMass = l.shingleDf(spark)
        .agg(coalesce(sum(col("df")), lit(0L))).head().getLong(0),
      () => shinglesCnt = l.shingles(spark).count())
    n == doclenCnt && dfMass == postingsCnt && shMass == shinglesCnt
  }

  /** (doc_id, toks, len): the one analysis every table derives from. */
  private def analyzed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Analyzers.tokenize(lower(col("text"))).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("len"))

  /** Rows clustered and sorted by term: parquet row-group min/max
    * stats on `term` for the shingle membership table. */
  private def termSorted(df: DataFrame): DataFrame =
    df.repartition(col("term")).sortWithinPartitions(col("term"), col("doc_id"))

  /** The postings layout: `n` doc_id hash buckets, each file sorted by
    * (term, doc_id). */
  private def postingsSpec(n: Int): BucketSpec =
    BucketSpec(n, Seq("doc_id"), Seq("term", "doc_id"))

  /** The positional postings of analyzed docs, routed to `n` buckets.
    * The documents are routed before the explode, so the (term, doc_id)
    * aggregate runs bucket-locally: one shuffle of document rows, not
    * of postings. */
  private def postingsOf(withLen: DataFrame, n: Int): DataFrame =
    ArtifactGen.byBucket(withLen, postingsSpec(n))
      .select(col("doc_id"), col("len"),
        posexplode(col("toks")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"), col("len"))
      .agg(count(lit(1)).cast("int").as("tf"),
        // collect_list order is partition-nondeterministic — sort for
        // a canonical artifact (phrase checks only need membership,
        // but a byte-stable index is what makes rebuilds comparable)
        sort_array(collect_list(col("pos").cast("int"))).as("positions"))

  /** Shingle membership: the shingle stream DISTINCT per doc — one row
    * per (shingle, doc), the exact row set rare_terms' per-doc
    * array_distinct counted; a unigram and a separator-free bigram
    * that collide on the same string stay ONE row per doc here too. */
  private def shinglesOf(withLen: DataFrame): DataFrame =
    withLen.select(col("doc_id"), explode(array_distinct(
      Analyzers.shingleTokens(col("toks")))).as("term"))

  /** The (term, df) dictionary of a membership table. */
  private def dictOf(table: DataFrame): DataFrame =
    table.groupBy(col("term")).agg(count(lit(1)).as("df")).coalesce(1)

  /** The corpus row of a (doc_id, len) table: the SAME aggregate
    * expressions the in-query stats passes used — count → double, avg
    * over the int len (exact long sum / count). sum_len rides along as
    * the exact LONG the avg divided — it is what makes incremental
    * maintenance bit-exact: merged avgdl is (sum_len₁+sum_len₂)/(n₁+n₂),
    * the identical one-division-of-exact-longs a full rebuild computes,
    * never an average of averages. */
  private def corpusOf(lens: DataFrame): DataFrame =
    lens.agg(count(lit(1)).cast("double").as("n"), avg(col("len")).as("avgdl"),
      sum(col("len")).cast("long").as("sum_len"))

  /** The ingest job: tokenize ONCE, derive postings, term dictionary,
    * length norms and corpus statistics, persist all of it. */
  def build(docs: DataFrame, dir: String): Loaded = {
    val spark = docs.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // pinned for the whole build: FOUR consumers below (doclen,
    // corpus stats, postings, shingles) would otherwise each re-run
    // the full-corpus tokenization — the exact cost this artifact
    // exists to pay once (the addSegment path had this persist since
    // round 9; the build path re-analyzed the corpus 4× until the
    // round-13 review caught it)
    val withLen = analyzed(docs).persist()
    try {

    // the four table chains below are INDEPENDENT given the pinned
    // tokenization (doclen; corpus stats; postings → its dictionary;
    // shingles → its dictionary) and run CONCURRENTLY (Par scaladoc —
    // jobs back-fill each other's scheduling/commit/tail gaps; the
    // first consumers of the persisted withLen serialize per-block on
    // the storage lock, so the tokenization still computes once). A
    // tear anywhere is safe regardless of completion order: _DONE is
    // written last, below, so a crashed build is rebuilt whole.
    Par.run(
      () => withLen.select(col("doc_id"), col("len"))
        .write.mode("overwrite").parquet(s"$dir/doclen"),
      () => corpusOf(withLen).write.mode("overwrite").parquet(s"$dir/corpus"),
      () => {
        ArtifactGen.writeBuckets(postingsOf(withLen, n), s"$dir/postings",
          SaveMode.Overwrite, postingsSpec(n))
        dictOf(spark.read.parquet(s"$dir/postings"))
          .write.mode("overwrite").parquet(s"$dir/term_df")
      },
      () => {
        termSorted(shinglesOf(withLen))
          .write.mode("overwrite").parquet(s"$dir/shingles")
        dictOf(spark.read.parquet(s"$dir/shingles"))
          .write.mode("overwrite").parquet(s"$dir/shingle_df")
      })

    Files.write(Paths.get(dir, "_BUCKETS"), n.toString.getBytes(UTF_8))
    ArtifactGen.markDone(dir)
    Loaded(dir)
    } finally { withLen.unpersist(blocking = false); () }
  }

  /** Incremental maintenance — the Lucene SEGMENT model: a new batch of
    * documents becomes an additional set of bucketed posting files
    * in the SAME postings directory (parquet append — existing
    * segments are never rewritten; each file keeps its own term
    * min/max row-group stats, so term lookups still skip), the
    * dictionary is merged dictionary-sized work (union + sum over
    * (term, df) — never corpus-sized), and the corpus stats row merges
    * exact longs. At 100 TB this is the only affordable shape: ingest
    * cost is O(batch), not O(corpus), which is why Lucene/ES commit
    * segments instead of rebuilding indexes.
    *
    * A doc id that already exists in the index is REJECTED loudly
    * (`require`) — silently appending it would double-count df/tf and
    * skew every score downstream; updates are delete-and-reingest in
    * the segment model. One divergence from Lucene, stated honestly:
    * here the reingest must wait until [[purgeDeletes]] has made the
    * delete physical (tombstones are GLOBAL doc-id masks, so a
    * reingested id's new rows would be masked along with the old
    * ones; Lucene's per-segment liveDocs permit immediate
    * resurrection in a fresh segment — a per-segment mask is
    * deliberately out of scope). The check distinguishes live from
    * tombstoned duplicates so the error is actionable. */
  def addSegment(base: Loaded, delta: DataFrame): Loaded = {
    val spark = delta.sparkSession
    val dir = base.dir
    // pinned for the whole commit: SIX consumers below (dup check,
    // intra-batch check, doclen, postings, shingles, dictionary
    // deltas) would otherwise each re-run the tokenization — the
    // "tokenize ONCE" discipline the build path gets from deriving
    // tables off the written files (the round-9 review finding on the
    // doubled shingle pass)
    val withLen = analyzed(delta).persist()
    try {

    // Disjointness against the BASE. The happy path pays exactly ONE
    // doclen semi-join (the pre-review cost — a second unconditional
    // join measurably slowed every segment commit); only when a
    // duplicate IS found does a liveView join classify it into the
    // actionable pair (round-13 review): a LIVE duplicate is a
    // caller bug; a TOMBSTONED duplicate is the delete-and-reingest
    // workflow arriving before the purge merge made the delete
    // physical — this index's tombstones are global doc-id masks
    // (liveView hides EVERY row of the id, so the reingested rows
    // would be masked too; Lucene's per-segment liveDocs is what
    // permits segment-local resurrection, deliberately out of
    // scope), so the reingest must wait for purgeDeletes and the
    // error says so.
    // ONE pass computes all three admission numbers (delta rows,
    // distinct delta ids, rows already present in the base): doclen is
    // unique per doc_id by construction, so the left join preserves
    // delta row multiplicity and count(base-match) equals the
    // semi-join count the two separate check jobs used to run — two
    // full delta passes merged into one (the classification join below
    // still runs only on the failure path). The delta token mass rides
    // the SAME aggregate (sum over the exact int lens, a long — what
    // the corpus-stats merge below needs), so the separate deltaStats
    // pass over the persisted delta is gone too: one admission job now
    // carries every number the commit requires.
    val Array(nDelta, nDistinct, dupAll, deltaSumLen) =
      withLen.select(col("doc_id"), col("len"))
      .join(base.doclen(spark).select(col("doc_id"),
        lit(1).as("_in_base")), Seq("doc_id"), "left")
      .agg(count(lit(1)), countDistinct(col("doc_id")),
        count(col("_in_base")),
        coalesce(sum(col("len")).cast("long"), lit(0L)))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    if (dupAll > 0) {
      val dupLive = withLen.select(col("doc_id"))
        .join(liveView(spark, base, base.doclen(spark)), Seq("doc_id"),
          "left_semi").count()
      throw new IllegalArgumentException(
        if (dupLive > 0)
          s"$dupLive delta doc ids already indexed and live — segment " +
          "appends must be disjoint (update = delete + reingest in " +
          "the segment model)"
        else
          s"$dupAll delta doc ids are TOMBSTONED but not yet purged — " +
          "run purgeDeletes first: global doc-id tombstones would " +
          "mask the reingested rows along with the deleted ones")
    }
    // ...and disjoint WITHIN the batch: a doc_id repeated inside one
    // delta would pass the base check yet double-count n, sum_len and
    // every df it touches — the same silent corruption, intra-batch
    require(nDelta == nDistinct,
      s"${nDelta - nDistinct} duplicate doc ids WITHIN the delta batch " +
      "— dedup the batch before ingesting it")

    // the segment commit touches four structures; a failure partway
    // (doclen appended, postings not; or a died dictionary swap) is a
    // TORN index, invalidated so the next ensure() rebuilds
    appending(base, "segment commit") {
      // tear-detection bracket (lockstepValid scaladoc): the doclen
      // append stays FIRST and the corpus swap stays LAST — any hard
      // crash strictly between them leaves doclen grown against the
      // old corpus row, so check 1 flags the tear no matter which of
      // the parallel middle chains completed. The two heavy middle
      // chains (positional postings → term dictionary; shingle
      // membership → shingle dictionary) are independent of each
      // other and run CONCURRENTLY (Par scaladoc).
      withLen.select(col("doc_id"), col("len"))
        .write.mode("append").parquet(s"$dir/doclen")
      Par.run(
        () => {
          ArtifactGen.writeBuckets(postingsOf(withLen, base.buckets),
            s"$dir/postings", SaveMode.Append, postingsSpec(base.buckets))

          // dictionary + stats merges: DICTIONARY-sized, rewritten via
          // write-to-tmp + atomic swap (the Sink.compact discipline)
          // because the new value is derived from the file being
          // replaced
          val deltaDf = withLen
            .select(col("doc_id"),
              explode(array_distinct(col("toks"))).as("term"))
            .groupBy(col("term")).agg(count(lit(1)).as("df"))
          swapIn(spark, base, "term_df")(overwrite(
            base.termDf(spark).unionByName(deltaDf)
              .groupBy(col("term")).agg(sum(col("df")).as("df"))
              .coalesce(1)))
        },
        () => {
          // the exploded (doc_id, shingle) frame is computed ONCE and
          // pinned for its two consumers (membership append + df
          // delta) — shingling is the dominant per-row analysis cost
          // and was paid twice until the round-13 review (the same
          // doubled-pass shape round 9 fixed on the build path)
          val shingleRows = shinglesOf(withLen).persist()
          try {
            termSorted(shingleRows)
              .write.mode("append").parquet(s"$dir/shingles")
            val deltaShingleDf = shingleRows
              .groupBy(col("term")).agg(count(lit(1)).as("df"))
            swapIn(spark, base, "shingle_df")(overwrite(
              base.shingleDf(spark).unionByName(deltaShingleDf)
                .groupBy(col("term")).agg(sum(col("df")).as("df"))
                .coalesce(1)))
          } finally { shingleRows.unpersist(blocking = false); () }
        })
      // the delta stats were computed INSIDE the admission aggregate
      // above (nDelta docs, deltaSumLen token mass) — the corpus swap
      // adds them as literals to the single base row instead of
      // re-scanning the persisted delta: same exact-long additions and
      // the identical one-division-of-exact-longs, one fewer pass per
      // segment commit (the per-micro-batch serial floor st10 pays)
      swapIn(spark, base, "corpus")(overwrite(
        base.corpus(spark)
          .select((col("n") + lit(nDelta.toDouble)).as("n"),
            (col("sum_len") + lit(deltaSumLen)).as("sum_len"))
          .select(col("n"),
            (col("sum_len").cast("double") / col("n")).as("avgdl"),
            col("sum_len"))))
    }
    base
    } finally withLen.unpersist(blocking = false)
  }

  /** doclen lists every indexed doc, also the ones with no postings. */
  protected def idTable(spark: SparkSession, l: Loaded): DataFrame =
    l.doclen(spark)

  /** The live-row rewrite of [[purgeDeletes]]: postings, shingles and
    * doclen without the deleted docs, the dictionaries recomputed from
    * the retained membership tables and the corpus stats from the
    * retained doclen (exact longs, the [[build]] expressions). */
  protected def rewriteLive(spark: SparkSession, base: Loaded): Loaded = {
    // re-select the original column order: a using-column anti-join
    // moves the join key to the FRONT of the output (observed: purged
    // postings came back (doc_id, term, ...) without this), and a
    // purged artifact must keep the exact layout a fresh build writes
    // (schema-identical generations). The AnnIndex tables don't need
    // it only because vec_id already leads every one of them.
    // three independent swap CHAINS (each dictionary/stats rewrite
    // reads its own table's just-swapped, already-purged form — the
    // cheaper read), overlapped via Par: the torn-window states a
    // concurrent schedule can leave are the same pairwise-consistent
    // mixes the sequential order could already leave
    val pCols = base.postings(spark).columns.map(col).toSeq
    // shingle membership is (term, doc_id) with term leading — the
    // doc_id-keyed anti-join would move doc_id to the front, so
    // re-select like postings
    val shCols = base.shingles(spark).columns.map(col).toSeq
    Par.run(
      () => {
        val spec = postingsSpec(base.buckets)
        swapIn(spark, base, "postings")(ArtifactGen.writeBuckets(
          ArtifactGen.byBucket(
            liveView(spark, base, base.postings(spark)).select(pCols: _*), spec),
          _, SaveMode.Overwrite, spec))
        swapIn(spark, base, "term_df")(overwrite(dictOf(base.postings(spark))))
      },
      () => {
        swapIn(spark, base, "shingles")(overwrite(termSorted(
          liveView(spark, base, base.shingles(spark)).select(shCols: _*))))
        swapIn(spark, base, "shingle_df")(overwrite(dictOf(base.shingles(spark))))
      },
      () => {
        swapIn(spark, base, "doclen")(overwrite(
          liveView(spark, base, base.doclen(spark))
            .select(col("doc_id"), col("len"))))
        swapIn(spark, base, "corpus")(overwrite(corpusOf(base.doclen(spark))))
      })
    base
  }

  /** Segment compaction — the maintenance pass that keeps lookup cost
    * bounded after many small appends: rewrite the postings directory
    * into one (term, doc_id)-sorted file per bucket (restoring
    * one-segment row-group skipping) via write-to-tmp + atomic rename.
    * Returns (files before, files after). Run per partition-directory
    * at scale, like [[graft.sources.Sink.compact]]. */
  def compactPostings(spark: SparkSession, base: Loaded): (Int, Int) = {
    val before = base.postings(spark).inputFiles.length
    val spec = postingsSpec(base.buckets)
    swapIn(spark, base, "postings")(ArtifactGen.writeBuckets(
      ArtifactGen.byBucket(base.postings(spark), spec), _, SaveMode.Overwrite,
      spec))
    (before, base.postings(spark).inputFiles.length)
  }
}
