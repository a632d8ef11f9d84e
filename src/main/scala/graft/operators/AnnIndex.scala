package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ANN index as a PERSISTED INGEST ARTIFACT — the FAISS/ES
  * discipline (FAISS trains a coarse quantizer once per corpus; ES
  * builds its HNSW graph at index time) applied to the n-family: every
  * trained structure and every per-vector encoding is computed by ONE
  * maintained build job and persisted to parquet, and queries only
  * READ it. Before this, n3/n7/n8/n9 each re-ran sample collection,
  * k-means/PQ training, and the literal-heavy encode projection inside
  * the query — per-query work that is pure waste at any scale and a
  * fresh multi-second codegen cost besides.
  *
  * Artifact layout under `dir/`:
  *   codebooks/    (kind, grp, idx, vec array<double>) — kind "cent"
  *                 (coarse centroids, grp=0), "pq" (per-subspace PQ
  *                 codebooks), "res" (IVFPQ residual codebooks)
  *   ivf/          (vec_id, v, nrm, cell) partitionBy(cell): the
  *                 assigned corpus — probing nprobe cells reads only
  *                 those cells' FILES (partition pruning = the
  *                 inverted-file access path as storage layout)
  *   pq_codes/     (vec_id, c0..c(m-1)) — the stored PQ index
  *   ivfpq_codes/  (vec_id, c0.., cell) partitionBy(cell)
  *   sq8/          (vec_id, nrm, qscale, qd) — the int8 stage-1 index
  *   _DONE         marker written last; a dir without it is a torn
  *                 build and is rebuilt
  *
  * All training runs on the same bounded deterministic sample
  * discipline (Similarity.normalizedSample) — rebuilds of the same
  * corpus are bit-identical to each other — with the coarse cell count
  * AUTO-SCALED to √n per build ([[nlistFor]]): the contracts are
  * invariant to nlist (candidates ⊆ probed cells, planted neighbors
  * co-locate with their query at any resolution), and
  * [[Similarity.ivfContractWith]] additionally proves the PERSISTED
  * assignment against an independent recomputation under the SAME
  * centroids.
  *
  * One artifact serves every index family because they share the
  * trained structures (n3 IVF-flat reads ivf/, n7 reads sq8/, n8 reads
  * pq_codes/, n9 reads ivfpq_codes/ + cent + res). At 100 TB this job
  * is the scheduled ingest pipeline stage that re-runs per corpus
  * version; [[ensure]]'s fingerprint key models exactly that.
  */
object AnnIndex extends ArtifactGen.Tombstoned("AnnIndex",
    "graft_ann_index",
    // Any change to the ROUTED-ASSIGNMENT semantics
    // (Centroids.RouteBeam, RouteThreshold, the routing construction)
    // REQUIRES a version bump: persisted cell assignments were made
    // under the old semantics and the corpus fingerprint cannot see the
    // code change, so only the version keeps old artifacts from being
    // probed under new routing. "v7": the compressed serving arm, the
    // within-cell id-SORTED ivf/ivfpq_codes layout its rerank
    // point-fetch relies on, and regime-scaled codebooks ([[ksubFor]]),
    // whose codes a 4-bit reader's LUT cannot read.
    version = "v7", idCol = "vec_id") {

  val Nlist = 16
  val M = 8
  val Ksub = 16
  val Iters = 10
  val SampleSize = 1024

  /** Coarse cell count for a corpus of `n` vectors: √n (the FAISS
    * sizing guideline), floored at the legacy fixed 16. A FIXED nlist
    * degrades with corpus growth — cells hold n/nlist vectors, so probe
    * cost grows linearly with n (the measured 34× at the 1000× decade);
    * at nlist = √n each probe scans nprobe·√n vectors and query cost
    * grows as √n. Training stays affordable BY CONSTRUCTION:
    * [[sampleSizeFor]] gives 64 points per centroid (the FAISS
    * 30–256/centroid band), so Lloyd's per-iteration cost is
    * sample·nlist·dim = 64·n·dim — LINEAR in the corpus. The encode
    * pass that follows assigns every vector through the TWO-LEVEL
    * routed kernels ([[graft.functions.CentroidRouting]] — active at
    * ≥128 cells): ~5·√nlist dots per vector instead of nlist, so the
    * naive n·√n assignment term the r11 ×1000 probe first measured
    * (build 1 135 s flat-scanned → 900 s routed; the n3 contract's
    * full-corpus re-verification 185 → 50 s) stays near-linear. The
    * measured outcome at ×1000: serving cost 3.9× for 1000× rows
    * (bound √1000 ≈ 31.6) vs 34× at the old fixed nlist — the right
    * side of the ledger for a serving system, since the build is a
    * one-off ingest job per corpus version while every query pays the
    * probe. Re-train at rebuild is already the lifecycle (a new
    * corpus version fingerprint builds a fresh generation), so the
    * cell count tracks the corpus without any extra operational
    * machinery. */
  def nlistFor(n: Long): Int =
    math.max(Nlist, math.round(math.sqrt(n.toDouble)).toInt)

  /** Training-sample size for a cell count: 64 points per centroid,
    * never below the legacy fixed sample. */
  def sampleSizeFor(nlist: Int): Int = math.max(SampleSize, 64 * nlist)

  /** PQ / residual codebook resolution per regime. Oracle-sized
    * corpora keep the legacy 4-bit [[Ksub]] = 16 (bit-identical
    * artifacts and contracts). Routing-active indexes — the ones
    * [[search]] serves through compressed in-cell scans — train the
    * FAISS-standard 8-bit codebooks: at ×1000 (54k candidates/query)
    * the 4-bit residual quantizer's ADC noise pushed ~11% of
    * planted cos-0.9 neighbors below the rerank shortlist (the
    * enforced recall gate read 0.89 < 0.9 and failed the probe —
    * caught, not shipped); 8-bit codebooks cut the reconstruction
    * error enough to clear the bar with margin while the stored
    * code row stays (4m+8) bytes — the ints were never packed — and
    * the per-query LUT stays m·ksub doubles, driver-side. */
  def ksubFor(nlist: Int): Int =
    if (nlist >= graft.functions.Centroids.RouteThreshold) 256 else Ksub

  /** Codebook training-sample size: ~40 points per codeword (the
    * FAISS 30–256 band), floored at the legacy fixed sample —
    * bounded and corpus-independent either way. */
  def codebookSampleFor(ksub: Int): Int = math.max(SampleSize, 40 * ksub)

  /** Serving-time probe width for a cell count: ≈√nlist (the FAISS
    * sizing recipe — nprobe grows with the square root of the cell
    * count), floored at the legacy fixed 4. A FIXED nprobe under
    * √n-scaled nlist is wrong by construction: the probed corpus
    * fraction 4/√n SHRINKS as the corpus grows. At nprobe = √nlist
    * the fraction decays only as n^(-1/4) and per-query candidates
    * grow as n^(3/4) — still sublinear — and the round-13 held-out
    * recall sweep ([[graft.RecallProbe]] scaladoc for the metric
    * design and the round-12 measurement artifact it corrects) puts
    * √nlist exactly at the knee of the planted-jitter recall curve:
    * at the ×100 decade (447 cells) recall@10 on unseen cos-0.9
    * neighbors reads 0.74 / 0.90 / 0.91 at nprobe 4 / 21 / 45
    * (`bench_recall_x100.json`) — the serving default clears the 0.9
    * bar and doubling the probe width buys < 0.01 more. Callers pass
    * [[AutoNprobe]] (the default on every serving path) to resolve
    * this per index; an explicit positive nprobe still wins, which is
    * how the recall probe sweeps the operating curve. */
  def nprobeFor(nlist: Int): Int =
    math.max(4, math.round(math.sqrt(nlist.toDouble)).toInt)

  /** Bound on the PARTITION-DIRECTORY count of the cell-partitioned
    * tables (ivf, ivfpq_codes). partitionBy("cell") is the right
    * layout while nlist is operationally small — one dir per cell,
    * probing nprobe cells reads exactly their files — but nlist = √n
    * grows with the corpus (100k dirs at 10^10 rows, 10^6 at 10^12),
    * and a fine-cell layout (the [[nlistFor]] escape hatch the ×1000
    * router probe measured — `bench_router_x1000.json`) multiplies it
    * further: file-system metadata, listing, and commit cost all
    * scale with the dir count. Above [[GroupCap]] cells the layout
    * BUCKETS [[cellSpanFor]] consecutive cells per `cgrp` directory
    * (cell stays as a DATA column): partition dirs are capped at
    * GroupCap forever, file sizes are capped by maxRecordsPerFile,
    * and the probed-cell access path becomes a static `cgrp`
    * partition prune (≤ nprobe dirs) plus parquet row-group stats on
    * `cell` — tight, because the (cgrp, cell, vec_id) sort keeps
    * each file's cells contiguous. Every corpus at or below 2048
    * cells (all current decade probes included — ×1000 is 1414)
    * resolves to span 1 = the unchanged v7 layout, so existing
    * artifacts and plans are bit-identical and no layout-version
    * bump is needed; the span is PERSISTED in the artifact
    * (`_LAYOUT`, read by [[load]]) so writer and reader can never
    * disagree about the grouping. */
  val GroupCap = 2048

  /** Cells per `cgrp` directory: 1 (= the ungrouped v7 layout) up to
    * [[GroupCap]] cells, ⌈nlist/GroupCap⌉ above. */
  def cellSpanFor(nlist: Int): Int = (nlist + GroupCap - 1) / GroupCap

  /** Sentinel default for serving-path `nprobe` parameters: resolve
    * via [[nprobeFor]] from the index's own cell count at call time.
    * What moved and what didn't (round-13 review correction — the
    * original comment overclaimed "oracle-gated corpora keep
    * bit-identical plans"): the DRIVER-GATE corpora (sf ≤ 0.01,
    * [[nlistFor]] floors at 16 cells) resolve to the legacy
    * nprobe = 4 and are bit-identical; the sf0.1 index is 45 cells →
    * nprobe 7, a DELIBERATE operating-point move for every n-family
    * default (≈75% more candidates per query than the old fixed 4,
    * planted recall 0.99 vs 0.96 — `bench_recall_sf01.json`), with
    * the n-family bench rows re-anchored this round under the new
    * point. Contract queries stay green either way (their invariants
    * don't encode the probe width). */
  val AutoNprobe = 0

  /** Driver-side trained structures + the persisted table locations. */
  final case class Loaded(dir: String,
                          cents: Array[Array[Double]],
                          pqCbs: Array[Array[Array[Double]]],
                          resCbs: Array[Array[Array[Double]]],
                          key: String = "",
                          nRows: Long = -1L,
                          span: Int = 1) extends ArtifactGen.Handle {
    def ivf(spark: SparkSession): DataFrame =
      open(spark, "ivf")
    def pqCodes(spark: SparkSession): DataFrame =
      open(spark, "pq_codes")
    def ivfPqCodes(spark: SparkSession): DataFrame =
      open(spark, "ivfpq_codes")
    def sq8(spark: SparkSession): DataFrame =
      open(spark, "sq8")
  }

  /** Corpus-version fingerprint from parquet FILE metadata (names,
    * lengths, mtimes) — cheap, no data scan, and changes whenever the
    * driver regenerates testdata, so a stale artifact can never be
    * served for a new corpus. */
  def corpusKey(sfDir: String): String =
    Fingerprint.ofTables(sfDir, "embeddings")

  type L = Loaded

  protected def loadKeyed(spark: SparkSession, dir: String,
                          key: String): Loaded =
    load(spark, dir).copy(key = key)

  protected def buildKeyed(corpus: DataFrame, dir: String,
                           key: String): Loaded =
    build(corpus, dir).copy(key = key)

  /** One row per vector in EVERY encoding table — the invariant each
    * addVectors tear point breaks (any subset of the four appends). */
  protected def lockstep(spark: SparkSession, l: Loaded): Boolean = {
    // four independent reads of settled state, overlapped (the
    // TextIndex.lockstep discipline) — one wall per ensure()
    var n, pq, ivfpq, sq8 = 0L
    Par.run(
      () => n = l.ivf(spark).count(),
      () => pq = l.pqCodes(spark).count(),
      () => ivfpq = l.ivfPqCodes(spark).count(),
      () => sq8 = l.sq8(spark).count())
    pq == n && ivfpq == n && sq8 == n
  }

  /** (vec_id, label, v, nrm, cell): the coarse-quantizer assignment of
    * `emb` under fixed centroids — the shared encode step of [[build]]
    * and [[addVectors]], public so specs can recompute assignments
    * independently of the persisted table. `label` rides along as the
    * filterable attribute stored IN the index (the ES doc-values /
    * FAISS id-selector discipline): filtered vector search
    * ([[Similarity.knnIvfBatchFiltered]]) must evaluate its metadata
    * predicate against the index rows it probes, never by joining back
    * to the raw corpus. */
  def assignCells(emb: DataFrame, cents: Array[Array[Double]]): DataFrame =
    Similarity.withNorm(emb)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"),
        Similarity.cellOf(cents, col("v"), col("nrm")).as("cell"))

  /** Shared writer of the two cell-partitioned tables. span == 1:
    * the unchanged v7 shape — one hash shuffle on `cell` (one writer
    * task per cell, nlist row-group-sized files, the file-count
    * discipline in the build comment below). span > 1 ([[GroupCap]]
    * exceeded): `cgrp` = cell / span becomes the partition column,
    * `cell` stays in the data, the shuffle clusters on cgrp and the
    * (cgrp, cell, vec_id) sort keeps cells contiguous within files
    * so `cell` row-group stats carry the pruning the partition dirs
    * no longer can; maxRecordsPerFile splits a big group's output
    * into row-group-sized files WITHOUT extra tasks (the writer
    * rolls files), which is what bounds file size once group volume
    * outgrows one file — dir count stays ≤ GroupCap regardless. */
  private def writeCellTable(df: DataFrame, path: String, span: Int,
                             mode: String, maxRecords: Long): Unit =
    if (span <= 1)
      df.repartition(col("cell"))
        .sortWithinPartitions(col("cell"), col("vec_id"))
        .write.mode(mode).partitionBy("cell").parquet(path)
    else
      // integer division: cells are non-negative, so the int cast's
      // truncation is exactly the writer/reader-shared cell / span
      df.withColumn("cgrp", (col("cell") / lit(span)).cast("int"))
        .repartition(col("cgrp"))
        .sortWithinPartitions(col("cgrp"), col("cell"), col("vec_id"))
        .write.mode(mode)
        .option("maxRecordsPerFile", maxRecords)
        .partitionBy("cgrp").parquet(path)

  /** The four per-vector encodings of `vecs` under `l`'s frozen
    * trained structures, written into `l.dir` with `mode` — the one
    * writer of [[build]] (overwrite) and [[addVectors]] (append).
    * The four passes are INDEPENDENT given the trained structures and
    * run CONCURRENTLY (Par scaladoc): each is its own scan either way,
    * so overlapping them back-fills the scheduling/commit/tail gaps
    * without changing total read volume. `written` runs as each table
    * lands, with its name. */
  private def writeEncodings(vecs: DataFrame, l: Loaded, mode: String)(
      written: String => Unit): Unit = {
    val dim = l.cents.head.length
    Par.run(
      () => { writeCellTable(assignCells(vecs, l.cents), s"${l.dir}/ivf",
          l.span, mode, recordsPerFile(8L * dim + 20))
        written("ivf") },
      () => { Similarity.pqEncode(vecs, l.pqCbs)
          .write.mode(mode).parquet(s"${l.dir}/pq_codes")
        written("pq") },
      () => { writeCellTable(Similarity.ivfPqEncode(vecs, l.cents, l.resCbs),
          s"${l.dir}/ivfpq_codes", l.span, mode,
          recordsPerFile(4L * l.resCbs.length + 8))
        written("ivfpq") },
      () => { Similarity.quantizedIndex(vecs)
          .write.mode(mode).parquet(s"${l.dir}/sq8")
        written("sq8") })
  }

  /** ~256 MiB of rows for a table whose row is `rowBytes` wide — the
    * file-roll bound grouped writes pass as maxRecordsPerFile. */
  private def recordsPerFile(rowBytes: Long): Long =
    math.max(1L, (256L << 20) / math.max(1L, rowBytes))

  /** The ingest job: train once (one bounded sample collection feeds
    * all three trainers), encode the corpus once per index family,
    * persist everything.
    *
    * `nlistOverride` (> 0) pins the coarse cell count instead of
    * [[nlistFor]] — the ROUTER-DESIGN PROBE hook (round-14 verdict
    * task 3): the two-level-router decision needs candidates/query
    * measured under a finer-than-√n cell layout on the same corpus,
    * which only a build at a forced nlist can produce. Managed
    * artifacts ([[ensure]]) never pass it. */
  def build(corpus: DataFrame, dir: String,
            nlistOverride: Int = -1, spanOverride: Int = -1): Loaded = {
    val spark = corpus.sparkSession
    // phase timing on stderr — a scheduled ingest job's progress log,
    // and what localizes a build-time regression to train vs encode
    // (the round-13 ×100 probe was diagnosed from exactly these lines)
    var t0 = System.nanoTime()
    def mark(phase: String): Unit = {
      val t1 = System.nanoTime()
      System.err.println(f"[ann-build] $phase ${(t1 - t0) / 1e9}%.1fs")
      t0 = t1
    }
    // √n cells ([[nlistFor]] scaladoc): one metadata-cheap count
    // decides the coarse resolution. TWO training regimes, gated on
    // the same threshold as serving-side routing:
    //
    //  - nlist < RouteThreshold (every oracle-gated corpus): the one
    //    exact driver Lloyd's ([[graft.functions.CentroidImpl
    //    .cosineLloyds]], also behind kmeansCentroids, ivfPqTrain and
    //    the routing tables) on the bounded 64·nlist sample —
    //    bit-identical to all prior rounds. The PQ/residual codebooks
    //    train on the fixed-size PREFIX of that sample, which is
    //    exactly normalizedSample(corpus, SampleSize) (the sample is
    //    (xxhash64, vec_id)-ordered, so a prefix of a longer limit is
    //    the shorter limit).
    //  - nlist ≥ RouteThreshold: DISTRIBUTED Lloyd's
    //    ([[Similarity.kmeansDistributed]]) — the 64·nlist sample
    //    stays executor-resident; with nlist = √n the old driver
    //    collection was 64·√n vectors of driver state, unbounded at
    //    100 TB (round-12 verdict task 2). Driver state here is
    //    Θ(nlist·dim): the centroid matrix itself, which load() holds
    //    anyway. The PQ/residual codebooks are M·Ksub entries
    //    regardless of corpus and keep training on the bounded
    //    normalizedSample(corpus, codebookSampleFor(ksub)) —
    //    corpus-independent cost, constant driver state.
    val n = corpus.count()
    val nlist = if (nlistOverride > 0) nlistOverride else nlistFor(n)
    // dir-count bound for the cell-partitioned tables ([[GroupCap]]
    // scaladoc); `spanOverride` is the spec hook that forces grouping
    // on a suite-sized corpus — the grouped path would otherwise only
    // run above 2048 cells (≥ 4M vectors), untestable in-suite
    val span = if (spanOverride > 0) spanOverride else cellSpanFor(nlist)
    val routed = nlist >= graft.functions.Centroids.RouteThreshold
    val (cents, cbSample) =
      if (!routed) {
        val sample = Similarity.normalizedSample(corpus, sampleSizeFor(nlist))
        (graft.functions.CentroidImpl.cosineLloyds(sample, nlist, Iters),
          sample.take(SampleSize))
      } else
        (Similarity.kmeansDistributed(corpus, n, nlist, Iters),
          Similarity.normalizedSample(corpus, codebookSampleFor(ksubFor(nlist))))
    mark(s"train-coarse nlist=$nlist routed=$routed")
    val ks = ksubFor(nlist)
    val pqCbs = Similarity.pqTrainFromSample(cbSample, M, ks, Iters)
    val resCbs = Similarity.residualCodebooks(cbSample, cents, M, ks, Iters)
    mark(s"train-codebooks ksub=$ks")

    import spark.implicits._
    val cbRows =
      cents.zipWithIndex.map { case (v, i) => ("cent", 0, i, v.toSeq) } ++
      (for (j <- pqCbs.indices; c <- pqCbs(j).indices)
        yield ("pq", j, c, pqCbs(j)(c).toSeq)) ++
      (for (j <- resCbs.indices; c <- resCbs(j).indices)
        yield ("res", j, c, resCbs(j)(c).toSeq))
    cbRows.toSeq.toDF("kind", "grp", "idx", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")

    // cell-partitioned tables CLUSTER by cell before the partitioned
    // write: without the repartition every write task owns rows of
    // every cell, so the job sprays tasks × nlist files — ~45k
    // half-row-group files at the ×1000 decade (1 414 cells × 32
    // tasks), and the encode phases go WRITE-bound at ~20× their
    // compute cost (round-13 probe: encode-ivf 147 s where assignment
    // itself is ~2 s/core). One hash shuffle on the cell key — the
    // same key the table is partitioned by — lands each cell in
    // exactly one task: nlist total files, row-group-sized, and the
    // commit cost is file-count-bound no longer. This is also the
    // 100 TB-correct layout: one writer per partition, scan-sized
    // files, no small-file compaction debt.
    // within-cell id sort (layout v7): tight vec_id row-group stats
    // make the serving rerank's point-fetch join skip non-candidate
    // row groups; the sort rides the shuffle the clustering already
    // pays, so the build cost is unchanged at any scale
    // _DONE is written last, so a tear anywhere rebuilds whole. The
    // per-phase regression-localization marks (the round-13 diagnosis
    // tool) survive as per-table timings against a shared start.
    val built = Loaded(dir, cents, pqCbs, resCbs, nRows = n, span = span)
    val tEnc = System.nanoTime()
    writeEncodings(corpus, built, "overwrite")(table => System.err.println(
      f"[ann-build] encode-$table ${(System.nanoTime() - tEnc) / 1e9}%.1fs"))
    mark("encode-all")

    // the span is part of the PHYSICAL layout: an appender or reader
    // that guessed it from nlist could disagree with the writer the
    // moment an override (or a future formula change) was in play,
    // and a wrong-span append would interleave cell= and cgrp= dirs
    // in one table — persisted next to the data, before _DONE, like
    // every other fact about the artifact
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_LAYOUT"),
      s"span=$span\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ArtifactGen.markDone(dir)
    built
  }

  /** THE serving entry point — arm selection by cell count (round-14,
    * the round-13 weak flag): below
    * [[graft.functions.Centroids.RouteThreshold]] cells (every
    * oracle-gated corpus; routing inactive) queries scan the probed
    * cells' FULL vectors exactly as before — plans bit-identical to
    * prior rounds. At routing-active cell counts, IVF-FLAT's in-cell
    * scans are the asymptote problem: holding recall needs nprobe ≈
    * √nlist, so per-query candidate work grows ≈ n^(3/4) of
    * (8·dim+20)-byte rows. There the same probed cells are scanned in
    * the COMPRESSED domain instead
    * ([[Similarity.knnIvfPqRerankBatch]] — the artifact's
    * `ivfpq_codes` at ~(4m+8) bytes/row, ADC-ranked) and only the
    * top-R shortlist fetches full-precision rows for EXACT scoring —
    * candidate bytes/query drop ≥8× (the FAISS answer at scale:
    * PQ-compressed in-cell scans with a refine stage; Jégou 2011
    * §V.C). Both arms mask tombstones through [[liveView]] and return
    * the same (qid, vec_id, label, cos_sim, rank) schema with
    * identical EXACT scores — the arm changes WHICH candidates rank,
    * never their scores; the recall probe gates the operating point
    * (planted ≥0.9 at the serving default, bytes ratio ≥8) per
    * decade. */
  def search(spark: SparkSession, ix: Loaded, emb: DataFrame,
             queryIds: Seq[Long], k: Int = 10,
             nprobe: Int = AutoNprobe): DataFrame =
    if (ix.cents.length < graft.functions.Centroids.RouteThreshold)
      Similarity.knnIvfBatchAssigned(emb,
        liveView(spark, ix, ix.ivf(spark)), ix.cents, queryIds, k, nprobe,
        span = ix.span)
    else
      Similarity.knnIvfPqRerankBatch(emb,
        liveView(spark, ix, ix.ivf(spark)),
        liveView(spark, ix, ix.ivfPqCodes(spark)),
        ix.cents, ix.resCbs, queryIds, k, nprobe, nHint = ix.nRows,
        span = ix.span)

  /** Incremental vector ingest — the FAISS `add()` model: new vectors
    * are encoded against the FROZEN trained structures (coarse
    * centroids, PQ/residual codebooks stay exactly as trained; FAISS
    * never retrains on add, it assigns and encodes) and appended to
    * every index table as new parquet files — O(batch) work, the
    * existing corpus is never touched. The cell-partitioned tables
    * (ivf, ivfpq_codes) append INTO their cell directories, so
    * partition pruning keeps working across segments. A vec_id already
    * present is rejected loudly (silently appending would return the
    * same id twice from every probe); updates are delete-and-reingest,
    * as in the text index's segment model. Drift discipline: encode
    * quality against frozen codebooks degrades as the data
    * distribution moves — the scheduled re-train is [[build]] under a
    * new corpus version key, exactly the FAISS retrain-when-recall-
    * drops operational loop. */
  def addVectors(base: Loaded, delta: DataFrame): Loaded = {
    val spark = delta.sparkSession
    // ONE pass computes all three admission numbers (the
    // TextIndex.addSegment shape): ivf is unique per vec_id, so the
    // left join preserves delta row multiplicity and count(_in_base)
    // equals the semi-join count — two full delta passes merged into
    // one job
    val Array(nDelta, nDistinct, dup) = delta.select(col("vec_id"))
      .join(base.ivf(spark).select(col("vec_id"),
        lit(1).as("_in_base")), Seq("vec_id"), "left")
      .agg(count(lit(1)), countDistinct(col("vec_id")),
        count(col("_in_base")))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    require(dup == 0,
      s"$dup delta vec_ids already indexed — vector appends must be " +
      "disjoint (update = delete + reingest)")
    // ...and disjoint WITHIN the batch (the TextIndex.addSegment rule):
    // an intra-batch repeat would pass the base check yet appear twice
    // in every index table and twice in every probe result
    require(nDelta == nDistinct,
      s"${nDelta - nDistinct} duplicate vec_ids WITHIN the delta batch " +
      "— dedup the batch before ingesting it")
    // the four appends are not transactional: a failure partway leaves
    // ivf/ ahead of pq_codes/sq8 AND blocks the retry (the dup check
    // consults ivf) — so a partial append INVALIDATES the artifact
    // and the next ensure() rebuilds, instead of IVF probes seeing
    // vectors the PQ/SQ8 paths silently miss forever
    appending(base, "vector append") {
      // the build's writer applied to segments: a delta lands one
      // file per touched cell (or cgrp, under the grouped layout —
      // base.span is the PERSISTED span, so a segment can never
      // interleave the two layouts), not tasks × cells. Par awaits
      // all four appends before any rethrow, so the invalidation never
      // races a still-running writer; any hard-crash subset leaves the
      // four row counts disagreeing, which is exactly what lockstep
      // flags — order never mattered for tear detection here, only
      // count equality.
      writeEncodings(delta, base, "append")(_ => ())
    }
    // the live row count rides the handle so [[search]]'s shortlist
    // depth keeps tracking the TRUE candidate count as frozen-
    // structure adds grow n past the trained nlist² identity
    // (Similarity.rerankDepthFor scaladoc); the managed memo entry
    // is refreshed so later ensure() callers see it too
    refresh(
      if (base.nRows > 0) base.copy(nRows = base.nRows + nDelta) else base)
  }

  /** ivf holds one row per indexed vector. */
  protected def idTable(spark: SparkSession, l: Loaded): DataFrame =
    l.ivf(spark).select(col("vec_id"))

  /** The live-row rewrite of [[purgeDeletes]]: ivf, pq_codes,
    * ivfpq_codes and sq8 without the tombstoned vectors (FAISS
    * deployments likewise batch `remove_ids` into a merge). */
  protected def rewriteLive(spark: SparkSession, base: Loaded): Loaded = {
    // the cell-partitioned tables are rewritten by the build's own
    // writer: clustered on the partition key, the v7 within-cell
    // vec_id sort kept, and — grouped layout — the file-roll bound
    // kept too (one cgrp holds span cells, and a purge without
    // maxRecordsPerFile would fuse each group into one unbounded file,
    // silently undoing the size cap until a rebuild).
    // The four rewrites are independent (separate tables, separate
    // tmp+swap dirs) and run CONCURRENTLY (Par scaladoc); any crash
    // subset leaves the four row counts disagreeing — exactly what
    // lockstep flags
    val dim = base.cents.head.length
    // the refreshed live row count rides the ivf rewrite itself (an
    // Observation on the frame the swap already scans) instead of a
    // separate post-swap count job — one fewer corpus pass per purge
    val obs = org.apache.spark.sql.Observation()
    Par.run(
      () => swapIn(spark, base, "ivf")(writeCellTable(
        liveView(spark, base, base.ivf(spark))
          .observe(obs, count(lit(1)).as("n")),
        _, base.span, "overwrite", recordsPerFile(8L * dim + 20))),
      () => swapIn(spark, base, "pq_codes")(overwrite(
        liveView(spark, base, base.pqCodes(spark)))),
      () => swapIn(spark, base, "ivfpq_codes")(writeCellTable(
        liveView(spark, base, base.ivfPqCodes(spark)),
        _, base.span, "overwrite", recordsPerFile(4L * base.resCbs.length + 8))),
      () => swapIn(spark, base, "sq8")(overwrite(
        liveView(spark, base, base.sq8(spark)))))
    // refresh the live row count riding the handle (the addVectors
    // discipline in reverse): without it, load()'s pre-purge count —
    // which included tombstoned rows — permanently over-sizes the
    // rerank shortlist (extra full-precision fetches per query) until
    // an artifact rebuild. Recall-safe either way; this is the cost
    // side. The count was observed during the ivf rewrite above.
    refresh(base.copy(nRows = obs.get("n").asInstanceOf[Long]))
  }

  /** Reload the driver-side structures from a completed artifact. */
  def load(spark: SparkSession, dir: String): Loaded = {
    val rows = spark.read.parquet(s"$dir/codebooks")
      .select(col("kind"), col("grp"), col("idx"), col("vec"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getSeq[Double](3).toArray))
    def group(kind: String): Array[Array[Array[Double]]] = {
      val of = rows.filter(_._1 == kind)
      of.map(_._2).distinct.sorted.map { j =>
        of.filter(_._2 == j).sortBy(_._3).map(_._4)
      }
    }
    val cents = group("cent").head
    // live row count rides the Loaded handle so the serving shortlist
    // depth tracks the TRUE candidate count (rerankDepthFor scaladoc);
    // one metadata-cheap count per JVM per artifact
    val n = spark.read.parquet(s"$dir/ivf").count()
    // layout span: absent = pre-grouping artifact (always span 1 —
    // no corpus could have been grouped before the marker existed);
    // present-but-unparseable = a corrupted artifact, and GUESSING
    // here would let a later addVectors append the WRONG layout into
    // the table (interleaved cell=/cgrp= dirs) — refuse loudly, the
    // torn-build discipline
    val layoutPath = java.nio.file.Paths.get(dir, "_LAYOUT")
    val span =
      if (!java.nio.file.Files.exists(layoutPath)) 1
      else {
        val s = new String(java.nio.file.Files.readAllBytes(layoutPath),
          java.nio.charset.StandardCharsets.UTF_8).trim
        scala.util.Try(s.stripPrefix("span=").toInt).toOption
          .filter(_ >= 1)
          .getOrElse(sys.error(
            s"unparseable _LAYOUT '$s' in $dir — artifact corrupt, " +
              "delete the generation to rebuild"))
      }
    Loaded(dir, cents, group("pq"), group("res"), nRows = n, span = span)
  }
}
