package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.CentroidImpl
import graft.functions.expressions.dot_product

/** Similarity search over an embedding column (`Array[Float]`) —
  * SURVEY.md §7 M5. Two paths:
  *
  *  - brute-force cosine top-k: one scan, dot products via the
  *    codegen'd [[graft.functions.expressions.DotProduct]] primitive,
  *    global top-k via orderBy+limit which Spark plans as
  *    `TakeOrderedAndProject` — partition-local top-k then a driver
  *    merge, so the full score column never shuffles. Correct baseline
  *    at any scale, O(n·d) work.
  *  - LSH-bucketed (random hyperplane signs → bucket): the scale path.
  *    Probing only the query's bucket turns a full scan into a
  *    fraction-of-corpus scan, the standard SimHash-for-cosine
  *    construction. Hyperplanes are derived deterministically (seeded),
  *    so signatures are reproducible across runs and cluster sizes.
  *
  * Norms are always computed once per row in a projection *before* any
  * join — never inside the join condition/output, where they would be
  * re-evaluated per candidate pair.
  */
object Similarity {

  /** Σ aᵢ·bᵢ (codegen'd primitive loop). */
  def dot(a: Column, b: Column): Column = dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** (id, v, nrm) projection: vectors as array<double> with their norm
    * materialized once. Zero vectors are EXCLUDED here: cosine is
    * undefined for them, and under ANSI SQL (Spark 4 default) the
    * norm division would otherwise abort the whole query with
    * DIVIDE_BY_ZERO the first time a degenerate embedding appears in
    * a corpus. */
  private[operators] def withNorm(emb: DataFrame): DataFrame =
    emb.withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("nrm", norm(col("v")))
      .filter(col("nrm") > 0.0)

  /** Collect + validate a query vector: present, nonzero norm. A bare
    * `.head()` would throw an uninformative NoSuchElementException for
    * a missing id, and a zero-norm query would score every row NaN
    * (which Spark sorts HIGHEST, silently returning arbitrary rows). */
  private def queryVector(emb: DataFrame, queryId: Long): (Array[Double], Double) = {
    val rows = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").cast("array<double>")).take(1)
    require(rows.nonEmpty, s"knn: query vec_id=$queryId not found")
    val q = rows.head.getSeq[Double](0).toArray
    val qn = math.sqrt(q.map(x => x * x).sum)
    require(qn > 0.0, s"knn: query vec_id=$queryId has zero norm")
    (q, qn)
  }

  /** Brute-force cosine top-k neighbors of the vector with id
    * `queryId`. The 1-row query side is collected and inlined as a
    * literal (the degenerate broadcast join), so the corpus is scanned
    * exactly once with no shuffle; the query's norm is computed ONCE
    * driver-side (an in-row `norm(lit(q))` is not constant-folded and
    * would re-pay O(d) per corpus row). */
  def knnBrute(emb: DataFrame, queryId: Long, k: Int = 10): DataFrame = {
    val (q, qn) = queryVector(emb, queryId)
    val qc = lit(q)
    withNorm(emb) // zero vectors excluded (cosine undefined for them)
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"),
        round(dot(col("v"), qc) / (col("nrm") * lit(qn)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Deterministic pseudo-random unit hyperplanes (seeded), used for
    * the LSH signature. */
  private def hyperplanes(dim: Int, nPlanes: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane LSH bucket id: one bit per plane = sign of the
    * dot product. Vectors in the same bucket are likely cosine-close. */
  def lshBucket(v: Column, planes: Array[Array[Double]]): Column = {
    // beyond 63 planes 1L << i wraps (shift count mod 64) and planes
    // silently alias bucket bits — coarser buckets, broken Hamming
    // rings, and nothing downstream would notice the recall loss
    require(planes.length <= 63,
      s"lshBucket: at most 63 planes fit the Long bucket, got ${planes.length}")
    val bits = planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, lit(p)) > 0.0, lit(1L << i)).otherwise(0L)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** ANN top-k: restrict the scan to the query's LSH bucket, then exact
    * cosine rank inside it. With `nPlanes` bits, the corpus shrinks
    * ~2^nPlanes-fold; recall is tested against `knnBrute` in
    * SimilaritySpec. */
  def knnLsh(emb: DataFrame, queryId: Long, k: Int = 10,
             nPlanes: Int = 4, seed: Long = 42L): DataFrame =
    knnLshMultiProbe(emb, queryId, k, nPlanes, probeRadius = 0, seed)

  /** Multi-probe LSH (Lv et al., "Multi-Probe LSH", VLDB '07): probe
    * the query's bucket plus every bucket within Hamming distance
    * `probeRadius` of it — near-miss neighbors usually differ by one
    * flipped hyperplane sign, so each extra ring of probes recovers
    * most of the recall a single probe loses while still scanning
    * ~probes/2^nPlanes of the corpus. With a FIXED plane family the
    * probed set only grows with the radius, so recall is MONOTONE in
    * `probeRadius` and reaches brute-force exactly at radius =
    * nPlanes (both proved in SimilaritySpec). The probe set is an
    * O(nPlanes^radius) driver-side enumeration of bit masks — never a
    * function of corpus size. */
  def knnLshMultiProbe(emb: DataFrame, queryId: Long, k: Int = 10,
                       nPlanes: Int = 4, probeRadius: Int = 1,
                       seed: Long = 42L): DataFrame = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val planes = hyperplanes(dim, nPlanes, seed)
    val bucketed = withNorm(emb).withColumn("bucket",
      lshBucket(col("v"), planes))
    val (q, qn) = queryVector(emb, queryId)
    val qBucket = planes.zipWithIndex.foldLeft(0L) { case (b, (p, i)) =>
      val d = p.zip(q).map { case (a, x) => a * x }.sum
      if (d > 0.0) b | (1L << i) else b
    }
    // enumerate the masks directly as bit COMBINATIONS of size
    // 0..radius — O(nPlanes^radius) as documented, and safe for any
    // nPlanes up to the bucket's 63 bits (a 0-until-2^nPlanes range
    // scan would overflow Int at 31 planes and cost 2^nPlanes)
    val probes = (0 to math.min(probeRadius, nPlanes))
      .flatMap(r => (0 until nPlanes).combinations(r))
      .map(c => c.foldLeft(qBucket)((b, i) => b ^ (1L << i)))
    val qc = lit(q)
    bucketed
      .filter(col("bucket").isin(probes: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"),
        round(dot(col("v"), qc) / (col("nrm") * lit(qn)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** The bounded deterministic training sample every driver-side
    * trainer shares (k-means, PQ, IVFPQ): xxhash64 order makes it a
    * pseudo-random-but-reproducible subset, normalized row-wise. */
  private[operators] def normalizedSample(emb: DataFrame,
                                          sampleSize: Int): Array[Array[Double]] =
    withNorm(emb).orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleSize)
      .select(col("v"), col("nrm")).collect()
      .map(r => r.getSeq[Double](0).map(_ / r.getDouble(1)).toArray)

  /** k-means (Lloyd) on a bounded deterministic sample — the ingest-time
    * centroid-training job for [[knnIvf]]. The sample (hash-ordered, so
    * stable across runs and cluster sizes) is collected to the driver:
    * centroid training is O(sample × k × iters) and the sample is
    * bounded (default 1024 rows) regardless of corpus size, which is
    * exactly how FAISS trains IVF coarse quantizers; only ASSIGNMENT
    * touches the full corpus, and that stays distributed. Centroids are
    * L2-normalized so nearest-by-dot equals nearest-by-cosine
    * ([[graft.functions.CentroidImpl.cosineLloyds]]). */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int = 10,
                      sampleSize: Int = 1024): Array[Array[Double]] =
    CentroidImpl.cosineLloyds(normalizedSample(emb, sampleSize), k, iters)

  /** Fixed-point scale for the distributed Lloyd's element sums — the
    * N6 per-label-centroid reproducibility pattern: quantize each
    * element to integer nano-units row-locally, sum exact BIGINTs
    * (order-independent by construction), divide back on the driver.
    * Normalized elements are in [-1, 1], so a cell's sum is bounded by
    * sampleRows·10⁹ ≤ ~10¹⁶ even with every sample point in one cell —
    * five decades inside Long. */
  private val LloydFixedPoint = 1e9

  /** DISTRIBUTED Lloyd's over an executor-resident sample — the
    * √n-scaled trainer [[graft.operators.AnnIndex.build]] uses at and
    * above [[graft.functions.Centroids.RouteThreshold]] cells. The
    * round-12 trainer collected a 64·nlist-point sample to the driver
    * ([[normalizedSample]]); with nlist = √n that is 64·√n vectors of
    * driver state — tens of GB at 10¹⁰ vectors, the one remaining
    * corpus-growing driver wall in the repo (round-12 verdict task 2).
    * Here the sample never leaves the cluster:
    *
    *  - SAMPLING is a deterministic hash filter — keep rows whose
    *    xxhash64(vec_id) ≡ 0 (mod ⌊n/(64·k)⌋) — one scan, no global
    *    sort, no single-partition gather; expected size 64·k (the
    *    FAISS 30–256-per-centroid band), deterministic across runs
    *    and cluster sizes because it keys on row content alone.
    *  - SEEDS are the k lowest-(hash, vec_id) sample rows — a k-row
    *    TakeOrdered, i.e. exactly the centroid matrix the driver must
    *    hold anyway (driver state is Θ(k·dim) = the size of the
    *    returned model, the floor for a driver-resident codebook).
    *  - Each ITERATION assigns the cached sample through the SAME
    *    routed executor kernel serving uses
    *    ([[graft.functions.Centroids.nearest_cell]] — ~beam·√k dots
    *    per point), then reduces fixed-point elementwise sums
    *    ([[LloydFixedPoint]], [[graft.functions.LongVecSum]]) in one
    *    groupBy(cell) — k ARRAY-valued rows per iteration, the raw
    *    model matrix with no per-element Row overhead. The update is
    *    the driver loop's ([[graft.functions.CentroidImpl.unitMean]]):
    *    means re-normalize to unit length, empty cells keep their
    *    centroid.
    *
    * Semantics: routed-assignment Lloyd's — approximate BY CONTRACT
    * above RouteThreshold (the serving contracts are invariant to
    * WHICH centroids training chose); below the threshold
    * [[AnnIndex.build]] trains with the exact driver loop
    * ([[graft.functions.CentroidImpl.cosineLloyds]]), so every
    * oracle-gated corpus is untouched. Deterministic end-to-end:
    * content-keyed sampling, deterministic kernels, order-independent
    * integer sums. */
  private[graft] def kmeansDistributed(emb: DataFrame, nTotal: Long,
                                           k: Int, iters: Int,
                                           perCell: Int = 64): Array[Array[Double]] = {
    val keep = math.max(1L, nTotal / (k.toLong * perCell))
    val sampled = withNorm(emb)
      .filter(pmod(xxhash64(col("vec_id")), lit(keep)) === 0)
      .select(col("vec_id"), xxhash64(col("vec_id")).as("h"),
        transform(col("v"), x => x / col("nrm")).as("vhat"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds = sampled.orderBy(col("h"), col("vec_id"))
        .limit(k).select(col("vhat")).collect()
        .map(_.getSeq[Double](0).toArray)
      require(seeds.length == k,
        s"distributed Lloyd's: sample holds only ${seeds.length} rows " +
          s"for k=$k cells — corpus too small for this cell count")
      val dim = seeds.head.length
      var cents = seeds
      var it = 0
      while (it < iters) {
        val cur = cents
        // the assignment is projected in its OWN select BELOW the
        // generator: a generator's select-list siblings resolve into
        // the Project ABOVE Generate, where the kernel would re-run
        // once per exploded ELEMENT — dim× the work (the documented
        // ProjectCollapse/Generate hazard; measured 409 s vs 9 s on
        // the ×100 probe). As an attribute it rides Generate's
        // requiredChildOutput, computed once per sample row.
        val assigned = sampled
          .select(graft.functions.Centroids
            .nearest_cell(cur, col("vhat"), lit(1.0)).as("cell"),
            col("vhat"))
        // reduction is ONE array-valued row per cell (k rows, not
        // k·dim four-field Rows — the round-13 posexplode shape paid
        // ~4–5× the raw matrix in Row overhead per iteration; at 10⁵
        // cells × 768 dims that was a multi-GB driver transient).
        // floor(x·FP + 0.5) is LongType already; long_vec_sum adds the
        // SAME order-independent fixed-point integers, so centroids
        // are bit-identical to the exploded formulation.
        val agg = assigned
          .select(col("cell"), transform(col("vhat"),
            x => floor(x * LloydFixedPoint + 0.5)).as("q"))
          .groupBy(col("cell"))
          .agg(graft.functions.aggregates.long_vec_sum(col("q")).as("s"),
            count(lit(1)).as("cnt"))
          .collect()
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Long](k)
        agg.foreach { r =>
          val c = r.getInt(0)
          val s = r.getSeq[Long](1)
          var j = 0
          while (j < dim) {
            sums(c)(j) = s(j).toDouble / LloydFixedPoint; j += 1
          }
          counts(c) = r.getLong(2)
        }
        cents = Array.tabulate(k)(c =>
          CentroidImpl.unitMean(sums(c), counts(c), cur(c)))
        it += 1
      }
      cents
    } finally { sampled.unpersist(false); () }
  }

  /** Nearest-centroid cell id by (cosine desc, centroid index asc) —
    * the single shared tie-break for cell ASSIGNMENT and cell PROBING
    * on both the single-query and batch paths: duplicate centroids
    * are reachable (empty k-means cells keep their seed), so a tie
    * broken differently on two paths would probe different cell sets.
    * Loop-based kernel ([[graft.functions.CentroidImpl]] scaladoc):
    * the earlier sort_array-over-struct-literals form unrolled
    * O(nlist·dim) generated CODE, which at √n-scaled cell counts
    * falls off the JIT and runs interpreted — the ×1000 probe caught
    * one assignment task burning 27 CPU-minutes. Same accumulation
    * order, bit-identical sims, identical assignments. */
  private[operators] def cellOf(cents: Array[Array[Double]], v: Column,
                                nrm: Column): Column =
    graft.functions.Centroids.nearest_cell(cents, v, nrm)

  /** Resolve [[AnnIndex.AutoNprobe]] against the index's own cell
    * count — every serving path defaults to the √nlist operating
    * point ([[AnnIndex.nprobeFor]] scaladoc); an explicit positive
    * `nprobe` always wins (the recall probe's sweep knob). */
  private def resolveNprobe(nprobe: Int, nlist: Int): Int =
    if (nprobe > 0) nprobe else AnnIndex.nprobeFor(nlist)

  /** The `nprobe` best cell ids in [[cellOf]]'s total order — the
    * query-side probe list (array<int>, rank order). */
  private[operators] def probeCellsOf(cents: Array[Array[Double]],
                                      v: Column, nrm: Column,
                                      nprobe: Int,
                                      routed: Boolean = true): Column =
    graft.functions.Centroids.top_cells(cents, v, nrm, nprobe, routed)

  /** IVF-flat ANN: coarse-quantize the corpus into `nlist` cells
    * (centroids k-means-trained on a bounded deterministic sample —
    * [[kmeansCentroids]]), assign each vector to its nearest centroid,
    * then answer queries by probing only the `nprobe` nearest cells —
    * the inverted-file structure of FAISS-style IVF, as plain DataFrame
    * ops. At 100 TB training + assignment is a one-off ingest job (and
    * the cell is a natural partition / bucket key); queries scan
    * nprobe/nlist of the corpus. */
  def knnIvf(emb: DataFrame, queryId: Long, k: Int = 10,
             nlist: Int = 16, nprobe: Int = AnnIndex.AutoNprobe): DataFrame = {
    val e = withNorm(emb)
    val cents = kmeansCentroids(emb, nlist)
    val assigned = e.withColumn("cell",
      cellOf(cents, col("v"), col("nrm")))
    val qRow = assigned.filter(col("vec_id") === queryId)
      .select(col("v"), col("nrm")).head()
    val q = qRow.getSeq[Double](0).toArray
    val qn = qRow.getDouble(1)
    // same (sim desc, index asc) order as cellOf's kernel, through
    // the SAME host kernel — duplicate centroids (possible: empty
    // k-means cells keep their seed) must rank identically on the
    // driver and the executor paths
    val probeCells = graft.functions.Centroids
      .topCellsHost(cents, q, qn, resolveNprobe(nprobe, cents.length)).toSeq
    assigned
      .filter(col("cell").isin(probeCells: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"),
        round(dot(col("v"), lit(q)) / (col("nrm") * lit(qn)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Distributed top-k per query for a batch of scored candidates:
    * one `groupBy(qid)` whose aggregate is the bounded-heap
    * [[graft.functions.TopKByScore]] — per-group state is k (score,
    * id) pairs on BOTH the partial and the merge side (a
    * `collect_list` + `slice` formulation would buffer every candidate
    * row of the group before slicing), map-side partials do the heavy
    * pruning, and the shuffle carries 16·k bytes per (qid, partition).
    * Labels rejoin afterwards: the ≤ |queries|·k result rows broadcast
    * into one streamed pass over the (vec_id, label) projection, so
    * label values of any type ride along without living in the heap. */
  private def topKPerQuery(scored: DataFrame, labels: DataFrame,
                           k: Int): DataFrame = {
    val flat = scored.groupBy(col("qid"))
      .agg(graft.functions.aggregates
        .top_k_by_score(col("cos_sim"), col("vec_id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), col("s.vec_id").as("vec_id"),
        col("s.cos_sim").as("cos_sim"),
        (col("pos") + 1).cast("int").as("rank"))
    labels.join(broadcast(flat), Seq("vec_id"))
      .select(col("qid"), col("vec_id"), col("label"), col("cos_sim"),
        col("rank"))
  }

  /** Batched exact top-k — the ground-truth side of an embedding-eval
    * run, batched like the index paths: every corpus row scores
    * against every broadcast query row (the deliberate small-side
    * cross product an eval needs), then the two-phase per-query top-k.
    * One corpus scan for the whole query set. */
  def knnBruteBatch(emb: DataFrame, queryIds: Seq[Long], k: Int = 10): DataFrame = {
    val e = withNorm(emb)
    val queries = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"))
    val scored = e.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("cos_sim"))
    topKPerQuery(scored, emb.select(col("vec_id"), col("label")), k)
  }

  /** Batched LSH ANN: answer a whole query SET in one pass — the shape
    * an embedding-eval pipeline runs. The query side is a (tiny)
    * broadcast DataFrame, candidates come from a bucket equi-join, and
    * no query vector ever passes through the driver (contrast
    * [[knnLsh]], which `.head()`s one query at a time — fine
    * interactively, a driver-side loop when evaluating thousands of
    * probes). Output: (qid, vec_id, label, cos_sim, rank), the
    * single-query [[knnLsh]] result per qid.
    *
    * CONTRACT (all batch paths — this, knnIvfBatch*, ivfProbe): an
    * absent or zero-norm query id yields NO rows for that qid rather
    * than an error. Deliberate: validating ids would cost a second
    * pushed corpus read per batch (the single-query paths pay it
    * inside the `.head()` they already do); callers that need the
    * guarantee count distinct qids in the result — the n-family
    * contract queries do exactly that. */
  def knnLshBatch(emb: DataFrame, queryIds: Seq[Long], k: Int = 10,
                  nPlanes: Int = 4, seed: Long = 42L): DataFrame = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val planes = hyperplanes(dim, nPlanes, seed)
    val bucketed = withNorm(emb).select(col("vec_id"),
      col("v"), col("nrm"), lshBucket(col("v"), planes).as("bucket"))
    val queries = bucketed.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket"))
    val scored = bucketed.join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("cos_sim"))
    topKPerQuery(scored, emb.select(col("vec_id"), col("label")), k)
  }

  /** The recall probe's CONTROL arm ([[graft.RecallProbe]]): the same
    * centroids and query set with routing forced OFF on BOTH sides —
    * exact flat assignment of every corpus vector (the n·nlist term
    * routing exists to avoid — fine for a probe, not for serving) and
    * exact flat probe-cell ranking. The routed arm's recall is judged
    * against this arm's, isolating the two-level beam approximation
    * from everything IVF itself loses. */
  def knnIvfBatchWithFlat(emb: DataFrame, cents: Array[Array[Double]],
                          queryIds: Seq[Long], k: Int = 10,
                          nprobe: Int = AnnIndex.AutoNprobe): DataFrame = {
    val e = withNorm(emb)
    ivfProbe(emb,
      e.select(col("vec_id"), col("v"), col("nrm"),
        graft.functions.Centroids
          .nearest_cell(cents, col("v"), col("nrm"), routed = false)
          .as("cell")),
      cents, queryIds, wanted = None, k, nprobe, routed = false)
  }

  /** Batched IVF-flat ANN over a pre-ASSIGNED corpus: every query's
    * `nprobe` nearest cells become exploded (qid, cell) probe rows, and
    * candidates come from a cell equi-join — one distributed pass for
    * the whole query set, no per-query driver action (contrast
    * [[knnIvf]]). `assigned` is (vec_id, v, nrm, cell), typically
    * [[AnnIndex]]'s persisted IVF table written `partitionBy("cell")`:
    * the cell equi-join against the tiny probe side then reads only the
    * probed cells' files (partition pruning), the inverted-file access
    * path made of storage layout. `emb` supplies query vectors and
    * labels only. */
  def knnIvfBatchAssigned(emb: DataFrame, assigned: DataFrame,
                          cents: Array[Array[Double]],
                          queryIds: Seq[Long], k: Int = 10,
                          nprobe: Int = AnnIndex.AutoNprobe,
                          span: Int = 1): DataFrame =
    ivfProbe(emb, assigned, cents, queryIds, wanted = None, k, nprobe,
      span = span)

  /** Shared probe pipeline of [[knnIvfBatchAssigned]] and
    * [[knnIvfBatchFiltered]] — ONE implementation of cell ranking,
    * candidate join, scoring, and top-k, so the filtered and
    * unfiltered paths can never silently diverge; `wanted` (per-query
    * label predicates) is the only difference between them. `span`
    * ([[graft.operators.AnnIndex.Loaded.span]] — the grouped layout):
    * the probe side then ALSO carries the derived cgrp key and the
    * candidate join includes it, so dynamic partition pruning has a
    * partition-column equi-join to act on (the probe cells are
    * computed executor-side here, so the compressed arm's static
    * literal prune is not available); a wrong or defaulted span is
    * CORRECT either way — cgrp rides the join only when the assigned
    * frame actually has the column, and the cell equi-join alone is
    * exact. */
  private def ivfProbe(emb: DataFrame, assigned: DataFrame,
                       cents: Array[Array[Double]], queryIds: Seq[Long],
                       wanted: Option[Seq[(Long, Int)]], k: Int,
                       nprobe: Int, labelMatch: Boolean = true,
                       routed: Boolean = true, span: Int = 1): DataFrame = {
    val np = resolveNprobe(nprobe, cents.length)
    val e = withNorm(emb)
    val grouped = span > 1 && assigned.columns.contains("cgrp")
    val base0 = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"),
        explode(probeCellsOf(cents, col("v"), col("nrm"), np, routed))
          .as("cell"))
    val base = if (grouped)
      base0.withColumn("cgrp", (col("cell") / lit(span)).cast("int"))
    else base0
    val queries = wanted.fold(base) { ql =>
      val spark = emb.sparkSession
      import spark.implicits._
      base.join(ql.toDF("wq", "want_label"), col("qid") === col("wq"))
        .drop("wq")
    }
    val cand = assigned.join(broadcast(queries),
        if (grouped) Seq("cgrp", "cell") else Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
    val matching =
      if (wanted.isDefined)
        cand.filter(if (labelMatch) col("label") === col("want_label")
                    else col("label") =!= col("want_label"))
      else cand
    val scored = matching.select(col("qid"), col("vec_id"),
      round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6)
        .as("cos_sim"))
    topKPerQuery(scored, emb.select(col("vec_id"), col("label")), k)
  }

  /** Default exact-rerank shortlist depth — ONE definition shared by
    * the serving path and the recall probe's bytes ledger (the SQ8
    * single-sourcing lesson: two inlined copies let one drift
    * unverified). Two terms:
    *
    *  - 16·k (floor 128), the FAISS refine-style multiple — measured
    *    planted recall 0.933 at the ×100 serving default where 8·k
    *    read 0.908;
    *  - candidates/32 — the term the ×1000 CLUSTERED organic gate
    *    forced (round-14): on clustered data a query sits in a
    *    ~cluster-sized band of near-tie candidates, and the number of
    *    true neighbors the 8-bit ADC noise can displace scales with
    *    that band, so a FIXED depth covers a VANISHING fraction of
    *    candidates as n grows (160/54k ≈ 0.3% at ×1000 — organic
    *    recall through the shortlist read 0.63 where the probed cells
    *    held 0.986). Re-reading a constant 1/32 of the compressed
    *    candidates pins the bytes ratio at ≈ (8·dim+20)/((4m+8) +
    *    (8·dim+20)/32) ≈ 9.4 at dim 64 — scale-INVARIANT and over
    *    the ≥8 gate — while the shortlist tracks the near-tie band.
    *    Under the √n sizing (nlist = √n) candidates/query =
    *    nprobe·(n/nlist) = nprobe·nlist, both known at call time.
    *
    * Oracle-sized corpora resolve to the 128/16·k floor unchanged.
    *
    * `n` (when the caller knows the index's LIVE row count —
    * [[graft.operators.AnnIndex.search]] passes `Loaded.nRows`)
    * replaces the build-time nprobe·nlist identity with the true
    * candidate estimate nprobe·(n/nlist): frozen-structure
    * incremental adds grow n while nlist stays as trained, and the
    * build-time proxy would silently shrink shortlist COVERAGE as a
    * fraction of candidates — the exact defect the ×1000 clustered
    * gate caught, reintroduced through the add path. (purgeDeletes
    * refreshes the handle's count post-merge; a handle that somehow
    * kept a stale-high count errs to a LARGER depth — recall-safe.) */
  def rerankDepthFor(k: Int, nprobe: Int, nlist: Int,
                     n: Long = -1L): Int = {
    val candidates =
      if (n > 0) nprobe.toLong * (n / math.max(1, nlist))
      else nprobe.toLong * nlist
    math.max(math.max(16 * k, 128),
      math.min(candidates / 32L, (Int.MaxValue / 4).toLong).toInt)
  }

  /** COMPRESSED-DOMAIN IVF serving with exact rerank — the FAISS
    * IVFPQ+refine composition ([[graft.operators.AnnIndex.search]]
    * dispatches here at routing-active cell counts; round-13 verdict
    * task 1). IVF-FLAT serving holds recall by scaling nprobe ≈
    * √nlist, but then scans nprobe·n/nlist FULL vectors per query —
    * candidate work ≈ n^(3/4) of 8·dim-byte rows, the one-level
    * router's asymptote at the recall bar. Here the probed cells are
    * scanned in the COMPRESSED domain instead (the persisted
    * `ivfpq_codes` table: m 1-byte-range codes + id per row, ~64×
    * narrower than the flat rows at dim 64), ranked by ADC (exact
    * q·centroid bias + residual LUT sums, the Jégou 2011 §V scoring
    * the n9 contract pins), and only the top `rerank` shortlist per
    * query fetches full-precision rows for EXACT cosine scoring — so
    * the returned scores are identical in kind to the flat path's
    * (the estimate is WHICH candidates, never their scores), and at
    * `rerank` ≥ the candidate count the result is IDENTICAL to
    * IVF-flat at the same nprobe (same probed cells via the same
    * bit-exact host kernel, same exact scores, same tie-breaks —
    * pinned in SimilaritySpec and the n14 oracle row).
    *
    * Spark shape: per-query driver state is Θ(nprobe + m·ksub)
    * (probed cells, their biases, the ADC LUTs — model-sized); the
    * probed-cell union is applied to BOTH scans as a STATIC literal
    * partition filter (guaranteed file pruning — the cell equi-join
    * alone would leave pruning to the DPP heuristic), while the
    * broadcast (query, probed cell) rows restrict each row to the
    * queries that probed its cell; the shortlist is the bounded
    * [[graft.functions.TopKByScore]] heap (map-side partials, 16·R
    * bytes per query through the shuffle); the rerank fetch
    * broadcasts ≤ |queries|·R ids against the probed cells of the
    * full-precision table (within-cell id-sorted since layout v7, so
    * row-group stats make the id join skip-friendly). Candidate
    * bytes/query: flat ≈ nprobe·(n/nlist)·(8·dim+20); compressed ≈
    * nprobe·(n/nlist)·(4m+8) + R·(8·dim+20) — ≥8× down at dim 64
    * whenever R ≪ candidates (the recall probe's enforced
    * bytes-ratio gate).
    *
    * `span` > 1 marks the [[AnnIndex.GroupCap]]-bounded grouped
    * layout (cell file-groups — `cgrp` is the partition column, cell
    * a data column): the static literal prune then lands on BOTH —
    * cgrp for partition-dir pruning (≤ nprobe dirs survive), cell
    * for row-group pruning inside the surviving group files (tight,
    * because the grouped writer sorts (cgrp, cell, vec_id)). Callers
    * must pass the ARTIFACT's persisted span
    * ([[AnnIndex.Loaded.span]]), never a recomputed one — a
    * mismatched span would prune to the wrong groups and silently
    * drop candidates; the default 1 is always CORRECT on any layout
    * (the cell filter is a data filter either way), it only forgoes
    * partition pruning on grouped tables. */
  def knnIvfPqRerankBatch(emb: DataFrame, ivf: DataFrame, codes: DataFrame,
                          cents: Array[Array[Double]],
                          cbs: Array[Array[Array[Double]]],
                          queryIds: Seq[Long], k: Int = 10,
                          nprobe: Int = AnnIndex.AutoNprobe,
                          rerank: Int = 0, nHint: Long = -1L,
                          span: Int = 1): DataFrame = {
    val np = resolveNprobe(nprobe, cents.length)
    val r = if (rerank > 0) rerank
            else rerankDepthFor(k, np, cents.length, nHint)
    val m = cbs.length
    val ds = cbs.head.head.length
    val e = withNorm(emb)
    // per-probe driver state — probed cells through the SAME routed
    // host kernel serving assignment uses (bit-exact, routing decision
    // included; the ivfPqContractWith rationale), q·centroid bias per
    // PROBED cell only, residual ADC LUTs. The raw vector + norm stay
    // in hand: the rerank stage's query side is built from THIS
    // collect instead of a second scan over the corpus (round-14
    // verdict task 4 — the serve path paid a full query-side scan to
    // re-fetch vectors the driver already held).
    val probes = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("v"), col("nrm")).collect()
      .map { row =>
        val vRaw = row.getSeq[Double](1).toArray
        val qn = row.getDouble(2)
        val q = vRaw.map(_ / qn)
        val probed = graft.functions.Centroids
          .topCellsHost(cents, vRaw, qn, np)
        val bias = probed.map(c =>
          cents(c).zip(q).map { case (a, b) => a * b }.sum)
        val luts = Array.tabulate(m) { j =>
          cbs(j).map(_.zip(q.slice(j * ds, (j + 1) * ds))
            .map { case (a, b) => a * b }.sum)
        }
        (row.getLong(0), vRaw, qn, probed, bias, luts)
      }
    val spark = emb.sparkSession
    import spark.implicits._
    // TWO small broadcast sides, so the LUT matrix rides ONCE per
    // query instead of once per (query, probed cell): qRows is
    // (qid, cell, bias) — Θ(|q|·nprobe) rows whose cell equi-join
    // prunes the code scan to the probed cells' files — and lutRows
    // is (qid, lut) — Θ(|q|) rows of m·ksub doubles each. At the
    // 8-bit codebooks routing-active indexes train (ksub 256), a
    // per-(query, cell) LUT would broadcast nprobe× the needed bytes
    // (~40 MB at 64 queries × nprobe 38); this shape stays ~1 MB.
    val qRows = probes.toIndexedSeq
      .flatMap { case (qid, _, _, probed, bias, _) =>
        probed.toSeq.zip(bias.toSeq).map { case (c, b) => (qid, c, b) }
      }.toDF("qid", "cell", "bias")
    val lutRows = probes.toIndexedSeq.map { case (qid, _, _, _, _, luts) =>
      (qid, luts.map(_.toSeq).toSeq)
    }.toDF("qid", "lut")
    // probed cells are known DRIVER-side here (unlike the flat arm,
    // whose probe list is computed executor-side), so the code-table
    // scan gets a STATIC literal partition filter — guaranteed
    // file-level pruning, not a bet on the dynamic-partition-pruning
    // heuristic declining the broadcast-join filter; the equi-join
    // below still restricts each row to the queries that probed its
    // cell, so results are unchanged
    val cellsAll = probes.flatMap(_._4).distinct.toSeq
    // grouped layout (scaladoc above): prepend the cgrp partition
    // prune; the guard on the column keeps a span passed against an
    // ungrouped frame (ad-hoc unions in the probes) harmless
    def cellPrune(t: DataFrame): DataFrame = {
      val base = t.filter(col("cell").isin(cellsAll: _*))
      if (span > 1 && t.columns.contains("cgrp"))
        base.filter(col("cgrp").isin(
          cellsAll.map(_ / span).distinct: _*))
      else base
    }
    val adc = cellPrune(codes)
      .join(broadcast(qRows), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(lutRows), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        (col("bias") +: (0 until m).map(j =>
          element_at(element_at(col("lut"), j + 1),
            col(s"c$j").cast("int") + 1))).reduce(_ + _).as("adc"))
    // compressed-domain shortlist: bounded per-query heap, (adc desc,
    // id asc) total order — deterministic under any partitioning
    val shortlist = adc.groupBy(col("qid"))
      .agg(graft.functions.aggregates
        .top_k_by_score(col("adc"), col("vec_id"), r).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.vec_id").as("vec_id"))
    // exact rerank: ≤ |queries|·R full-precision fetches from the
    // probed cells only (the same literal cell-set prune), then the
    // SAME exact scoring + top-k machinery as the flat path. The
    // query side is the DRIVER-HELD probe vectors (collected above)
    // as a literal frame — numerically identical doubles, zero extra
    // corpus scans
    val queryVecs = probes.toIndexedSeq
      .map { case (qid, vRaw, qn, _, _, _) => (qid, vRaw.toSeq, qn) }
      .toDF("qid", "qv", "qn")
    val exact = cellPrune(ivf)
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(queryVecs), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("cos_sim"))
    // labels rejoin from the probed cells of the INDEX (the doc-values
    // discipline knnIvfBatchFiltered already follows — labels are
    // stored in the index rows), with the same static cell prune and
    // a 2-column projection: every result id lies in a probed cell by
    // construction, and the old full-corpus (vec_id, label) scan was
    // the single largest stage of the serve at the routing decades
    topKPerQuery(exact,
      cellPrune(ivf).select(col("vec_id"), col("label")), k)
  }

  /** Filtered vector search — ES kNN's `filter` parameter / FAISS's
    * IDSelector: each query carries its own metadata predicate (here a
    * wanted `label`), applied DURING the index traversal to the
    * candidates of the probed cells — never to the finished top-k.
    * Post-filtering an unfiltered top-k is the classic wrong answer:
    * once the filter is selective it returns fewer than k (often zero)
    * even though k matching neighbors exist deeper in the cells, which
    * is exactly why ES and FAISS push the predicate inside the search.
    * The label is read from the INDEX rows (`assigned` carries it — the
    * doc-values discipline): at 100 TB the probe never joins back to
    * the raw corpus, and per-query predicates ride the same broadcast
    * as the query vectors, so this stays ONE distributed pass for the
    * whole query batch with partition pruning on the probed cells
    * intact. */
  def knnIvfBatchFiltered(emb: DataFrame, assigned: DataFrame,
                          cents: Array[Array[Double]],
                          queryLabels: Seq[(Long, Int)], k: Int = 10,
                          nprobe: Int = AnnIndex.AutoNprobe,
                          span: Int = 1): DataFrame =
    ivfProbe(emb, assigned, cents, queryLabels.map(_._1),
      wanted = Some(queryLabels), k, nprobe, span = span)

  /** Hard-negative mining — the contrastive-training data op: a
    * retriever/embedding model trains best against the nearest vectors
    * of a DIFFERENT class (in-batch random negatives are too easy;
    * the near-misses define the decision boundary — the ANCE/DPR
    * recipe). Per query, the top-k most-similar candidates whose
    * stored label differs from the query's own label: exactly
    * [[knnIvfBatchFiltered]]'s in-traversal predicate with the
    * polarity flipped — the same single broadcast-probe pass over the
    * pruned IVF cells, labels read from the index rows (doc-values),
    * never a post-filter (post-filtering a finished top-k of
    * mostly-same-class neighbors yields fewer than k hard negatives
    * even though k exist deeper in the probed cells). `queryLabels`
    * carries each query's OWN label to exclude. */
  def knnIvfBatchHardNegatives(emb: DataFrame, assigned: DataFrame,
                               cents: Array[Array[Double]],
                               queryLabels: Seq[(Long, Int)], k: Int = 10,
                               nprobe: Int = AnnIndex.AutoNprobe,
                               span: Int = 1): DataFrame =
    ivfProbe(emb, assigned, cents, queryLabels.map(_._1),
      wanted = Some(queryLabels), k, nprobe, labelMatch = false,
      span = span)

  // ---- self-verifying ANN contracts -------------------------------
  //
  // ANN results are estimate-valued (WHICH neighbors come back depends
  // on the index), so a raw neighbor list can never hash-match a SQL
  // oracle. What IS deterministic — TRUE by construction on a correct
  // implementation, false the moment bucketing / assignment / scoring /
  // ranking breaks — is the set of per-query invariants below, checked
  // against an independent recomputation of the index structures:
  //
  //   k_bounded      1 ≤ |result(q)| ≤ k
  //   all_in_probed  every candidate lies in a bucket/cell the query
  //                  probed (recomputed from the same seeded planes /
  //                  trained centroids, joined independently)
  //   scores_exact   every returned score equals the exact cosine
  //                  recomputed from the raw vectors (the estimate is
  //                  WHICH candidates, never their scores)
  //   planted_found  the ×`plantOffset`-id planted scaled copy of the
  //                  probe (same direction ⇒ cosine exactly 1, same
  //                  bucket — positive scaling preserves hyperplane
  //                  signs — and same IVF cell) is retrieved…
  //   planted_rank1  …at rank 1 (cosine 1.0 is the unique maximum on
  //                  non-degenerate corpora)
  //   ranked_desc    rank order is non-increasing in score
  //
  // A query that returns ZERO candidates vanishes from the groupBy —
  // the contract then fails on row count, not silently.

  /** Per-probe invariant rows over an ANN result: `res` is the
    * (qid, vec_id, cos_sim, rank) output, `qSide` carries each probe's
    * vector + `probed` (array of probed bucket/cell ids), `cand` each
    * corpus vector + its `cand_cell`. One output row per probe, every
    * boolean TRUE on a correct index. */
  private def annContractRows(res: DataFrame, qSide: DataFrame,
                              cand: DataFrame, k: Int,
                              plantOffset: Long): DataFrame = {
    val perRow = res.join(broadcast(qSide), Seq("qid"))
      .join(cand, Seq("vec_id"))
      .select(col("qid"), col("rank"), col("cos_sim"),
        array_contains(col("probed"), col("cand_cell")).as("in_probed"),
        (col("cos_sim") ===
          round(dot(col("cv"), col("qv")) / (col("cn") * col("qn")), 6))
          .as("score_exact"),
        (col("vec_id") === col("qid") + plantOffset).as("is_planted"))
    perRow.groupBy(col("qid"))
      .agg(count(lit(1)).as("n_cand"),
        min(col("in_probed")).as("all_in_probed"), // min over bool ≡ AND
        min(col("score_exact")).as("scores_exact"),
        max(col("is_planted")).as("planted_found"), // max over bool ≡ OR
        min(when(col("is_planted"), col("rank"))).as("planted_rank"),
        sort_array(collect_list(struct(col("rank"), col("cos_sim"))))
          .as("by_rank"))
      .select(col("qid"),
        (col("n_cand") >= 1 && col("n_cand") <= k).as("k_bounded"),
        col("all_in_probed"), col("scores_exact"), col("planted_found"),
        coalesce(col("planted_rank") === 1, lit(false)).as("planted_rank1"),
        forall(zip_with(
            slice(col("by_rank"), lit(1), size(col("by_rank")) - 1),
            slice(col("by_rank"), lit(2), size(col("by_rank")) - 1),
            (a, b) => a.getField("cos_sim") >= b.getField("cos_sim")),
          x => x).as("ranked_desc"))
  }

  /** ANN contract over the batched LSH path: run [[knnLshBatch]], then
    * verify its invariants against an independently recomputed
    * bucketing. `corpus` must already contain, for every probe id, a
    * positively scaled copy planted under id `qid + plantOffset`. */
  def lshContract(corpus: DataFrame, probeIds: Seq[Long], k: Int = 10,
                  plantOffset: Long = 1000000L,
                  nPlanes: Int = 4, seed: Long = 42L): DataFrame = {
    val res = knnLshBatch(corpus, probeIds, k, nPlanes, seed)
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    val planes = hyperplanes(dim, nPlanes, seed)
    val bucketed = withNorm(corpus).select(col("vec_id"), col("v"),
      col("nrm"), lshBucket(col("v"), planes).as("bucket"))
    val qSide = bucketed.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), array(col("bucket")).as("probed"))
    val cand = bucketed.select(col("vec_id"), col("v").as("cv"),
      col("nrm").as("cn"), col("bucket").as("cand_cell"))
    annContractRows(res, qSide, cand, k, plantOffset)
  }

  /** ANN contract over the batched IVF path: train ONCE, probe and
    * verify against the same centroids ([[ivfContractWith]]). */
  def ivfContract(corpus: DataFrame, probeIds: Seq[Long], k: Int = 10,
                  plantOffset: Long = 1000000L,
                  nlist: Int = 16, nprobe: Int = AnnIndex.AutoNprobe): DataFrame = {
    val cents = kmeansCentroids(corpus, nlist)
    val e = withNorm(corpus)
    ivfContractWith(corpus, cents,
      e.select(col("vec_id"), col("v"), col("nrm"),
        cellOf(cents, col("v"), col("nrm")).as("cell")),
      probeIds, k, plantOffset, nprobe)
  }

  /** [[ivfContract]] against a PRE-TRAINED, PRE-ASSIGNED index (the
    * [[AnnIndex]] artifact): the result path probes `assigned`, while
    * the verification side recomputes cell membership independently
    * from the raw corpus + centroids — so the contract now also proves
    * the PERSISTED assignment agrees with a fresh recomputation. */
  def ivfContractWith(corpus: DataFrame, cents: Array[Array[Double]],
                      assigned: DataFrame, probeIds: Seq[Long],
                      k: Int = 10, plantOffset: Long = 1000000L,
                      nprobe: Int = AnnIndex.AutoNprobe): DataFrame = {
    // one resolution for BOTH the result path and the verification
    // side — the contract compares candidates against the probed set,
    // so the two must rank the same number of cells
    val np = resolveNprobe(nprobe, cents.length)
    val res = knnIvfBatchAssigned(corpus, assigned, cents, probeIds, k, np)
    val e = withNorm(corpus)
    val qSide = e.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"),
        probeCellsOf(cents, col("v"), col("nrm"), np).as("probed"))
    val cand = e.select(col("vec_id"), col("v").as("cv"),
      col("nrm").as("cn"), cellOf(cents, col("v"), col("nrm")).as("cand_cell"))
    annContractRows(res, qSide, cand, k, plantOffset)
  }

  /** Exact all-pairs cosine pairs above a threshold (the
    * oracle-checkable dedup path): norms precomputed per side, then a
    * key-range self-join with the codegen'd dot in the projection.
    *
    * NOT the declared d5 query: the only join condition is the id
    * range, so Spark plans a BroadcastNestedLoopJoin — one task owns
    * the whole right side. Kept as the semantics reference;
    * [[cosinePairsBlocked]] computes the identical result with a
    * shuffle-partitioned plan. */
  def cosinePairsBrute(emb: DataFrame, threshold: Double): DataFrame = {
    val e = withNorm(emb).select("vec_id", "v", "nrm")
    val a = e.as("a"); val b = e.as("b")
    a.join(b, col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact all-pairs cosine via TILED self-join — the scale-out shape
    * of the quadratic problem. A threshold this low (0.4) admits no
    * LSH shortcut with recall 1 (pairs at cos 0.4 are split by a
    * random hyperplane with p ≈ 0.37, so any bucketing loses pairs);
    * exact low-threshold all-pairs is inherently O(n²) work, and the
    * design question at 100 TB is only how that work is SHARDED.
    * Here: each vector lands in one of `blocks` id-blocks; each side
    * replicates `blocks`-fold tagged with a tile coordinate, and the
    * pair space becomes an equi-join on (tile_i, tile_j) — every tile
    * is an independent shuffle partition of (n/B)² candidate pairs,
    * B² of them spread across the cluster, with no nested-loop
    * broadcast of the whole corpus. Shuffle volume is 2·B·n rows
    * (replication B trades against B² parallelism — pick B near
    * √cores); per-tile working set (2·n/B vectors) is the memory
    * knob. Same output as [[cosinePairsBrute]] (asserted in
    * SimilaritySpec). */
  def cosinePairsBlocked(emb: DataFrame, threshold: Double,
                         blocks: Int = 8): DataFrame = {
    val tiles = lit((0 until blocks).toArray)
    val e = withNorm(emb)
      .select(col("vec_id"), col("v"), col("nrm"),
        pmod(col("vec_id"), lit(blocks)).as("blk"))
    // a-row of block i participates in tiles (i, *); b-row of block j
    // in tiles (*, j); pair (x, y) meets in exactly tile (blk x, blk y)
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col("blk").as("ti"), explode(tiles).as("tj"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), explode(tiles).as("ti"), col("blk").as("tj"))
    // pin the tile join's parallelism to the tile count: the shuffle is
    // byte-LIGHT but each tile carries quadratic dot-product work, so
    // AQE's byte-based partition coalescing is exactly wrong here —
    // measured at sf0.1 it fused the whole n²/2 compute into ONE task.
    // An explicit numPartitions is AQE-exempt, both sides come out
    // hash-partitioned on the join keys (no extra exchange for the
    // join), and the tile key is the natural unit of work at every
    // scale — blocks² tasks regardless of byte estimates.
    a.repartition(blocks * blocks, col("ti"), col("tj"))
      .join(b.repartition(blocks * blocks, col("ti"), col("tj")),
        Seq("ti", "tj"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** N8 training: product-quantization codebooks (Jégou et al. 2011,
    * "Product quantization for nearest neighbor search") — the vector
    * splits into `m` subvectors and each subspace gets its own
    * `ksub`-centroid L2 k-means codebook, trained driver-side on the
    * SAME bounded deterministic sample discipline as
    * [[kmeansCentroids]] (FAISS trains on a sample too; the driver
    * state is m·ksub·(dim/m) doubles — independent of corpus size).
    * Codebooks quantize NORMALIZED vectors so ADC inner products
    * approximate cosine directly. */
  def pqTrain(emb: DataFrame, m: Int = 8, ksub: Int = 16,
              iters: Int = 10,
              sampleSize: Int = 1024): Array[Array[Array[Double]]] =
    pqTrainFromSample(normalizedSample(emb, sampleSize), m, ksub, iters)

  /** The m subspace trainings of [[pqTrain]] and [[residualCodebooks]].
    * They are INDEPENDENT (each k-means sees only its own dim/m slice),
    * so they run concurrently through [[Par.run]] — one task per
    * subspace, each writing its own slot, so the output is
    * bit-identical to the sequential loop. Matters since the 8-bit
    * routing-active codebooks ([[graft.operators.AnnIndex.ksubFor]]):
    * 16 sequential trainings at ksub 256 over the 10k sample measured
    * ~44 s of the ×1000 build — pure single-core driver time on a
    * 32-core box. */
  private[operators] def pqTrainFromSample(sample: Array[Array[Double]],
                                           m: Int, ksub: Int,
                                           iters: Int): Array[Array[Array[Double]]] = {
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val ds = dim / m
    val out = new Array[Array[Array[Double]]](m)
    Par.run((0 until m).map(j => () =>
      out(j) = l2Kmeans(sample.map(_.slice(j * ds, (j + 1) * ds)), ksub, iters)): _*)
    out
  }

  /** Residual PQ codebooks for IVFPQ: [[pqTrainFromSample]] over
    * r = v̂ − centroid(cell(v̂)) of the shared bounded sample, the cell
    * being the exact nearest centroid — extracted from
    * [[ivfPqContract]] so the [[AnnIndex]] ingest job and the in-query
    * trainer are the same code. */
  private[operators] def residualCodebooks(sample: Array[Array[Double]],
                                           cents: Array[Array[Double]],
                                           m: Int, ksub: Int,
                                           iters: Int): Array[Array[Array[Double]]] = {
    val residuals = sample.map { vhat =>
      val c = cents(CentroidImpl.nearest(vhat, 1.0, cents))
      vhat.zip(c).map { case (a, b) => a - b }
    }
    pqTrainFromSample(residuals, m, ksub, iters)
  }

  /** Plain L2 k-means over a driver-side sample (the subspace trainer
    * shared by [[pqTrain]] and the residual codebooks of
    * [[ivfPqContract]]): first-ksub init, empty cells keep their
    * centroid — deterministic for a deterministic sample. */
  private def l2Kmeans(vecs: Array[Array[Double]], ksub: Int,
                       iters: Int): Array[Array[Double]] = {
    val ds = vecs.head.length
    var cents = vecs.take(ksub).map(_.clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(ksub)(new Array[Double](ds))
      val counts = new Array[Int](ksub)
      vecs.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < ksub) {
          var d2 = 0.0; var i = 0
          while (i < ds) { val t = v(i) - cents(c)(i); d2 += t * t; i += 1 }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        var i = 0
        while (i < ds) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(ksub)(c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
      it += 1
    }
    cents
  }

  /** N8 encoding: (vec_id, c0..c(m-1)) — each vector's m codebook
    * indexes, a row-local scan-side projection (the stored PQ index:
    * m bytes per vector instead of 4·dim). */
  def pqEncode(emb: DataFrame,
               codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val e = withNorm(emb)
    // one loop-kernel expression computes all m codes (functions.PqImpl
    // scaladoc — the m·ksub unrolled struct-sort form broke Janino and
    // ran interpreted); element_at fan-out keeps the (vec_id, c0..cm-1)
    // artifact schema, and codegen subexpression elimination evaluates
    // the kernel once per row
    val half = codebooks.map(_.map(c => c.map(x => x * x).sum / 2))
    val codes = graft.functions.Centroids.pq_codes(
      codebooks, half, col("v"), col("nrm"))
    e.select(col("vec_id"), codes.as("pc"))
      .select(col("vec_id") +: (0 until m).map { j =>
        element_at(col("pc"), j + 1).as(s"c$j")
      }: _*)
  }

  /** N8 contract: ADC (asymmetric distance computation) retrieval
    * under the n4/n7 planted-ground-truth verification shape. Each
    * probe's per-subspace lookup table lut_j[c] = q_sub_j·cb_j[c] is
    * driver-computed (m·ksub doubles per query — the FAISS ADC table)
    * and rides into ONE corpus pass as array literals; a row's score
    * is Σ_j lut_j[code_j], summed in fixed subspace order so the
    * doubles are deterministic. Invariants emitted per probe (all
    * constant-TRUE for the oracle): result size ≤ k, every code in
    * [0, ksub), the ×2-planted copy encodes to EXACTLY the probe's
    * codes (scaling by 2 is float-exact, so the normalized inputs are
    * bit-identical), the planted copy is retrieved with the SAME ADC
    * score as the probe's own encoding, and scores are
    * rank-monotone. */
  def pqContract(corpus: DataFrame, probeIds: Seq[Long], k: Int = 10,
                 plantOffset: Long = 1000000L, m: Int = 8,
                 ksub: Int = 16): DataFrame = {
    val cbs = pqTrain(corpus, m, ksub)
    pqContractWith(corpus, cbs, pqEncode(corpus, cbs), probeIds, k,
      plantOffset)
  }

  /** [[pqContract]] against pre-trained codebooks and a PRE-ENCODED
    * code table (the [[AnnIndex]] artifact's `pq_codes`): queries pay
    * only the LUT build + one pass over the m-byte codes — the stored
    * PQ index — never the encode projection. */
  def pqContractWith(corpus: DataFrame, cbs: Array[Array[Array[Double]]],
                     codes: DataFrame, probeIds: Seq[Long], k: Int = 10,
                     plantOffset: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = cbs.length
    val ksub = cbs.head.length
    val ds = cbs.head.head.length
    val e = withNorm(corpus)
    val probes = e.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id"), col("v"), col("nrm")).collect()
      .map { r =>
        val q = r.getSeq[Double](1).map(_ / r.getDouble(2)).toArray
        val luts = Array.tabulate(m) { j =>
          cbs(j).map(c =>
            c.zip(q.slice(j * ds, (j + 1) * ds)).map { case (a, b) => a * b }.sum)
        }
        (r.getLong(0), luts)
      }
    // ONE corpus pass scores every probe: per row, an exploded array
    // of (qid, adc) built from the per-query LUT literals
    val scoredAll = codes.select(col("vec_id"),
      (0 until m).map(j => col(s"c$j")).reduce((a, b) =>
        least(a, b)).geq(0).and(
        (0 until m).map(j => col(s"c$j")).reduce((a, b) =>
          greatest(a, b)).lt(ksub)).as("codes_ok"),
      explode(array(probes.toIndexedSeq.map { case (qid, luts) =>
        struct(lit(qid).as("qid"),
          (0 until m).map(j =>
            element_at(lit(luts(j)), col(s"c$j").cast("int") + 1))
            .reduce(_ + _).as("adc"))
      }: _*)).as("s"))
      .select(col("vec_id"), col("codes_ok"),
        col("s.qid").as("qid"), col("s.adc").as("adc"))
    // ties rank planted-first: the planted copy scores EXACTLY
    // self_adc (code equality ⟹ identical LUT sums), so any vector
    // sharing that ADC value ties it — and the planted id
    // (qid+plantOffset) is the LARGEST id, losing an id-ascending
    // tie-break. Preferring the planted row at equal ADC makes
    // `planted_found` hold whenever < k vectors score STRICTLY
    // higher; that residual case (k quantization scores above the
    // probe's own encoding) is fixture-dependent and documented at
    // the oracle.
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc").desc,
        (col("vec_id") === col("qid") + plantOffset).desc, col("vec_id"))
    val topk = scoredAll.filter(col("vec_id") =!= col("qid"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    // the probe's OWN ADC score (its encoding scored by its own LUT)
    val selfScore = scoredAll.filter(col("vec_id") === col("qid"))
      .select(col("qid"), col("adc").as("self_adc"))
    // the planted copy's ADC from the FULL scored set — not gated on
    // top-k membership, so `planted_score_is_self` is by-construction
    // TRUE whenever codes_match is (same codes ⟹ same fixed-order sum)
    val plantedScore = scoredAll
      .filter(col("vec_id") === col("qid") + plantOffset)
      .select(col("qid"), col("adc").as("planted_adc"))
    // planted copy must carry the probe's exact codes
    val codeCols = (0 until m).map(j => col(s"c$j"))
    val planted = codes.select(col("vec_id"), array(codeCols: _*).as("cv"))
    val codesMatch = planted.as("p")
      .join(planted.as("q"),
        col("p.vec_id") === col("q.vec_id") + plantOffset)
      .select(col("q.vec_id").as("qid"),
        (col("p.cv") === col("q.cv")).as("codes_match"))
    topk
      .join(broadcast(selfScore), Seq("qid"))
      .join(broadcast(plantedScore), Seq("qid"))
      .join(broadcast(codesMatch), Seq("qid"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_res"),
        min(col("codes_ok")).as("codes_in_range"),
        min(col("codes_match")).as("planted_codes_match"),
        max(col("vec_id") === col("qid") + plantOffset).as("planted_found"),
        min(col("planted_adc") === col("self_adc"))
          .as("planted_score_is_self"),
        sort_array(collect_list(struct(col("rank"), col("adc"))))
          .as("by_rank"))
      .select(col("qid"),
        (col("n_res") >= 1 && col("n_res") <= k).as("k_bounded"),
        col("codes_in_range"), col("planted_codes_match"),
        col("planted_found"),
        col("planted_score_is_self"),
        forall(zip_with(
            slice(col("by_rank"), lit(1), size(col("by_rank")) - 1),
            slice(col("by_rank"), lit(2), size(col("by_rank")) - 1),
            (a, b) => a.getField("adc") >= b.getField("adc")),
          x => x).as("ranked_desc"))
  }

  /** N9: IVFPQ (Jégou et al. 2011 §V — the inverted file with
    * product-quantized RESIDUALS, the composition production ANN
    * actually ships): a coarse quantizer routes each vector to one of
    * `nlist` cells, PQ codebooks are trained on residuals r = v̂ −
    * centroid(cell), and a query scans only its `nprobe` nearest
    * cells, ranking by ADC over the residual codes plus the exact
    * query·centroid bias.
    *
    * Spark shape: centroids + residual codebooks train driver-side on
    * the bounded deterministic sample ([[kmeansCentroids]] /
    * [[l2Kmeans]] — FAISS's own discipline, driver state independent
    * of corpus size); cell assignment AND residual encoding are ONE
    * codegen'd scan-side projection. The residual never materializes
    * as an array column: argmin‖(v̂ − cent)_j − cb‖² expands to
    * argmax(v_sub·cb/nrm − cent_sub[cell]·cb − ‖cb‖²/2), where
    * cent_sub[cell]·cb is a driver-precomputed constant table looked
    * up by cell id — so encoding cost is the same dot products PQ
    * pays, plus one array-literal lookup per (subspace, codeword).
    * Queries ride the n4/n7/n8 planted-ground-truth contract: the
    * ×2-scaled copy normalizes bit-identically, lands in the SAME
    * cell (positive scaling preserves the cosine centroid ranking),
    * has the SAME residual and codes, and must be retrieved from the
    * probed cells with the probe's own ADC score. */
  def ivfPqContract(corpus: DataFrame, probeIds: Seq[Long], k: Int = 10,
                    plantOffset: Long = 1000000L, nlist: Int = 16,
                    nprobe: Int = AnnIndex.AutoNprobe, m: Int = 8, ksub: Int = 16,
                    iters: Int = 10, sampleSize: Int = 1024): DataFrame = {
    val (cents, cbs) = ivfPqTrain(corpus, nlist, m, ksub, iters, sampleSize)
    ivfPqContractWith(corpus, cents, cbs,
      ivfPqEncode(corpus, cents, cbs), probeIds, k, plantOffset, nprobe)
  }

  /** IVFPQ ingest-time training: ONE bounded sample collection feeds
    * both trainers (coarse centroids, then residual codebooks on
    * r = v̂ − cent(cell)). Returns (centroids, residual codebooks). */
  def ivfPqTrain(emb: DataFrame, nlist: Int = 16, m: Int = 8,
                 ksub: Int = 16, iters: Int = 10,
                 sampleSize: Int = 1024): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val sample = normalizedSample(emb, sampleSize)
    val cents = CentroidImpl.cosineLloyds(sample, nlist, iters)
    (cents, residualCodebooks(sample, cents, m, ksub, iters))
  }

  /** IVFPQ ingest-time encoding: (vec_id, cell, c0..c(m-1)) in ONE
    * codegen'd scan-side projection — the residual never materializes
    * (argmin‖(v̂−cent)_j − cb‖² expands to driver-precomputed constant
    * tables; scaladoc on [[ivfPqContract]]). This is the persisted
    * IVFPQ index: a cell id + m bytes per vector. */
  def ivfPqEncode(emb: DataFrame, cents: Array[Array[Double]],
                  cbs: Array[Array[Array[Double]]]): DataFrame = {
    val m = cbs.length
    val ksub = cbs.head.length
    val ds = cbs.head.head.length
    // constant tables: centDotCb(j)(c) = per-cell array of
    // cent_sub_j·cb_j[c]; cbNormHalf(j)(c) = ‖cb_j[c]‖²/2
    val centDotCb = Array.tabulate(m, ksub) { (j, c) =>
      cents.map(_.slice(j * ds, (j + 1) * ds)
        .zip(cbs(j)(c)).map { case (a, b) => a * b }.sum)
    }
    val cbNormHalf = Array.tabulate(m, ksub) { (j, c) =>
      cbs(j)(c).map(x => x * x).sum / 2
    }
    val e = withNorm(emb)
    val assigned = e.select(col("vec_id"), col("v"), col("nrm"),
      cellOf(cents, col("v"), col("nrm")).as("cell"))
    // one loop-kernel expression for all m residual codes
    // (functions.PqImpl scaladoc): the old per-(subspace, code)
    // struct-sort unrolled m·ksub literals and fell off Janino into
    // interpreted execution — the dominant encode term of the ×1000
    // ann_index_build probe
    val codes = graft.functions.Centroids.ivfpq_codes(
      cbs, centDotCb, cbNormHalf, col("v"), col("nrm"),
      col("cell").cast("int"))
    assigned.select(col("vec_id"), col("cell"), codes.as("pc"))
      .select(col("vec_id") +: col("cell") +:
        (0 until m).map { j =>
          element_at(col("pc"), j + 1).as(s"c$j")
        }: _*)
  }

  /** [[ivfPqContract]] against the pre-trained, pre-encoded
    * [[AnnIndex]] artifact (`ivfpq_codes`, written partitionBy(cell)):
    * the query pays LUT construction plus one pass over the code
    * table; training and encoding are ingest-time. */
  def ivfPqContractWith(corpus: DataFrame, cents: Array[Array[Double]],
                        cbs: Array[Array[Array[Double]]], codes: DataFrame,
                        probeIds: Seq[Long], k: Int = 10,
                        plantOffset: Long = 1000000L,
                        nprobe: Int = AnnIndex.AutoNprobe): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = cbs.length
    val ksub = cbs.head.length
    val ds = cbs.head.head.length
    val e = withNorm(corpus)
    // per-probe driver state: probed cells (top-nprobe under the same
    // total order), q·centroid bias per cell, residual ADC LUTs.
    // Probed-cell ranking mirrors the executor's cellOf kernel
    // BIT-EXACTLY — through the SAME host kernel (Centroids
    // .topCellsHost), routing decision included: raw-vector dot in
    // element order, division AFTER the sum — normalizing q first
    // would reassociate the IEEE ops and a last-ulp flip at the
    // nprobe boundary could leave the probe's own (executor-assigned)
    // cell outside the probed set
    val probes = e.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id"), col("v"), col("nrm")).collect()
      .map { r =>
        val vRaw = r.getSeq[Double](1).toArray
        val qn = r.getDouble(2)
        val q = vRaw.map(_ / qn)
        val probed = graft.functions.Centroids
          .topCellsHost(cents, vRaw, qn, resolveNprobe(nprobe, cents.length))
        val bias = cents.map(_.zip(q).map { case (a, b) => a * b }.sum)
        val luts = Array.tabulate(m) { j =>
          cbs(j).map(_.zip(q.slice(j * ds, (j + 1) * ds))
            .map { case (a, b) => a * b }.sum)
        }
        (r.getLong(0), probed, bias, luts)
      }
    // ONE pass over the codes: per row × probe, the probed-cell flag
    // and the ADC score (bias[cell] + Σ_j lut_j[code_j], fixed order)
    val scoredAll = codes.select(col("vec_id"), col("cell"),
      (0 until m).map(j => col(s"c$j")).reduce(least(_, _)).geq(0).and(
        (0 until m).map(j => col(s"c$j")).reduce(greatest(_, _)).lt(ksub))
        .as("codes_ok"),
      explode(array(probes.toIndexedSeq.map { case (qid, probed, bias, luts) =>
        struct(lit(qid).as("qid"),
          col("cell").isin(probed.toSeq: _*).as("probed"),
          (element_at(lit(bias), col("cell").cast("int") + 1) +:
            (0 until m).map(j =>
              element_at(lit(luts(j)), col(s"c$j").cast("int") + 1)))
            .reduce(_ + _).as("adc"))
      }: _*)).as("s"))
      .select(col("vec_id"), col("cell"), col("codes_ok"),
        col("s.qid").as("qid"), col("s.probed").as("probed"),
        col("s.adc").as("adc"))
    // candidates = probed cells only (the IVF prune); planted-first
    // tie-break at equal ADC, same rationale as pqContract
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc").desc,
        (col("vec_id") === col("qid") + plantOffset).desc, col("vec_id"))
    val topk = scoredAll
      .filter(col("probed") && col("vec_id") =!= col("qid"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    val selfScore = scoredAll.filter(col("vec_id") === col("qid"))
      .select(col("qid"), col("adc").as("self_adc"))
    val plantedScore = scoredAll
      .filter(col("vec_id") === col("qid") + plantOffset)
      .select(col("qid"), col("adc").as("planted_adc"),
        col("probed").as("planted_probed"))
    val codeCols = (0 until m).map(j => col(s"c$j"))
    val sig = codes.select(col("vec_id"), col("cell"),
      array(codeCols: _*).as("cv"))
    val plantedMatch = sig.as("p")
      .join(sig.as("q"), col("p.vec_id") === col("q.vec_id") + plantOffset)
      .select(col("q.vec_id").as("qid"),
        (col("p.cell") === col("q.cell")).as("cell_match"),
        (col("p.cv") === col("q.cv")).as("codes_match"))
    topk
      .join(broadcast(selfScore), Seq("qid"))
      .join(broadcast(plantedScore), Seq("qid"))
      .join(broadcast(plantedMatch), Seq("qid"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_res"),
        min(col("codes_ok")).as("codes_in_range"),
        min(col("probed")).as("cells_probed_only"),
        min(col("cell_match")).as("planted_cell_match"),
        min(col("codes_match")).as("planted_codes_match"),
        min(col("planted_probed")).as("planted_in_probed"),
        max(col("vec_id") === col("qid") + plantOffset).as("planted_found"),
        min(col("planted_adc") === col("self_adc"))
          .as("planted_score_is_self"),
        sort_array(collect_list(struct(col("rank"), col("adc"))))
          .as("by_rank"))
      .select(col("qid"),
        (col("n_res") >= 1 && col("n_res") <= k).as("k_bounded"),
        col("codes_in_range"), col("cells_probed_only"),
        col("planted_cell_match"), col("planted_codes_match"),
        col("planted_in_probed"), col("planted_found"),
        col("planted_score_is_self"),
        forall(zip_with(
            slice(col("by_rank"), lit(1), size(col("by_rank")) - 1),
            slice(col("by_rank"), lit(2), size(col("by_rank")) - 1),
            (a, b) => a.getField("adc") >= b.getField("adc")),
          x => x).as("ranked_desc"))
  }

  /** D13: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * dedup scoped to embedding clusters: a vector is DROPPED when a
    * lower-id member of its own cluster sits within the cosine
    * ε-ball (≥ `threshold`); the lowest id of each near-dup
    * neighborhood survives as the representative. This is the
    * parallel greedy variant the paper's pipeline uses: the keep
    * decision is a per-vector aggregation (min lower-id neighbor),
    * not a sequential scan, so it is one cluster-keyed pair join +
    * one groupBy at any scale. The whole point of the CLUSTER scope
    * is the quadratic bound: pair work is Σ|cluster|², never
    * |corpus|² — clusters come from any upstream partitioner (here
    * the label column; [[labelCentroids]] shows cluster ids can be
    * derived bitwise-reproducibly). For giant clusters the in-cluster
    * join composes with the [[cosinePairsBlocked]] tiling. */
  def semDedup(emb: DataFrame, threshold: Double = 0.35,
               clusterCol: String = "label"): DataFrame = {
    val e = withNorm(emb)
      .select(col("vec_id"), col(clusterCol).as("cl"), col("v"), col("nrm"))
    val l = e.as("l"); val r = e.as("r")
    val dupOf = l.join(r, col("l.cl") === col("r.cl") &&
        col("l.vec_id") > col("r.vec_id"))
      .select(col("l.vec_id").as("vec_id"),
        col("r.vec_id").as("nbr"),
        round(dot(col("l.v"), col("r.v")) / (col("l.nrm") * col("r.nrm")), 6)
          .as("cs"))
      .filter(col("cs") >= threshold)
      .groupBy(col("vec_id")).agg(min(col("nbr")).as("dup_of"))
    e.select(col("vec_id"), col("cl").as("cluster"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        col("dup_of").isNull.as("kept"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
  }

  /** N6: per-label centroids — the class means a clustering /
    * classification / retrieval-eval pipeline reads off an embedding
    * corpus. Floating-point addition is not associative, so a naive
    * `avg` over partitions is not bitwise-reproducible across cluster
    * sizes or runs; here each element first quantizes to integer
    * micro-units (row-local, deterministic) and the aggregation is an
    * exact BIGINT sum — the distributed mean becomes order-independent
    * by construction (the fixed-point reproducibility pattern). Two
    * shuffles: (label, dim) partial sums, then per-label array
    * assembly; dims explode 64× but carry 3 longs each. */
  def labelCentroids(emb: DataFrame): DataFrame = {
    val u = emb
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")))
      .select(col("label"), col("pos"),
        floor(col("col") * 1000000.0d + 0.5d).cast("long").as("u6"))
    u.groupBy(col("label"), col("pos"))
      .agg(sum(col("u6")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n_vectors"),
        sort_array(collect_list(struct(col("pos"), col("s"), col("n"))))
          .as("dims"))
      .select(col("label"), col("n_vectors"),
        concat_ws("|", transform(col("dims"),
          d => floor(d.getField("s").cast("double") / d.getField("n") + 0.5d)
            .cast("long").cast("string"))).as("centroid_u6"))
  }

  /** The SQ8 encode kernel — ONE encoding of the rounding/scale
    * arithmetic (`floor(x / (amax/127) + 0.5)`) shared by
    * [[quantizeInt8]] (the N5 reconstruction-contract shape) and
    * [[quantizedIndex]] (the serving layout): the round-13 review
    * found two inlined copies, and the reconstruction `ok` bound only
    * exercised one of them — a rounding tweak to a single copy would
    * have drifted the serving codes unverified. */
  private def sq8Code(x: Column, amax: Column): Column =
    floor(x / (amax / 127.0d) + 0.5d)

  /** (vec_id, qd, qscale, nrm): int8 codes widened back to doubles
    * (so the codegen'd [[dot]] primitive scores them), the per-vector
    * dequantization scale, and the EXACT norm — the stored layout of a
    * quantized index (codes + scale + norm ≈ d + 16 bytes/vector).
    * Zero vectors are excluded (cosine undefined, same as
    * [[withNorm]]). */
  private[graft] def quantizedIndex(emb: DataFrame): DataFrame = {
    val staged = withNorm(emb)
      .select(col("vec_id"), col("v"), col("nrm"),
        array_max(transform(col("v"), x => abs(x))).as("amax"))
    staged.select(col("vec_id"), col("nrm"),
      (col("amax") / 127.0d).as("qscale"),
      transform(col("v"),
        x => sq8Code(x, col("amax")).cast("double"))
        .as("qd"))
  }

  /** N7, the production ANN serving shape, stage 1: approximate cosine
    * on the int8 codes of `idx` ([[quantizedIndex]]) —
    * dot(qa,qb)·sa·sb/(‖a‖·‖b‖) — keeping the top `n` candidates per
    * query. One scan for the whole query set; the shuffle carries 16·n
    * bytes per query (bounded-heap
    * [[graft.functions.aggregates.TopKByScore]]). */
  private[graft] def quantizedCandidatesIdx(idx: DataFrame,
                                            queryIds: Seq[Long],
                                            n: Int): DataFrame = {
    val queries = idx.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("qd").as("qqd"),
        col("qscale").as("qqs"), col("nrm").as("qn"))
    val scored = idx.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (dot(col("qd"), col("qqd")) * col("qscale") * col("qqs") /
          (col("nrm") * col("qn"))).as("approx_sim"))
    scored.groupBy(col("qid"))
      .agg(graft.functions.aggregates
        .top_k_by_score(col("approx_sim"), col("vec_id"), n).as("top"))
      .select(col("qid"), explode(col("top")).as("s"))
      .select(col("qid"), col("s.vec_id").as("vec_id"))
  }

  /** N7 stage 2: re-score only the stage-1 candidates `cand` with
    * full-precision cosine and keep the top k — n·d byte ops plus
    * k·oversample·d float ops per query instead of n·d float ops;
    * recall loss is bounded by the SQ8 score error and vanishes as
    * oversample grows. */
  private[graft] def rerankExact(emb: DataFrame, cand: DataFrame,
                                 queryIds: Seq[Long], k: Int): DataFrame = {
    val e = withNorm(emb)
    val queries = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"))
    val scored = cand
      .join(e.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .join(broadcast(queries), "qid")
      .select(col("qid"), col("vec_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("cos_sim"))
    scored.groupBy(col("qid"))
      .agg(graft.functions.aggregates
        .top_k_by_score(col("cos_sim"), col("vec_id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), col("s.vec_id").as("vec_id"),
        col("s.cos_sim").as("cos_sim"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Contract for the two-stage path (the n2/n3 shape): per probe,
    * results bounded by k, every result drawn from the stage-1
    * candidate set, rerank scores ≡ independently recomputed exact
    * cosine, the planted ×2-scaled copy retrieved at rank 1 (scaling
    * preserves codes AND direction, so a correct two-stage path can
    * never miss it), ranks descending. All TRUE by construction on a
    * correct implementation; constant-TRUE oracle. The index is a
    * PRE-QUANTIZED table (the [[AnnIndex]] artifact's `sq8`: vec_id,
    * qd, qscale, nrm — the stored int8 layout): stage 1 scans the
    * persisted codes, never re-quantizing the corpus per query. */
  def rerankContractWith(corpus: DataFrame, sq8: DataFrame,
                         probeIds: Seq[Long], k: Int = 10,
                         oversample: Int = 4,
                         plantOffset: Long = 1000000L): DataFrame = {
    val cand = quantizedCandidatesIdx(sq8, probeIds, k * oversample)
      .localCheckpoint() // reused by the rerank AND the superset check
    val res = rerankExact(corpus, cand, probeIds, k)
    val e = withNorm(corpus)
    val qSide = e.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"))
    val perRow = res
      .join(broadcast(qSide), Seq("qid"))
      .join(e.select(col("vec_id"), col("v").as("cv"),
        col("nrm").as("cn")), Seq("vec_id"))
      .join(cand.withColumn("in_stage1", lit(true)),
        Seq("qid", "vec_id"), "left")
      .select(col("qid"), col("rank"), col("cos_sim"),
        coalesce(col("in_stage1"), lit(false)).as("in_stage1"),
        (col("cos_sim") ===
          round(dot(col("cv"), col("qv")) / (col("cn") * col("qn")), 6))
          .as("score_exact"),
        (col("vec_id") === col("qid") + plantOffset).as("is_planted"))
    perRow.groupBy(col("qid"))
      .agg(count(lit(1)).as("n_res"),
        min(col("in_stage1")).as("from_stage1"),
        min(col("score_exact")).as("scores_exact"),
        max(col("is_planted")).as("planted_found"),
        min(when(col("is_planted"), col("rank"))).as("planted_rank"),
        sort_array(collect_list(struct(col("rank"), col("cos_sim"))))
          .as("by_rank"))
      .select(col("qid"),
        (col("n_res") >= 1 && col("n_res") <= k).as("k_bounded"),
        col("from_stage1"), col("scores_exact"), col("planted_found"),
        coalesce(col("planted_rank") === 1, lit(false)).as("planted_rank1"),
        forall(zip_with(
            slice(col("by_rank"), lit(1), size(col("by_rank")) - 1),
            slice(col("by_rank"), lit(2), size(col("by_rank")) - 1),
            (a, b) => a.getField("cos_sim") >= b.getField("cos_sim")),
          x => x).as("ranked_desc"))
  }

  /** N5: int8 scalar quantization of an embedding column (the FAISS
    * SQ8 shape) — each vector rescales to its own max-magnitude so
    * codes use the full [-127,127] range; storage drops 4× and
    * distance kernels run on bytes. Row-local projection: quantization
    * is scan-side at any scale.
    *
    * Every arithmetic step is plain IEEE-double ops (`floor(x+0.5)`,
    * never `round`) so the DuckDB oracle replays it bit-for-bit —
    * half-way cases round identically by construction, where the two
    * engines' `round()` builtins disagree (HALF_UP vs half-even).
    * The emitted `ok` column is the reconstruction contract: max
    * |xᵢ − qᵢ·scale| ≤ scale/2 — the bound scalar quantization
    * promises; a broken scale or rounding step violates it. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    // amax and the codes each materialize behind a projection boundary
    // (referenced several times downstream, incl. inside lambdas), so
    // CollapseProject cannot inline the array_max into a per-element
    // recompute — the same staging discipline as Dedup.shingleSet
    val staged = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"),
        array_max(transform(col("v"), x => abs(x))).as("amax"))
    val scale = col("amax") / 127.0d
    val codes = staged.select(col("vec_id"), col("v"), col("amax"),
      when(col("amax") > 0.0d,
        transform(col("v"), x => sq8Code(x, col("amax")).cast("int")))
        .otherwise(transform(col("v"), _ => lit(0))).as("q"))
    val err = when(col("amax") > 0.0d,
      array_max(zip_with(col("v"), col("q"),
        (x, c) => abs(x - c.cast("double") * scale))))
      .otherwise(lit(0.0d))
    codes.select(col("vec_id"), col("q"),
      (err <= lit(1.0000001d) * col("amax") / 254.0d).as("ok"))
  }
}
