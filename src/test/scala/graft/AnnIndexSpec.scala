package graft

import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, Similarity}

/** The ANN index as a persisted ingest artifact (operators.AnnIndex):
  * one build job, many index families reading it. */
class AnnIndexSpec extends SparkSpec {

  private val probes = Seq(1L, 5L, 9L)

  private def plantedCorpus = {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    val planted = emb.filter(col("vec_id").isin(probes: _*))
      .select((col("vec_id") + 1000000L).as("vec_id"), col("label"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
          .as("embedding"))
    emb.unionByName(planted)
  }

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("annix").toString
    new java.io.File(d).deleteOnExit(); d
  }

  /** Deterministic clustered corpus (the decade-gate construction at
    * suite scale): |clusters| Gaussian centers, `perCluster`
    * multiplicative-jitter members at cos ≈ 0.9, ids c·1000+i,
    * label = cluster. Seeds are EXPLICIT parameters because each
    * test's gate was measured against its specific corpus — shared
    * shape, per-test randomness. */
  private def clusteredCorpus(clusters: Int, perCluster: Int,
                              centerSeed: Long, rowMul: Long,
                              rowOff: Long) = {
    val dim = 64
    val sigma = math.tan(math.acos(0.9))
    val rows = (0 until clusters).flatMap { c =>
      val cr = new scala.util.Random(centerSeed + c)
      val center = Array.fill(dim)(cr.nextGaussian())
      (0 until perCluster).map { i =>
        val mr = new scala.util.Random(c * rowMul + i + rowOff)
        val v = center.map(x => (x * (1.0 + sigma * mr.nextGaussian())).toFloat)
        (c.toLong * 1000L + i, c, v.toSeq)
      }
    }
    import spark.implicits._
    rows.toDF("vec_id", "label", "embedding").repartition(4).cache()
  }

  private def allTrue(df: org.apache.spark.sql.DataFrame): Unit = {
    val rows = df.collect()
    assert(rows.length == probes.size)
    rows.foreach { r =>
      (1 until r.length).foreach(i =>
        assert(r.getBoolean(i), s"qid=${r.getLong(0)} col=$i (${df.columns(i)})"))
    }
  }

  test("nlist auto-scales as sqrt(n): floor at 16, sample 64 per centroid") {
    // the fixed-nlist degradation fix (round-10 verdict task 4): a
    // build over n vectors trains √n coarse cells, so probe cost grows
    // as √n instead of linearly with the corpus
    assert(AnnIndex.nlistFor(100L) == 16, "small corpora keep the floor")
    assert(AnnIndex.nlistFor(10000L) == 100)
    assert(AnnIndex.nlistFor(1000000L) == 1000)
    assert(AnnIndex.sampleSizeFor(16) == AnnIndex.SampleSize)
    assert(AnnIndex.sampleSizeFor(1000) == 64000)
    // a real build carries the scaled cell count into the artifact
    val corpus = plantedCorpus
    val expected = AnnIndex.nlistFor(corpus.count())
    val ix = AnnIndex.build(corpus, freshDir())
    assert(ix.cents.length == expected,
      s"built ${ix.cents.length} cells, expected $expected")
  }

  test("one built artifact serves IVF, PQ, IVFPQ, and SQ8 queries") {
    val corpus = plantedCorpus
    val ix = AnnIndex.build(corpus, freshDir())
    // FOUR query families share the single trained artifact — none of
    // them trains or encodes anything
    allTrue(Similarity.ivfContractWith(corpus, ix.cents, ix.ivf(spark),
      probes, k = 10))
    allTrue(Similarity.pqContractWith(corpus, ix.pqCbs, ix.pqCodes(spark),
      probes, k = 10))
    allTrue(Similarity.ivfPqContractWith(corpus, ix.cents, ix.resCbs,
      ix.ivfPqCodes(spark), probes, k = 10))
    allTrue(Similarity.rerankContractWith(corpus, ix.sq8(spark),
      probes, k = 10))
  }

  test("filtered probe evaluates the predicate inside the traversal") {
    val corpus = plantedCorpus
    val ix = AnnIndex.build(corpus, freshDir())
    val probeLabels = Tables.embeddings(spark, sf)
      .filter(col("vec_id").isin(probes: _*))
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toSeq.sortBy(_._1)
    val res = Similarity.knnIvfBatchFiltered(corpus, ix.ivf(spark),
      ix.cents, probeLabels, k = 10).collect()
    // every probe answered, every row carries ITS query's wanted label
    val want = probeLabels.toMap
    assert(probeLabels.forall { case (q, _) =>
      res.exists(_.getAs[Long]("qid") == q) })
    res.foreach { r =>
      assert(r.getAs[Int]("label") == want(r.getAs[Long]("qid")),
        s"label leaked past the filter for qid ${r.getAs[Long]("qid")}")
    }
    // each probe's planted twin shares its label ⇒ rank 1 at cosine 1
    probes.foreach { q =>
      val top = res.filter(r => r.getAs[Long]("qid") == q &&
        r.getAs[Int]("rank") == 1).head
      assert(top.getAs[Long]("vec_id") == q + 1000000L)
      assert(top.getAs[Double]("cos_sim") == 1.0)
    }
    // the reason the predicate must run INSIDE the traversal:
    // post-filtering the unfiltered top-k can only ever keep a subset
    // of k rows, while the in-traversal filter keeps drawing matching
    // candidates from the probed cells until k are found
    probeLabels.foreach { case (q, lbl) =>
      val inTraversal = res.count(_.getAs[Long]("qid") == q)
      val postFiltered = Similarity.knnIvfBatchAssigned(corpus,
          ix.ivf(spark), ix.cents, Seq(q), k = 10)
        .filter(col("label") === lbl).count()
      assert(postFiltered <= inTraversal,
        s"post-filtering returned MORE than the filtered probe for $q")
    }
  }

  test("hard-negative mining excludes the query's own class in-traversal") {
    val corpus = plantedCorpus
    val ix = AnnIndex.build(corpus, freshDir())
    val probeLabels = Tables.embeddings(spark, sf)
      .filter(col("vec_id").isin(probes: _*))
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toSeq.sortBy(_._1)
    val res = Similarity.knnIvfBatchHardNegatives(corpus, ix.ivf(spark),
      ix.cents, probeLabels, k = 10).collect()
    val byQ = res.groupBy(_.getAs[Long]("qid"))
    probeLabels.foreach { case (q, lbl) =>
      val rows = byQ.getOrElse(q, Array.empty)
      assert(rows.nonEmpty && rows.length <= 10, s"qid=$q size")
      // no negative may carry the query's own class — in particular
      // the planted SAME-label twin (the corpus-wide nearest vector)
      // must be excluded by the flipped in-traversal predicate
      assert(rows.forall(_.getAs[Int]("label") != lbl), s"qid=$q label leak")
      assert(!rows.exists(_.getAs[Long]("vec_id") == q + 1000000L),
        s"qid=$q twin leaked into the negatives")
      // the in-traversal exclusion keeps drawing candidates from the
      // probed cells; post-filtering an unfiltered top-k only ever
      // keeps a subset of k rows
      val postFiltered = Similarity.knnIvfBatchAssigned(corpus,
          ix.ivf(spark), ix.cents, Seq(q), k = 10)
        .filter(col("label") =!= lbl).count()
      assert(postFiltered <= rows.length,
        s"post-filtering returned MORE than the hard-negative probe for $q")
    }
  }

  test("artifact round-trips: load() equals the build's trained state") {
    val corpus = plantedCorpus
    val dir = freshDir()
    val built = AnnIndex.build(corpus, dir)
    val loaded = AnnIndex.load(spark, dir)
    assert(loaded.cents.map(_.toSeq).toSeq == built.cents.map(_.toSeq).toSeq)
    assert(loaded.pqCbs.map(_.map(_.toSeq).toSeq).toSeq ==
      built.pqCbs.map(_.map(_.toSeq).toSeq).toSeq)
    assert(loaded.resCbs.map(_.map(_.toSeq).toSeq).toSeq ==
      built.resCbs.map(_.map(_.toSeq).toSeq).toSeq)
    // the persisted artifact matches in-query training exactly: the
    // artifact-backed contract result equals the self-training one
    val a = Similarity.ivfContractWith(corpus, loaded.cents,
      loaded.ivf(spark), probes, k = 10).collect().map(_.toSeq).toSet
    val b = Similarity.ivfContract(corpus, probes, k = 10)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("artifact-backed results equal self-training results (PQ/IVFPQ)") {
    val corpus = plantedCorpus
    val ix = AnnIndex.build(corpus, freshDir())
    assert(Similarity.pqContractWith(corpus, ix.pqCbs, ix.pqCodes(spark),
        probes, k = 10).collect().map(_.toSeq).toSet ==
      Similarity.pqContract(corpus, probes, k = 10)
        .collect().map(_.toSeq).toSet)
    assert(Similarity.ivfPqContractWith(corpus, ix.cents, ix.resCbs,
        ix.ivfPqCodes(spark), probes, k = 10).collect().map(_.toSeq).toSet ==
      Similarity.ivfPqContract(corpus, probes, k = 10)
        .collect().map(_.toSeq).toSet)
  }

  test("addVectors encodes against frozen codebooks and probes find the new vectors") {
    // FAISS add() model: base index trained on the original corpus;
    // a delta batch (×2-scaled twins of the probe vectors under new
    // ids — same direction ⇒ same cell, cosine exactly 1) is appended
    // WITHOUT retraining. Every table must grow by the batch, the
    // appended assignments must equal an independent recompute against
    // the SAME frozen centroids, and an IVF probe over the merged
    // index must surface each planted twin as the exact-cosine top hit.
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    val ix = AnnIndex.build(base, freshDir())
    val nBase = base.count()
    val delta = base.filter(col("vec_id").isin(probes: _*))
      .select((col("vec_id") + 2000000L).as("vec_id"), col("label"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
          .as("embedding"))
    AnnIndex.addVectors(ix, delta)

    val nDelta = probes.size
    assert(ix.ivf(spark).count() == nBase + nDelta)
    assert(ix.pqCodes(spark).count() == nBase + nDelta)
    assert(ix.ivfPqCodes(spark).count() == nBase + nDelta)
    assert(ix.sq8(spark).count() == nBase + nDelta)

    // appended cell assignments == independent recompute on frozen cents
    val persisted = ix.ivf(spark)
      .filter(col("vec_id") >= 2000000L)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val recomputed = AnnIndex.assignCells(delta, ix.cents)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(persisted == recomputed)

    // probing each ORIGINAL probe id over the merged index returns its
    // appended twin at cosine exactly 1 (same direction ⇒ same cell)
    val merged = base.unionByName(delta)
    val top = Similarity.knnIvfBatchAssigned(merged, ix.ivf(spark),
      ix.cents, probes, k = 1)
    val hits = top.collect()
      .map(r => (r.getLong(r.fieldIndex("qid")),
        r.getLong(r.fieldIndex("vec_id")),
        r.getDouble(r.fieldIndex("cos_sim")))).toSet
    assert(hits == probes.map(p => (p, p + 2000000L, 1.0)).toSet, hits)
  }

  test("an empty vector batch is a no-op") {
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    val ix = AnnIndex.build(base, freshDir())
    val n = ix.ivf(spark).count()
    AnnIndex.addVectors(ix, base.filter(lit(false)))
    assert(ix.ivf(spark).count() == n)
    assert(ix.sq8(spark).count() == n)
  }

  test("vector deletes: tombstones mask probes; purge drops from all four tables") {
    val corpus = plantedCorpus
    val ix = AnnIndex.build(corpus, freshDir())
    val n = ix.ivf(spark).count()
    val victims = corpus.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"))
    val nDel = AnnIndex.deleteByQuery(spark, ix, victims)
    assert(nDel == victims.count())
    assert(AnnIndex.deleteByQuery(spark, ix, victims) == 0L)
    assert(AnnIndex.liveView(spark, ix, ix.ivf(spark)).count() == n - nDel)
    assert(ix.ivf(spark).count() == n) // physically intact pre-purge
    AnnIndex.purgeDeletes(spark, ix)
    Seq(ix.ivf(spark), ix.pqCodes(spark), ix.ivfPqCodes(spark),
      ix.sq8(spark)).foreach { t =>
      assert(t.count() == n - nDel)
      assert(t.filter(col("vec_id") % 5 === 0).count() == 0)
    }
    // cell partitioning survives the purge (the pruning access path)
    assert(ix.ivf(spark).columns.contains("cell"))
    AnnIndex.purgeDeletes(spark, ix) // no tombstones: no-op
    assert(ix.ivf(spark).count() == n - nDel)
  }

  test("purgeDeletes refreshes the handle's live row count") {
    // without the refresh, load()'s pre-purge count (tombstones
    // included) permanently over-sizes the rerank shortlist — extra
    // full-precision fetches per query until an artifact rebuild
    // (round-14 advisor)
    val corpus = plantedCorpus
    val ix = AnnIndex.build(corpus, freshDir())
    val n = ix.ivf(spark).count()
    assert(ix.nRows == n)
    val victims = corpus.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"))
    val nDel = AnnIndex.deleteByQuery(spark, ix, victims)
    assert(nDel > 0)
    val purged = AnnIndex.purgeDeletes(spark, ix)
    assert(purged.nRows == n - nDel)
  }

  test("live row count rides the handle: build sets it, addVectors grows it, the shortlist depth tracks it") {
    // frozen-structure adds grow n while nlist stays as trained; the
    // serving depth must track the TRUE candidate count or shortlist
    // coverage silently shrinks back to the regime the ×1000
    // clustered gate caught (rerankDepthFor scaladoc)
    val corpus = plantedCorpus
    val ix = AnnIndex.build(corpus, freshDir())
    val n0 = corpus.count()
    assert(ix.nRows == n0)
    val delta = corpus.limit(3)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("label"),
        col("embedding"))
    val grown = AnnIndex.addVectors(ix, delta)
    assert(grown.nRows == n0 + 3)
    // with a live n of 10·nlist² the candidates/32 term must scale
    // the depth ~10× over the build-time identity
    val d0 = Similarity.rerankDepthFor(10, 38, 1414)
    val d1 = Similarity.rerankDepthFor(10, 38, 1414,
      n = 10L * 1414 * 1414)
    assert(d1 > d0 * 9 && d1 < d0 * 11, s"depth $d0 -> $d1")
    // ...and oracle-sized indexes stay on the unchanged floor
    assert(Similarity.rerankDepthFor(10, 4, 16) == 160)
    assert(Similarity.rerankDepthFor(10, 4, 16, n = 256L) == 160)
  }

  test("compressed serving arm masks tombstones exactly like the flat arm") {
    // AnnIndex.search routes BOTH its tables through liveView; this
    // pins that the ADC+rerank arm (what search ships at routing-
    // active cell counts) cannot resurrect a deleted vector — the
    // planted cos-1.0 twin is the strongest candidate there is, so
    // deleting it and still not seeing it proves the mask holds in
    // the compressed scan AND the rerank fetch
    val corpus = plantedCorpus
    val ix = AnnIndex.build(corpus, freshDir())
    def pqTop(qid: Long): Array[Long] =
      Similarity.knnIvfPqRerankBatch(corpus,
          AnnIndex.liveView(spark, ix, ix.ivf(spark)),
          AnnIndex.liveView(spark, ix, ix.ivfPqCodes(spark)),
          ix.cents, ix.resCbs, Seq(qid), k = 5)
        .orderBy(col("rank")).select(col("vec_id"))
        .collect().map(_.getLong(0))
    val before = pqTop(1L)
    assert(before.head == 1000001L, "planted twin ranks first pre-delete")
    import spark.implicits._
    val nDel = AnnIndex.deleteByQuery(spark, ix,
      Seq(1000001L).toDF("vec_id"))
    assert(nDel == 1L)
    val after = pqTop(1L)
    assert(!after.contains(1000001L),
      "tombstoned vector must not be served by the compressed arm")
    assert(after.nonEmpty)
  }

  test("maybePurge: sub-threshold tombstones persist; crossing the ratio merges") {
    val corpus = plantedCorpus
    val ix = AnnIndex.build(corpus, freshDir())
    val n = ix.ivf(spark).count()
    // nothing tombstoned → nothing to read, no-op
    assert(!AnnIndex.maybePurge(spark, ix))
    // ~2% deleted: far under a 10% pressure threshold — the merge
    // must NOT run (tables intact, mask keeps serving)
    val few = corpus.filter(col("vec_id") % 50 === 0).select(col("vec_id"))
    val nFew = AnnIndex.deleteByQuery(spark, ix, few)
    assert(nFew > 0)
    assert(!AnnIndex.maybePurge(spark, ix))
    assert(ix.ivf(spark).count() == n)
    assert(AnnIndex.liveView(spark, ix, ix.ivf(spark)).count() == n - nFew)
    // pile on past the ratio → the four-table merge runs
    val many = corpus.filter(col("vec_id") % 5 === 0).select(col("vec_id"))
    val nMany = AnnIndex.deleteByQuery(spark, ix, many)
    assert(AnnIndex.maybePurge(spark, ix))
    Seq(ix.ivf(spark), ix.pqCodes(spark), ix.ivfPqCodes(spark),
      ix.sq8(spark)).foreach(t => assert(t.count() == n - nFew - nMany))
    // pressure relieved: the next check is a no-op again
    assert(!AnnIndex.maybePurge(spark, ix))
  }

  test("addVectors rejects duplicate vec_ids loudly") {
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    val ix = AnnIndex.build(base, freshDir())
    val e = intercept[IllegalArgumentException] {
      AnnIndex.addVectors(ix, base.filter(col("vec_id") < 3))
    }
    assert(e.getMessage.contains("already indexed"))
  }

  test("ivf table is cell-partitioned so probes prune files") {
    val corpus = plantedCorpus
    val ix = AnnIndex.build(corpus, freshDir())
    // partitionBy(cell) layout: one directory per cell on disk
    val cellDirs = new java.io.File(s"${ix.dir}/ivf").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length > 1, "expected multiple cell= partitions")
    // a single-cell read plans a PartitionFilters prune, not a full scan
    val one = ix.ivf(spark).filter(col("cell") === 0)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cell"), plan)
    // the compressed serving arm prunes BOTH its scans with the
    // static probed-cell literal set (not a bet on dynamic partition
    // pruning): the codes ADC scan and the rerank fetch each carry a
    // non-empty cell IN (...) partition filter in the executed plan
    val served = Similarity.knnIvfPqRerankBatch(corpus,
      ix.ivf(spark), ix.ivfPqCodes(spark), ix.cents, ix.resCbs,
      Seq(1L), k = 5)
    val sPlan = served.queryExecution.executedPlan.toString
    // robust to Catalyst's In renderings: In → "IN (", InSet past the
    // conversion threshold → "INSET", single value → "= N"
    val pruned = "PartitionFilters: \\[cell#\\d+ (IN \\(|INSET|= )".r
      .findAllIn(sPlan).size
    assert(pruned >= 2,
      s"expected static cell IN (...) partition filters on the codes " +
        s"scan AND the rerank fetch, found $pruned:\n$sPlan")
  }

  test("serving operating points are pinned at the probed decades") {
    // The decade recall gates (RecallProbe) run once per round as a
    // manual probe; between rounds a quiet revert of any operating-
    // point function would surface only at the NEXT probe (round-14
    // verdict task 2). These pins fail the SUITE the moment one moves:
    // every constant below is the value a ×100/×1000 gate was measured
    // and enforced at (bench_recall_x{100,1000}*.json).
    // -- codebook width: 4-bit below routing (bit-identical oracle
    //    artifacts), FAISS-standard 8-bit where serving is compressed
    //    (4-bit ADC noise read 0.89 < 0.9 planted at ×1000 — caught)
    assert(AnnIndex.ksubFor(45) == 16, "oracle-decade codebook width")
    assert(AnnIndex.ksubFor(447) == 256, "x100-decade codebook width")
    assert(AnnIndex.ksubFor(1414) == 256, "x1000-decade codebook width")
    // -- probe width: sqrt(nlist), floor 4 (recall-knee measurements)
    assert(AnnIndex.nprobeFor(45) == 7)
    assert(AnnIndex.nprobeFor(447) == 21)
    assert(AnnIndex.nprobeFor(1414) == 38)
    // -- rerank shortlist: max(16k, 128, candidates/32) with the TRUE
    //    live row count; the floors carried sf0.1/×100, the /32 term
    //    is what the ×1000 clustered organic gate forced (0.63 → 0.986)
    assert(Similarity.rerankDepthFor(10, 7, 45) == 160, "16·k floor")
    assert(Similarity.rerankDepthFor(1, 4, 16) == 128, "abs floor")
    assert(Similarity.rerankDepthFor(10, 21, 447, 200003L) == 293,
      "x100 candidates/32")
    assert(Similarity.rerankDepthFor(10, 38, 1414, 2000003L) == 1679,
      "x1000 candidates/32")
    // frozen-structure adds: depth tracks the true n, not nlist²
    assert(Similarity.rerankDepthFor(10, 38, 1414, 8000000L) ==
      38L * (8000000L / 1414L) / 32L, "depth tracks live n after adds")
  }

  test("routing-forced clustered fixture: shipped arm clears the recall and bytes gates in-suite") {
    // A scaled-down twin of the decade gates that runs in every `sbt
    // test` (round-14 verdict task 2): 60k clustered vectors force
    // nlist past RouteThreshold, so AnnIndex.search serves through the
    // COMPRESSED arm (ADC shortlist + exact rerank) — the integration
    // path a revert of routing/ADC/shortlist/rerank would break. On a
    // clustered corpus organic recall is gateable (each query's true
    // top-k are its cluster siblings — the ×100/×1000 clustered-gate
    // rationale), and the bytes ledger clears ≥8 at this size
    // (cand≈3.9k, R=160 floor → ratio ≈8.6; the ledger formula shares
    // rerankDepthFor with serving, the SQ8 single-sourcing rule).
    val dim = 64
    val perCluster = 100
    val clusters = 600
    val corpus = clusteredCorpus(clusters, perCluster,
      centerSeed = 900000L, rowMul = 7919L, rowOff = 13L)
    val ix = AnnIndex.build(corpus, freshDir())
    val n = clusters.toLong * perCluster
    assert(ix.cents.length >= graft.functions.Centroids.RouteThreshold,
      s"fixture must FORCE routing (nlist=${ix.cents.length}) or this " +
        "test silently stops covering the compressed arm")
    // structural pin: the persisted codebooks are the 8-bit ones
    assert(ix.resCbs.head.length == 256,
      "routing-active build must train 8-bit residual codebooks")
    // one query per 50th cluster: 12 queries, ground truth = exact
    // brute-force top-k (cluster siblings by construction)
    val qids = (0 until clusters by 50).map(c => c.toLong * 1000L)
    val gt = Similarity.knnBruteBatch(corpus, qids, k = 10)
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet }
    val served = AnnIndex.search(spark, ix, corpus, qids, k = 10)
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet }
    val recall = qids.map { q =>
      val g = gt.getOrElse(q, Set.empty[Long])
      served.getOrElse(q, Set.empty[Long]).count(g).toDouble / g.size
    }.sum / qids.size
    assert(recall >= 0.9,
      f"compressed-arm organic recall@10 $recall%.3f < 0.9 on the " +
        "clustered fixture — serving operating point regressed")
    // the bytes gate, computed exactly as the decade probe computes it
    val serving = AnnIndex.nprobeFor(ix.cents.length)
    val rDepth = Similarity.rerankDepthFor(10, serving, ix.cents.length, n)
    val cellSizes = ix.ivf(spark).groupBy(col("cell"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val qVecs = corpus.filter(col("vec_id").isin(qids: _*))
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val candMean = qVecs.map { v =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      graft.functions.Centroids.topCellsHost(ix.cents, v, nrm, serving)
        .map(c => cellSizes.getOrElse(c, 0L)).sum
    }.sum.toDouble / qVecs.length
    val m = ix.resCbs.length
    val bytesFlat = candMean * (8 * dim + 20)
    val bytesPq = candMean * (4 * m + 8) + rDepth.toDouble * (8 * dim + 20)
    assert(bytesFlat / bytesPq >= 8.0,
      f"candidate bytes ratio ${bytesFlat / bytesPq}%.2f < 8 — " +
        "compressed serving no longer pays for itself")
    corpus.unpersist()
  }

  test("grouped cell layout (span > 1): dirs bounded, cgrp-pruned plans, results identical to ungrouped") {
    // The GroupCap file-group hatch (AnnIndex.GroupCap scaladoc):
    // above 2048 cells the cell-partitioned tables bucket `span`
    // consecutive cells per cgrp directory. No current corpus crosses
    // the threshold (that is the point — span 1 keeps every existing
    // artifact and plan bit-identical), so the grouped path is forced
    // here via spanOverride on a routing-forced corpus and pinned
    // three ways: the layout (bounded cgrp= dirs, _LAYOUT
    // round-trip), the plan (static cgrp PARTITION prune on the ADC
    // scan and the rerank fetch), and the contract that grouping is
    // STORAGE ONLY — the served results must equal the ungrouped
    // build's row-for-row (same probed cells, same ADC, same rerank).
    val dim = 64
    val clusters = 120
    val perCluster = 100
    val corpus = clusteredCorpus(clusters, perCluster,
      centerSeed = 770000L, rowMul = 6101L, rowOff = 17L)
    val nlist = 160 // ≥ RouteThreshold: serves through the compressed arm
    val span = 8
    val flatIx = AnnIndex.build(corpus, freshDir(), nlistOverride = nlist)
    val ix = AnnIndex.build(corpus, freshDir(), nlistOverride = nlist,
      spanOverride = span)
    assert(flatIx.span == 1 && ix.span == span, "span plumbs the build")
    assert(AnnIndex.load(spark, ix.dir).span == span,
      "_LAYOUT must round-trip the persisted span")
    def partDirs(dir: String, sub: String): Seq[String] =
      new java.io.File(s"$dir/$sub").listFiles
        .map(_.getName).filter(_.contains("=")).toSeq
    Seq("ivf", "ivfpq_codes").foreach { sub =>
      val d = partDirs(ix.dir, sub)
      assert(d.nonEmpty && d.forall(_.startsWith("cgrp=")),
        s"$sub must partition on cgrp under the grouped layout: $d")
      assert(d.size <= (nlist + span - 1) / span,
        s"$sub: ${d.size} cgrp dirs exceed the ceil(nlist/span) bound")
      val f = partDirs(flatIx.dir, sub)
      assert(f.forall(_.startsWith("cell=")) && f.size > d.size,
        s"$sub: ungrouped twin must keep the per-cell layout")
    }
    val qids = (0 until clusters by 17).map(c => c.toLong * 1000L)
    val grouped = AnnIndex.search(spark, ix, corpus, qids, k = 10)
    val a = AnnIndex.search(spark, flatIx, corpus, qids, k = 10)
      .orderBy("qid", "rank", "vec_id").collect().map(_.toSeq).toSeq
    val b = grouped.orderBy("qid", "rank", "vec_id")
      .collect().map(_.toSeq).toSeq
    assert(a == b,
      "grouped layout changed served results — grouping must be storage only")
    // the FILTERED probe path (ivfProbe) joins on (cgrp, cell) when
    // the index is grouped — same equality contract as the main arm
    val ql = qids.map(q => q -> (q / 1000L).toInt)
    val fa = Similarity.knnIvfBatchFiltered(corpus, flatIx.ivf(spark),
        flatIx.cents, ql, k = 5, span = flatIx.span)
      .orderBy("qid", "rank", "vec_id").collect().map(_.toSeq).toSeq
    val fb = Similarity.knnIvfBatchFiltered(corpus, ix.ivf(spark),
        ix.cents, ql, k = 5, span = ix.span)
      .orderBy("qid", "rank", "vec_id").collect().map(_.toSeq).toSeq
    assert(fa == fb,
      "filtered kNN diverged between grouped and ungrouped layouts")
    val plan = grouped.queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[cgrp#\\d+ (IN \\(|INSET|= )".r
      .findAllIn(plan).size
    assert(pruned >= 2,
      "expected static cgrp partition pruning on the ADC scan AND the " +
        s"rerank fetch, found $pruned:\n$plan")
    // the MAINTENANCE paths under the grouped layout — an append or
    // purge that guessed the span instead of reading the handle would
    // interleave cell= and cgrp= dirs in one table (the _LAYOUT
    // hazard): ingest a delta and purge a deletion through both
    // builds, then re-pin layout purity and result equality
    import spark.implicits._
    val delta = (0 until 40).map { i =>
      val mr = new scala.util.Random(424200L + i)
      (900000L + i, 777, Array.fill(dim)(mr.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "label", "embedding")
    val flatIx2 = AnnIndex.addVectors(flatIx, delta)
    val ix2 = AnnIndex.addVectors(ix, delta)
    val victims = Seq(qids.head + 1L, 900003L).toDF("vec_id")
    AnnIndex.deleteByQuery(spark, flatIx2, victims)
    AnnIndex.deleteByQuery(spark, ix2, victims)
    val flatIx3 = AnnIndex.purgeDeletes(spark, flatIx2)
    val ix3 = AnnIndex.purgeDeletes(spark, ix2)
    Seq("ivf", "ivfpq_codes").foreach { sub =>
      assert(partDirs(ix3.dir, sub).forall(_.startsWith("cgrp=")),
        s"$sub: append/purge must preserve the grouped layout")
    }
    val a3 = AnnIndex.search(spark, flatIx3, corpus, qids, k = 10)
      .orderBy("qid", "rank", "vec_id").collect().map(_.toSeq).toSeq
    val b3 = AnnIndex.search(spark, ix3, corpus, qids, k = 10)
      .orderBy("qid", "rank", "vec_id").collect().map(_.toSeq).toSeq
    assert(a3 == b3,
      "grouped add/delete/purge diverged from the ungrouped twin")
    assert(!a3.flatMap(_.lift(1)).contains(qids.head + 1L),
      "purged victim must not be served")
    corpus.unpersist()
  }
}
