package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, Similarity}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Array(1.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0)))
      .toDF("a", "b", "c")
    // cos(a,b) as the pair scorers compute it: dot/(‖a‖·‖b‖)
    def cosine(a: Column, b: Column): Column =
      Similarity.dot(a, b) / (Similarity.norm(a) * Similarity.norm(b))
    val r = df.select(
      cosine(col("a"), col("b")).as("same"),
      cosine(col("a"), col("c")).as("orth")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("tiled all-pairs equals the brute-force reference exactly") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.cosinePairsBrute(emb, 0.4).collect().toSeq
    val tiled = Similarity.cosinePairsBlocked(emb, 0.4, blocks = 4)
      .collect().toSeq
    assert(tiled == brute)
    assert(brute.nonEmpty)
  }

  test("brute-force knn returns k rows ordered by similarity") {
    val knn = Similarity.knnBrute(Tables.embeddings(spark, sf), 1L, 10)
      .collect()
    assert(knn.length == 10)
    val sims = knn.map(_.getAs[Double]("cos_sim")).toSeq
    assert(sims == sims.sorted.reverse)
    assert(!knn.map(_.getLong(0)).contains(1L))
  }

  test("LSH finds an exact duplicate vector (same bucket, sim 1)") {
    val emb = Tables.embeddings(spark, sf)
    val dup = emb.filter(col("vec_id") === 1L)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"),
        col("label"))
    val corpus = emb.unionByName(dup)
    val r = Similarity.knnLsh(corpus, 1L, 5)
    val top = r.head()
    assert(top.getLong(0) == 10001L)
    assert(top.getAs[Double]("cos_sim") == 1.0)
  }

  test("LSH results are a subset of brute-force ranking universe") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.knnBrute(emb, 1L, 500)
      .select("vec_id", "cos_sim").as[(Long, Double)].collect().toMap
    val lsh = Similarity.knnLsh(emb, 1L, 10)
      .select("vec_id", "cos_sim").as[(Long, Double)].collect()
    lsh.foreach { case (id, sim) => assert(brute(id) == sim) }
  }

  test("IVF probes the right cell: planted duplicate is the top hit") {
    val emb = Tables.embeddings(spark, sf)
    val dup = emb.filter(col("vec_id") === 7L)
      .select((col("vec_id") + 20000L).as("vec_id"), col("embedding"),
        col("label"))
    val top = Similarity.knnIvf(emb.unionByName(dup), 7L, 5).head()
    assert(top.getLong(0) == 20007L)
    assert(top.getAs[Double]("cos_sim") == 1.0)
  }

  test("IVF cos values agree with brute force for returned ids") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.knnBrute(emb, 1L, 500)
      .select("vec_id", "cos_sim").as[(Long, Double)].collect().toMap
    Similarity.knnIvf(emb, 1L, 10)
      .select("vec_id", "cos_sim").as[(Long, Double)].collect()
      .foreach { case (id, sim) => assert(brute(id) == sim) }
  }

  test("kmeans centroids are deterministic, unit-norm, and cover cells") {
    val emb = Tables.embeddings(spark, sf)
    val c1 = Similarity.kmeansCentroids(emb, 8)
    val c2 = Similarity.kmeansCentroids(emb, 8)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq) // deterministic
    c1.foreach { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9)
    }
  }

  test("routed-regime kmeans (k >= RouteThreshold) is deterministic, " +
       "unit-norm, and clusters a planted structure") {
    // synthetic corpus with enough distinct directions for k = 128 =
    // Centroids.RouteThreshold cells. AnnIndex.build trains this many
    // cells with kmeansDistributed; kmeansCentroids runs the exact
    // driver loop at any k, and this pins that loop at k = 128
    val k = graft.functions.Centroids.RouteThreshold
    val rows = (0 until 4096).map { i =>
      val v = Array.tabulate(16)(j =>
        math.sin((i % 257 + 1).toDouble * (j + 1)) +
          (if (j == i % 16) 3.0 else 0.0))
      (i.toLong, v, s"g${i % 16}")
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val c1 = Similarity.kmeansCentroids(emb, k, sampleSize = 64 * k)
    val c2 = Similarity.kmeansCentroids(emb, k, sampleSize = 64 * k)
    assert(c1.length == k)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq) // deterministic
    c1.foreach { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9)
    }
    // the centroids must actually separate the 16 planted groups:
    // vectors from different groups should mostly land in different
    // cells (weak but structural — catches a degenerate assignment)
    val cells = emb
      .select(col("label"),
        aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x * x, acc => sqrt(acc)).as("nrm"),
        col("embedding"))
      .select(col("label"),
        graft.functions.Centroids.nearest_cell(c1, col("embedding"),
          col("nrm")).as("cell"))
      .groupBy("label").agg(countDistinct(col("cell")).as("nc"),
        count(lit(1)).as("n"))
      .collect()
    assert(cells.length == 16)
  }

  /** SHA-256 over each row's length and its values' bits, rows in order. */
  private def digest(rows: Iterator[Array[Long]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def put(x: Long): Unit = { buf.clear(); buf.putLong(x); md.update(buf.array()) }
    rows.foreach { r => put(r.length.toLong); r.foreach(put) }
    md.digest().map(b => f"$b%02x").mkString
  }
  private def bits(m: Array[Array[Double]]): Iterator[Array[Long]] =
    m.iterator.map(_.map(java.lang.Double.doubleToLongBits))

  test("ANN trainers reproduce their pinned outputs bit for bit") {
    // digests of the trainers' outputs, recorded before the cosine
    // Lloyd's loop, the nearest-centroid kernel and the subspace
    // fan-out were shared: a reordered sum or update, or an assignment
    // that flips, moves a digest
    val emb = Tables.embeddings(spark, sf)
    val got = scala.collection.mutable.LinkedHashMap.empty[String, String]
    got("kmeansCentroids k=16") = digest(bits(Similarity.kmeansCentroids(emb, 16)))
    // CodegenSpec's seeded 200 centroids
    val rnd = new scala.util.Random(11)
    val cents200 = Array.fill(200) {
      val v = Array.fill(16)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val route = graft.functions.CentroidImplRouting.routeFor(
      cents200, graft.functions.Centroids.RouteBeam)
    got("routeFor tops") = digest(bits(route.topCents))
    got("routeFor members") = digest(route.members.iterator.map(_.map(_.toLong)))
    Seq(16, 256).foreach { ks =>
      got(s"pqTrain ksub=$ks") =
        digest(Similarity.pqTrain(emb, ksub = ks).iterator.flatMap(bits))
      // the coarse half of ivfPqTrain is kmeansCentroids(emb, 16)
      got(s"ivfPqTrain residual ksub=$ks") =
        digest(Similarity.ivfPqTrain(emb, ksub = ks)._2.iterator.flatMap(bits))
    }
    got("kmeansDistributed k=128 iters=3") = digest(bits(
      Similarity.kmeansDistributed(emb, emb.count(), 128, iters = 3)))
    val pinned = Map(
      "kmeansCentroids k=16" ->
        "58d928ac48c7ba23e514126cfc555c2541178eabbdf27dc0c697dd74d953af77",
      "routeFor tops" ->
        "50147147db552bacceba404e683fb91a523e1fe7224848a9687dbaada2009118",
      "routeFor members" ->
        "71dd6dba93149cb011c86d8f2b1735debfd052e1adf934284e2642b1989cb789",
      "pqTrain ksub=16" ->
        "f56c75cae9bef7c6ae72db91138d622c0047bd142af8cc983185e6ade1c7810f",
      "ivfPqTrain residual ksub=16" ->
        "bdc29d853a49c0b14611a6b234ebe9f42015e0ea8bb0262dc0e7ba2d2f58c7a3",
      "pqTrain ksub=256" ->
        "205fffea1b04975fc876ddc8bbad6bed3520c226fc9bd76b419c739255463ecc",
      "ivfPqTrain residual ksub=256" ->
        "28accd8afcebafb5cfa3e96db8fb7ea70a42fd3ab4ba546f99e6affb2b2369b0",
      "kmeansDistributed k=128 iters=3" ->
        "74d7dd007810bc7713bdb2f15bf8f296283a1464e7681fa165319eb8520eb2fd")
    got.foreach { case (k, d) => info(s"$k -> $d") }
    got.foreach { case (k, d) => assert(d == pinned(k), k) }
  }

  private def neighborList(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id", "cos_sim").as[(Long, Double)].collect().toSeq

  test("batched brute force over a query set equals per-query brute") {
    val emb = Tables.embeddings(spark, sf)
    val qids = Seq(1L, 5L, 9L)
    val batch = Similarity.knnBruteBatch(emb, qids, k = 10)
    qids.foreach { q =>
      val single = neighborList(Similarity.knnBrute(emb, q, k = 10))
      val fromBatch = neighborList(
        batch.filter(col("qid") === q).orderBy(col("rank")))
      assert(fromBatch == single, s"qid=$q")
    }
  }

  test("batched LSH over a query set equals per-query LSH") {
    val emb = Tables.embeddings(spark, sf)
    val qids = Seq(1L, 5L, 9L)
    val batch = Similarity.knnLshBatch(emb, qids, k = 10)
    qids.foreach { q =>
      val single = neighborList(Similarity.knnLsh(emb, q, k = 10))
      val fromBatch = neighborList(
        batch.filter(col("qid") === q).orderBy(col("rank")))
      assert(fromBatch == single, s"qid=$q")
    }
  }

  private def plantedCorpus(probeIds: Seq[Long]) = {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    val planted = emb.filter(col("vec_id").isin(probeIds: _*))
      .select((col("vec_id") + 1000000L).as("vec_id"), col("label"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
          .as("embedding"))
    emb.unionByName(planted)
  }

  test("LSH and IVF contracts: every invariant TRUE on a planted corpus") {
    val probes = Seq(1L, 5L, 9L)
    val corpus = plantedCorpus(probes)
    Seq(Similarity.lshContract(corpus, probes, k = 10),
        Similarity.ivfContract(corpus, probes, k = 10)).foreach { c =>
      val rows = c.collect()
      assert(rows.length == probes.size)
      assert(rows.map(_.getLong(0)).toSet == probes.toSet)
      rows.foreach { r =>
        (1 until r.length).foreach(i =>
          assert(r.getBoolean(i), s"qid=${r.getLong(0)} col=$i"))
      }
    }
  }

  test("contracts are falsifiable: no planting => planted checks FALSE") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    val c = Similarity.lshContract(emb, Seq(1L), k = 10).head()
    assert(!c.getAs[Boolean]("planted_found"))
    assert(!c.getAs[Boolean]("planted_rank1"))
    // structural invariants still hold on the unplanted index
    assert(c.getAs[Boolean]("all_in_probed"))
    assert(c.getAs[Boolean]("scores_exact"))
    assert(c.getAs[Boolean]("ranked_desc"))
  }

  test("batched IVF over a query set equals per-query IVF") {
    val emb = Tables.embeddings(spark, sf)
    val qids = Seq(1L, 5L, 9L)
    // knnIvf's training and assignment, probed in one batch
    val cents = Similarity.kmeansCentroids(emb, 16)
    val batch = Similarity.knnIvfBatchAssigned(emb,
      AnnIndex.assignCells(emb, cents), cents, qids, k = 10)
    qids.foreach { q =>
      val single = neighborList(Similarity.knnIvf(emb, q, k = 10))
      val fromBatch = neighborList(
        batch.filter(col("qid") === q).orderBy(col("rank")))
      assert(fromBatch == single, s"qid=$q")
    }
  }

  test("multi-probe LSH: recall is monotone in radius, full radius = brute") {
    val emb = Tables.embeddings(spark, sf)
    val q = 3L
    val k = 10
    val brute = Similarity.knnBrute(emb, q, k)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def recallAt(radius: Int): Double = {
      val got = Similarity.knnLshMultiProbe(emb, q, k, probeRadius = radius)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (got & brute).size.toDouble / k
    }
    // radius 0 is exactly the single-probe path
    val single = Similarity.knnLsh(emb, q, k)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val r0 = Similarity.knnLshMultiProbe(emb, q, k, probeRadius = 0)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(r0 == single)
    // widening the probe ring never loses recall
    val recalls = (0 to 4).map(recallAt)
    assert(recalls.sliding(2).forall { case Seq(a, b) => b >= a })
    // all 2^4 buckets probed == a full scan == brute force exactly
    val full = Similarity.knnLshMultiProbe(emb, q, k, probeRadius = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val bruteRows = Similarity.knnBrute(emb, q, k)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(full == bruteRows)
  }

  test("quantized rerank at full oversample equals exact brute force") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count().toInt
    val probes = Seq(1L, 5L)
    // n7's two stages (rerankContractWith): int8 candidates from the
    // sq8 table, then the exact rerank
    val sq8 = Similarity.quantizedIndex(emb)
    def rerank(oversample: Int) = Similarity.rerankExact(emb,
      Similarity.quantizedCandidatesIdx(sq8, probes, 10 * oversample),
      probes, k = 10)
    // oversample covering the whole corpus → stage 1 prunes nothing →
    // the exact rerank IS brute force
    val full = rerank(oversample = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val brute = Similarity.knnBruteBatch(emb, probes, k = 10)
      .select(col("qid"), col("vec_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == brute)
    // modest oversampling still recovers most of the exact top-10:
    // SQ8 score error is far below typical top-k score gaps
    val os4 = rerank(oversample = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteIds = brute.map(t => (t._1, t._2))
    assert((os4 intersect bruteIds).size >= (bruteIds.size * 7) / 10)
  }

  test("label centroids: fixed-point means match hand computation") {
    val emb = Seq(
      (1L, Array(1.0f, 2.0f), 0),
      (2L, Array(3.0f, -1.0f), 0),
      (3L, Array(0.5f, 0.5f), 1)).toDF("vec_id", "embedding", "label")
    val r = Similarity.labelCentroids(emb).collect()
      .map(x => x.getInt(0) -> (x.getLong(1), x.getString(2))).toMap
    // label 0: mean = (2.0, 0.5) → micro-units (2000000, 500000)
    assert(r(0) == (2L, "2000000|500000"))
    assert(r(1) == (1L, "500000|500000"))
  }

  test("int8 quantization: full-range codes, bounded error, zero-safe") {
    val emb = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(-2.0f, 2.0f, 1.0f, -1.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(emb).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Int](1), r.getBoolean(2))).toMap
    // max-magnitude element codes to ±127; halves round toward +inf
    // (floor(x+0.5): -63.5 → -63), identically on both engines
    assert(out(1L)._1 == Seq(127, -63, 32, 0))
    assert(out(2L)._1 == Seq(-127, 127, 64, -63))
    // the all-zero vector quantizes to zeros instead of dividing by 0
    assert(out(3L)._1 == Seq(0, 0, 0, 0))
    // reconstruction contract holds for every row
    assert(out.values.forall(_._2))
    // round-trip error really is within half a quantization step
    val scale = 2.0 / 127
    val recon = out(2L)._1.map(_ * scale)
    Seq(-2.0, 2.0, 1.0, -1.0).zip(recon).foreach { case (x, r) =>
      assert(math.abs(x - r) <= scale / 2 + 1e-12)
    }
  }

  test("PQ: codes densely bounded, ADC replays from codebooks + codes exactly") {
    val emb = Tables.embeddings(spark, sf)
    val cbs = Similarity.pqTrain(emb, m = 8, ksub = 16)
    assert(cbs.length == 8 && cbs.forall(_.length == 16) &&
      cbs.forall(_.forall(_.length == 8)))
    val codes = Similarity.pqEncode(emb, cbs).collect()
    assert(codes.nonEmpty)
    codes.foreach { r =>
      (1 to 8).foreach(j => {
        val c = r.getInt(j); assert(c >= 0 && c < 16)
      })
    }
    // driver-side ADC replay for one probe against a handful of rows:
    // score(q, x) must equal the sum of per-subspace LUT entries
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def normed(id: Long) = {
      val v = e(id); val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val q = normed(1L)
    val luts = Array.tabulate(8)(j => cbs(j).map(c =>
      c.zip(q.slice(j * 8, (j + 1) * 8)).map { case (a, b) => a * b }.sum))
    codes.take(5).foreach { r =>
      val adc = (0 until 8).map(j => luts(j)(r.getInt(j + 1))).sum
      // |ADC − exact cosine| bounded by quantization error; sanity only
      val exact = normed(1L).zip(normed(r.getLong(0)))
        .map { case (a, b) => a * b }.sum
      assert(math.abs(adc) <= 1.5 && math.abs(exact) <= 1.0 + 1e-9)
    }
  }

  test("pqContract: every invariant TRUE on the planted corpus") {
    val planted = {
      val emb = Tables.embeddings(spark, sf)
      val p = emb.filter(col("vec_id").isin(1L, 101L))
        .select((col("vec_id") + 1000000L).as("vec_id"), col("label"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
            .as("embedding"))
      emb.unionByName(p)
    }
    val rows = Similarity.pqContract(planted, Seq(1L, 101L), k = 10).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      Seq("k_bounded", "codes_in_range", "planted_codes_match",
        "planted_found", "planted_score_is_self", "ranked_desc")
        .foreach(cn => assert(r.getAs[Boolean](cn), cn))
    }
  }

  test("ivfPqContract: every invariant TRUE, including cell routing") {
    val planted = {
      val emb = Tables.embeddings(spark, sf)
      val p = emb.filter(col("vec_id").isin(1L, 101L))
        .select((col("vec_id") + 1000000L).as("vec_id"), col("label"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
            .as("embedding"))
      emb.unionByName(p)
    }
    val rows = Similarity.ivfPqContract(planted, Seq(1L, 101L), k = 10)
      .collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      Seq("k_bounded", "codes_in_range", "cells_probed_only",
        "planted_cell_match", "planted_codes_match", "planted_in_probed",
        "planted_found", "planted_score_is_self", "ranked_desc")
        .foreach(cn => assert(r.getAs[Boolean](cn), cn))
    }
  }

  test("distributed Lloyd's: unit centroids, deterministic, serves the routed kernels") {
    // k ≥ RouteThreshold — the regime AnnIndex.build routes to the
    // distributed trainer (below it the exact driver path is kept
    // bit-identical and is covered by every other IVF test)
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    val k = graft.functions.Centroids.RouteThreshold // 128 cells
    val cents = Similarity.kmeansDistributed(emb, n, k, iters = 3)
    assert(cents.length == k)
    cents.foreach { c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9,
        "centroids must be unit-normalized")
    }
    // deterministic end-to-end: content-keyed sampling + integer sums
    val again = Similarity.kmeansDistributed(emb, n, k, iters = 3)
    assert(cents.zip(again).forall { case (a, b) => a.sameElements(b) },
      "re-training the same corpus must be bit-identical")
    // the trained centroids serve through the SAME routed kernels:
    // every corpus vector assigns to a legal cell and its probe
    // list's first element IS its assignment (the routing-consistency
    // contract at a routing-ACTIVE cell count)
    val assigned = emb
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
      .filter(col("nrm") > 0.0)
      .select(
        graft.functions.Centroids
          .nearest_cell(cents, col("v"), col("nrm")).as("cell"),
        graft.functions.Centroids
          .top_cells(cents, col("v"), col("nrm"), 4).as("probed"))
      .collect()
    assert(assigned.nonEmpty)
    assigned.foreach { r =>
      val cell = r.getInt(0)
      assert(cell >= 0 && cell < k)
      assert(r.getSeq[Int](1).head == cell,
        "probe list must lead with the assignment cell")
    }
  }

  test("ivfpq rerank serving: exhaustive shortlist equals IVF-flat row-for-row; bounded + ranked at the default depth") {
    // the compressed serving arm (AnnIndex.search at routing-active
    // cell counts): ADC over codes prunes, exact rerank scores — with
    // the shortlist wider than any cell the result must be IDENTICAL
    // to the flat scan (same probed cells via the bit-exact host
    // kernel, same exact scores, same tie-breaks)
    val emb = Tables.embeddings(spark, sf)
    val (cents, cbs) = Similarity.ivfPqTrain(emb, nlist = 16)
    val assigned = operators.AnnIndex.assignCells(emb, cents)
    val codes = Similarity.ivfPqEncode(emb, cents, cbs)
    val qids = Seq(1L, 101L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id", "cos_sim", "rank").collect()
        .map(_.toSeq).sortBy(_.toString)
    val flat = rows(Similarity.knnIvfBatchAssigned(
      emb, assigned, cents, qids, k = 10))
    val pqAll = rows(Similarity.knnIvfPqRerankBatch(
      emb, assigned, codes, cents, cbs, qids, k = 10, rerank = 100000))
    assert(pqAll.toSeq == flat.toSeq)
    assert(flat.nonEmpty)
    // default depth: bounded k, deterministic across runs, scores
    // exact (they come from the same raw-vector rerank scoring)
    val d1 = rows(Similarity.knnIvfPqRerankBatch(
      emb, assigned, codes, cents, cbs, qids, k = 10))
    val d2 = rows(Similarity.knnIvfPqRerankBatch(
      emb, assigned, codes, cents, cbs, qids, k = 10))
    assert(d1.toSeq == d2.toSeq)
    qids.foreach { q =>
      assert(d1.count(_.head == q) <= 10 && d1.exists(_.head == q))
    }
  }

  test("long_vec_sum: bit-identical to the exploded per-element sums; loud on ragged input") {
    // the round-14 Lloyd's reduction ships ONE array-row per cell via
    // long_vec_sum; this pins its equivalence to the round-13
    // posexplode + groupBy(cell, j) formulation it replaced — same
    // fixed-point longs, same totals, any grouping
    val emb = Tables.embeddings(spark, sf)
    val q = emb.select((col("vec_id") % 7).cast("int").as("cell"),
      transform(col("embedding").cast("array<double>"),
        x => floor(x * lit(1e9) + 0.5)).as("q"))
    val viaAgg = q.groupBy(col("cell"))
      .agg(graft.functions.aggregates.long_vec_sum(col("q")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toVector).toMap
    val viaExplode = q
      .select(col("cell"), posexplode(col("q")).as(Seq("j", "x")))
      .groupBy(col("cell"), col("j")).agg(sum(col("x")).as("s"))
      .collect().groupBy(_.getInt(0))
      .map { case (c, rs) =>
        c -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toVector }
    assert(viaAgg == viaExplode)
    assert(viaAgg.nonEmpty)
    // mixed lengths must refuse loudly — silent truncation would
    // corrupt centroids
    val ragged = spark.range(2).select(lit(0).as("cell"),
      when(col("id") === 0, array(lit(1L), lit(2L)))
        .otherwise(array(lit(1L))).as("q"))
    intercept[Exception] {
      ragged.groupBy(col("cell"))
        .agg(graft.functions.aggregates.long_vec_sum(col("q"))).collect()
    }
    // non-long arrays refuse at ANALYSIS time — toLongArray over an
    // array<double> would reinterpret IEEE-754 bits as longs silently
    intercept[org.apache.spark.sql.AnalysisException] {
      emb.select(col("embedding").cast("array<double>").as("q"))
        .agg(graft.functions.aggregates.long_vec_sum(col("q"))).collect()
    }
    // null ELEMENTS refuse loudly too — toLongArray over a null-bearing
    // UnsafeArrayData silently reads 0 (round-14 advisor): an external
    // caller with nullable elements would get corrupt sums, not an error
    val withNullElem = spark.range(2).select(lit(0).as("cell"),
      array(lit(1L),
        when(col("id") === 0, lit(2L)).otherwise(lit(null))
          .cast("long")).as("q"))
    assert(withNullElem.schema("q").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    intercept[Exception] {
      withNullElem.groupBy(col("cell"))
        .agg(graft.functions.aggregates.long_vec_sum(col("q"))).collect()
    }
  }

  test("semDedup agrees with brute-force same-cluster pairs; representatives kept") {
    val emb = Tables.embeddings(spark, sf)
    val tau = 0.35
    val res = Similarity.semDedup(emb, tau).collect()
    // ground truth from the independently-tested brute pair path,
    // restricted to same-label pairs
    val labels = emb.select(col("vec_id"), col("label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dupOf = Similarity.cosinePairsBrute(emb, tau).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .filter { case (a, b) => labels(a) == labels(b) }
      .groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
    res.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      assert(r.getAs[Long]("cluster") == labels(id))
      dupOf.get(id) match {
        case Some(rep) =>
          assert(!r.getAs[Boolean]("kept") && r.getAs[Long]("dup_of") == rep)
        case None =>
          assert(r.getAs[Boolean]("kept") && r.getAs[Long]("dup_of") == -1L)
      }
    }
    assert(res.exists(!_.getAs[Boolean]("kept")), "fixture should contain near-dups")
  }
}
