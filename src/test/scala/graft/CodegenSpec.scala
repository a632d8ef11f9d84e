package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions._

/** Round-1 regression: the generated Java for the custom expressions
  * referenced Scala objects nested inside `object expressions`, which have
  * no Java-visible static path — Janino failed to compile and every
  * containing stage silently ran interpreted. These tests disable the
  * silent fallback so a codegen compile failure is a test failure, and
  * lock WholeStageCodegen presence in the executed plans.
  */
class CodegenSpec extends SparkSpec {

  private def noFallback[A](body: => A): A = {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None    => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  import spark.implicits._
  private lazy val docs = Seq(
    ("a", "the quick brown fox jumps over the lazy dog and runs away"),
    ("b", "pack my box with five dozen liquor jugs right now"),
    ("c", "sphinx of black quartz judge my vow")
  ).toDF("id", "text")

  test("SparkSessionExtensions injection registers the SQL functions") {
    // drive the exact registration step Builder.getOrCreate runs for
    // `spark.sql.extensions=graft.GraftExtensions` (the config itself
    // is static — it needs a fresh SparkContext, impossible mid-JVM,
    // so the injection is applied through the same private[sql] hook
    // the builder calls). An ISOLATED session clone gets the
    // registrations; the suite session must NOT see them.
    val s2 = spark.newSession()
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions()(ext)
    org.apache.spark.sql.GraftExtensionProbe.registerInto(
      ext, s2.sessionState.functionRegistry)
    val r = s2.sql(
      "SELECT porter_stem('running') AS a, ascii_fold('Éva') AS b")
      .collect().head
    assert(r.getString(0) == "run")
    assert(r.getString(1) == "Eva")
  }

  test("bpe_tokens compiles under codegen (no silent fallback)") {
    noFallback {
      val out = docs
        .select(col("id"), bpe_tokens(
          regexp_extract_all(col("text"),
            lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"), lit(0)),
          graft.operators.TextStats.demoMerges).as("t"))
        .select(col("id"), size(col("t")).as("n"))
        .collect()
      assert(out.length == 3 && out.forall(_.getInt(1) > 0))
    }
  }

  test("shingle_hashes compiles under codegen (no silent fallback)") {
    noFallback {
      val out = docs
        .select(col("id"), shingle_hashes(split(col("text"), " ")).as("sh"))
        .select(col("id"), size(col("sh")).as("n"))
        .collect()
      assert(out.length == 3 && out.forall(_.getInt(1) > 0))
    }
  }

  test("rolling_min_hash compiles under codegen") {
    noFallback {
      val out = docs
        .select(rolling_min_hash(col("text"), 16).as("fp"))
        .collect()
      assert(out.forall(!_.isNullAt(0)))
    }
  }

  test("porter_stem / ascii_fold compile under codegen") {
    noFallback {
      val out = Seq("connections", "čučoriedka")
        .toDF("w")
        .select(porter_stem(col("w")).as("s"), ascii_fold(col("w")).as("f"))
        .collect()
      assert(out.map(_.getString(0)).contains("connect"))
      assert(out.map(_.getString(1)).contains("cucoriedka"))
    }
  }

  test("fused analyzer chains compile under codegen") {
    noFallback {
      val out = docs.select(
        size(english_chain(split(col("text"), " "))).as("a"),
        size(fold_ngrams(split(col("text"), " "), 1, 10)).as("b"),
        size(fold_shingles(split(col("text"), " "))).as("c"))
        .collect()
      assert(out.forall(r => r.getInt(0) > 0 && r.getInt(1) > 0 && r.getInt(2) > 0))
    }
  }

  test("dot_product compiles under codegen") {
    noFallback {
      val r = Seq((Array(1.0, 2.0), Array(3.0, 4.0)))
        .toDF("a", "b")
        .select(dot_product(col("a"), col("b")).as("d"))
        .head()
      assert(r.getDouble(0) == 11.0)
    }
  }

  test("nearest_cell/top_cells compile under codegen and match the struct-sort reference order") {
    noFallback {
      // random centroids incl. a DUPLICATE pair (empty k-means cells
      // keep their seed) — the index-ascending tie-break must hold
      val rnd = new scala.util.Random(7)
      val dim = 8
      val base = Array.fill(6)(Array.fill(dim)(rnd.nextDouble() - 0.5))
      val cents = base :+ base(2).clone() // cents(6) duplicates cents(2)
      val vecs = Array.fill(40)(Array.fill(dim)(rnd.nextDouble() - 0.5)) ++
        Array(base(2).map(_ * 2.0)) // exact hit on the duplicated pair
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
        .toSeq.toDF("id", "v")
        .select(col("id"), col("v"),
          sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)).as("nrm"))
      val got = df.select(col("id"),
          graft.functions.Centroids.nearest_cell(cents, col("v"), col("nrm"))
            .as("cell"),
          graft.functions.Centroids.top_cells(cents, col("v"), col("nrm"), 3)
            .as("probed"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2))))
        .toMap
      // reference: the (sim desc, idx asc) sort the kernels replace
      vecs.zipWithIndex.foreach { case (v, i) =>
        val nrm = math.sqrt(v.map(x => x * x).sum)
        val ranked = cents.zipWithIndex.map { case (c, ci) =>
          (c.zip(v).map { case (a, b) => b * a }.sum / nrm, ci)
        }.sortBy { case (s, ci) => (-s, ci) }
        val (cell, probed) = got(i.toLong)
        assert(cell == ranked.head._2, s"vec $i cell")
        assert(probed == ranked.take(3).map(_._2).toSeq, s"vec $i probes")
        // the duplicated centroid can never win a tie against its
        // lower-indexed twin
        assert(cell != 6, s"vec $i must tie-break to the earlier index")
      }
    }
  }

  test("routed centroid kernels: full beam equals flat; assignment/probe consistent; codegen compiles at 200 cells") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.{CentroidImpl, CentroidImplRouting, Centroids}
    val rnd = new scala.util.Random(11)
    val dim = 16
    val nlist = 200 // >= RouteThreshold, so the Column API routes
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val cents = Array.fill(nlist)(unit())
    val vecs = Array.fill(60)(Array.fill(dim)(rnd.nextGaussian()))
    // 1) a beam covering every top group degenerates to the EXACT
    //    flat argmax — the comparator is order-free
    val fullBeam = CentroidImplRouting.routeFor(cents, beam = nlist)
    vecs.foreach { v =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      val a = new GenericArrayData(v)
      assert(Centroids.nearestRouted(a, nrm, cents, fullBeam) ==
        CentroidImpl.nearest(a, nrm, cents), "full beam must equal flat")
      assert(Centroids.topCellsRouted(a, nrm, cents, fullBeam, 4).toIntArray()
        .toSeq == CentroidImpl.topCells(a, nrm, cents, 4).toIntArray().toSeq)
    }
    // 2) at the production beam, assignment == probe[0] (the
    //    consistency the planted contracts rest on), and the host
    //    twin ranks identically
    val route = CentroidImplRouting.routeFor(cents, Centroids.RouteBeam)
    vecs.foreach { v =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      val a = new GenericArrayData(v)
      val cell = Centroids.nearestRouted(a, nrm, cents, route)
      val probed = Centroids.topCellsRouted(a, nrm, cents, route, 4)
        .toIntArray().toSeq
      assert(probed.head == cell, "probe list must open with the assignment")
      assert(Centroids.topCellsHost(cents, v, nrm, 4).toSeq == probed,
        "host twin must rank identically")
      // identical DIRECTIONS route identically (the planted x2 copy)
      val v2 = v.map(_ * 2.0)
      assert(Centroids.nearestRouted(new GenericArrayData(v2), nrm * 2.0,
        cents, route) == cell, "scaling by 2 must not move the cell")
    }
    // 3) the routed Column path compiles under codegen at 200 cells
    //    and matches the kernel
    noFallback {
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
        .toSeq.toDF("id", "v")
        .select(col("id"), col("v"),
          sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x))
            .as("nrm"))
      val got = df.select(col("id"),
          graft.functions.Centroids.nearest_cell(cents, col("v"), col("nrm"))
            .as("cell"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      vecs.zipWithIndex.foreach { case (v, i) =>
        val nrm = math.sqrt(v.map(x => x * x).sum)
        assert(got(i.toLong) ==
          Centroids.nearestRouted(new GenericArrayData(v), nrm, cents, route))
      }
    }
  }

  test("pq_codes/ivfpq_codes compile under codegen and match the struct-sort reference order") {
    noFallback {
      val rnd = new scala.util.Random(11)
      val m = 4
      val ds = 4
      val ksub = 5
      val dim = m * ds
      // a duplicate codebook entry forces the index-ascending tie-break
      val cbs = Array.tabulate(m) { j =>
        val base = Array.fill(ksub - 1)(Array.fill(ds)(rnd.nextDouble() - 0.5))
        base :+ base(1).clone()
      }
      val nCells = 3
      val cents = Array.fill(nCells)(Array.fill(dim)(rnd.nextDouble() - 0.5))
        .map { v => val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
      val centDotCb = Array.tabulate(m, ksub) { (j, c) =>
        cents.map(_.slice(j * ds, (j + 1) * ds)
          .zip(cbs(j)(c)).map { case (a, b) => a * b }.sum)
      }
      val half = cbs.map(_.map(c => c.map(x => x * x).sum / 2))
      val vecs = Array.fill(30)(Array.fill(dim)(rnd.nextDouble() - 0.5))
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
        .toSeq.toDF("id", "v")
        .select(col("id"), col("v"),
          sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)).as("nrm"),
          (col("id") % nCells).cast("int").as("cell"))
      val got = df.select(col("id"),
          graft.functions.Centroids.pq_codes(cbs, half, col("v"), col("nrm"))
            .as("pq"),
          graft.functions.Centroids.ivfpq_codes(cbs, centDotCb, half,
            col("v"), col("nrm"), col("cell")).as("res"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getSeq[Int](2))))
        .toMap
      // reference: the (score desc, code idx asc) argmax the kernels
      // replace, computed with the same driver-side constant tables
      vecs.zipWithIndex.foreach { case (v, i) =>
        val nrm = math.sqrt(v.map(x => x * x).sum)
        val cell = (i % nCells)
        val (pq, res) = got(i.toLong)
        (0 until m).foreach { j =>
          val sub = v.slice(j * ds, (j + 1) * ds)
          def dotAsc(c: Array[Double]) =
            sub.zip(c).map { case (a, b) => a * b }.sum
          val pqRank = (0 until ksub)
            .map(c => (dotAsc(cbs(j)(c)) / nrm - half(j)(c), c))
            .sortBy { case (s, c) => (-s, c) }
          assert(pq(j) == pqRank.head._2, s"vec $i pq sub $j")
          val resRank = (0 until ksub)
            .map(c => (dotAsc(cbs(j)(c)) / nrm - centDotCb(j)(c)(cell)
              - half(j)(c), c))
            .sortBy { case (s, c) => (-s, c) }
          assert(res(j) == resRank.head._2, s"vec $i res sub $j")
        }
      }
      // the duplicated entry (ksub-1 clones index 1) ties its twin
      // EXACTLY on every vector, so the rank comparison above already
      // proves the index-ascending tie-break on both kernels
      assert(!got.values.exists { case (pq, res) =>
        pq.contains(ksub - 1) || res.contains(ksub - 1) })
    }
  }

  test("jaccard dedup plan runs whole-stage codegen end to end") {
    noFallback {
      val df = SparkEntry.queries("d4_jaccard_pairs")(spark, sf)
      df.collect() // materialize so AQE finalizes this instance's plan
      // WholeStageCodegenExec renders as "*(n) " stage prefixes
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("*("), p)
    }
  }
}
