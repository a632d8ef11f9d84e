package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Loop-based nearest-centroid kernels for IVF assignment/probing,
  * and the driver-side cosine Lloyd's trainer that assigns through the
  * same kernel ([[CentroidImpl.cosineLloyds]]).
  *
  * Why not the expression-tree form (one `struct(dot(v, lit(c)), -i)`
  * per centroid inside a `sort_array`)? That unrolls O(nlist·dim)
  * CODE into the generated projection. At the legacy fixed nlist=16 it
  * was harmless; with √n-scaled cell counts (`AnnIndex.nlistFor` —
  * 1 400+ cells at the ×1000 probe) the generated method blows past
  * the JIT's method-size limits and runs INTERPRETED — the ×1000 scale
  * probe caught a single assignment task burning 27 CPU-minutes.
  * These kernels keep the centroid MATRIX as a references-array
  * object (the BpeTokens/CandidateQueries discipline) and run a tight
  * data-driven loop that stays inside whole-stage codegen and JITs at
  * any nlist — per-row cost is nlist·dim multiply-adds, code size
  * constant.
  *
  * ORDER CONTRACT (identical to the sort_array form they replace):
  * similarity dot(v, c)/nrm descending, centroid INDEX ascending on
  * ties — implemented by strict `>` while scanning indices in
  * ascending order, with the same j-ascending accumulation order, so
  * the sims are bit-identical and assignments match artifacts built
  * by either path. */
object CentroidImpl {

  def nearest(v: ArrayData, nrm: Double, cents: Array[Array[Double]]): Int =
    // one primitive copy up front: the row's vector arrives as
    // ArrayData (often a boxed GenericArrayData after the
    // float->double cast), and nlist*dim getDouble calls per row --
    // unbox + virtual dispatch each -- dominated the x1000 encode
    // pass (70 s of a 133 s phase); dim copies then a primitive loop
    // is ~nlist/1 cheaper on accessor count
    nearest(v.toDoubleArray(), nrm, cents)

  /** The nearest-centroid argmax over a primitive vector. Training
    * calls it with `nrm = 1.0` on unit vectors: `x / 1.0 == x`, so a
    * training assignment ranks exactly like the raw dot product. */
  def nearest(vd: Array[Double], nrm: Double, cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val cc = cents(c)
      var d = 0.0
      var j = 0
      while (j < cc.length) { d += vd(j) * cc(j); j += 1 }
      val s = d / nrm
      if (s > bestSim) { bestSim = s; best = c }
      c += 1
    }
    best
  }

  /** Cosine Lloyd's over unit-normalized points — the one driver-side
    * trainer of coarse centroids ([[graft.operators.Similarity
    * .kmeansCentroids]], the IVFPQ trainer, [[graft.operators.AnnIndex
    * .build]] below [[Centroids.RouteThreshold]] cells) and of the
    * routing tops ([[CentroidImplRouting.routeFor]]). First-k init;
    * each iteration assigns every point through [[nearest]] (sim desc,
    * index asc), sums the members in point order and takes the
    * [[unitMean]]. Deterministic for a deterministic input; the
    * centroids are unit-length, so nearest-by-dot is nearest-by-cosine.
    * Cost is points·k·dim per iteration on one driver thread, which is
    * why cell counts at or above the routing threshold train through
    * [[graft.operators.Similarity.kmeansDistributed]] instead. */
  def cosineLloyds(points: Array[Array[Double]], k: Int,
                   iters: Int): Array[Array[Double]] = {
    // the same descriptive refusal kmeansDistributed raises for the
    // identical condition — without it a small/empty corpus died in
    // the assignment loop with a bare ArrayIndexOutOfBounds
    require(points.length >= k,
      s"k-means sample holds only ${points.length} rows for k=$k " +
        "cells — corpus too small for this cell count")
    val dim = points.head.length
    var cents = points.take(k).map(_.clone())
    var it = 0
    while (it < iters) {
      val cur = cents
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      points.foreach { v =>
        val best = nearest(v, 1.0, cur)
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(c => unitMean(sums(c), counts(c), cur(c)))
      it += 1
    }
    cents
  }

  /** The cosine Lloyd's update of one cell: its members' sum
    * renormalized to unit length. An empty cell, or one whose sum is
    * the zero vector, keeps its centroid `prev`. */
  def unitMean(sum: Array[Double], count: Long,
               prev: Array[Double]): Array[Double] =
    if (count == 0L) prev
    else {
      val n = math.sqrt(sum.map(x => x * x).sum)
      if (n == 0.0) prev else sum.map(_ / n)
    }

  /** The `n` best cell indices in (sim desc, index asc) order — the
    * query-side probe list. Insertion against a size-n buffer: a tie
    * at the boundary keeps the earlier index (strict `>`), and the
    * sift stops at equal sims (earlier index stays ahead). */
  def topCells(v: ArrayData, nrm: Double, cents: Array[Array[Double]],
               n: Int): ArrayData = {
    val vd = v.toDoubleArray() // one primitive copy (nearest scaladoc)
    val k = math.min(n, cents.length)
    val idx = new Array[Int](k)
    val sim = new Array[Double](k)
    var filled = 0
    var c = 0
    while (c < cents.length) {
      val cc = cents(c)
      var d = 0.0
      var j = 0
      while (j < cc.length) { d += vd(j) * cc(j); j += 1 }
      val s = d / nrm
      if (filled < k) {
        var pos = filled
        while (pos > 0 && sim(pos - 1) < s) {
          sim(pos) = sim(pos - 1); idx(pos) = idx(pos - 1); pos -= 1
        }
        sim(pos) = s; idx(pos) = c
        filled += 1
      } else if (s > sim(k - 1)) {
        var pos = k - 1
        while (pos > 0 && sim(pos - 1) < s) {
          sim(pos) = sim(pos - 1); idx(pos) = idx(pos - 1); pos -= 1
        }
        sim(pos) = s; idx(pos) = c
      }
      c += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(idx, filled))
  }
}

/** Two-level ROUTING over a flat centroid set — the hierarchical
  * coarse-quantizer step that removes the n^1.5 assignment term the
  * r11 ×1000 probe measured (every vector against √n cells): cluster
  * the `nlist` CENTROIDS themselves into ~√nlist top-level groups
  * (driver-side, nlist points — milliseconds), then assign a vector by
  * ranking the tops and scanning only the best `beam` groups' member
  * cells — nTop + beam·(nlist/nTop) ≈ 2·beam·√nlist dots per vector
  * instead of nlist. Routing is DERIVED deterministically from the
  * centroid array (first-nTop init, fixed iterations), so assignment,
  * contract recomputation, and probing all route identically and no
  * artifact layout changes.
  *
  * Semantics contract: routed assignment is the greedy two-level
  * argmax — the standard IVF-with-coarse-router approximation (FAISS's
  * IMI / HNSW-quantizer shape). A `beam` covering every top group
  * degenerates to the EXACT flat argmax (the kernels compare full
  * (sim desc, idx asc) regardless of scan order) — spec-locked — and
  * the kernels only route at all above [[Centroids.RouteThreshold]]
  * cells, so small-nlist corpora (every oracle-gated scale) keep the
  * flat semantics bit-for-bit. */
final case class CentroidRouting(topCents: Array[Array[Double]],
                                 members: Array[Array[Int]],
                                 beam: Int) extends Serializable

object CentroidImplRouting {

  /** Deterministic routing tables for a centroid set: cosine Lloyd's
    * ([[CentroidImpl.cosineLloyds]]) over the (already unit-normalized)
    * centroids with k = nTop ≈ √nlist and 10 iterations, then one
    * membership pass that joins every cell to its nearest RETURNED top
    * (sim desc, idx asc — the shared tie-break), so "a centroid's
    * group is its nearest top" holds for the shipped tables. */
  def routeFor(cents: Array[Array[Double]], beam: Int): CentroidRouting = {
    val nTop = math.max(1, math.round(math.sqrt(cents.length.toDouble)).toInt)
    val tops = CentroidImpl.cosineLloyds(cents, nTop, 10)
    val members = Array.fill(nTop)(Array.newBuilder[Int])
    cents.indices.foreach(c =>
      members(CentroidImpl.nearest(cents(c), 1.0, tops)) += c)
    CentroidRouting(tops, members.map(_.result()), beam)
  }
}

/** Loop-based PQ/IVFPQ ENCODE kernels — the same JIT/codegen-size
  * rationale as [[CentroidImpl]], applied to the per-subspace code
  * assignment: the expression-tree form (one `struct(dot − consts)`
  * literal per codebook entry inside a `sort_array`, ×m subspaces)
  * unrolls m·ksub struct-sorts into ONE generated projection — the
  * full encode class broke Janino's limits and ran INTERPRETED even
  * at sf0.1 (observed `InternalCompilerException` → fallback in the
  * ×1000 probe logs), making the encode pass the dominant
  * ann_index_build term. These kernels keep the codebooks as
  * references-array objects and loop.
  *
  * ORDER CONTRACT (identical to the expression form they replace):
  * per subspace j, score s = dot(v[j·ds .. j·ds+ds), cb)/nrm − consts
  * with i-ascending accumulation, ranked (s desc, code index asc) via
  * strict `>` over an ascending scan — bit-identical scores and codes,
  * so artifacts encoded by either path interoperate. */
object PqImpl {

  /** PQ codes: per subspace, argmax of dot(sub, cb_c)/nrm − ‖cb_c‖²/2
    * (≡ argmin ‖sub/nrm − cb_c‖²). `half(j)(c)` is the driver-side
    * precomputed ‖cb_j[c]‖²/2. */
  def codes(v: ArrayData, nrm: Double, cbs: Array[Array[Array[Double]]],
            half: Array[Array[Double]]): ArrayData = {
    val vd = v.toDoubleArray() // one primitive copy (CentroidImpl.nearest)
    val m = cbs.length
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val cb = cbs(j)
      val ds = cb(0).length
      val off = j * ds
      var best = 0
      var bestS = Double.NegativeInfinity
      var c = 0
      while (c < cb.length) {
        val cc = cb(c)
        var d = 0.0
        var i = 0
        while (i < ds) { d += vd(off + i) * cc(i); i += 1 }
        val s = d / nrm - half(j)(c)
        if (s > bestS) { bestS = s; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  /** IVFPQ residual codes: the residual never materializes —
    * argmin‖(v̂−cent(cell))_j − cb‖² expands to dot(sub, cb)/nrm −
    * centDotCb(j)(c)(cell) − ‖cb‖²/2 with both constant tables
    * driver-precomputed (the [[graft.operators.Similarity
    * .ivfPqEncode]] expansion, same FP operation order). */
  def ivfpqCodes(v: ArrayData, nrm: Double, cell: Int,
                 cbs: Array[Array[Array[Double]]],
                 centDotCb: Array[Array[Array[Double]]],
                 half: Array[Array[Double]]): ArrayData = {
    val vd = v.toDoubleArray() // one primitive copy (CentroidImpl.nearest)
    val m = cbs.length
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val cb = cbs(j)
      val ds = cb(0).length
      val off = j * ds
      var best = 0
      var bestS = Double.NegativeInfinity
      var c = 0
      while (c < cb.length) {
        val cc = cb(c)
        var d = 0.0
        var i = 0
        while (i < ds) { d += vd(off + i) * cc(i); i += 1 }
        val s = d / nrm - centDotCb(j)(c)(cell) - half(j)(c)
        if (s > bestS) { bestS = s; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }
}

object Centroids {

  /** Below this cell count the kernels scan every centroid (the exact
    * flat argmax); at or above, assignment/probing route through the
    * two-level tables. Every oracle-gated corpus sits far below. */
  val RouteThreshold = 128

  /** Shared scan core: evaluate the candidate cells in `cells` (null =
    * all), keep the top `keep` under (sim desc, idx asc). Returns the
    * parallel (idx, sim, filled) buffers via the passed arrays. */
  private[functions] def scanCells(v: Array[Double], nrm: Double,
                                   cents: Array[Array[Double]],
                                   cells: Array[Int],
                                   idx: Array[Int], sim: Array[Double]): Int = {
    val keep = idx.length
    var filled = 0
    val n = if (cells == null) cents.length else cells.length
    var i = 0
    while (i < n) {
      val c = if (cells == null) i else cells(i)
      val cc = cents(c)
      var d = 0.0
      var j = 0
      while (j < cc.length) { d += v(j) * cc(j); j += 1 }
      val s = d / nrm
      if (filled < keep) {
        var pos = filled
        while (pos > 0 && (sim(pos - 1) < s ||
          (sim(pos - 1) == s && idx(pos - 1) > c))) {
          sim(pos) = sim(pos - 1); idx(pos) = idx(pos - 1); pos -= 1
        }
        sim(pos) = s; idx(pos) = c
        filled += 1
      } else if (s > sim(keep - 1) ||
        (s == sim(keep - 1) && c < idx(keep - 1))) {
        var pos = keep - 1
        while (pos > 0 && (sim(pos - 1) < s ||
          (sim(pos - 1) == s && idx(pos - 1) > c))) {
          sim(pos) = sim(pos - 1); idx(pos) = idx(pos - 1); pos -= 1
        }
        sim(pos) = s; idx(pos) = c
      }
      i += 1
    }
    filled
  }

  /** The best `beam` top groups' member cells, concatenated. */
  private[functions] def routedCandidates(v: Array[Double], nrm: Double,
                                          route: CentroidRouting): Array[Int] = {
    val beam = math.min(route.beam, route.topCents.length)
    val tIdx = new Array[Int](beam)
    val tSim = new Array[Double](beam)
    val tFilled = scanCells(v, nrm, route.topCents, null, tIdx, tSim)
    val out = Array.newBuilder[Int]
    var i = 0
    while (i < tFilled) { out ++= route.members(tIdx(i)); i += 1 }
    out.result()
  }

  /** CONSISTENCY: assignment and probing must route identically per
    * vector — the probe list's first element IS the vector's
    * assignment cell (same candidates, same comparator), which is what
    * keeps the planted-co-location and candidates⊆probed contracts
    * true under routing. The only fallback (an all-empty beam of top
    * groups, possible when k-means leaves seed tops memberless) keys
    * on the SAME per-vector condition in both kernels, so they fall
    * back together. */
  def nearestRouted(v: ArrayData, nrm: Double, cents: Array[Array[Double]],
                    route: CentroidRouting): Int = {
    val vd = v.toDoubleArray() // one primitive copy (CentroidImpl.nearest)
    val cand = routedCandidates(vd, nrm, route)
    if (cand.length == 0) return CentroidImpl.nearest(v, nrm, cents)
    val idx = new Array[Int](1)
    val sim = new Array[Double](1)
    scanCells(vd, nrm, cents, cand, idx, sim)
    idx(0)
  }

  def topCellsRouted(v: ArrayData, nrm: Double, cents: Array[Array[Double]],
                     route: CentroidRouting, n: Int): ArrayData = {
    val vd = v.toDoubleArray() // one primitive copy (CentroidImpl.nearest)
    val cand = routedCandidates(vd, nrm, route)
    if (cand.length == 0) return CentroidImpl.topCells(v, nrm, cents, n)
    val k = math.min(n, cand.length)
    val idx = new Array[Int](k)
    val sim = new Array[Double](k)
    val filled = scanCells(vd, nrm, cents, cand, idx, sim)
    new GenericArrayData(java.util.Arrays.copyOf(idx, filled))
  }

  /** Beam width for routed assignment/probing: the best 12 top
    * groups' members are scanned — ≈ 12·√nlist + √nlist dots per
    * vector, still asymptotically √nlist vs the flat scan's nlist.
    * Raised from 4 after the round-12 recall probe
    * ([[graft.RecallProbe]]): at the ×100 decade (447 cells, 21 top
    * groups) beam 4 covered only ~19% of the groups and measured
    * routed recall at 0.94 of flat — below the ≥0.95 acceptance bar —
    * and beam 8 still measured 0.93. (Those round-12 absolute recall
    * levels were inflated by seed-correlated queries — the
    * [[graft.RecallProbe]] scaladoc; the RELATIVE routed/flat ratio
    * the beam was tuned on is unaffected by the artifact.) Under the
    * round-13 held-out probe, beam 12 measures PLANTED routed/flat
    * 0.96–0.98 across the nprobe sweep at ×100
    * (`bench_recall_x100.json`). */
  val RouteBeam = 12

  /** The beam SCALES with the cell count past the point where 12
    * groups stop covering the group space: a FIXED beam under
    * √nlist-growing group counts shrinks the covered fraction exactly
    * the way the round-12 fixed nprobe shrank the probed fraction —
    * measured at ×1000 (1 414 cells, 38 groups, beam 12 → 32%
    * coverage) as planted routed/flat 0.92 at the serving default,
    * below the ≥ 0.95 routing bar the round-13 probe now ENFORCES.
    * max(12, ⌈0.5·√nlist⌉) holds ~half the groups from ~576 cells
    * up: assignment cost becomes ≈ √nlist + 0.5·nlist dots — the
    * asymptotic √n advantage is deliberately traded down to a
    * constant ~2× vs flat at the decades where the ratio bar binds
    * (the bar and the asymptote cannot both be kept with a one-level
    * router; FAISS's answer at larger nlist is a graph quantizer,
    * out of scope) — while every nlist ≤ 576 keeps beam 12
    * bit-identically (×100 and below unchanged). Any change here
    * requires an [[graft.operators.AnnIndex.rootFor]] version bump
    * (v6 marks this rule). */
  def routeBeamFor(nlist: Int): Int =
    math.max(RouteBeam, math.ceil(0.5 * math.sqrt(nlist.toDouble)).toInt)

  /** Routing-table memo keyed by centroid-array IDENTITY (Java array
    * equals/hashCode are reference-based, so a WeakHashMap gives
    * identity keying AND lets a dropped centroid set be collected).
    * routeFor is a driver-side 10-iteration k-means over all nlist
    * centroids; without the memo a query touching both nearest_cell
    * and top_cells (e.g. the IVF contract's assignment + probe
    * columns) recomputed identical tables twice PER PLAN CONSTRUCTION,
    * and repeated builds of the same query recomputed them each time. */
  private val routeMemo =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[Array[Array[Double]], CentroidRouting]())

  private def routeOpt(cents: Array[Array[Double]]): Option[CentroidRouting] =
    if (cents.length >= RouteThreshold)
      Some(routeMemo.computeIfAbsent(cents,
        c => CentroidImplRouting.routeFor(c, routeBeamFor(c.length))))
    else None

  case class NearestCell(left: Expression, right: Expression,
                         cents: Array[Array[Double]],
                         route: Option[CentroidRouting])
      extends BinaryExpression with Serializable {
    override def dataType: DataType = IntegerType
    override def nullSafeEval(v: Any, n: Any): Any = route match {
      case Some(r) => nearestRouted(v.asInstanceOf[ArrayData],
        n.asInstanceOf[Double], cents, r)
      case None => CentroidImpl.nearest(v.asInstanceOf[ArrayData],
        n.asInstanceOf[Double], cents)
    }
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val m = ctx.addReferenceObj("cents", cents, "double[][]")
      route match {
        case Some(rt) =>
          val r = ctx.addReferenceObj("route", rt,
            "graft.functions.CentroidRouting")
          defineCodeGen(ctx, ev, (a, b) =>
            s"graft.functions.Centroids.nearestRouted($a, $b, $m, $r)")
        case None =>
          defineCodeGen(ctx, ev, (a, b) =>
            s"graft.functions.CentroidImpl.nearest($a, $b, $m)")
      }
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): NearestCell = copy(left = l, right = r)
    override def prettyName: String = "nearest_cell"
  }

  case class TopCells(left: Expression, right: Expression,
                      cents: Array[Array[Double]], n: Int,
                      route: Option[CentroidRouting])
      extends BinaryExpression with Serializable {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(v: Any, nr: Any): Any = route match {
      case Some(r) => topCellsRouted(v.asInstanceOf[ArrayData],
        nr.asInstanceOf[Double], cents, r, n)
      case None => CentroidImpl.topCells(v.asInstanceOf[ArrayData],
        nr.asInstanceOf[Double], cents, n)
    }
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val m = ctx.addReferenceObj("cents", cents, "double[][]")
      route match {
        case Some(rt) =>
          val r = ctx.addReferenceObj("route", rt,
            "graft.functions.CentroidRouting")
          defineCodeGen(ctx, ev, (a, b) =>
            s"graft.functions.Centroids.topCellsRouted($a, $b, $m, $r, $n)")
        case None =>
          defineCodeGen(ctx, ev, (a, b) =>
            s"graft.functions.CentroidImpl.topCells($a, $b, $m, $n)")
      }
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): TopCells = copy(left = l, right = r)
    override def prettyName: String = "top_cells"
  }

  case class PqCodesExpr(left: Expression, right: Expression,
                         cbs: Array[Array[Array[Double]]],
                         half: Array[Array[Double]])
      extends BinaryExpression with Serializable {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(v: Any, n: Any): Any =
      PqImpl.codes(v.asInstanceOf[ArrayData], n.asInstanceOf[Double],
        cbs, half)
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val cb = ctx.addReferenceObj("cbs", cbs, "double[][][]")
      val hf = ctx.addReferenceObj("half", half, "double[][]")
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.PqImpl.codes($a, $b, $cb, $hf)")
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): PqCodesExpr = copy(left = l, right = r)
    override def prettyName: String = "pq_codes"
  }

  case class IvfPqCodesExpr(first: Expression, second: Expression,
                            third: Expression,
                            cbs: Array[Array[Array[Double]]],
                            centDotCb: Array[Array[Array[Double]]],
                            half: Array[Array[Double]])
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
      with Serializable {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(v: Any, n: Any, cell: Any): Any =
      PqImpl.ivfpqCodes(v.asInstanceOf[ArrayData], n.asInstanceOf[Double],
        cell.asInstanceOf[Int], cbs, centDotCb, half)
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val cb = ctx.addReferenceObj("cbs", cbs, "double[][][]")
      val cd = ctx.addReferenceObj("centDotCb", centDotCb, "double[][][]")
      val hf = ctx.addReferenceObj("half", half, "double[][]")
      defineCodeGen(ctx, ev, (a, b, c) =>
        s"graft.functions.PqImpl.ivfpqCodes($a, $b, $c, $cb, $cd, $hf)")
    }
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): IvfPqCodesExpr =
      copy(first = f, second = s, third = t)
    override def prettyName: String = "ivfpq_codes"
  }

  /** All m PQ codes of a vector as one array<int> — ONE loop-kernel
    * expression instead of m unrolled struct-sorts ([[PqImpl]]
    * scaladoc). `half` is precomputed ‖cb‖²/2 per (subspace, code). */
  def pq_codes(cbs: Array[Array[Array[Double]]],
               half: Array[Array[Double]],
               v: Column, nrm: Column): Column =
    GraftShim.toColumn(PqCodesExpr(GraftShim.toExpression(v),
      GraftShim.toExpression(nrm), cbs, half))

  /** All m IVFPQ residual codes of a (vector, cell) as one array<int>
    * ([[PqImpl.ivfpqCodes]]). */
  def ivfpq_codes(cbs: Array[Array[Array[Double]]],
                  centDotCb: Array[Array[Array[Double]]],
                  half: Array[Array[Double]],
                  v: Column, nrm: Column, cell: Column): Column =
    GraftShim.toColumn(IvfPqCodesExpr(GraftShim.toExpression(v),
      GraftShim.toExpression(nrm), GraftShim.toExpression(cell),
      cbs, centDotCb, half))

  /** Host-side twin of [[top_cells]] for driver code that must rank
    * cells BIT-EXACTLY like the executors — INCLUDING the routing
    * decision, so a driver-built probe list always contains the
    * executor-assigned cell of the probe's own vector. */
  def topCellsHost(cents: Array[Array[Double]], vRaw: Array[Double],
                   nrm: Double, n: Int): Array[Int] = {
    val v = new GenericArrayData(vRaw)
    val res = routeOpt(cents) match {
      case Some(r) => topCellsRouted(v, nrm, cents, r, n)
      case None => CentroidImpl.topCells(v, nrm, cents, n)
    }
    res.toIntArray()
  }

  /** `routed = false` forces the exact flat scan at ANY cell count —
    * the recall probe's control arm ([[graft.RecallProbe]]); serving
    * code always uses the default. */
  def nearest_cell(cents: Array[Array[Double]], v: Column,
                   nrm: Column, routed: Boolean = true): Column =
    GraftShim.toColumn(NearestCell(GraftShim.toExpression(v),
      GraftShim.toExpression(nrm), cents,
      if (routed) routeOpt(cents) else None))

  def top_cells(cents: Array[Array[Double]], v: Column, nrm: Column,
                n: Int, routed: Boolean = true): Column =
    GraftShim.toColumn(TopCells(GraftShim.toExpression(v),
      GraftShim.toExpression(nrm), cents, n,
      if (routed) routeOpt(cents) else None))
}
