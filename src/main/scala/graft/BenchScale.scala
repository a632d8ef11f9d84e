package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one-decade SCALE PROBE: every 100-TB claim in this repo is
  * otherwise argued from plan shape; this main measures one decade of
  * actual scaling for the flagship query families so a hidden
  * super-linear term shows up as a number, not a review comment.
  *
  * Method: replicate the sf0.1 tables `scale`× (default 10×) with key
  * offsets that preserve referential integrity — `nation`/`region`
  * stay fixed (the TPC-H scaling model: dimensions don't grow with
  * SF) — then run ~10 representative queries against both the base
  * and the scaled directory with the exact [[Bench]] harness (noop
  * sink, per-query isolation, artifacts pre-built untimed but timed
  * separately as build rows).
  *
  * Content DE-CORRELATION across replicas: a naive 10× copy makes
  * every document an exact duplicate of 9 others and every vector
  * cosine-1 to 9 others — the pair-finding families would then
  * measure a pathological all-duplicates corpus (output itself grows
  * ×100) instead of scaling. Replica k ≥ 1 therefore prefixes every
  * word with a replica tag (token streams disjoint across replicas —
  * shingle/fingerprint structure WITHIN a replica identical to the
  * base corpus) and sign-flips embedding elements by the Walsh
  * pattern (-1)^popcount(i & k) (norms preserved; cross-replica
  * cosine of the same vector is the Walsh sum ≈ 0, so no replica
  * pair lands above a similarity threshold). The scaled corpus
  * behaves like `scale` independent sf0.1 corpora — which is what a
  * 10× bigger real corpus looks like to these operators.
  *
  * Emits one JSON line (also written to `bench_scale.json`):
  * per-query {base, scaled, ratio} plus artifact build times and the
  * replication cost. Interpretation: ratio ≈ scale (±JVM noise) is
  * linear; d5 is the documented exact-quadratic contract and is
  * expected at ratio ≈ scale². */
object BenchScale {

  private def stride(df: DataFrame, idCol: String): Long = {
    val m = df.agg(max(col(idCol))).head().getLong(0)
    var s = 10L
    while (s <= m) s *= 10
    s
  }

  /** Word-prefix de-correlation for replica `k` (a COLUMN — identity
    * at k=0): every word gets an `r<k>x` prefix, so token streams are
    * disjoint across replicas. */
  private def tagText(c: org.apache.spark.sql.Column,
                      k: org.apache.spark.sql.Column) =
    when(k === 0, c).otherwise(regexp_replace(c, lit("(\\p{L}+)"),
      concat(lit("r"), k.cast("string"), lit("x$1"))))

  /** Per-replica ORTHOGONAL de-correlation for replica `k`: rotate
    * the coordinates by (k/64) mod dim, then Walsh sign-flip element
    * i by (-1)^popcount(i & (k mod 64)). Identity at k = 0 (rot 0,
    * all-zero sign mask). An orthogonal transform applied uniformly
    * to a whole replica preserves every WITHIN-replica dot product
    * exactly (norms, neighbor structure — the replica behaves like an
    * independent corpus with the base's geometry), while CROSS-replica
    * cosines of the same base vector are ≈ 0 for random-direction
    * data.
    *
    * Why not plain sign flips (the round-9..12 form): `i & k` only
    * sees the low log2(dim) bits of k, so replicas with k ≡ k'
    * (mod 64) were EXACT DUPLICATES — at ×1000 every vector had ~15
    * cosine-1.0 twins, violating the "no replica pair lands above a
    * similarity threshold" contract this comment block promises and
    * silently turning the ×1000 ANN/dedup probes into all-duplicates
    * corpora (the round-12 recall probe's "1.0 at ×1000" artifact,
    * now diagnosed). Rotation ⊗ signs gives dim·64 distinct
    * transforms (the mask is k mod 64 and only its low log₂(dim)
    * bits act — 4 096 at dim 64, covering the probed decades with a
    * loud `require` at the replication site refusing any scale past
    * the space instead of cycling back to the identity). */
  private def flipVec(c: org.apache.spark.sql.Column,
                      k: org.apache.spark.sql.Column,
                      dim: Int) = {
    val rot = pmod((k / 64).cast("int"), lit(dim))
    val rotated = when(rot === 0, c).otherwise(
      concat(slice(c, rot + 1, lit(dim) - rot), slice(c, lit(1), rot)))
    transform(rotated, (x, i) =>
      when(bit_count(i.bitwiseAND(pmod(k, lit(64)))) % 2 === 0, x)
        .otherwise(x * lit(-1.0f)))
  }

  /** CLUSTERED embeddings replica mode (SPARK_GRAFT_EMB_MODE=
    * clustered — round-13 verdict task 2): replica k ≥ 1 of a base
    * vector is a DETERMINISTIC per-element multiplicative Gaussian
    * jitter, v'ᵢ = vᵢ·(1 + σ·gᵢ), which tilts the direction inside a
    * cone around v with cos(v, v') ≈ 1/√(1+σ²) (= [[ClusterCos]] at
    * σ = tan(arccos ClusterCos)) and needs NO norm column — the
    * per-element form sidesteps the documented ProjectCollapse
    * recompute hazard a computed-norm column inside a transform
    * lambda would reintroduce. The scaled corpus becomes a mixture of
    * |base| tight clusters (within-cluster pair cos ≈ ClusterCos²
    * ≈ 0.81, cross-cluster at the base corpus's ≈0.5 noise floor), so
    * a held-out query's true top-k are its cluster siblings — servable
    * by ANY correct IVF index — and ORGANIC recall becomes a gateable
    * index property instead of a property of structureless data
    * (which is all the Walsh replicas can offer; their orthogonal
    * transforms deliberately preserve the base's structurelessness).
    * Standard normals come from Box–Muller over two xxhash64-derived
    * uniforms keyed on (base vec_id, replica, element, salt) —
    * content-keyed, stateless, bit-identical across runs and cluster
    * counts. k = 0 is the identity, so base ids keep exact vectors. */
  private val ClusterCos = 0.9
  private def jitterVec(vecId: org.apache.spark.sql.Column,
                        c: org.apache.spark.sql.Column,
                        k: org.apache.spark.sql.Column) = {
    def unif(i: org.apache.spark.sql.Column, salt: Int) =
      (pmod(xxhash64(vecId, k, i, lit(salt)), lit(1 << 24)).cast("double")
        + lit(1.0)) / lit((1 << 24).toDouble + 2.0)
    def gauss(i: org.apache.spark.sql.Column) =
      sqrt(lit(-2.0) * log(unif(i, 1))) *
        cos(lit(2.0 * math.Pi) * unif(i, 2))
    val sigma = math.tan(math.acos(ClusterCos))
    when(k === 0, c).otherwise(
      transform(c, (x, i) =>
        (x * (lit(1.0) + lit(sigma) * gauss(i))).cast("float")))
  }

  private def embMode: String = {
    val m = sys.env.getOrElse("SPARK_GRAFT_EMB_MODE", "walsh")
    // refuse typos loudly — an unrecognized mode would silently fall
    // through to Walsh replicas while the _READY stamp records the
    // typo'd name, and a later organic-gated recall run against the
    // structureless corpus would fail with nothing pointing here
    require(m == "walsh" || m == "clustered",
      s"SPARK_GRAFT_EMB_MODE='$m' — expected 'walsh' or 'clustered'")
    m
  }

  /** SPARK_GRAFT_TABLES (comma-separated) narrows which tables are
    * replicated — a focused probe of one family (e.g. the ANN decade:
    * embeddings only, ~0.6 GB at ×1000) must not pay the full-corpus
    * replication whose ~150 GB of write traffic is what degraded the
    * round-12 box for hours. The `_READY` marker records the subset,
    * so a later probe wanting MORE tables re-replicates instead of
    * serving an incomplete corpus. */
  private def tableWanted(name: String): Boolean =
    sys.env.get("SPARK_GRAFT_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .forall(s => s.contains(name))

  private def readyStamp(scale: Int): String = {
    val subset = sys.env.get("SPARK_GRAFT_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq.sorted
        .mkString(" tables=", ",", ""))
      .getOrElse("")
    val mode = if (embMode == "walsh") "" else s" emb=$embMode"
    s"$scale rev5$subset$mode"
  }

  /** Replica expansion as ONE scan per table: crossJoin against a
    * broadcast `range(scale)` replica index and compute the key
    * offsets / de-correlation from the `k` COLUMN. The previous
    * formulation unioned `scale` re-reads of the base table — a
    * `scale`-branch plan whose analysis cost and scan count both grow
    * with the replication factor, exactly the non-scalable shape this
    * probe exists to catch (at 1000× it is a 1000-branch union).
    * This one is constant-size: plan ∝ 1, scans ∝ 1, rows ∝ scale. */
  def replicate(spark: SparkSession, base: String, out: String,
                scale: Int): Unit = {
    // rev bumps when the replicated table SET changes (rev2 added
    // events) so a pre-existing scaled dir from an older layout
    // re-replicates instead of serving an incomplete corpus
    val ready = java.nio.file.Paths.get(out, "_READY")
    if (java.nio.file.Files.exists(ready) &&
      new String(java.nio.file.Files.readAllBytes(ready), "UTF-8")
        .trim == readyStamp(scale)) return
    operators.ArtifactGen.wipe(java.nio.file.Paths.get(out))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))

    def write(name: String, df: DataFrame): Unit =
      if (tableWanted(name))
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    val k = col("__k")
    def expand(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(spark.range(scale).toDF("__k")))
    // expanded tables inherit the BASE table's partition count (the
    // crossJoin is map-side), so a 1-file base writes the ×1000
    // replica as ONE file with ONE row group — an unsplittable scan
    // that silently serializes every downstream probe onto a single
    // task (the round-13 ann_index_build mystery: a 32-core box doing
    // a 1-thread encode). Spread the replica across the cores so the
    // scaled corpus parallelizes like real multi-file data; the rev in
    // the _READY stamp re-replicates stale single-file caches.
    def done(df: DataFrame): DataFrame = df.drop("__k")
      .repartition(math.max(spark.sparkContext.defaultParallelism, 8))

    // fixed dimensions — the TPC-H model
    write("nation", Tables.nation(spark, base))
    write("region", Tables.region(spark, base))

    val cust = Tables.customer(spark, base)
    val supp = Tables.supplier(spark, base)
    val part = Tables.part(spark, base)
    val ord = Tables.orders(spark, base)
    val docs = Tables.documents(spark, base)
    val emb = Tables.embeddings(spark, base)
    val cS = stride(cust, "c_custkey")
    val sS = stride(supp, "s_suppkey")
    val pS = stride(part, "p_partkey")
    val oS = stride(ord, "o_orderkey")
    val dS = stride(docs, "doc_id")
    // vec_id replicas must CLEAR the ANN plant window: the contract
    // corpora plant ×2 copies at organic id + 10⁶ (a fixed offset 65
    // oracle-SQL sites encode), and a power-of-ten stride from a
    // 4-digit base id walks replica k = 100 STRAIGHT INTO
    // [10⁶, 10⁶ + base) — at ×1000 the round-13 review found the
    // planted ids colliding with replica-100's organic rows (two
    // vectors per id in the probe corpus). Floor the stride at 10⁷ so
    // every k ≥ 1 replica sits beyond the window; base ids (k = 0)
    // stay below 10⁶ by the [[graft.SparkEntry.annPlantedCorpus]]
    // guard. Corpus stamp bumped to rev5 (ids changed).
    val vS = math.max(stride(emb, "vec_id"), 10000000L)

    write("customer", done(expand(cust)
      .withColumn("c_custkey", col("c_custkey") + k * cS)))
    write("supplier", done(expand(supp)
      .withColumn("s_suppkey", col("s_suppkey") + k * sS)))
    write("part", done(expand(part)
      .withColumn("p_partkey", col("p_partkey") + k * pS)))
    write("orders", done(expand(ord)
      .withColumn("o_orderkey", col("o_orderkey") + k * oS)
      .withColumn("o_custkey", col("o_custkey") + k * cS)))
    write("lineitem", done(expand(Tables.lineitem(spark, base))
      .withColumn("l_orderkey", col("l_orderkey") + k * oS)
      .withColumn("l_partkey", col("l_partkey") + k * pS)
      .withColumn("l_suppkey", col("l_suppkey") + k * sS)))
    // n_chars from the ALREADY-tagged text column (a second tagText
    // here would double-prefix: withColumn re-resolves col("text") to
    // the replaced column) — n_chars == length(text) holds in the
    // base corpus and must keep holding in every replica
    write("documents", done(expand(docs)
      .withColumn("doc_id", col("doc_id") + k * dS)
      .withColumn("text", tagText(col("text"), k))
      // cast matches the base schema (BIGINT) — length() is INT
      .withColumn("n_chars", length(col("text")).cast("long"))))
    write("embeddings", done {
      if (embMode == "clustered")
        // jitter keys on the BASE id (determinism per (cluster,
        // member)); the id offset lands after
        expand(emb)
          .withColumn("embedding",
            jitterVec(col("vec_id"), col("embedding"), k))
          .withColumn("vec_id", col("vec_id") + k * vS)
      else {
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      // distinct transforms = dim rotations × effective sign masks:
      // i & (k mod 64) only reads mask bits at positions < log2(dim),
      // so masks repeat every min(64, 2^ceil(log2 dim)). Past the
      // product the transform CYCLES (k = dim·64 is the identity at
      // dim = 64) and replicas silently become exact duplicates —
      // the round-12 corpus bug at the next decade. Refuse loudly.
      val effMasks = math.min(64, Integer.highestOneBit(
        math.max(1, dim - 1)) << 1)
      require(scale <= dim.toLong * effMasks,
        s"replica de-correlation space exhausted: scale $scale > " +
          s"dim($dim) × $effMasks distinct orthogonal transforms — " +
          "extend flipVec (wider mask or second rotation) first")
      expand(emb)
        .withColumn("vec_id", col("vec_id") + k * vS)
        .withColumn("embedding", flipVec(col("embedding"), k, dim))
      }
    })

    // events grow HORIZONTALLY: ×scale users over the SAME time
    // window (replicas are fresh users with identical temporal
    // patterns — per-hour concurrency scales, the stress axis of the
    // interval/session operators). Written as standard TIMESTAMP;
    // Tables.normalizeTs passes it through.
    val ev = Tables.events(spark, base)
    val evS = stride(ev, "event_id")
    val evU = stride(ev, "user_id")
    write("events", done(expand(ev)
      .withColumn("event_id", col("event_id") + k * evS)
      .withColumn("user_id", col("user_id") + k * evU)))

    java.nio.file.Files.write(ready,
      (readyStamp(scale) + "\n").getBytes("UTF-8"))
    ()
  }

  /** The probe set the round-8 verdict prescribed: one query per
    * flagship family — denorm fan-join, capped shingle pairs, exact
    * quadratic cosine pairs (the documented ≈scale² row), incremental
    * screen against the standing artifact, IVF probe, index-served
    * BM25, prefix-sum packing, df-based boilerplate, dictionary-served
    * rare terms, two-pass distributed rank. */
  private val defaultProbes = Seq("denorm_docs", "d4_jaccard_pairs",
    "d5_cosine_pairs", "d10_incremental_dedup", "n3_knn_ivf",
    "f4_search_bm25", "x7_pack_chunks", "x14_boilerplate",
    "a11_rare_terms", "w10_percent_rank")

  /** Override with SPARK_GRAFT_PROBES (comma-separated query names)
    * — e.g. a two-decade ×100 run drops the exact-quadratic d5
    * (work ×10⁴ by contract) and probes the document/vector
    * families. */
  private def probeNames: Seq[String] =
    sys.env.get("SPARK_GRAFT_PROBES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(defaultProbes)

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALED_DIR",
      sys.props("java.io.tmpdir") + s"/graft_scaled_x$scale")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // SPARK_GRAFT_REPLICATE_ONLY=1: materialize the scaled corpus and
    // exit — the RecallProbe (decade gates, router/grouped-layout
    // probes) consumes the directory as SPARK_GRAFT_SF_DIR without
    // paying the full scale-probe suite this main otherwise runs
    if (sys.env.get("SPARK_GRAFT_REPLICATE_ONLY").contains("1")) {
      val (_, ro) = timed { replicate(spark, base, out, scale) }
      System.err.println(f"[scale] replicated x$scale -> $out ($ro%.1f s)")
      spark.stop()
      return
    }

    val (_, repSec) = timed { replicate(spark, base, out, scale) }

    // per-dir measurement: warm the reader paths, pre-build the
    // artifacts (timed as build rows — index BUILD scaling is as
    // load-bearing as query scaling), then the probes under the Bench
    // harness
    def measure(dir: String): (Map[String, Double], Map[String, Double]) = {
      Seq("nation", "region", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
        .filter(t => new java.io.File(s"$dir/$t.parquet").exists())
        .foreach(t => Tables(spark, dir, t)
          .write.format("noop").mode("overwrite").save())
      // build times must measure a BUILD, not a memo/pointer hit from
      // an earlier bench run against the same corpus fingerprint
      val tKey = operators.TextIndex.corpusKey(dir)
      operators.TextIndex.evictMemo(tKey)
      operators.ArtifactGen.wipe(operators.TextIndex.rootFor(tKey))
      val aKey = operators.AnnIndex.corpusKey(dir)
      operators.AnnIndex.evictMemo(aKey)
      operators.ArtifactGen.wipe(operators.AnnIndex.rootFor(aKey))
      operators.DedupIndex.evictMemo("even-" + tKey)
      operators.ArtifactGen.wipe(operators.DedupIndex.rootFor("even-" + tKey))
      // SPARK_GRAFT_BUILDS narrows which artifact builds are timed
      // (comma-separated names) — a focused re-probe of one build
      // shouldn't pay the other two at ×1000
      val buildFilter = sys.env.get("SPARK_GRAFT_BUILDS")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      val builds = Seq(
        "text_index_build" -> (() => { SparkEntry.textIndexFor(spark, dir); () }),
        "ann_index_build" -> (() => { SparkEntry.annIndexFor(spark, dir); () }),
        "dedup_index_build" -> (() => { SparkEntry.dedupIndexEven(spark, dir); () })
      ).filter { case (n, _) => buildFilter.forall(_.contains(n)) }
        .map { case (n, f) =>
        val (_, s) = timed(f()); Bench.isolate(spark); n -> s
      }.toMap
      val queries = probeNames.map { n =>
        val fn = SparkEntry.queries(n)
        val (_, s) = timed {
          fn(spark, dir).write.format("noop").mode("overwrite").save()
        }
        Bench.isolate(spark)
        System.err.println(f"[scale] $dir $n $s%.1fs")
        n -> s
      }.toMap
      (builds, queries)
    }

    val (bBase, qBase) = measure(base)
    val (bScaled, qScaled) = measure(out)

    def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val ratios = (qBase.keys ++ bBase.keys).map { k =>
      val b = qBase.getOrElse(k, bBase(k))
      val s = qScaled.getOrElse(k, bScaled(k))
      k -> (if (b > 0) s / b else 0.0)
    }.toMap
    val line =
      s"""{"metric":"scale_probe","scale":$scale,"replicate_sec":$repSec,""" +
        s""""base":${obj(qBase ++ bBase)},"scaled":${obj(qScaled ++ bScaled)},""" +
        s""""ratio":${obj(ratios)},"base_dir":"$base","scaled_dir":"$out"}"""
    println(line)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
      "bench_scale.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
    cleanupScaled(out)
  }

  /** Post-probe SELF-CLEANING (round-12 verdict task 4): the ×100/
    * ×1000 replica traffic (~150 GB at ×1000) is what degraded the
    * box's write path for hours after the round-12 probes — the
    * scaled dirs and the freed-block TRIM were both manual and both
    * got skipped until after the bench had already absorbed the
    * damage. A probe now leaves /tmp at pre-run usage: delete the
    * scaled dir (the `_READY` replica cache trades re-replication
    * time against exactly this degradation — wrong trade, replication
    * is ~100 s and the degradation is hours) and best-effort
    * `fstrim` so the device reclaims the blocks. Opt out with
    * SPARK_GRAFT_KEEP_SCALED=1 for back-to-back probe sessions —
    * then delete + trim manually before any bench. */
  private def cleanupScaled(out: String): Unit = {
    if (sys.env.get("SPARK_GRAFT_KEEP_SCALED").contains("1")) {
      System.err.println(s"[scale] keeping $out (SPARK_GRAFT_KEEP_SCALED=1)")
      return
    }
    // the scaled corpus's ingest artifacts (GBs of ivf/pq/postings at
    // ×1000) are garbage once the corpus is gone — their keys need the
    // dir's file metadata, so wipe them BEFORE the corpus dir. Each
    // family is guarded SEPARATELY: one failing wipe (e.g. a
    // tables-narrowed corpus with no documents) must not skip the
    // others — the ANN artifacts are the multi-GB ones this cleanup
    // exists to reclaim
    def wipeGuarded(what: String)(f: => Unit): Unit =
      try f catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[scale] $what wipe skipped: $e")
      }
    wipeGuarded("text/dedup artifact") {
      val tKey = operators.TextIndex.corpusKey(out)
      wipeGuarded("text index")(
        operators.ArtifactGen.wipe(operators.TextIndex.rootFor(tKey)))
      wipeGuarded("dedup index")(operators.ArtifactGen.wipe(
        operators.DedupIndex.rootFor("even-" + tKey)))
    }
    wipeGuarded("ann artifact")(operators.ArtifactGen.wipe(
      operators.AnnIndex.rootFor(operators.AnnIndex.corpusKey(out))))
    operators.ArtifactGen.wipe(java.nio.file.Paths.get(out))
    System.err.println(s"[scale] deleted $out")
    try {
      val p = new ProcessBuilder("fstrim", "-v", "/")
        .redirectErrorStream(true).start()
      val log = scala.io.Source.fromInputStream(p.getInputStream).mkString
      p.waitFor()
      System.err.println(s"[scale] fstrim: ${log.trim} (rc=${p.exitValue()})")
    } catch { // best-effort: fstrim may be absent or unprivileged
      case e: Exception =>
        System.err.println(s"[scale] fstrim skipped: $e")
    }
  }
}
