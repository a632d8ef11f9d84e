package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Analyzers

/** Deduplication operators for large-scale training-data pipelines —
  * the extension surface of SURVEY.md §7 M5, designed so every variant
  * is a bounded-shuffle plan at 100 TB:
  *
  *  - exact: hash-groupBy on a normalized fingerprint (one shuffle on
  *    the fingerprint, combiner-friendly);
  *  - MinHash + LSH: codegen'd shingle hashes (ShingleHashes) →
  *    explode + 64 min-aggregates with map-side combine → banded
  *    buckets, so the candidate-pair join only touches colliding
  *    buckets — the all-pairs O(n²) never materializes;
  *  - SimHash: 64 majority-vote sum aggregates per doc + 4×16-bit
  *    band buckets + Hamming verification (`bit_count(xor)`);
  *  - exact n-gram Jaccard: inverted-index style (group postings per
  *    shingle hash, emit in-bucket pairs from the capped posting
  *    array, count per pair) — also the exact-verify path for LSH
  *    candidates; SQL-expressible ⇒ serves as its own DuckDB oracle;
  *  - applyDedup: ship the deduplicated corpus (anti join on pairs).
  */
object Dedup {

  /** The one operating point of every shingle and MinHash surface:
    * word `ShingleWidth`-gram shingles, a `NumHashes`-wide signature
    * cut into `Bands` bands of NumHashes / Bands rows. None of them is
    * a per-call parameter: a screen that banded differently from the
    * standing index would hash into buckets the index never wrote and
    * call every near-duplicate new, and d17's lockstep gate derives its
    * buckets-per-representative multiplier from [[Bands]]. Tune the
    * S-curve and the shingle width HERE, never at a call site. */
  val ShingleWidth = 3
  val NumHashes = 64
  val Bands = 16

  // a remainder would silently TRUNCATE the signature (64 hashes / 12
  // bands → rows = 5 bands only 60 of them, an undeclared S-curve)
  require(NumHashes % Bands == 0,
    "bands×rows = NumHashes is the S-curve contract")

  /** Canonical text normalization used by every dedup variant:
    * lowercase, collapse whitespace, trim. */
  def normalize(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Word [[ShingleWidth]]-gram shingles over a TOKEN ARRAY column, as
    * distinct strings — the unit of Jaccard similarity.
    *
    * IMPORTANT: `toks` must be a materialized attribute (a real column
    * of the input relation), not an inline tokenize(...) expression —
    * the shingling lambda references it per element, so an inlined
    * expression would re-tokenize the text once per shingle (measured
    * ~19 s for 5 k docs at sf0.1). Select the tokens in one projection
    * and shingle them in the next: that boundary is what keeps the
    * tokenization to once per row. */
  def shingleSet(toks: Column): Column = {
    val k = size(toks)
    val n = ShingleWidth
    array_distinct(
      when(k >= n,
        transform(sequence(lit(1), greatest(k - (n - 1), lit(1))),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array(concat_ws(" ", toks))))
  }

  /** (id, shingles) as distinct 64-bit hashes via the codegen'd
    * [[graft.functions.expressions.ShingleHashes]] — the fast path the
    * pair-finding operators run on (set cardinalities and therefore
    * Jaccard values match the string version w.h.p.); the string
    * variant remains for digest-style fingerprints. */
  def withHashedShingleSet(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id"),
        Analyzers.tokenize(normalize(col("text"))).as("toks"))
      .select(col("id"),
        graft.functions.expressions.shingle_hashes(col("toks"))
          .as("shingles"))

  /** D1 exact dedup: group identical normalized texts, keep the lowest
    * doc_id as the canonical representative. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(normalize(col("text"))).as("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash signatures of an ALREADY-ANALYZED (id, shingles) frame
    * via explode + hash-aggregate: one row per (doc, shingle) posting,
    * then [[NumHashes]] codegen'd `min(xxhash64(sh, i))` aggregates with
    * map-side partial aggregation. This is deliberately NOT a nested
    * higher-order-function expression: Catalyst's project-collapsing
    * would inline the shingle computation into every lambda element
    * and the whole tree is CodegenFallback — the agg formulation keeps
    * everything inside whole-stage codegen and shuffles each doc id
    * exactly once. Callers hold the hashed shingle sets (usually
    * persisted) and never pay the tokenize+shingle analysis a second
    * time (DedupIndex computes the sets once per build/append and
    * derives BOTH the banded index and the verify side from them). */
  private[graft] def minhashSignaturesFromSets(sets: DataFrame): DataFrame = {
    // shingles arrive as 64-bit hashes (codegen'd ShingleHashes); the
    // hash family re-hashes the fixed-width long with the family index
    // (an affine a·h+b family would be cheaper still, but ANSI mode
    // makes wraparound long arithmetic throw)
    val posts = sets.select(col("id"), explode(col("shingles")).as("h"))
    val mins = (0 until NumHashes)
      .map(i => min(xxhash64(col("h"), lit(i))).as(s"h$i"))
    posts.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until NumHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** (id, band, bucket): the banded-signature LSH index rows for
    * `docs` — the frame a production near-dedup service MAINTAINS as
    * its standing index (new batches append their rows after
    * screening). */
  def bandBuckets(docs: DataFrame): DataFrame =
    bandBucketsFromSets(withHashedShingleSet(docs))

  /** [[bandBuckets]] over an already-analyzed (id, shingles) frame —
    * see [[minhashSignaturesFromSets]] for when to use it. */
  private[graft] def bandBucketsFromSets(sets: DataFrame): DataFrame = {
    val rows = NumHashes / Bands
    val sigs = minhashSignaturesFromSets(sets)
    sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(Bands - 1)),
        b => xxhash64(concat_ws(",",
          transform(slice(col("sig"), b * rows + 1, lit(rows)),
            v => v.cast("string"))), b))).as(Seq("band", "bucket")))
  }

  /** D2 MinHash+LSH near-dup pairs: band the signature, bucket-join on
    * (band index, band hash), verify candidates with exact Jaccard on
    * the shingle sets. Returns pairs (id_a < id_b) with their Jaccard.
    *
    * bands×rows = NumHashes; collision prob for similarity s is
    * 1-(1-s^rows)^bands (the standard S-curve). [[NumHashes]] and
    * [[Bands]] target s ≳ 0.5. The banded self-join shuffles both
    * sides identically, so Spark's ReuseExchange evaluates the
    * signature plan once.
    */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val buckets = bandBuckets(docs)
    val a = buckets.as("a")
    val b = buckets.as("b")
    // merge-hinted for the same reason as [[simhashPairs]]'s self-join:
    // a broadcast plan re-runs the full MinHash signature aggregation
    // inside the BroadcastExchange (computed twice), while under SMJ
    // both sides are the identical exchange and stage reuse computes
    // it once — and the banded frame outgrows any broadcast at scale
    val cand = a.hint("merge").join(b,
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val sets = withHashedShingleSet(docs)
    cand
      .join(sets.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** D6: apply near-dedup — the corpus with every near-duplicate
    * removed, keeping the lowest-id member of each similar pair (the
    * "what a training pipeline actually ships" operator). `pairs` is
    * any (id_a < id_b) pair frame (exact Jaccard, MinHash, SimHash or
    * cosine); removal is a left-anti join on the higher id. */
  def applyDedup(docs: DataFrame, pairs: DataFrame): DataFrame =
    docs.join(pairs.select(col("id_b")),
      docs("doc_id") === col("id_b"), "left_anti")

  /** D7: connected components over the duplicate-pair graph — the
    * cluster step a production dedup ships after pair detection.
    * Pair-wise removal ([[applyDedup]]) misses transitivity: with
    * pairs (b,c) and (a,c) only, it keeps both a and b even though
    * {a,b,c} is one near-dup family; clustering keeps exactly one
    * representative per family.
    *
    * Algorithm: min-label propagation to fixpoint — each round every
    * node takes the minimum label among itself and its neighbors.
    * Converges in O(component diameter) rounds (dup families are
    * shallow in practice; the published large-star/small-star variant
    * [Kiveris et al., "Connected Components in MapReduce and Beyond"]
    * compresses rounds further if ever needed). Each round is one
    * shuffle join + one shuffle min-aggregate, both on the id key, so
    * Catalyst reuses the hash partitioning round-over-round; lineage
    * is truncated per round (`localCheckpoint`) so the plan stays
    * constant-size instead of doubling per iteration. The driver loop
    * is over ROUNDS (a handful), never over rows.
    *
    * Returns (doc_id, cluster_id) for every doc; singletons cluster to
    * themselves. Both endpoints of every pair must be ids in `docs`:
    * an id found only in `pairs` gets no label, so labels never
    * propagate through it and the clusters it would join stay apart.
    * This is not checked at run time. */
  def dupClusters(docs: DataFrame, pairs: DataFrame,
                  maxRounds: Int = 20): DataFrame = {
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .localCheckpoint()
    var labels = docs.select(col("doc_id").as("id"), col("doc_id").as("label"))
      .localCheckpoint()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // min neighbor label per node, attached via a left join so the
      // SAME materialization carries both the next labels and the
      // did-anything-change flag: labels only ever decrease, so
      // `plabel < label` is exactly "this node's label changed this
      // round". The old shape paid a second shuffle JOIN per round
      // (next ⋈ old labels) just to detect convergence; here the check
      // is a cache scan over the just-checkpointed round output, and
      // the labels-side exchange is shared by both joins (same child,
      // same key). Same label sequence, same fixpoint, same round
      // count — only the per-round job shape changes.
      val prop = edges.join(labels, edges("u") === labels("id"))
        .groupBy(col("v")).agg(min(col("label")).as("plabel"))
      val next = labels.join(prop, labels("id") === prop("v"), "left")
        .select(col("id"),
          when(col("plabel") < col("label"), col("plabel"))
            .otherwise(col("label")).as("label"),
          (col("plabel") < col("label")).as("changed"))
        .localCheckpoint()
      converged = next.filter(col("changed")).isEmpty
      labels = next.select(col("id"), col("label"))
      round += 1
    }
    // a silent non-converged return would hand back wrong cluster ids
    // (far ends of a deeper-than-maxRounds chain still carry
    // non-minimal labels) — fail loudly instead
    require(converged,
      s"dupClusters did not converge in $maxRounds rounds — a component's " +
        s"diameter exceeds the bound; raise maxRounds")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** D8: apply cluster dedup — keep the minimum-id member of each
    * component (the canonical representative), drop the rest. */
  def applyClusterDedup(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.filter(col("doc_id") === col("cluster_id")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")

  /** D15: cluster dedup with KEEP-BEST selection — production
    * curation keeps the highest-QUALITY member of each duplicate
    * cluster, not the lowest id (min-id silently biases the surviving
    * corpus toward whatever arrived first; pipeline practice is to
    * keep the longest / highest-scoring copy). `quality` is any
    * orderable column over `docs`; ties break to the smaller id so
    * the survivor is deterministic. One dictionary-sized aggregate
    * over the cluster table (max_by on a (quality, -id) struct —
    * partial+final, no window over the corpus) and a semi-join back;
    * the pair graph and label propagation are [[dupClusters]]'s, the
    * only corpus-scale work. */
  def applyClusterDedupBest(docs: DataFrame, clusters: DataFrame,
                            quality: Column): DataFrame = {
    val keep = clusters
      .join(docs.select(col("doc_id"), quality.as("_q")), "doc_id")
      .groupBy(col("cluster_id"))
      .agg(expr("max_by(doc_id, named_struct('q', _q, 'i', -doc_id))")
        .as("doc_id"))
      .select(col("doc_id"))
    docs.join(keep, Seq("doc_id"), "left_semi")
  }

  /** D10: incremental dedup — screen an ARRIVING batch against the
    * standing corpus without re-pairing the corpus with itself. The
    * standing side is exactly the [[exact]] fingerprint index
    * (fingerprint → keep_id), which production maintains incrementally
    * (new fingerprints are appended after screening); each new doc
    * resolves to the standing doc it duplicates, or marks itself new.
    * One equi-join on the fingerprint — the daily-ingest cost is
    * O(batch), never O(corpus²); Spark broadcasts whichever side is
    * small enough. */
  def incrementalExact(newDocs: DataFrame, index: DataFrame): DataFrame =
    newDocs
      .select(col("doc_id"), md5(normalize(col("text"))).as("fp"))
      .join(index.select(col("fingerprint"), col("keep_id")),
        col("fp") === col("fingerprint"), "left")
      .select(col("doc_id"), col("keep_id").as("dup_of"),
        col("keep_id").isNull.as("is_new"))

  /** D12: incremental NEAR-dedup — the LSH analog of
    * [[incrementalExact]]: an arriving batch is screened against the
    * STANDING banded-signature index without ever re-pairing the
    * corpus with itself. Like the exact variant, the standing side
    * arrives as the two MAINTAINED frames a production service keeps —
    * `standingIndex` = [[bandBuckets]] rows (id, band, bucket), and
    * `standingSets` = the (id, shingles) verify-side frame
    * ([[withHashedShingleSet]]) — NOT as raw documents, so the daily
    * cost really is O(batch · bucket-collision fan-out), never a
    * standing-corpus rebuild. Batch rows band into the same buckets,
    * the (band, bucket) equi-join yields candidates, and exact Jaccard
    * on the shingle sets verifies — each new doc resolves to the
    * lowest-id standing doc it near-duplicates, or marks itself new
    * (its index/shingle rows are then appended to the standing
    * frames). */
  def incrementalMinhash(newDocs: DataFrame, standingIndex: DataFrame,
                         standingSets: DataFrame,
                         threshold: Double = 0.5): DataFrame =
    incrementalMinhashFromSets(withHashedShingleSet(newDocs),
      standingIndex, standingSets, threshold)

  /** [[incrementalMinhash]] over the batch's already-analyzed
    * (id, shingles) frame: the batch side feeds BOTH the banded
    * signatures and the Jaccard verify side, so a caller that persists
    * the sets (DedupIndex's strict admission does) tokenizes+shingles
    * the batch once instead of twice inside the screening job. */
  private[graft] def incrementalMinhashFromSets(newSets: DataFrame,
                         standingIndex: DataFrame,
                         standingSets: DataFrame,
                         threshold: Double = 0.5): DataFrame = {
    val standIdx = standingIndex
      .select(col("id").as("old_id"), col("band"), col("bucket"))
    val batchIdx = bandBucketsFromSets(newSets)
      .select(col("id").as("new_id"), col("band"), col("bucket"))
    val cand = batchIdx.join(standIdx, Seq("band", "bucket"))
      .select(col("new_id"), col("old_id"))
      .dropDuplicates("new_id", "old_id")
    val nSets = newSets
      .select(col("id").as("new_id"), col("shingles").as("sh_n"))
    val oldSets = standingSets
      .select(col("id").as("old_id"), col("shingles").as("sh_o"))
    val dups = cand
      .join(nSets, "new_id").join(oldSets, "old_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh_n"), col("sh_o"))).cast("double") /
        size(array_union(col("sh_n"), col("sh_o"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("new_id")).agg(min(col("old_id")).as("dup_of"))
    newSets.select(col("id").as("doc_id"))
      .join(dups, col("doc_id") === col("new_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("dup_of").isNull.as("is_new"))
  }

  /** D9: benchmark decontamination — per training doc, the number of
    * distinct word-3-gram shingles it shares with ANY document of an
    * evaluation set, and a contaminated flag at `minShared`. This is
    * the standard eval-leakage guard a pretraining pipeline runs before
    * shipping a corpus (n-gram-overlap decontamination).
    *
    * Scale shape: benchmark sets are tiny relative to the corpus, so
    * the eval side collapses to a DISTINCT shingle set that rides a
    * BROADCAST join — the training corpus is never shuffled at all;
    * each partition probes the broadcast set and aggregates its own
    * counts map-side. Per-doc shingles are already distinct, so
    * `count(*)` after the join is the distinct shared-shingle count.
    *
    * Shingles are the 64-bit codegen'd hashes ([[withHashedShingleSet]]
    * — the same fast path as the pair detectors, and the same
    * w.h.p.-exact relationship to the string-shingle oracle as d4): the
    * string-HOF variant re-tokenizes per lambda element once
    * ProjectCollapse inlines it (measured 9 s vs 1 s at sf0.1), and
    * longs broadcast smaller than strings. */
  def contamination(train: DataFrame, evalSet: DataFrame,
                    minShared: Int = 5): DataFrame = {
    val trainSh = withHashedShingleSet(train)
      .select(col("id"), explode(col("shingles")).as("sh"))
    val evalSh = withHashedShingleSet(evalSet)
      .select(explode(col("shingles")).as("sh")).distinct()
    val shared = trainSh.join(broadcast(evalSh), "sh")
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
    train.select(col("doc_id"))
      .join(shared, train("doc_id") === shared("id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") >= minShared)
  }

  /** D16: contamination FRACTION per eval doc — the benchmark-side
    * report ([[contamination]] flags TRAIN docs; training-data papers
    * report per-EVAL-example overlap: the fraction of an eval doc's
    * distinct n-grams that appear anywhere in the training corpus,
    * thresholded to drop the example). Exact integers end to end:
    * gram counts and one `div` to basis points.
    *
    * Scale shape: the eval set is benchmark-sized, so its gram set
    * BROADCASTS; the corpus streams through ONE scan joined against
    * it (never shuffled), and the surviving matched-gram set — by
    * construction ≤ |eval grams| — reduces to a distinct set that
    * joins back to the per-doc eval grams. No corpus-sized shuffle
    * anywhere. */
  def contaminationFraction(train: DataFrame, evalSet: DataFrame,
                            thresholdBp: Int = 5000): DataFrame = {
    val evalSh = withHashedShingleSet(evalSet)
      .select(col("id"), explode(col("shingles")).as("sh"))
    val evalGrams = evalSh.select(col("sh")).distinct()
    val hitGrams = withHashedShingleSet(train)
      .select(explode(col("shingles")).as("sh"))
      .join(broadcast(evalGrams), "sh")
      .select(col("sh")).distinct()
    evalSh
      .join(hitGrams.withColumn("hit", lit(1L)), Seq("sh"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("id").as("doc_id"), col("n_grams"), col("n_hit"),
        expr("n_hit * 10000 div greatest(n_grams, 1L)").as("overlap_bp"))
      .withColumn("contaminated", col("overlap_bp") >= thresholdBp)
      .orderBy(col("doc_id"))
  }

  /** 60-bit SimHash per doc via explode + hash-aggregate (same codegen
    * rationale as [[minhashSignaturesFromSets]]): per-bit majority vote
    * of the tokens' hash bits — 60 `sum` aggregates with map-side combine,
    * then one packing projection.
    *
    * The token hash family is two polynomial mod-prime code-point
    * folds (30 bits each — `expressions.PolyHash`), NOT xxhash64: the
    * fold is exactly replayable in DuckDB (`list_reduce` over
    * `unicode()` code points), which makes the whole SimHash pipeline
    * — votes, packing, banding, Hamming verify — oracle-checkable
    * rather than rows-only. */
  val SimBits = 60
  def simhashSignatures(docs: DataFrame): DataFrame = {
    import graft.functions.expressions.poly_hash
    val toks = docs.select(col("doc_id").as("id"),
        explode(Analyzers.tokenize(normalize(col("text")))).as("t"))
      .withColumn("h1", poly_hash(col("t"), 1000003L))
      .withColumn("h2", poly_hash(col("t"), 1000033L))
    val votes = (0 until SimBits).map { j =>
      val (h, bit) = if (j < 30) (col("h1"), j) else (col("h2"), j - 30)
      sum(when(shiftrightunsigned(h, bit).bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as(s"b$j")
    }
    val packed = (0 until SimBits)
      .map(j => when(col(s"b$j") > 0L, lit(1L << j)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    toks.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"), packed.as("sim"))
  }

  /** D3 SimHash near-dup pairs: 4×15-bit bands (any pair within Hamming
    * distance 3 shares at least one exact band), verify with
    * bit_count(xor) ≤ maxHamming. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = simhashSignatures(docs)
    val banded = sigs.select(col("id"), col("sim"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => graft.functions.expressions
          .shift_right_unsigned(col("sim"), b * 15)
          .bitwiseAND(0x7FFFL))).as(Seq("band", "bucket")))
    val a = banded.as("a")
    val b = banded.as("b")
    // Hamming verification is row-local and functionally determined by
    // the pair (one signature per doc), so it commutes with the
    // candidate dedup — verify FIRST, then dedup: the dropDuplicates
    // exchange carries only the pairs that pass (≤ maxHamming of 60
    // bits is selective) and three columns instead of every multi-band
    // collision with both raw signatures (§2.3 shuffle fewer
    // bytes/rows). The self-join is pinned to sort-merge: a broadcast
    // plan builds the banded side TWICE (the full explode + 60-vote
    // signature aggregation re-runs inside the BroadcastExchange — no
    // reuse across a broadcast/shuffle pair), while under SMJ both
    // sides are the identical exchange and stage reuse computes the
    // signatures ONCE; at scale the banded frame outgrows any
    // broadcast anyway, so this also makes the local plan the scale
    // plan. Identical result set either way.
    a.hint("merge").join(b,
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Shared capped posting-bucket candidate machinery of
    * [[jaccardPairs]] and [[containmentPairs]] (one implementation —
    * the two copies the round-13 review found could silently diverge
    * on a cap or slice fix): group the posting list per shingle (ONE
    * shuffle), drop stop-shingles — lists longer than the cap blow
    * up pair fan-out quadratically and cannot push any pair over a
    * threshold alone — then emit in-bucket pairs with an indexed
    * lambda over the bounded array. Replaces a freq-agg + semi-join +
    * sort-merge self-join (~4 exchanges) with 2 exchanges total. The
    * collection itself is size-capped INSIDE the aggregate
    * (CappedCollectPostings): a corpus-wide stop-shingle stops
    * accumulating at cap+1 entries instead of materializing its full
    * posting array in one buffer before the filter discards it.
    * Returns one row per candidate pair (id_a < id_b):
    * (id_a, id_b, size_a, size_b, inter). */
  private def pairIntersections(docs: DataFrame,
                                maxShingleFreq: Int): DataFrame = {
    val sets = withHashedShingleSet(docs)
      .withColumn("setsize", size(col("shingles")))
    val posts = sets
      .select(col("id"), col("setsize"), explode(col("shingles")).as("sh"))
    // pin the posting shuffle to the CONFIGURED shuffle parallelism:
    // the exchange is byte-light (24-byte posting rows) but the stage
    // on its reduce side does the quadratic in-bucket pair expansion —
    // AQE's byte-based coalescing serializes exactly that compute
    // (measured 1–3 tasks at sf0.1). An explicit numPartitions is
    // AQE-exempt and the groupBy reuses the partitioning (same key,
    // same count — no extra exchange, §2.4); the value is the
    // session's shuffle-partition setting, the cluster-sized knob,
    // never a local constant.
    val nShuffle = sets.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val buckets = posts.repartition(nShuffle, col("sh")).groupBy(col("sh"))
      .agg(graft.functions.aggregates
        .capped_collect_postings(col("id"), col("setsize"), maxShingleFreq)
        .as("docs"))
      .filter(size(col("docs")).between(2, maxShingleFreq))
    buckets.select(explode(flatten(transform(col("docs"),
      (x, i) => transform(
        slice(col("docs"), i + 2, greatest(size(col("docs")) - i - 1, lit(0))),
        y => struct(
          x.getField("id").as("id_a"), y.getField("id").as("id_b"),
          x.getField("setsize").as("size_a"),
          y.getField("setsize").as("size_b")))))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.size_a").as("size_a"), col("p.size_b").as("size_b"))
      .agg(count(lit(1)).as("inter"))
  }

  /** D4 exact n-gram Jaccard pairs via inverted index: explode distinct
    * shingles, self-join on shingle (this is the posting-list join —
    * bounded by shingle frequency, and skew-resistant by dropping
    * ultra-common shingles), count shared per pair, Jaccard from set
    * sizes. SQL-expressible ⇒ serves as its own DuckDB oracle. */
  def jaccardPairs(docs: DataFrame, threshold: Double = 0.5,
                   maxShingleFreq: Int = 1000): DataFrame =
    pairIntersections(docs, maxShingleFreq)
      .withColumn("jaccard", col("inter").cast("double") /
        (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** D22: split-leakage REMEDIATION — the action [[splitLeakage]]'s
    * audit calls for: every val document with a near-copy in train
    * moves to train (keeping it in val would leak training signal
    * into the eval; moving it is the conservative fix that never
    * shrinks train). Returns the per-split document counts plus how
    * many moved: the before/after report a curation run logs. The
    * moved set is a dictionary-thin distinct projection of the pair
    * frame — one anti-join-shaped membership flag via a left join,
    * then one tiny aggregate. */
  def splitLeakageFix(docs: DataFrame, valPct: Int = 10,
                      threshold: Double = 0.5): DataFrame = {
    val pairs = splitLeakage(docs, valPct, threshold)
    val leakedVal = pairs
      .select(when(col("split_a") === "val", col("id_a"))
        .otherwise(col("id_b")).as("id"))
      .distinct()
      .withColumn("moved", lit(true))
    TextStats.hashSplit(docs, valPct)
      .select(col("doc_id").as("id"), col("split"))
      .join(leakedVal, Seq("id"), "left")
      .select(
        when(coalesce(col("moved"), lit(false)), lit("train"))
          .otherwise(col("split")).as("split"),
        coalesce(col("moved"), lit(false)).as("moved"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("moved"), 1L).otherwise(0L)).as("n_moved_in"))
      .orderBy(col("split"))
  }

  /** D21: dedup AUDIT report — the cluster-size histogram a curation
    * run ships next to its dedup pass: how many duplicate families of
    * each size exist and how many documents they absorb (size 1 =
    * unique docs; the tail sizes are the copy-paste families worth
    * eyeballing). Built on [[dupClusters]]' exact transitive
    * clustering; two combiner-friendly aggregates past it
    * (cluster → size, size → histogram), both dictionary-small. */
  def dupReport(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    dupClusters(docs, jaccardPairs(docs, threshold = threshold))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** D20: train/val split-LEAKAGE audit — near-duplicate pairs that
    * CROSS the hash-split boundary, i.e. validation documents whose
    * near-copy sits in train (the eval-integrity failure dedup inside
    * a split can't see: each side looks clean alone, the split leaks
    * anyway). Pairs come from the same exact capped posting-bucket
    * Jaccard machinery as [[jaccardPairs]] (candidates only where
    * shingles collide — never all-pairs); the split label is
    * TextStats.hashSplit's deterministic md5 bucket, joined onto both
    * pair sides (two joins against the dictionary-thin (id, split)
    * projection), keeping only split_a ≠ split_b. A leaked val doc is
    * then actionable two ways: drop it from val, or drop its train
    * twin. */
  def splitLeakage(docs: DataFrame, valPct: Int = 10,
                   threshold: Double = 0.5): DataFrame = {
    val splits = TextStats.hashSplit(docs, valPct)
      .select(col("doc_id").as("id"), col("split"))
    jaccardPairs(docs, threshold = threshold)
      .join(splits.select(col("id").as("id_a"), col("split").as("split_a")),
        "id_a")
      .join(splits.select(col("id").as("id_b"), col("split").as("split_b")),
        "id_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("split_a"), col("split_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** D14: asymmetric CONTAINMENT dedup — the partial-copy detector
    * symmetric Jaccard misses: a short document quoted wholesale
    * inside a much longer one scores a LOW Jaccard (the union is
    * dominated by the long doc) but containment |A∩B|/|A| ≈ 1 for the
    * short side, which is exactly the situation large-scale curation
    * pipelines deduplicate on (quotes, boilerplate inclusions,
    * near-subset scrapes). Same two-exchange capped posting-bucket
    * machinery as [[jaccardPairs]] — candidate pairs only where
    * shingles collide, never all-pairs — but each unordered candidate
    * pair is scored in BOTH directions and reported per contained
    * side. Containment is an exact integer: `inter·10⁴ div |A|` basis
    * points (one integer division, engine-portable), thresholded in
    * bp; no float enters the decision. Output: (contained, container,
    * containment_bp) ordered pairs with containment_bp ≥ thresholdBp. */
  def containmentPairs(docs: DataFrame, thresholdBp: Int = 8000,
                       maxShingleFreq: Int = 1000): DataFrame = {
    val inter = pairIntersections(docs, maxShingleFreq)
    inter.select(col("id_a").as("contained"), col("id_b").as("container"),
        expr("inter * 10000 div size_a").as("containment_bp"))
      .unionByName(inter.select(col("id_b").as("contained"),
        col("id_a").as("container"),
        expr("inter * 10000 div size_b").as("containment_bp")))
      .filter(col("containment_bp") >= thresholdBp)
      .orderBy(col("contained"), col("container"))
  }

  /** D11: chunk-level (sub-document) dedup — the C4/CCNet move of
    * deduplicating repeated SPANS across documents, not whole docs:
    * each document splits into fixed `chunkTokens`-word chunks, every
    * chunk fingerprints, and a chunk is a duplicate iff an identical
    * chunk exists earlier in (doc_id, chunk_idx) order. Downstream
    * keeps `is_dup = false` chunks and reassembles.
    *
    * Scale shape: chunking is row-local (posexplode over a computed
    * array — one scan, no shuffle); first-occurrence resolution is ONE
    * shuffle on the fingerprint with an UNORDERED window min (whole-
    * partition aggregate, no per-group sort). A pathologically common
    * boilerplate chunk concentrates its fingerprint's rows on one
    * task — the [[Skew]] salting pattern applies there; at the corpus
    * sizes where that bites, common chunks should instead be counted
    * first and handled as stop-chunks (same remedy as d4's capped
    * posting lists). */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = split(trim(col("text")), "\\s+")
    val chunked = docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), toks.as("toks"))
      // ceil(n/chunk) chunks: (n-1)/chunk is double division in the
      // Column DSL; the int cast truncates, which is floor for n ≥ 1
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0),
          ((size(col("toks")) - 1) / chunkTokens).cast("int")),
        i => concat_ws(" ",
          slice(col("toks"), i * chunkTokens + 1, lit(chunkTokens))))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        md5(col("col")).as("fp"))
    val firstSeen = min(struct(col("doc_id"), col("chunk_idx")))
      .over(Window.partitionBy("fp"))
    chunked
      .withColumn("is_dup",
        struct(col("doc_id"), col("chunk_idx")) =!= firstSeen)
      .select(col("doc_id"), col("chunk_idx"), col("fp"), col("is_dup"))
  }

  /** D19: exact repeated-substring MASKING — the suffix-array
    * ExactSubstr dedup of Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better") re-expressed relationally at
    * word granularity: any word `n`-gram occurring in ≥ `minDocs`
    * DISTINCT documents is repeated material, every token position
    * covered by at least one occurrence of a repeated gram is masked
    * (in EVERY document, at every start offset), and the cleaned text
    * keeps the unmasked tokens in order. Differs from [[chunkDedup]]
    * on both axes that matter for curation: boundaries are sliding
    * (a span repeated at different offsets still matches — fixed
    * 32-token chunks only catch aligned copies) and the policy is
    * remove-everywhere, not first-occurrence-wins.
    *
    * Scale shape: gram extraction is row-local (explode over the
    * position sequence; `toks` is a materialized attribute so
    * tokenize runs once per row — the [[shingleSet]] discipline);
    * doc-frequency is a distinct + count on the 8-byte gram hash,
    * both with map-side partials; the mask-back is an equi-join on
    * the same hash (AQE broadcasts the repeated-gram side when it is
    * dictionary-sized, which corpus-wide boilerplate usually is);
    * span expansion and reassembly are row-local. No posting list is
    * ever pairwise-expanded — a corpus-wide boilerplate gram costs
    * O(occurrences), never O(occurrences²), so unlike [[jaccardPairs]]
    * no stop-gram cap is needed.
    *
    * Output: (doc_id, n_tokens, n_masked, n_spans, cleaned_text) for
    * every input document — n_spans counts maximal contiguous masked
    * runs, the "how many distinct boilerplate regions" statistic. */
  def substringDedup(docs: DataFrame, n: Int = 8,
                     minDocs: Int = 2): DataFrame = {
    val toksDf = docs
      .select(col("doc_id").as("id"),
        Analyzers.tokenize(normalize(col("text"))).as("toks"))
    // (doc, start position, gram hash) — one row per sliding window
    val grams = toksDf
      .filter(size(col("toks")) >= n)
      .select(col("id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - (n - 1))).as("pos"))
      .select(col("id"), col("pos"),
        xxhash64(concat_ws(" ", slice(col("toks"), col("pos"), lit(n))))
          .as("gram"))
    // grams present in >= minDocs distinct docs (exact distinct count)
    val repeated = grams.select(col("gram"), col("id")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("gram"))
    // masked token positions: the union of [pos, pos+n) over every
    // occurrence of a repeated gram, per doc
    val spans = grams.join(repeated, "gram")
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
    val perDoc = spans
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("p"))).as("mpos"))
      .select(col("id"), col("mpos"),
        size(col("mpos")).cast("long").as("n_masked"),
        // a span starts wherever the masked-position sequence jumps
        size(filter(col("mpos"), (p, i) =>
          (i === 0) || (p =!= element_at(col("mpos"), i) + 1)))
          .cast("long").as("n_spans"))
    toksDf.join(perDoc, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        when(col("mpos").isNull, concat_ws(" ", col("toks")))
          .otherwise(concat_ws(" ",
            filter(col("toks"), (t, i) =>
              !array_contains(col("mpos"), i + 1))))
          .as("cleaned_text"))
      .orderBy(col("doc_id"))
  }
}
