package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Analyzers

/** Text-analysis operators for training-data curation (brief §extensions):
  * language ID, quality scoring, token counting, document
  * fingerprinting. All are single-pass projections over the corpus —
  * no shuffle at all — so they scale linearly with input size.
  */
object TextStats {

  /** Tiny per-language function-word lists for the n-gram/stopword-hit
    * language heuristic. Deliberately small: the operator's shape (score
    * per language, argmax) is what matters; swap lists freely. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "a"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un", "por", "una"),
    "fr" -> Seq("le", "la", "les", "de", "et", "des", "un", "une", "du", "est"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "den", "mit", "ein", "zu"))

  /** X1 language ID: count function-word hits per candidate language,
    * take the argmax (ties → lexicographically later language,
    * deterministic); no hits → "und". The per-language counting is ONE
    * fused codegen'd token pass (`expressions.LangHits`) instead of a
    * CodegenFallback `filter` walk per language; the 4-element argmax
    * stays declarative. */
  def langId(text: Column): Column = {
    val langs = langMarkers.keys.toSeq.sorted
    val hits = graft.functions.expressions.lang_hits(
      Analyzers.tokenize(lower(text)))
    val scored = array(langs.zipWithIndex.map { case (lang, i) =>
      struct(element_at(hits, i + 1).as("hits"), lit(lang).as("lang"))
    }: _*)
    val best = element_at(sort_array(scored, asc = false), 1)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** The composite quality score of [[quality]] as a standalone
    * row-local Column, so pipelines can fuse it into a scan-side
    * filter instead of joining the stats frame. */
  def qualityScore(text: Column): Column = {
    val st = graft.functions.expressions.token_stats(
      Analyzers.tokenize(lower(text)))
    val nChars = length(text)
    val nToks = st.getField("n_tokens")
    val nPunct = length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))
    val punctRatio = when(nChars > 0, nPunct.cast("double") / nChars).otherwise(0.0)
    val stopRatio = when(nToks > 0,
      st.getField("n_stop").cast("double") / nToks).otherwise(0.0)
    round(
      least(nToks.cast("double") / 20.0, lit(1.0)) * 0.4 +
      (lit(1.0) - least(punctRatio * 5.0, lit(1.0))) * 0.3 +
      least(stopRatio * 4.0, lit(1.0)) * 0.3, 6)
  }

  /** X2 quality signals: length, token count, mean token length,
    * punctuation ratio, stopword ratio, and a composite [0,1] score —
    * the standard cheap heuristics a pretraining pipeline filters on. */
  def quality(docs: DataFrame): DataFrame = {
    val text = col("text")
    // one fused codegen'd token pass for (count, stop-count, Σ lengths)
    // instead of interpreted filter + aggregate walks
    val st = graft.functions.expressions.token_stats(
      Analyzers.tokenize(lower(text)))
    val nChars = length(text)
    val nToks = st.getField("n_tokens")
    val nPunct = length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))
    val nStop = st.getField("n_stop")
    val meanTokLen = when(nToks > 0,
      st.getField("sum_len").cast("double") / nToks)
      .otherwise(lit(0.0))
    val punctRatio = when(nChars > 0, nPunct.cast("double") / nChars).otherwise(0.0)
    val stopRatio = when(nToks > 0, nStop.cast("double") / nToks).otherwise(0.0)
    // composite: long enough, not punctuation soup, has some function
    // words (the formula lives in qualityScore so filters can fuse it)
    docs.select(col("doc_id"), nChars.as("n_chars"), nToks.as("n_tokens"),
      round(meanTokLen, 6).as("mean_token_len"),
      round(punctRatio, 6).as("punct_ratio"),
      round(stopRatio, 6).as("stopword_ratio"),
      qualityScore(text).as("quality"))
  }

  /** X3 token counting: whitespace tokens and a BPE-ish segmentation
    * (letter runs | digit runs | single other non-space chars) — the
    * usual pre-tokenizer shape (GPT-2-style regex, simplified). */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val text = col("text")
    val ws = size(split(trim(text), "\\s+"))
    // null-safe: size(regexp_extract_all(null)) is -1 under Spark's
    // default legacy.sizeOfNull — a null-text doc must count 0 tokens,
    // not subtract one from every downstream sum (round-13 review)
    val bpe = when(text.isNull, 0).otherwise(
      size(regexp_extract_all(text, lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"), lit(0))))
    docs.select(col("doc_id"),
      when(coalesce(length(trim(text)), lit(0)) === 0, 0).otherwise(ws).cast("long").as("ws_tokens"),
      bpe.cast("long").as("bpe_tokens"))
  }

  /** Tokenizer fertility report per language — the standard
    * tokenizer-eval diagnostic over a training mixture: fertility =
    * subword tokens per whitespace word, plus chars per token. A
    * high-fertility stratum over-pays its token budget (more compute
    * per byte of text) — the signal that drives per-language vocab
    * sizing and mixture reweighting. Reuses [[tokenCounts]]'s
    * row-local counting expressions, summed in ONE combiner-friendly
    * group shuffle to a dictionary-sized report; ratios as exact
    * integer micro-units so the report is engine-reproducible. */
  def fertility(docs: DataFrame): DataFrame = {
    val text = col("text")
    val ws = when(coalesce(length(trim(text)), lit(0)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+"))).cast("long")
    val bpe = when(text.isNull, 0).otherwise(
      size(regexp_extract_all(text,
        lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"), lit(0)))).cast("long")
    docs.select(col("lang"), col("n_chars"), ws.as("ws"), bpe.as("bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(col("ws")).as("ws_tokens"), sum(col("bpe")).as("bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"),
        col("bpe_tokens"),
        // greatest(…, 1): a stratum of only empty/whitespace docs has
        // 0 tokens — Spark's div would yield null where DuckDB's //
        // raises, so guard the divisor like bigramScore/kappa do
        expr("bpe_tokens * 1000000L div greatest(ws_tokens, 1L)").as("fertility_e6"),
        expr("sum_chars * 1000L div greatest(bpe_tokens, 1L)").as("chars_per_tok_e3"))
  }

  /** X9: intra-document repetition signal (the Gopher/MassiveText
    * "fraction of duplicate n-grams" quality rule): 1 − distinct/total
    * word-[[Dedup.ShingleWidth]]-grams (the `_3grams` columns).
    * Repetitive boilerplate and degenerate generations score high and
    * get filtered before training. Pure projection — the
    * distinct-shingle count reuses the dedup machinery, the total is
    * just `n_tokens − (width − 1)`. */
  def repetition(docs: DataFrame): DataFrame = {
    val toksCol = Analyzers.tokenize(Dedup.normalize(col("text")))
    val n = Dedup.ShingleWidth
    docs
      .select(col("doc_id"), toksCol.as("toks"))
      .select(col("doc_id"),
        greatest(size(col("toks")) - (n - 1), lit(0)).cast("long")
          .as("total_3grams"),
        when(size(col("toks")) >= n,
          size(graft.functions.expressions.shingle_hashes(col("toks"))))
          .otherwise(lit(0)).cast("long").as("distinct_3grams"))
      .withColumn("dup_ratio",
        when(col("total_3grams") > 0,
          round(lit(1.0) - col("distinct_3grams").cast("double") /
            col("total_3grams"), 6))
          .otherwise(lit(0.0)))
  }

  /** The [[hashSplit]] bucket as a standalone row-local Column (fusable
    * into a scan-side filter). */
  def splitBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long") % 100

  /** X8: deterministic train/val split — hash the id, never
    * `sample()`. Sampling depends on partitioning, seed plumbing and
    * engine version; a content-hash bucket is reproducible across
    * cluster sizes, re-runs and engines (the oracle replays it in
    * SQL), and the assignment is stable under corpus growth: a
    * document keeps its split forever, so eval sets never silently
    * leak into training after an append. Pure projection — no shuffle. */
  def hashSplit(docs: DataFrame, valPct: Int = 10): DataFrame = {
    val bucket = splitBucket(col("doc_id"))
    docs.select(col("doc_id"), bucket.as("bucket"),
      when(bucket < lit(100 - valPct), "train").otherwise("val").as("split"))
  }

  /** X7: GPT-style sequence packing (concat-and-chunk). Documents are
    * concatenated in id order into one global token stream, which is
    * cut every `budget` tokens into training sequences; each document
    * records its global `start_offset` and the `chunk` its first token
    * lands in — the standard pretraining packing layout.
    *
    * Scale design: a global running sum is order-dependent, and the
    * naive plan (one window over everything) serializes the corpus
    * through a single partition — the classic W1 total-order trap.
    * Distributed prefix-sum instead:
    *   1. contiguous range-buckets over the id domain (bounds from a
    *      1-row broadcast aggregate);
    *   2. within-bucket running sums via a window partitioned BY
    *      BUCKET — fully parallel;
    *   3. exclusive prefix over the B-row bucket-totals frame (the
    *      only serial step — B rows, not N);
    *   4. broadcast the offsets back and add.
    * Same shape as `repartitionByRange` + per-partition offsets, kept
    * declarative. The oracle is the plain single-window SQL. */
  def packChunks(docs: DataFrame, budget: Long,
                 buckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the (id, n_tokens) projection feeds THREE consumers (bounds agg,
    // per-bucket windows, bucket totals); materialize it once so the
    // upstream corpus scan — possibly a whole filter pipeline — runs
    // once, not three times. Two longs per doc: tiny at any scale.
    val counts = tokenCounts(docs)
      .select(col("doc_id"), col("ws_tokens").as("n_tokens"))
      .localCheckpoint()
    val bounds = counts.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val bucketed = counts.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        // integral `div`, not `/`: long / long is double division in
        // the Column DSL (same hazard as the Tables.events nanos fix)
        least(lit(buckets - 1),
          expr(s"((doc_id - lo) * $buckets) div (hi - lo + 1)"))
          .cast("int"))
      .drop("lo", "hi")
    val withCum = bucketed.withColumn("cum_in_bucket",
      sum(col("n_tokens")).over(
        Window.partitionBy("bucket").orderBy("doc_id")))
    val offsets = bucketed.groupBy("bucket")
      .agg(sum("n_tokens").as("tot"))
      .withColumn("offset",
        coalesce(sum(col("tot")).over(
          Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket").as("off_bucket"), col("offset"))
    withCum.join(broadcast(offsets), col("bucket") === col("off_bucket"))
      .select(col("doc_id"), col("n_tokens"),
        (col("offset") + col("cum_in_bucket") - col("n_tokens"))
          .as("start_offset"))
      .withColumn("chunk", expr(s"start_offset div $budget"))
  }

  /** X4 document fingerprinting: full-text md5 of the normalized text
    * plus a content-defined partial fingerprint (min md5 over word
    * 3-gram shingles — stable under local edits, the winnowing idea). */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id"),
        md5(Dedup.normalize(col("text"))).as("md5_full"),
        graft.functions.Analyzers.tokenize(Dedup.normalize(col("text")))
          .as("toks"))
      .select(col("id"), col("md5_full"),
        Dedup.shingleSet(col("toks")).as("shingles"))
      .select(col("id").as("doc_id"), col("md5_full"),
        graft.functions.expressions.min_md5(col("shingles"))
          .as("min_shingle_md5"))

  /** PII patterns for [[redactPii]]. Kept to constructs with identical
    * semantics in java.util.regex and RE2 (no lookaround, no
    * backreferences) so the DuckDB oracle replays them verbatim. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b" -> "<PHONE>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>")

  /** X10: PII redaction — scrub emails, phone numbers, and IPv4
    * addresses before training, the standard compliance pass. Pure
    * row-local projection (scan-side at any scale); patterns chained
    * in declared order so earlier placeholders are never re-matched. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (acc, (pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  /** Number of redactions [[redactPii]] performs (the audit metric
    * logged next to a redaction run). Each pattern is counted against
    * the text AFTER the earlier patterns' replacements — the same fold
    * order as the redaction — so overlapping PII (a phone number
    * inside an email local-part) counts once, exactly as it is
    * scrubbed, instead of once per matching pattern. */
  def piiCount(text: Column): Column =
    piiPatterns.foldLeft((lit(0L), text)) {
      case ((cnt, t), (pat, repl)) =>
        (cnt + size(regexp_extract_all(t, lit(pat), lit(0))).cast("long"),
          regexp_replace(t, pat, repl))
    }._1

  /** X12: deterministic global shuffle + training-batch assignment.
    * Docs order by a seeded content hash (the training-order shuffle
    * every epoch needs) and each lands in a fixed-size batch. The
    * global rank is the W1 total-order trap at scale, so it's computed
    * as a distributed prefix-sum over the HASH-KEY space: the first
    * hash byte range-buckets rows (256 contiguous key ranges), ranks
    * are per-bucket windows (parallel), and the 256 bucket counts fold
    * into broadcast offsets — same machinery as [[packChunks]], keyed
    * by hash instead of id. Deterministic across cluster sizes,
    * re-runs, and engines; reshuffling is just a new seed. */
  def shuffleBatches(docs: DataFrame, batchSize: Int,
                     seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // two consumers (per-bucket ranking, bucket-count offsets) — the
    // three-column frame materializes once so the corpus scan and the
    // md5 run once, not twice (same reason packChunks checkpoints its
    // counts frame)
    val keyed = docs.select(col("doc_id"),
        md5(concat_ws(":", lit(seed), col("doc_id"))).as("skey"))
      .withColumn("bucket", conv(substring(col("skey"), 1, 2), 16, 10)
        .cast("int"))
      .localCheckpoint()
    val rn = row_number().over(
      Window.partitionBy("bucket").orderBy(col("skey"), col("doc_id")))
    val ranked = keyed.withColumn("rn", rn.cast("long"))
    val offsets = keyed.groupBy("bucket")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        coalesce(sum(col("cnt")).over(
          Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket").as("off_bucket"), col("offset"))
    ranked.join(broadcast(offsets), col("bucket") === col("off_bucket"))
      .select(col("doc_id"), col("skey"),
        (col("offset") + col("rn") - 1).as("pos"))
      .withColumn("batch_id", expr(s"pos div $batchSize"))
  }

  /** X15: unigram-frequency score — per document, the mean corpus
    * frequency of its tokens: text dominated by corpus-rare tokens
    * (OCR noise, codes, gibberish) scores low, function-word prose
    * scores high. This is the cheap stand-in for model-based quality
    * filtering (the CCNet/KenLM-perplexity shape: swap the corpus
    * unigram table for LM scores and the plan is unchanged — a
    * token-level frame joined to a broadcast-or-shuffled score table,
    * aggregated per doc). Docs with zero tokens produce no row, same
    * as a perplexity filter. Two shuffles: the vocabulary aggregate on
    * the token, reused by the score join; then the per-doc mean. */
  def unigramScore(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(Analyzers.tokenize(Dedup.normalize(col("text"))))
          .as("tok"))
      .localCheckpoint() // feeds the vocab agg AND the score join
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
    toks.join(vocab, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum("tf").as("sum_tf"))
      .withColumn("mean_tf",
        round(col("sum_tf").cast("double") / col("n_tokens"), 6))
  }

  /** X36: corpus VERSION DIFF — the report a crawl-refresh pipeline
    * ships when corpus v2 lands next to v1: per source, how many
    * documents were added, removed, changed (same id, different
    * content fingerprint) or untouched — the number that decides
    * whether downstream artifacts (indexes, dedup state, mixtures)
    * re-ingest a delta or rebuild. One full-outer join on the id with
    * md5 content fingerprints computed scan-side (row-local), then a
    * source-keyed conditional-sum aggregate — two scans, one join
    * shuffle, one combiner-friendly agg; never a text comparison
    * (fingerprints travel, texts don't). */
  def corpusDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id").as("id"), col("source").as("src_a"),
      md5(col("text")).as("fp_a"))
    val b = v2.select(col("doc_id").as("id"), col("source").as("src_b"),
      md5(col("text")).as("fp_b"))
    a.join(b, Seq("id"), "full_outer")
      .select(coalesce(col("src_a"), col("src_b")).as("source"),
        when(col("fp_a").isNull, "added")
          .when(col("fp_b").isNull, "removed")
          .when(col("fp_a") =!= col("fp_b"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
      .orderBy(col("source"))
  }

  /** X34: classifier calibration report (the reliability diagram in
    * table form) — the eval every model-based curation filter (x29)
    * needs before its threshold is trusted: bucket a score into
    * equal-width bins and report the observed positive rate per bin;
    * a calibrated score has pos_bp tracking the bin midpoint.
    * Score here: English-stopword ratio in basis points (row-local
    * exact integers — the x1-family language signal); ground truth:
    * `lang = 'en'`. One row-local projection + one combiner-friendly
    * shuffle to ≤ 11 bin rows; rates as exact basis points. */
  def calibration(docs: DataFrame): DataFrame = {
    val toks = Analyzers.tokenize(Dedup.normalize(col("text")))
    val stopArr = array(Analyzers.englishStopwords.map(lit): _*)
    docs.select(
        (col("lang") === "en").as("pos"),
        (size(filter(toks, t => array_contains(stopArr, t))) * 10000L)
          .cast("long").as("hits10k"),
        greatest(size(toks), lit(1)).cast("long").as("n"))
      .select(col("pos"), expr("hits10k div n div 1000L").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        expr("n_pos * 10000L div n_docs").as("pos_bp"))
      .orderBy(col("bin"))
  }

  /** X35: Cohen's kappa between a heuristic labeler and ground truth
    * — the agreement statistic that discounts chance, the standard
    * number for "is this cheap classifier good enough to filter 100 TB
    * with". Labeler A: [[langId]]'s marker-argmax prediction collapsed
    * to en/not-en; labeler B: the `lang` column. One row-local
    * projection, ONE aggregate to the 2×2 confusion matrix, kappa
    * from the four cells in exact ×10^6 integer micro-units:
    * po = agree/n, pe = a1·b1 + a0·b0 over the e6-scaled marginal
    * RATES, kappa = (po − pe)/(1 − pe) — each division one integer
    * div. pe is deliberately NOT the textbook (tp+fp)(tp+fn)/n² form:
    * that n²-sized product (×10^6) wraps int64 silently at ~3·10^6
    * rows on Spark while DuckDB raises — the worst kind of engine
    * divergence for a 100 TB corpus. Rescaling each marginal to a
    * ≤10^6 rate first bounds every product at 10^12, so the same
    * exact arithmetic holds to ~9·10^12 rows (marginal·10^6 vs
    * int64), at the cost of one extra floor per marginal. */
  def kappa(docs: DataFrame): DataFrame = {
    docs.select(
        (langId(col("text")) === "en").as("a"),
        (col("lang") === "en").as("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("tn"))
      .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        expr("(tp + tn) * 1000000L div n").as("po_e6"),
        expr("(tp + fp) * 1000000L div n").as("a1_e6"),
        expr("(tp + fn) * 1000000L div n").as("b1_e6"))
      .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        col("po_e6"),
        expr("(a1_e6 * b1_e6 + (1000000L - a1_e6) * (1000000L - b1_e6)) div 1000000L")
          .as("pe_e6"))
      .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        col("po_e6"), col("pe_e6"),
        // greatest(…, 1): pe = 1 only when both labelers are
        // constant (kappa undefined) — the guard returns 0/1 = 0
        // there instead of a null-vs-error engine divergence
        expr("(po_e6 - pe_e6) * 1000000L div greatest(1000000L - pe_e6, 1L)")
          .as("kappa_e6"))
  }

  /** X32: DSIR importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") — per-document
    * importance of a raw-corpus doc under a TARGET distribution
    * (here: the `lang = targetLang` slice), estimated over hashed
    * unigram features: bucket = md5(token) mod `buckets`, per-bucket
    * counts under target (n_t, add-one smoothed) and under the raw
    * corpus (n_r), and each token contributes the likelihood ratio
    * n_t/n_r in exact ×10^6 integer micro-units — the constant
    * T_total/R_total normalizer is dropped (it scales every document
    * identically, so top-k resampling is unchanged) which keeps every
    * intermediate a small exact integer (≤ 10^6 per token; no libm
    * log in either engine). High-weight docs read like the target and
    * get up-sampled into the training mixture.
    *
    * Scale shape: one tokenize+explode pass (localCheckpoint feeds
    * the bucket aggregate AND the scoring join without re-tokenizing),
    * a `buckets`-row combiner-friendly aggregate, a BROADCAST join of
    * that dictionary back onto the token stream (256 rows — never a
    * shuffle), and one per-doc aggregate. */
  def dsirWeights(docs: DataFrame, buckets: Int = 256,
                  targetLang: String = "en"): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"),
        explode(Analyzers.tokenize(Dedup.normalize(col("text")))).as("tok"))
      .withColumn("f",
        conv(substring(md5(col("tok")), 1, 6), 16, 10).cast("long")
          % buckets)
      .localCheckpoint()
    val stats = toks.groupBy(col("f")).agg(
        (sum(when(col("lang") === targetLang, 1L).otherwise(0L)) + 1L)
          .as("nt"),
        (count(lit(1)) + 1L).as("nr"))
    toks.join(broadcast(stats), "f")
      .withColumn("c_e6", expr("nt * 1000000L div nr"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("c_e6")).as("sum_e6"))
      .select(col("doc_id"), col("n_tokens"),
        expr("sum_e6 div n_tokens").as("dsir_e6"))
  }

  /** X33: bigram language-model quality score with Stupid Backoff
    * (Brants et al. 2007) — the CCNet-style "does this doc read like
    * the reference corpus" perplexity proxy. The LM trains on the
    * `doc_id % refMod == 0` reference slice: bigram counts c2(w1,w2),
    * unigram counts c1(w), total token count N. Every adjacent pair
    * in a document scores `c2/c1(w1)` when the bigram was seen, else
    * backs off to `0.4 · c1(w2)/N` — all in exact ×10^6 integer
    * micro-units (`c2·10^6 div c1`, `c1·400000 div N`; both engines
    * run the identical integer expressions, no float log). The
    * per-doc mean is the quality signal; degenerate and
    * out-of-domain text scores near zero.
    *
    * Scale shape: bigrams are built ROW-LOCAL (one transform over the
    * token array — no self-join, no window); the LM tables are
    * vocabulary-sized aggregates; scoring is three shuffle joins on
    * (w1,w2) / w1 / w2 — the LM-table join IS the classic distributed
    * KenLM-application shape, and none of the three sides is the raw
    * corpus. Zero-bigram docs (< 2 tokens) survive via the left join
    * back to the id projection. */
  def bigramScore(docs: DataFrame, refMod: Int = 10): DataFrame = {
    // one tokenization pass shared by the bigram stream, both LM
    // count tables, the N scalar and the id projection (five
    // consumers — without the checkpoint each re-tokenizes the
    // corpus; materializing tokens once is the x15 trade)
    val toks = docs.select(col("doc_id"),
      Analyzers.tokenize(Dedup.normalize(col("text"))).as("toks"))
      .localCheckpoint()
    val bigrams = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2)," +
          " i -> struct(toks[i] as w1, toks[i + 1] as w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val refToks = toks.filter(col("doc_id") % refMod === 0)
    val c1 = refToks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val c2 = bigrams.filter(col("doc_id") % refMod === 0)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val nRef = refToks.agg(
      coalesce(sum(size(col("toks"))), lit(0)).cast("long").as("n_ref"))
    val perDoc = bigrams
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1.select(col("w").as("w1"), col("c1").as("c1w1")),
        Seq("w1"), "left")
      .join(c1.select(col("w").as("w2"), col("c1").as("c1w2")),
        Seq("w2"), "left")
      .crossJoin(broadcast(nRef))
      .withColumn("s_e6",
        when(col("c2").isNotNull && col("c1w1").isNotNull,
          expr("c2 * 1000000L div c1w1"))
          .otherwise(
            expr("coalesce(c1w2, 0L) * 400000L div greatest(n_ref, 1L)")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nb"), sum(col("s_e6")).as("sum_e6"))
    toks.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        when(col("nb").isNull, 0L)
          .otherwise(expr("sum_e6 div nb")).as("lm_e6"))
      .orderBy(col("doc_id"))
  }

  /** X14: boilerplate signal — the fraction of a document's distinct
    * word-3-gram shingles that are corpus-common (document frequency ≥
    * `minDf`): navigation chrome, license headers, and template text
    * score high and get filtered or reweighted before training (the
    * RefinedWeb/CCNet repeated-span heuristic at shingle granularity).
    *
    * Scale shape: posting rows (doc, shingle) are built row-local, the
    * document-frequency aggregate shuffles on the shingle, and the
    * join back to postings REUSES that shingle partitioning (no third
    * exchange); the per-doc ratio is the only other shuffle. No
    * broadcast of the common-shingle set is assumed — at corpus scale
    * the df table is as big as the vocabulary. */
  def boilerplate(docs: DataFrame, minDf: Int = 3): DataFrame = {
    // postings carry 64-bit shingle HASHES (codegen'd ShingleHashes —
    // the d2/d9 fast path): the df shuffle and the join back move
    // 8-byte keys instead of shingle strings, and the string↔hash df
    // counts agree w.h.p. (same argument as the MinHash verify step).
    // The two-long frame materializes once (it feeds both the df
    // aggregate and the join probe); tokenization runs ONE scan.
    val posts = Dedup.withHashedShingleSet(docs)
      .select(col("id"), explode(col("shingles")).as("sh"))
      .localCheckpoint()
    // shingles are distinct within a doc, so count(*) IS the doc freq
    val dfc = posts.groupBy("sh").agg(count(lit(1)).as("df"))
    posts.join(dfc, "sh")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_common"))
      .withColumn("boilerplate_ratio",
        round(col("n_common").cast("double") / col("n_shingles"), 6))
  }

  /** X11: deterministic stratified sampling — per-stratum keep rates
    * for data-mixture construction (downsample over-represented
    * languages/domains, keep the rest). The keep decision is a
    * content-hash bucket, never `sample()`: stable across cluster
    * sizes, re-runs, engines, and corpus appends, and a doc kept at
    * 30% is also kept at any higher rate (nested samples — the
    * property mixture ablations rely on). The hash is PURPOSE-SALTED
    * ("sample:" prefix), NOT [[splitBucket]]: sharing the split's hash
    * would correlate the two decisions — any rate ≤ 90 would keep only
    * train-bucket docs and silently starve the val split to zero when
    * the stages compose. Row-local filter, no shuffle; at 100 TB this
    * is a scan-side predicate. */
  def sampleBucket(id: Column): Column =
    conv(substring(md5(concat_ws(":", lit("sample"), id.cast("string"))),
      1, 8), 16, 10).cast("long") % 100

  def stratifiedSample(docs: DataFrame, ratesPct: Map[String, Int],
                       defaultPct: Int = 100): DataFrame = {
    val rate = ratesPct.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (stratum, pct)) =>
        when(col("lang") === stratum, lit(pct)).otherwise(acc)
    }
    docs.filter(sampleBucket(col("doc_id")) < rate)
      .select(col("doc_id"), col("lang"))
  }

  /** X22: overlapping token-window chunking — the RAG/embedding prep
    * shape (split every document into ≤`chunkTokens`-token windows that
    * overlap by `overlap`, so no sentence is stranded at a boundary).
    * Row-local: tokenize once, explode a chunk-index sequence, slice
    * the carried token array per chunk — the corpus shuffles nothing
    * and chunk counts are exact integer math (`div`, not fp ceil — the
    * long/long Column `/` is double division). Empty docs chunk to
    * nothing; any other doc gets at least one chunk. */
  def textChunks(docs: DataFrame, chunkTokens: Int = 64,
                 overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      "textChunks: need 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    docs
      .select(col("doc_id"),
        Analyzers.tokenize(lower(col("text"))).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .withColumn("__n", size(col("__toks")).cast("long"))
      .withColumn("__nc", greatest(lit(1L),
        expr(s"(__n - $overlap + ${stride - 1}) div $stride")))
      .select(col("doc_id"), col("__toks"), col("__n"),
        explode(sequence(lit(0L), col("__nc") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ", slice(col("__toks"),
          (col("chunk_idx") * stride + 1).cast("int"),
          lit(chunkTokens))).as("chunk_text"),
        least(lit(chunkTokens.toLong),
          col("__n") - col("chunk_idx") * stride).as("n_chunk_tokens"))
  }

  /** A small demonstration merge table (rank = position): enough to
    * exercise multi-level merges (t+h → th, th+e → the) and rank
    * priority. A production run swaps in the 50k-entry table its
    * tokenizer trained — the operator and plan are unchanged. */
  val demoMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "n", "r" -> "e", "a" -> "t", "e" -> "n",
    "o" -> "f", "o" -> "r", "t" -> "o", "i" -> "s", "h" -> "e")

  /** X19: real BPE tokenization — apply a byte-pair merge table
    * (lowest-rank adjacent pair first, per pre-token) instead of the
    * regex approximation `tokenCounts` reports. One codegen'd
    * expression over the pre-token array ([[graft.functions
    * .expressions.BpeTokens]]); pure projection, no shuffle. BPE apply
    * is lossless: concatenating a pre-token's BPE pieces reproduces the
    * pre-token exactly (property-tested over the corpus in
    * TextStatsSpec; the merge semantics are golden-checked against an
    * independent reference implementation in the x19 oracle). */
  def bpeTokens(docs: DataFrame,
                merges: Seq[(String, String)] = demoMerges): DataFrame = {
    val pre = regexp_extract_all(lower(col("text")),
      lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"), lit(0))
    docs.select(col("doc_id"),
      graft.functions.expressions.bpe_tokens(pre, merges).as("tokens"))
      .withColumn("n_bpe", size(col("tokens")).cast("long"))
  }

  /** X18: heavy-hitter token counts via count–min sketch — vocabulary
    * frequency estimates WITHOUT a corpus-wide groupBy. The sketch is a
    * fixed ~100 KB 2-D counter array that merges associatively, so the
    * corpus shuffles nothing: one scan, partial sketches combine
    * map-side, only the finished sketch crosses the driver (the x5/HLL
    * discipline). Estimates are one-sided — never below the true count,
    * and over by at most eps·N with the configured confidence — and the
    * returned frame carries both contract columns verified against
    * exact per-probe counts, which an exact pipeline computes only for
    * the handful of probe tokens (a selective filter, not a full
    * vocabulary aggregation). Deterministic for a fixed seed. */
  def heavyHitters(docs: DataFrame, probes: Seq[String],
                   eps: Double = 0.001, seed: Int = 42): DataFrame = {
    val toks = docs.select(
      explode(Analyzers.tokenize(lower(col("text")))).as("token"))
    val row = toks.agg(
      expr(s"count_min_sketch(token, ${eps}d, 0.99d, $seed)").as("sk"),
      count(lit(1)).as("n")).head()
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("sk")))
    val nTotal = row.getAs[Long]("n")
    import docs.sparkSession.implicits._
    val est = probes.map(t => (t, cms.estimateCount(t))).toDF("token", "est")
    val exact = toks.filter(col("token").isin(probes: _*))
      .groupBy("token").agg(count(lit(1)).as("n_exact"))
    est.join(exact, Seq("token"), "left_outer")
      .na.fill(0L, Seq("n_exact"))
      .select(col("token"), col("n_exact"),
        (col("est") >= col("n_exact")).as("never_under"),
        (col("est") <= col("n_exact") + lit(math.ceil(eps * nTotal).toLong))
          .as("overshoot_bounded"))
  }

  /** X16: per-domain cap (domain balancing) — keep at most `cap`
    * documents per `source` value, the standard remedy for a handful
    * of over-crawled hosts dominating a web corpus (C4-style per-domain
    * page limits). Selection is deterministic: docs rank by a
    * purpose-salted content hash with the id as tie-break, so re-runs,
    * engines, and cluster sizes agree on the kept set and the choice
    * inside a domain is unbiased rather than first-N-in-crawl-order.
    *
    * Scale design: a rank-≤-cap filter directly above the window is
    * planned as `WindowGroupLimit` (SPARK-37099): every map task keeps
    * only its local top-`cap` rows per domain BEFORE the exchange, so
    * the shuffle carries at most cap·partitions rows per domain instead
    * of the whole corpus — an unbounded hot domain never reaches the
    * sort. Plan-locked in PlanSpec. The long cast happens AFTER the
    * filter: a projection between Filter and Window would hide the
    * rank-limit pattern from the optimizer. */
  def sourceCap(docs: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hash = md5(concat_ws(":", lit("cap"), col("doc_id").cast("string")))
    docs.select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(hash, col("doc_id"))))
      .filter(col("rk") <= cap)
      .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk"))
  }

  /** X17: soft quality filter (importance resampling) — keep each
    * document with probability ramping linearly from 0 at quality `lo`
    * to 1 at `hi`, instead of a hard threshold (the DCLM/FineWeb-shape
    * soft filter: borderline documents are downsampled, not
    * guillotined, which preserves diversity near the boundary). The
    * "coin flip" is a purpose-salted content hash against 10k buckets:
    * deterministic across re-runs/engines/cluster sizes, independent of
    * the split/sample salts, and monotone — raising the ramp only
    * removes documents, so nested ablations stay nested. `floor`, not a
    * bigint cast, on both engine sides: Spark's double→long cast
    * truncates while DuckDB's rounds (the w5 hazard). Row-local
    * scan-side predicate — no shuffle; at 100 TB this fuses into the
    * reading filter pipeline like x11. */
  def softFilter(docs: DataFrame, lo: Double = 0.4,
                 hi: Double = 0.9): DataFrame = {
    val q = qualityScore(col("text"))
    val p = least(greatest((q - lit(lo)) / lit(hi - lo), lit(0.0)), lit(1.0))
    val u = conv(substring(md5(concat_ws(":", lit("soft"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 10000
    docs.filter(u < floor(p * 10000).cast("long"))
      .select(col("doc_id"), q.as("quality"))
  }

  /** X13: data-mixture report — per-stratum document and token totals
    * plus each stratum's share of the corpus tokens, the numbers a
    * pretraining run's mixture weights are tuned against. One shuffle
    * (the groupBy); the grand total joins back as a broadcast 1-row
    * aggregate, never a global window. */
  def mixtureStats(docs: DataFrame): DataFrame = {
    val text = col("text")
    val ws = when(coalesce(length(trim(text)), lit(0)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+"))).cast("long")
    val per = docs.select(col("lang"), ws.as("toks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
    val total = per.agg(sum("n_tokens").as("total_tokens"))
    per.crossJoin(broadcast(total))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("total_tokens"), 6)
          .as("token_share"))
  }

  /** X26: distributed BPE merge LEARNING (x19 applies a trained table;
    * this trains one). Classic iteration: weighted adjacent-pair counts
    * over the word vocabulary, argmax pair, merge, repeat.
    *
    * Shape at scale: the corpus collapses ONCE into a (word, freq)
    * vocabulary (combiner-friendly groupBy — the only corpus-sized
    * shuffle); each of the K training steps then runs over the
    * vocabulary alone: explode to adjacent pairs, one combiner-friendly
    * pair-count shuffle, a few-row collect (the argmax — bounded driver
    * state, the k-means/PageRank discipline), and a literal-replace
    * projection. Lineage is truncated per step (`localCheckpoint`), so
    * the K-step loop never builds a K-deep plan.
    *
    * Merge application semantics (deliberately engine-portable): words
    * are space-joined symbol strings with sentinel spaces, and a merge
    * replaces non-overlapping ' l r ' occurrences left-to-right — the
    * exact scan `replace()` performs in BOTH engines, so the oracle
    * replays training verbatim (a run like "aaaa" merges once per
    * pass where reference BPE merges greedily twice; the pair COUNTS
    * stay exact under the declared semantics on both sides).
    * Tie-break: (count desc, left, right) — total order, no RNG.
    *
    * This is [[bpeTrainBatched]] with one merge per round, without its
    * `round` column and its supply-exhausted marker row (the only row
    * with an empty `left_sym`): an exhausted supply just ends the
    * table early. */
  def bpeTrain(spark: SparkSession, docs: DataFrame,
               steps: Int = 8): DataFrame =
    bpeTrainBatched(spark, docs, steps, batch = 1)
      .filter(col("left_sym") =!= "")
      .drop("round")

  /** Batched BPE merge learning — the driver-latency fix for
    * sequential BPE's one-Spark-job-per-merge loop. The r11 step probe
    * measured the per-step constant at ~30–60 ms (vocab-sized shuffle
    * + 1-row argmax + checkpoint), INDEPENDENT of corpus size — so a
    * production 32k-merge vocabulary costs ~half an hour of
    * sequential driver round-trips even on a trivial corpus. This
    * variant emits up to `batch` merges per round, dividing the job
    * count by ~batch: each round takes the pair-count ranking ONCE and
    * greedily keeps the top pairs that are pairwise SYMBOL-DISJOINT
    * (a pair is skipped when its left, right, or merged symbol was
    * already claimed this round) — disjoint replacements cannot
    * interact, so applying the whole round in one chained-replace
    * projection equals applying them sequentially in any order.
    *
    * The documented approximation (standard in scaled BPE trainers):
    * sequential BPE recounts after EVERY merge, so merge k's count
    * reflects merges 1..k−1 — a batched round ranks all its picks on
    * the same pre-round counts. `batch = 1` is sequential BPE
    * ([[bpeTrain]]): the top-1 pick always survives the
    * disjointness screen, so every round makes progress. Output adds
    * a `round` column so the batching is itself verifiable (within a
    * round, all claimed symbols distinct).
    *
    * SUPPLY EXHAUSTION is surfaced in the OUTPUT, not just wall-clock
    * (round-14 verdict task 6): the ×100 probe's vocabulary ran out of
    * adjacent pairs at 3,363 of 4,096 requested merges, and the only
    * evidence was the row count — a 32k-merge caller diffing
    * `emitted < requested` against the clock had to infer the ceiling.
    * When the pair supply exhausts before `steps` merges, the result
    * ends with one terminal marker row: (step = emitted + 1, round =
    * the exhausted round, left_sym = right_sym = '', merged =
    * 'supply_exhausted', pair_count = 0). A caller sees the ceiling in
    * the table; a fully-supplied run has no marker row. */
  def bpeTrainBatched(spark: SparkSession, docs: DataFrame,
                      steps: Int = 8, batch: Int = 16): DataFrame = {
    import spark.implicits._
    var vocab = docs
      .select(explode(Analyzers.tokenize(lower(col("text")))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(concat(lit(" "),
        array_join(split(col("w"), ""), " "), lit(" ")).as("rep"),
        col("freq"))
      .localCheckpoint()
    val learned = Seq.newBuilder[(Int, Int, String, String, String, Long)]
    var emitted = 0
    var round = 0
    var exhausted = false
    while (emitted < steps && !exhausted) {
      round += 1
      // over-fetch 4× the batch: conflicting pairs are screened
      // driver-side, and anything short re-ranks next round anyway
      val want = math.min(batch, steps - emitted)
      val top = vocab
        .select(split(trim(col("rep")), " ").as("syms"), col("freq"))
        .select(explode(expr(
          """zip_with(slice(syms, 1, size(syms) - 1),
                      slice(syms, 2, size(syms) - 1),
                      (l, r) -> struct(l AS l, r AS r))"""))
          .as("p"), col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(want * 4).collect()
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val picked = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        val it = top.iterator
        while (picked.size < want && it.hasNext) {
          val r = it.next()
          val (l, rr) = (r.getString(0), r.getString(1))
          if (!used(l) && !used(rr) && !used(l + rr)) {
            picked += ((l, rr, r.getLong(2)))
            used ++= Seq(l, rr, l + rr)
          }
        }
        picked.foreach { case (l, r, c) =>
          emitted += 1
          learned += ((emitted, round, l, r, l + r, c))
        }
        // one projection applies the whole round: disjoint patterns
        // cannot overlap, so the chained replaces commute
        val applied = picked.foldLeft(col("rep")) { case (c, (l, r, _)) =>
          regexp_replace(c,
            lit(java.util.regex.Pattern.quote(s" $l $r ")),
            lit(java.util.regex.Matcher.quoteReplacement(s" $l$r ")))
        }
        vocab = vocab.withColumn("rep", applied).localCheckpoint()
      }
    }
    // the terminal marker (scaladoc): supply ran out below the request
    if (exhausted && emitted < steps)
      learned += ((emitted + 1, round, "", "", "supply_exhausted", 0L))
    learned.result()
      .toDF("step", "round", "left_sym", "right_sym", "merged", "pair_count")
      .select(col("step").cast("long"), col("round").cast("long"),
        col("left_sym"), col("right_sym"), col("merged"), col("pair_count"))
      .orderBy(col("step"))
  }

  /** Gopher-style repetition/shape rules (Rae et al. 2021 §A1.1),
    * integer-exact: top-word and top-bigram fractions in basis points,
    * mean word length ×100, and the keep verdict under the given
    * bounds. Explode + two-level groupBy — NEVER a nested HOF count
    * over the computed token array (ProjectCollapse would inline the
    * tokenizer once per lambda element). Both aggregations shuffle on
    * doc_id only and are combiner-friendly; docs with < 2 tokens have
    * no bigram and drop out (inner join), mirroring the oracle. */
  def gopherRules(docs: DataFrame, minWords: Long = 20,
                  maxTopWordBp: Long = 1500,
                  minMeanLenX100: Long = 300,
                  maxMeanLenX100: Long = 480): DataFrame = {
    val t = Analyzers.tokenize(lower(col("text")))
    val base = docs.select(col("doc_id"), t.as("t"))
    val words = base.select(col("doc_id"), explode(col("t")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"), max(col("c")).as("top_w"),
        sum(col("c") * length(col("w"))).as("sum_len"))
    // both sides sliced to n-1: zip_with pads the shorter side with
    // null, and concat_ws silently drops it — a trailing unigram would
    // masquerade as a bigram
    val bigrams = base.select(col("doc_id"),
        explode(zip_with(
          slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
          slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b))).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bi"), max(col("c")).as("top_bi"))
    words.join(bigrams, "doc_id")
      .select(col("doc_id"), col("n_words"),
        expr("top_w * 10000 div n_words").as("top_word_bp"),
        expr("top_bi * 10000 div n_bi").as("top_bigram_bp"),
        expr("sum_len * 100 div n_words").as("mean_len_x100"))
      .withColumn("keep",
        col("n_words") >= minWords && col("top_word_bp") <= maxTopWordBp &&
          col("mean_len_x100").between(minMeanLenX100, maxMeanLenX100))
  }

  /** Cross-corpus n-gram novelty: the fraction (basis points) of a
    * doc's DISTINCT n-gram shingles whose global first occurrence
    * (min doc id) is this doc — the contamination/freshness signal a
    * curation pipeline tracks per source batch. Grams are built by
    * window leads after an explode (positions stay local to the doc
    * partition), then distinct → min-per-gram → join back on gram
    * (co-partitioned, no extra exchange) → per-doc counts. Every
    * stage is a key-local aggregation — no all-pairs anywhere. Docs
    * with fewer than n tokens have no gram and drop out. */
  def ngramNovelty(docs: DataFrame, n: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Analyzers.tokenize(lower(col("text")))
    val pos = docs.select(col("doc_id"), posexplode(t).as(Seq("p", "w")))
    val wn = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val leads = (1 until n).map(i => lead(col("w"), i).over(wn))
    val grams = pos.select(col("doc_id"),
        concat_ws(" ", col("w") +: leads: _*).as("gram"),
        leads.last.isNotNull.as("full"))
      .filter(col("full"))
      .select(col("doc_id"), col("gram")).distinct()
    // first-occurrence via a window min over the gram partition — ONE
    // shuffle on gram; the groupBy(gram)+join formulation would
    // re-exchange the full gram set a second time for the join
    val firstDoc = min(col("doc_id"))
      .over(Window.partitionBy(col("gram")))
    grams.withColumn("fd", firstDoc)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("novel"))
      .select(col("doc_id"), col("n_grams"), col("novel"),
        expr("novel * 10000 div n_grams").as("novelty_bp"))
  }
}
