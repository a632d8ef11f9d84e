package graft

import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, TextStats}

class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  test("langId picks the language with most function-word hits") {
    val df = Seq(
      (1L, "the cat is on the mat and it is happy"),
      (2L, "el gato que esta en la casa y los perros"),
      (3L, "zzz qqq xxx")).toDF("doc_id", "text")
    val r = df.select(col("doc_id"), TextStats.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(r(1L) == "en")
    assert(r(2L) == "es")
    assert(r(3L) == "und")
  }

  test("quality signals on degenerate inputs") {
    val df = Seq((1L, ""), (2L, "!!! ??? ..."), (3L, "the quick brown fox is here"))
      .toDF("doc_id", "text")
    val r = TextStats.quality(df).collect()
      .map(x => x.getLong(0) -> x.getAs[Double]("quality")).toMap
    assert(r(1L) == 0.3) // empty: only the no-punct term contributes
    assert(r(3L) > r(2L))
  }

  test("token counts: whitespace vs BPE-ish") {
    val df = Seq((1L, "hello world"), (2L, "a,b.c"), (3L, "")).toDF("doc_id", "text")
    val r = TextStats.tokenCounts(df).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L) == (2L, 2L))
    assert(r(2L) == (1L, 5L)) // a , b . c
    assert(r(3L) == (0L, 0L))
  }

  test("fertility report aggregates the per-doc token signals exactly") {
    val docs = Tables.documents(spark, sf)
    val counts = TextStats.tokenCounts(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(sum("ws_tokens").as("w"), sum("bpe_tokens").as("b"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val rep = TextStats.fertility(docs).collect()
    assert(rep.map(_.getString(0)).toSet == counts.keySet)
    rep.foreach { r =>
      val (w, b, n) = counts(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == w && r.getLong(3) == b,
        s"sums for ${r.getString(0)}")
      assert(r.getLong(4) == b * 1000000L / w, "fertility_e6")
    }
  }

  test("fingerprint is stable under whitespace/case noise") {
    val df = Seq((1L, "Hello  World Again Ok"), (2L, "hello world again ok"))
      .toDF("doc_id", "text")
    val r = TextStats.fingerprints(df).collect()
    assert(r(0).getString(1) == r(1).getString(1))
    assert(r(0).getString(2) == r(1).getString(2))
  }

  test("rolling-hash fingerprint: stable under prefix edits, null when short") {
    import graft.functions.expressions.rolling_min_hash
    val base = "the quick brown fox jumps over the lazy dog again and again ok"
    val df = Seq(
      (1L, base), (2L, base), (3L, "PREFIX EDIT " + base), (4L, "short"))
      .toDF("doc_id", "text")
    val r = df.select(col("doc_id"), rolling_min_hash(col("text"), 32).as("h"))
      .collect().map(x => x.getLong(0) ->
        (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
    assert(r(1L) == r(2L) && r(1L).isDefined)
    // the minimizing window survives a prefix edit (winnowing locality)
    assert(r(1L) == r(3L))
    assert(r(4L).isEmpty) // shorter than the window → null
  }

  test("multimodal: resize clamps to bounding box, preserves aspect") {
    val media = Multimodal.asMedia(Tables.documents(spark, sf).limit(50))
    val r = Multimodal.resize(Multimodal.extractFeatures(spark, media))
      .collect()
    r.foreach { row =>
      val (w, h, ow, oh) = (row.getInt(1), row.getInt(2),
        row.getInt(3), row.getInt(4))
      assert(ow <= 224 && oh <= 224 && ow >= 1 && oh >= 1)
      val s = math.min(math.min(224.0 / w, 224.0 / h), 1.0)
      assert(ow == math.max(math.floor(w * s).toInt, 1))
      assert(oh == math.max(math.floor(h * s).toInt, 1))
    }
  }

  test("multimodal: aHash is scale-invariant and catches rescaled dups") {
    val dec = new Multimodal.MediaDecoder
    def half(w: Int, h: Int, leftWhite: Boolean): Array[Byte] =
      Multimodal.halfImage(w, h, leftWhite) // the m6 fixture generator
    val h44 = dec.aHash("bmp", half(4, 4, leftWhite = true))
    val h88 = dec.aHash("bmp", half(8, 8, leftWhite = true))
    val h16 = dec.aHash("bmp", half(16, 16, leftWhite = true))
    assert(h44 == 0x3333L)
    assert(h88 == h44 && h16 == h44) // same picture, any resolution
    assert(dec.aHash("bmp", half(4, 4, leftWhite = false)) == 0xCCCCL)
    // flat image: no cell beats the mean — documented degenerate 0
    val flat = Multimodal.makeBmp(2, 2, Seq.fill(4)((9, 9, 9)))
    assert(dec.aHash("bmp", flat) == 0L)
    // orientation-normalized: the SAME vertically-asymmetric picture
    // encoded bottom-up vs top-down must hash identically, and must
    // differ from its vertical mirror (`bgr` rows are bottom-up, so
    // white rows i >= h/2 put the white band at the TOP of the image)
    def topWhite(topDown: Boolean): Array[Byte] =
      Multimodal.makeBmp(4, 4, (0 until 16).map(i =>
        if (i / 4 >= 2) (255, 255, 255) else (0, 0, 0)), topDown)
    def bottomWhite(topDown: Boolean): Array[Byte] =
      Multimodal.makeBmp(4, 4, (0 until 16).map(i =>
        if (i / 4 < 2) (255, 255, 255) else (0, 0, 0)), topDown)
    val tw = dec.aHash("bmp", topWhite(topDown = false))
    assert(tw == dec.aHash("bmp", topWhite(topDown = true)))
    val bw = dec.aHash("bmp", bottomWhite(topDown = false))
    assert(bw == dec.aHash("bmp", bottomWhite(topDown = true)))
    assert(tw != bw)
    // image-top rows map to grid rows 0-1 → low bits (top-left origin)
    assert(tw == 0x00FFL && bw == 0xFF00L)
    // end to end: the 8x8 copy resolves to the 4x4 original's group
    val out = Multimodal.phashDedup(spark, Multimodal.phashFixtures(spark))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(out(-12L) == (-12L, false)) // group canonical: min id = -12
    assert(out(-11L) == (-12L, true))  // the rescaled copy is the dup
    assert(out(-13L) == (-13L, false)) // inverted picture: own group
  }

  test("multimodal: BMP decode recovers dims and exact pixel statistics") {
    // round-trip through the batched extractor: planted 24-bit BMPs
    // with hand-computable stats (means/maxs per channel, aspect, bpp)
    val feats = Multimodal.extractFeatures(spark, Multimodal.bmpFixtures(spark))
      .collect().map(f => f.media_id -> f).toMap
    val red = feats(-1L) // 2x2 pure red (BGR = 0,0,255)
    assert(red.width == 2 && red.height == 2 && red.n_bytes == 70)
    assert(red.features.toSeq ==
      Seq(0.0f, 0.0f, 1.0f, 0.0f, 0.0f, 1.0f, 0.5f, 0.75f))
    val black = feats(-2L) // 3x1 all black (tests 4-byte row padding)
    assert(black.width == 3 && black.height == 1 && black.n_bytes == 66)
    assert(black.features.toSeq ==
      Seq(0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.75f, 0.75f))
  }

  test("multimodal: BMP decode handles mixed pixels and top-down rows") {
    val dec = new Multimodal.MediaDecoder
    // 2x2: black, white, blue, red -> channel sums B=510 G=255 R=510
    val mixed = Multimodal.makeBmp(2, 2,
      Seq((0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 0, 255)))
    val (w, h, f) = dec.decode("bmp", mixed)
    assert(w == 2 && h == 2)
    assert(f.toSeq == Seq(0.5f, 0.25f, 0.5f, 1.0f, 1.0f, 1.0f, 0.5f, 0.75f))
    // negative height (top-down row order) decodes identically
    val neg = mixed.clone()
    val hh = -2
    neg(22) = hh.toByte; neg(23) = (hh >> 8).toByte
    neg(24) = (hh >> 16).toByte; neg(25) = (hh >> 24).toByte
    val (_, h2, f2) = dec.decode("bmp", neg)
    assert(h2 == 2 && f2.toSeq == f.toSeq)
  }

  test("multimodal: corrupt BMP content degrades, never throws") {
    val dec = new Multimodal.MediaDecoder
    // shorter than a header
    val (w0, h0, f0) = dec.decode("bmp", Array[Byte](1, 2, 3))
    assert(w0 == 0 && h0 == 0 && f0.forall(_ == 0f))
    // valid header, truncated pixel payload: header dims, zero features
    val good = Multimodal.makeBmp(2, 2, Seq.fill(4)((9, 9, 9)))
    val truncated = good.take(58)
    val (w1, h1, f1) = dec.decode("bmp", truncated)
    assert(w1 == 2 && h1 == 2 && f1.forall(_ == 0f))
  }

  test("multimodal: stub feature extraction preserves rows and is deterministic") {
    val media = Multimodal.asMedia(Tables.documents(spark, sf))
    val f1 = Multimodal.extractFeatures(spark, media).collect()
      .sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(spark, media).collect()
      .sortBy(_.media_id)
    assert(f1.length == Tables.documents(spark, sf).count())
    assert(f1.map(_.features.toSeq).toSeq == f2.map(_.features.toSeq).toSeq)
    assert(f1.forall(r => r.features.length == 8 && r.width >= 1 && r.height >= 1))
  }

  test("sequence packing: distributed prefix-sum equals the naive window") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf)
    val naive = TextStats.tokenCounts(docs)
      .select(col("doc_id"), col("ws_tokens").as("n_tokens"))
      .withColumn("start_offset",
        coalesce(sum(col("n_tokens")).over(
          Window.orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("chunk", expr("start_offset div 2048"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // bucket count must not change the answer (1 bucket == the naive
    // plan; 32 and 7 exercise uneven range splits)
    for (b <- Seq(1, 7, 32)) {
      val packed = TextStats.packChunks(docs, budget = 2048, buckets = b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      assert(packed.toSeq == naive.toSeq, s"buckets=$b")
    }
  }

  test("PII redaction scrubs emails, phones, IPs and nothing else") {
    val df = Seq(
      (1L, "mail alice.smith+x@sub.example.org today"),
      (2L, "call 555-123-4567 or 555 987 6543"),
      (3L, "host 10.0.255.7 and plain text"),
      (4L, "version 1.2 stays and so does a@b")).toDF("doc_id", "text")
    val r = df.select(col("doc_id"),
        TextStats.redactPii(col("text")).as("red"),
        TextStats.piiCount(col("text")).as("n"))
      .collect().map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r(1L) == ("mail <EMAIL> today", 1L))
    assert(r(2L) == ("call <PHONE> or <PHONE>", 2L))
    assert(r(3L) == ("host <IP> and plain text", 1L))
    // short version numbers and non-domain @ are NOT PII matches
    assert(r(4L) == ("version 1.2 stays and so does a@b", 0L))
    // overlapping PII: a phone-shaped local-part is consumed by the
    // email redaction — count must equal redactions (1), not patterns
    // matched against the original (2)
    val overlap = Seq((9L, "at 555-123-4567@example.com now"))
      .toDF("doc_id", "text")
      .select(TextStats.redactPii(col("text")).as("red"),
        TextStats.piiCount(col("text")).as("n")).collect().head
    assert(overlap.getString(0) == "at <EMAIL> now")
    assert(overlap.getLong(1) == 1L)
  }

  test("stratified samples are nested and rate-accurate") {
    val docs = Tables.documents(spark, sf)
    val low = TextStats.stratifiedSample(docs, Map("en" -> 30), defaultPct = 0)
      .select("doc_id").as[Long].collect().toSet
    val high = TextStats.stratifiedSample(docs, Map("en" -> 70), defaultPct = 0)
      .select("doc_id").as[Long].collect().toSet
    // hash-bucket sampling nests: every doc kept at 30% is kept at 70%
    assert(low.subsetOf(high))
    val nEn = docs.filter(col("lang") === "en").count().toDouble
    assert(math.abs(low.size / nEn - 0.30) < 0.15)
    assert(math.abs(high.size / nEn - 0.70) < 0.15)
    // defaultPct = 0 drops every unlisted stratum
    val langs = TextStats.stratifiedSample(docs, Map("en" -> 30), defaultPct = 0)
      .select("lang").distinct().as[String].collect().toSeq
    assert(langs == Seq("en"))
    // composition with the train/val split: the sample hash is salted,
    // so a 45% sample still contains BOTH splits (sharing splitBucket
    // would have starved 'val' to zero for any rate <= 90)
    val sampled = TextStats.stratifiedSample(docs, Map("en" -> 45),
      defaultPct = 0).select("doc_id")
    val splits = TextStats.hashSplit(docs, valPct = 10)
      .join(sampled, "doc_id")
      .select("split").distinct().as[String].collect().toSet
    assert(splits == Set("train", "val"))
  }

  test("text chunks: coverage, overlap and edge docs") {
    import spark.implicits._
    val fx = Seq(
      (1L, (1 to 100).map(i => s"w$i").mkString(" ")), // 100 toks -> 2 chunks
      (2L, "short doc"),                               // 2 toks -> 1 chunk
      (3L, ""),                                        // empty -> no chunks
      (4L, (1 to 64).map(i => s"t$i").mkString(" "))   // exactly one window
    ).toDF("doc_id", "text")
    val out = TextStats.textChunks(fx, chunkTokens = 64, overlap = 16)
      .orderBy("doc_id", "chunk_idx").collect()
    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc(1L).length == 2 && !byDoc.contains(3L)
      && byDoc(2L).length == 1 && byDoc(4L).length == 1)
    // chunk 1 of doc 1 starts at token 49 (stride 48): 16-token overlap
    val c0 = byDoc(1L)(0).getAs[String]("chunk_text").split(" ")
    val c1 = byDoc(1L)(1).getAs[String]("chunk_text").split(" ")
    assert(c0.length == 64 && c1.length == 52)
    assert(c0.takeRight(16).sameElements(c1.take(16)))
    // every token appears in some chunk (coverage)
    assert((c0 ++ c1).distinct.length == 100)
    assert(byDoc(2L)(0).getAs[Long]("n_chunk_tokens") == 2L)
  }

  test("NFKC is idempotent over the corpus and identity on ASCII") {
    val docs = Tables.documents(spark, sf)
    val once = graft.functions.expressions.nfkc(col("text"))
    val twice = graft.functions.expressions.nfkc(once)
    assert(docs.filter(once =!= twice).count() == 0)
    // pure-ASCII text passes through untouched (the fast path)
    val ascii = docs.filter(col("text").rlike("^[\\x00-\\x7F]*$"))
    assert(ascii.filter(once =!= col("text")).count() == 0)
    assert(ascii.count() > 0)
  }

  test("BPE apply is lossless over the whole corpus") {
    // concatenating a pre-token's BPE pieces must reproduce the
    // pre-token exactly, for every document — the defining invariant
    // of merge-based tokenization (merges only ever join adjacent
    // symbols, never rewrite them)
    val docs = Tables.documents(spark, sf)
    val pre = regexp_extract_all(lower(col("text")),
      lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"), lit(0))
    val both = docs.select(
      concat_ws("", pre).as("orig"),
      concat_ws("", graft.functions.expressions.bpe_tokens(
        pre, TextStats.demoMerges)).as("reassembled"))
    assert(both.filter(col("orig") =!= col("reassembled")).count() == 0)
    // and merging strictly compresses where merges apply
    val n = TextStats.bpeTokens(docs).agg(sum("n_bpe")).head().getLong(0)
    val nChars = docs.select(concat_ws("", pre).as("p"))
      .agg(sum(length(col("p")))).head().getLong(0)
    assert(n < nChars)
  }

  test("BPE rank priority: lower-rank merge wins when pairs compete") {
    import spark.implicits._
    // in "the": "t h" (rank 0) must fire before "h e" (rank 14) —
    // greedy-by-rank, not left-to-right scanning
    val out = TextStats.bpeTokens(Seq((1L, "the he")).toDF("doc_id", "text"))
      .select(concat_ws("|", col("tokens"))).head().getString(0)
    assert(out == "the|he")
  }

  test("batched BPE: batch=1 equals the sequential trainer; rounds claim disjoint symbols") {
    val docs = Tables.documents(spark, sf).limit(200)
    val seqM = TextStats.bpeTrain(spark, docs, steps = 12).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    // batch=4: round 1's first pick is the sequential argmax; within a
    // round no two picks share a left/right/merged symbol (the
    // property that makes the one-pass application order-free); and
    // the job count collapses (fewer rounds than merges)
    val b4 = TextStats.bpeTrainBatched(spark, docs, steps = 12, batch = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4), r.getLong(5)))
    assert(b4.head._3 == seqM.head._2 && b4.head._4 == seqM.head._3,
      "round 1 must open with the sequential argmax")
    b4.groupBy(_._2).foreach { case (round, rows) =>
      val sets = rows.map(r => Set(r._3, r._4, r._5)).toSeq
      sets.combinations(2).foreach { pair =>
        assert((pair.head & pair.last).isEmpty,
          s"round $round picks must be disjoint: ${pair.head} vs ${pair.last}")
      }
    }
    assert(b4.map(_._2).distinct.length < seqM.length,
      "batching must collapse the round count")
  }

  test("heavy hitters: CMS never undercounts, overshoot bounded") {
    val out = TextStats.heavyHitters(Tables.documents(spark, sf),
      probes = Seq("the", "zzzneverseen"))
    val rows = out.collect()
    assert(rows.length == 2)
    assert(rows.forall(r => r.getAs[Boolean]("never_under")
      && r.getAs[Boolean]("overshoot_bounded")))
    // an absent probe has exact count 0 (and the sketch may only
    // overshoot within the bound, never invent a heavy hitter)
    val miss = rows.find(_.getAs[String]("token") == "zzzneverseen").get
    assert(miss.getAs[Long]("n_exact") == 0L)
  }

  test("source cap keeps at most N per domain, deterministically") {
    val docs = Tables.documents(spark, sf)
    val capped = TextStats.sourceCap(docs, cap = 3)
    val perSource = capped.groupBy("source").count()
      .select("count").as[Long].collect()
    assert(perSource.forall(_ <= 3))
    // a source with >= 3 docs is capped exactly at 3 (selection, not loss)
    val big = docs.groupBy("source").count().filter(col("count") >= 3).count()
    assert(perSource.count(_ == 3) == big)
    // hash-rank selection is layout-independent: same kept set after a
    // repartition (a crawl-order rank would depend on row order)
    val again = TextStats.sourceCap(docs.repartition(7), cap = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(again == capped.select("doc_id").as[Long].collect().toSet)
  }

  test("soft filter: ramp is monotone and keeps certainties") {
    val docs = Tables.documents(spark, sf)
    val wide = TextStats.softFilter(docs, lo = 0.4, hi = 0.9)
      .select("doc_id").as[Long].collect().toSet
    val narrow = TextStats.softFilter(docs, lo = 0.5, hi = 0.95)
      .select("doc_id").as[Long].collect().toSet
    // raising the ramp only removes docs (same coin, higher bar)
    assert(narrow.subsetOf(wide))
    // quality >= hi --> p = 1: kept with certainty, no coin involved
    val sure = docs.filter(TextStats.qualityScore(col("text")) >= 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(sure.subsetOf(wide))
    // quality <= lo --> p = 0: never kept
    val doomed = docs.filter(TextStats.qualityScore(col("text")) <= 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(doomed.intersect(wide).isEmpty)
  }

  test("shuffle batches: a permutation in full batches, seed-sensitive") {
    val docs = Tables.documents(spark, sf)
    val out = TextStats.shuffleBatches(docs, batchSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val n = docs.count()
    // positions are exactly 0..n-1 (a permutation, no gaps or dups)
    assert(out.map(_._2).sorted.toSeq == (0L until n).toSeq)
    // every batch is full except possibly the last
    val sizes = out.groupBy(_._3).map { case (b, xs) => b -> xs.length }
    val lastBatch = (n - 1) / 16
    sizes.foreach { case (b, sz) =>
      if (b < lastBatch) assert(sz == 16) else assert(sz <= 16)
    }
    // id order and shuffle order genuinely differ, and a new seed
    // produces a new permutation
    val byPos = out.sortBy(_._2).map(_._1).toSeq
    assert(byPos != byPos.sorted)
    val seed2 = TextStats.shuffleBatches(docs, batchSize = 16, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .sortBy(_._2).map(_._1).toSeq
    assert(seed2 != byPos)
  }

  test("unigram score ranks common prose above rare-token noise") {
    val docs = Seq(
      (1L, "the the the the"),     // all corpus-common
      (2L, "the zzz qqq vvv"),     // mostly corpus-unique
      (3L, "")).toDF("doc_id", "text")
    val r = TextStats.unigramScore(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getAs[Double]("mean_tf")))
      .toMap
    assert(r(1L) == (4L, 5.0))      // 'the' appears 5x corpus-wide
    assert(r(2L) == (4L, 2.0))      // (5+1+1+1)/4
    assert(r(2L)._2 < r(1L)._2)
    assert(!r.contains(3L))         // zero-token doc: no row
  }

  test("boilerplate ratio separates template text from fresh text") {
    // "alpha beta gamma" is the shared boilerplate shingle (df=3);
    // each doc's tail is unique
    val docs = Seq(
      (1L, "alpha beta gamma one two three"),
      (2L, "alpha beta gamma four five six"),
      (3L, "alpha beta gamma seven eight nine"),
      (4L, "totally fresh words with nothing shared")).toDF("doc_id", "text")
    val r = TextStats.boilerplate(docs, minDf = 3).collect()
      .map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    // 6 tokens → 4 shingles; only the leading one is corpus-common
    assert(r(1L) == (4L, 1L, 0.25))
    assert(r(2L) == (4L, 1L, 0.25))
    assert(r(3L) == (4L, 1L, 0.25))
    assert(r(4L)._2 == 0L && r(4L)._3 == 0.0)
  }

  test("mixture stats shares sum to 1 and count every doc") {
    val docs = Tables.documents(spark, sf)
    val rows = TextStats.mixtureStats(docs).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    val shareSum = rows.map(_.getAs[Double]("token_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-4)
  }

  test("dsir weights match an independent hashed-ratio replay") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "spark spark merge"),
      (2L, "en", "merge table"),
      (3L, "de", "der tisch tisch")).toDF("doc_id", "lang", "text")
    // independent replay: md5-bucket each token, add-one counts under
    // target (en) and raw, per-token (nt*10^6) floor-div nr, doc mean
    def bucket(t: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 6), 16) % 256
    }
    val toks = Seq(
      (1L, true, Seq("spark", "spark", "merge")),
      (2L, true, Seq("merge", "table")),
      (3L, false, Seq("der", "tisch", "tisch")))
    val all = toks.flatMap { case (_, en, ts) => ts.map(t => (bucket(t), en)) }
    val nt = all.groupBy(_._1).map { case (f, xs) =>
      f -> (xs.count(_._2) + 1L) }
    val nr = all.groupBy(_._1).map { case (f, xs) => f -> (xs.size + 1L) }
    val want = toks.map { case (id, _, ts) =>
      val cs = ts.map(t => nt(bucket(t)) * 1000000L / nr(bucket(t)))
      id -> ((ts.size.toLong, cs.sum / ts.size))
    }.toMap
    val got = TextStats.dsirWeights(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
    // the target-language doc outweighs the out-of-target doc
    assert(got(1L)._2 > got(3L)._2)
  }

  test("kappa: confusion cells and chance-corrected agreement, exact") {
    import spark.implicits._
    // langId predictions: d1, d2, d3 argmax 'en'; d4 argmax 'de'
    val docs = Seq(
      (1L, "en", "the and of to in"),   // TP
      (2L, "en", "the of is that"),     // TP
      (3L, "de", "the and with for"),   // FP (predicted en, truth de)
      (4L, "de", "der die das und")     // TN
    ).toDF("doc_id", "lang", "text")
    val r = TextStats.kappa(docs).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((4L, 2L, 1L, 0L, 1L)))
    // po = 3/4, pe = (3·2 + 1·2)/16 = 1/2, kappa = (1/4)/(1/2) = 1/2
    assert((r.getLong(5), r.getLong(6), r.getLong(7)) ==
      ((750000L, 500000L, 500000L)))
  }

  test("calibration: stopword-ratio bins with exact positive rates") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "the and of to in"), // ratio 1.0  → bin 10, positive
      (2L, "en", "the xyz"),          // ratio 0.5  → bin 5, positive
      (3L, "de", "xyz abc")           // ratio 0    → bin 0, negative
    ).toDF("doc_id", "lang", "text")
    val rows = TextStats.calibration(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows == Map(
      0L -> ((1L, 0L, 0L)),
      5L -> ((1L, 1L, 10000L)),
      10L -> ((1L, 1L, 10000L))))
  }

  test("bigram LM: stupid backoff against a hand-computed reference") {
    import spark.implicits._
    // reference slice (doc_id % 10 == 0): c1 = {a:3, b:3, c:1, x:1},
    // N = 8; c2 = {(a,b):3, (b,a):1, (b,c):1, (b,x):1}
    val docs = Seq(
      (0L, "a b a b c"), (10L, "a b x"),
      (1L, "a b c"),          // 10^6 + 333333 → mean 666666
      (2L, "q"),              // no bigram → (0, 0)
      (3L, "z z")             // unseen both sides → backoff c1(z)=0 → 0
    ).toDF("doc_id", "text")
    val got = TextStats.bigramScore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(0L) == ((4L, 666666L)))
    assert(got(10L) == ((2L, 666666L)))
    assert(got(1L) == ((2L, 666666L)))
    assert(got(2L) == ((0L, 0L)))
    assert(got(3L) == ((1L, 0L)))
  }
}
