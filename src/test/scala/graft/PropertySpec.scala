package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.Analyzers
import graft.operators.Dedup

/** Property-based checks (SURVEY.md §5.4): evaluated in one Spark pass
  * over a batch of generated inputs (per-case Spark jobs would be
  * minutes of overhead). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples(g: Gen[String], n: Int = 200): Seq[String] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  val textGen: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)),
    Gen.oneOf("'", "’", "…", "<b>", "</b>", "HÉLLO", "Foxes'", "don't",
      "  ", "\t", "★", "123", "a'b'c", "''", "x"))).map(_.mkString(" "))

  lazy val texts = samples(textGen).toDF("v").cache()

  private def all(pred: org.apache.spark.sql.Column): Unit = {
    val bad = texts.filter(!coalesce(pred, lit(false))).collect()
    assert(bad.isEmpty, s"counterexamples: ${bad.take(3).mkString("; ")}")
  }

  test("tokenize: no empty tokens, no edge apostrophes, alnum-bounded") {
    all(forall(Analyzers.tokenize($"v"), t =>
      length(t) > 0 &&
      !t.startsWith("'") && !t.endsWith("'") &&
      !t.startsWith("’") && !t.endsWith("’")))
  }

  test("normalize is idempotent") {
    all(Dedup.normalize(Dedup.normalize($"v")) === Dedup.normalize($"v"))
  }

  test("lowercase and asciifold token filters are idempotent") {
    val toks = Analyzers.tokenize($"v")
    val low = Analyzers.lowercaseTokens(toks)
    all(Analyzers.lowercaseTokens(low) === low)
    val folded = Analyzers.asciiFoldTokens(toks)
    all(Analyzers.asciiFoldTokens(folded) === folded)
  }

  test("ngram grams obey length bounds and the count formula") {
    val toks = Analyzers.tokenize($"v")
    val grams = Analyzers.ngramTokens(toks, 1, 10)
    all(forall(grams, g => length(g) >= 1 && length(g) <= 10))
    // Σ over tokens of Σ_{n=1..min(10,L)} (L-n+1)
    val expected = aggregate(toks, lit(0),
      (acc, t) => acc + aggregate(
        sequence(lit(1), least(lit(10), length(t))),
        lit(0), (a, n) => a + (length(t) - n + 1)))
    all(size(grams) === expected)
  }

  test("shingle output = unigrams + (n-1) bigrams") {
    val toks = Analyzers.tokenize($"v")
    all(size(Analyzers.shingleTokens(toks)) ===
      size(toks) + greatest(size(toks) - 1, lit(0)))
  }

  test("stopword filter output is a subsequence with no stopwords") {
    val toks = Analyzers.lowercaseTokens(Analyzers.tokenize($"v"))
    val out = Analyzers.removeStopwords(toks)
    all(!exists(out, t => t.isin(Analyzers.englishStopwords: _*)))
    all(size(out) <= size(toks))
  }

  test("identical texts have identical simhash and jaccard 1") {
    val docs = samples(textGen, 50).zipWithIndex
      .filter(_._1.trim.nonEmpty)
      .flatMap { case (t, i) => // each text twice under different ids
        Seq((i.toLong * 2, t), (i.toLong * 2 + 1, t)) }
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sigs.keys.filter(_ % 2 == 0).foreach { k =>
      if (sigs.contains(k + 1)) assert(sigs(k) == sigs(k + 1))
    }
    val pairs = Dedup.jaccardPairs(docs, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    sigs.keys.filter(_ % 2 == 0).foreach { k =>
      if (sigs.contains(k + 1)) assert(pairs.contains((k, k + 1)))
    }
  }

  test("histogram percentiles equal the builtin on generated data") {
    // random keys, duplicate-heavy discrete values, random p grid —
    // the shapes that break rank arithmetic (ties across the
    // interpolation point, single-row groups, all-equal groups)
    val rows = samples(Gen.zip(
      Gen.oneOf("a", "b", "c", "d"),
      Gen.chooseNum(0, 9).map(_.toDouble)).map(t => s"${t._1},${t._2}"), 400)
      .map { s => val Array(k, v) = s.split(","); (k, v.toDouble) }
    val df = rows.toDF("k", "v")
    val ps = Seq("q05" -> 0.05, "q37" -> 0.37, "q50" -> 0.5,
      "q73" -> 0.73, "q99" -> 0.99)
    val got = graft.operators.Quantiles.exactPercentiles(df, "k", "v", ps)
      .orderBy(col("k")).collect()
    val want = df.groupBy(col("k"))
      .agg(expr("percentile(v, 0.05)").as("q05"),
        expr("percentile(v, 0.37)").as("q37"),
        expr("percentile(v, 0.5)").as("q50"),
        expr("percentile(v, 0.73)").as("q73"),
        expr("percentile(v, 0.99)").as("q99"))
      .orderBy(col("k")).collect()
    got.zip(want).foreach { case (g, w) =>
      ps.foreach { case (name, _) =>
        assert(math.abs(g.getAs[Double](name) - w.getAs[Double](name)) < 1e-9,
          s"key=${g.getString(0)} $name")
      }
    }
  }

  test("dup clustering equals driver-side union-find on random graphs") {
    // the distributed min-label propagation must agree with the
    // textbook sequential algorithm on arbitrary graph shapes —
    // ScalaCheck generates the edge sets, union-find is the reference
    val edgeGen = for {
      n <- Gen.choose(2, 30)
      m <- Gen.choose(0, 40)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(1, n); b <- Gen.choose(1, n)
      } yield (a, b))
    } yield (n, es.collect { case (a, b) if a != b =>
      (math.min(a, b).toLong, math.max(a, b).toLong) }.distinct)
    (0 until 12).foreach { i =>
      val (n, edges) = edgeGen(Gen.Parameters.default, Seed(i.toLong)).get
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (1 to n).map(v => v.toLong -> find(v).toLong).toMap
      val got = Dedup.dupClusters(
          (1 to n).map(_.toLong).toDF("doc_id"),
          edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"seed=$i n=$n edges=$edges")
    }
  }

  test("int8 quantization: codes in range, reconstruction within half-step") {
    // generated float vectors (mixed magnitudes, negatives, zeros) in
    // one Spark pass; the SQ8 bound must hold for every element
    val vecGen = for {
      d <- Gen.choose(1, 16)
      v <- Gen.listOfN(d, Gen.chooseNum(-1e4f, 1e4f))
    } yield v.toArray
    val vecs = (0 until 150).flatMap(i =>
      vecGen(Gen.Parameters.default, Seed(i.toLong)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.quantizeInt8(vecs)
    assert(out.filter(!col("ok")).isEmpty)
    assert(out.filter(
      exists(col("q"), c => c > 127 || c < -127)).isEmpty)
  }

  test("chunk dedup: chunks partition tokens; singleton corpus has no dups") {
    val docs = texts.filter(length(trim($"v")) > 0)
      .withColumn("doc_id", monotonically_increasing_id())
      .select($"doc_id", $"v".as("text")).cache()
    val chunks = Dedup.chunkDedup(docs, chunkTokens = 4)
    // chunk counts reconstruct ceil(tokens/4) per doc
    val got = chunks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // ceil(tokens/4): double division + int cast truncates = floor
    val want = docs.select($"doc_id",
      ((size(split(trim($"text"), "\\s+")) + 3) / 4).cast("int")
        .cast("long").as("w"))
    assert(got.join(want, "doc_id").filter($"n" =!= $"w").isEmpty)
    // a doc's FIRST chunk can only duplicate an earlier doc's chunk —
    // within the frame, every fp group has exactly one is_dup=false
    val groups = chunks.groupBy("fp")
      .agg(sum(when(!$"is_dup", 1).otherwise(0)).as("keepers"))
    assert(groups.filter($"keepers" =!= 1).isEmpty)
  }

  test("stratified sampling nests across every rate pair") {
    val docs = texts.withColumn("doc_id", monotonically_increasing_id())
      .withColumn("lang", lit("en")).cache()
    val rates = Seq(10, 35, 60, 90)
    val kept = rates.map { r =>
      r -> graft.operators.TextStats
        .stratifiedSample(docs, Map("en" -> r), defaultPct = 0)
        .select("doc_id").as[Long].collect().toSet
    }
    kept.sliding(2).foreach { case Seq((lo, a), (hi, b)) =>
      assert(a.subsetOf(b), s"$lo% sample not nested in $hi%")
    }
  }

  test("z-value interleave is a bijection on random coordinate pairs") {
    // de-interleaving the Morton code must recover both coordinates
    // exactly — the property that makes z-range scans sound (a lossy
    // interleave would assign rows to wrong curve segments silently)
    val pairs = (0 until 400).map { i =>
      val s = Seed(i.toLong)
      val (a, s2) = s.long; val (b, _) = s2.long
      ((a % 256 + 256) % 256, (b % 256 + 256) % 256)
    }.toDF("a", "b")
    val z = graft.operators.Prune.zvalue(col("a"), col("b"), bits = 8)
    val back = pairs.select(col("a"), col("b"), z.as("z")).collect()
    back.foreach { r =>
      val (a, b, zv) = (r.getLong(0), r.getLong(1), r.getLong(2))
      var (da, db) = (0L, 0L)
      (0 until 8).foreach { i =>
        da |= ((zv >> (2 * i + 1)) & 1L) << i
        db |= ((zv >> (2 * i)) & 1L) << i
      }
      assert(da == a && db == b, s"z=$zv decoded to ($da,$db) not ($a,$b)")
    }
    // and z is within the 2*bits range
    assert(back.forall(r => r.getLong(2) >= 0 && r.getLong(2) < (1L << 16)))
  }

  test("png codec: encode→decode is the identity on random images and filters") {
    // arbitrary dims, arbitrary pixels, arbitrary per-row filter types:
    // the decoder's unfilter arithmetic must invert the writer's
    // forward filter for every (pixel, filter) combination — driver-
    // side, no Spark pass needed (the operator under test is the codec)
    import graft.operators.Multimodal
    val dec = new Multimodal.MediaDecoder
    val caseGen = for {
      w <- Gen.choose(1, 12)
      h <- Gen.choose(1, 10)
      px <- Gen.listOfN(w * h, for {
        r <- Gen.choose(0, 255); g <- Gen.choose(0, 255)
        b <- Gen.choose(0, 255)
      } yield (r, g, b))
      fs <- Gen.listOfN(h, Gen.choose(0, 4))
    } yield (w, h, px, fs)
    (0 until 60).foreach { i =>
      val (w, h, px, fs) = caseGen(Gen.Parameters.default, Seed(i.toLong)).get
      val bytes = Multimodal.makePng(w, h, px, fs)
      val Some((dw, dh, rgb)) = dec.pngPixels(bytes)
      assert((dw, dh) == (w, h), s"seed=$i dims")
      val got = (0 until w * h).map(p =>
        (rgb(3 * p) & 0xFF, rgb(3 * p + 1) & 0xFF, rgb(3 * p + 2) & 0xFF))
      assert(got == px, s"seed=$i w=$w h=$h filters=$fs")
    }
  }

  test("wav codec: exact integer statistics on random PCM signals") {
    import graft.operators.Multimodal
    val dec = new Multimodal.MediaDecoder
    val caseGen = for {
      ch <- Gen.choose(1, 2)
      frames <- Gen.choose(1, 200)
      rate <- Gen.oneOf(8000, 16000, 44100)
      ss <- Gen.listOfN(frames * ch, Gen.choose(-32768, 32767))
    } yield (rate, ch, ss)
    (0 until 40).foreach { i =>
      val (rate, ch, ss) = caseGen(Gen.Parameters.default, Seed(i.toLong)).get
      val bytes = Multimodal.makeWav(rate, ch, ss)
      val (dr, dc, frames, peak, rms) = dec.decodeAudio("wav", bytes)
      assert((dr, dc) == (rate, ch))
      assert(frames == ss.length / ch)
      assert(peak == ss.map(s => math.abs(s.toLong)).max, s"seed=$i peak")
      val sumSq = ss.map(s => s.toLong * s).sum
      val mean = sumSq / ss.length
      val want = {
        var r = math.sqrt(mean.toDouble).toLong
        while (r > 0 && r * r > mean) r -= 1
        while ((r + 1) * (r + 1) <= mean) r += 1
        r
      }
      assert(rms == want, s"seed=$i rms")
    }
  }

  test("two-pass rank matches window semantics under ties") {
    import graft.operators.Rank
    import org.apache.spark.sql.expressions.Window
    // tie-HEAVY: 4 partitions × values drawn from only 7 distinct
    // doubles, so nearly every row is in a multi-row tie group and
    // many tie groups straddle the percentile_approx bucket
    // boundaries' neighborhoods. The two-pass operator must agree
    // with the single-partition window oracle exactly (min-rank pr,
    // peer-inclusive cume_dist).
    val rows = for {
      seed <- 0 until 2000
      part = seed % 4
      value = (seed * 2654435761L % 7).toDouble
    } yield (part, value, seed.toLong)
    val df = rows.toDF("p", "v", "id")
    val got = Rank.percentRank(df, partCols = Seq("p"),
        orderCols = Seq("v"), buckets = 8)
      .select($"p", $"v", $"id", $"pr", $"cume")
    val w = Window.partitionBy($"p").orderBy($"v")
    val want = df.select($"p", $"v", $"id",
      percent_rank().over(w).as("pr"), cume_dist().over(w).as("cume"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      got.except(want).limit(5).collect().mkString("; "))
  }

  test("two-pass rank degrades cleanly on an empty input") {
    import graft.operators.Rank
    val empty = Seq.empty[(Int, Double, Long)].toDF("p", "v", "id")
    // percentile_approx over zero rows returns NULL; the operator must
    // fall back to a single bucket and return an empty ranked frame
    // rather than NPE on the driver
    val out = Rank.percentRank(empty, Seq("p"), Seq("v"))
    assert(out.count() == 0L)
    assert(out.columns.toSet == Set("p", "v", "id", "pr", "cume"))
  }
}
