package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Dedup operators on crafted near-duplicates — the pair-finding paths
  * (MinHash/LSH, SimHash, exact Jaccard) must all surface the planted
  * pair and nothing random. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  val base = "the quick brown fox jumps over the lazy dog and runs far away " +
    "into the deep green forest while the hunter sleeps near the river bank"
  // near-dup: one word changed
  val near = base.replace("green", "dark")
  // unrelated
  val other = "completely different content about database engines and " +
    "distributed query processing with columnar storage formats and shuffles"

  lazy val docs = Seq(
    (1L, base), (2L, near), (3L, other), (4L, "THE   Quick brown fox jumps over the lazy dog and runs far away into the deep green forest while the hunter sleeps near the river bank")
  ).toDF("doc_id", "text").cache()

  test("exact dedup groups case/whitespace-normalized duplicates") {
    val r = Dedup.exact(docs).collect()
    assert(r.length == 3) // doc 4 collapses into doc 1
    val dup = r.find(_.getAs[Long]("n_dups") == 2L)
    assert(dup.isDefined && dup.get.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH finds the planted near-dup pair") {
    val pairs = Dedup.minhashPairs(docs, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L))) // exact dup collides everywhere
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("simhash pairs: identical and near docs within hamming radius") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 12)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical after normalize → hamming 0
    assert(!pairs.contains((1L, 3L)))
  }

  test("exact jaccard pairs match hand-computed similarity") {
    val r = Dedup.jaccardPairs(docs, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(r.contains((1L, 2L)))
    assert(r((1L, 4L)) == 1.0) // identical shingle sets
    assert(!r.contains((1L, 3L)))
    // one changed word kills ≤ n=3 shingles either side
    assert(r((1L, 2L)) > 0.7 && r((1L, 2L)) < 1.0)
  }

  test("containment flags the quoted-subset pair that Jaccard misses") {
    // doc 6 is doc 5's opening quoted wholesale inside much longer
    // unrelated text: Jaccard is low (union dominated by the long
    // doc) but containment of 6 in 5... inverted: 6 short ⊂ 5 long
    val quote = "the quick brown fox jumps over the lazy dog and runs"
    val long = quote + " far beyond every known boundary of the " +
      "ancient map through winding valleys and forgotten mountain " +
      "passes toward distant coastal villages where sailors trade " +
      "stories of storms and strange lights over the northern water"
    val qd = Seq((5L, long), (6L, quote)).toDF("doc_id", "text")
    // the quote side is fully contained: every shingle of 6 appears
    // in 5 → containment_bp = 10000 for (contained=6, container=5)
    val c = Dedup.containmentPairs(qd, thresholdBp = 8000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(c.get((6L, 5L)).contains(10000L), c)
    // ...and ONLY that direction: the long doc is mostly NOT in the
    // quote, so (5, 6) stays under threshold — the asymmetry is the
    // point of the operator
    assert(!c.contains((5L, 6L)), c)
    // symmetric Jaccard misses the pair entirely at the d4 threshold
    val j = Dedup.jaccardPairs(qd, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!j.contains((5L, 6L)) && !j.contains((6L, 5L)), j)
  }

  test("simhash of disjoint token sets differs, near-dups are close") {
    val sigs = Dedup.simhashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(4L)) // identical after normalization
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) >
      java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)))
  }

  test("stop-shingle posting lists are capped inside the aggregate") {
    // 40 docs all sharing a stop-shingle prefix, plus one true dup pair
    // on distinct text — cap 10 must kill the stop bucket without
    // losing the real pair, and no materialized bucket may exceed cap+1
    val corpus = ((1 to 40).map(i =>
        (i.toLong, s"common stop shingle unique$i tail$i")) ++
      Seq((100L, "a very particular duplicate sentence body"),
          (101L, "a very particular duplicate sentence body")))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(corpus, threshold = 0.5, maxShingleFreq = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((100L, 101L)))
    // the capped aggregate itself: buffer length never exceeds cap+1
    val sizes = Dedup.withHashedShingleSet(corpus)
      .select(col("id"), lit(1).as("setsize"), explode(col("shingles")).as("sh"))
      .groupBy(col("sh"))
      .agg(graft.functions.aggregates
        .capped_collect_postings(col("id"), col("setsize"), 10).as("docs"))
      .select(size(col("docs"))).as[Int].collect()
    assert(sizes.max <= 11)
  }

  test("dup clusters close the pair graph transitively") {
    // pair graph: (1,2), (2,3) — 1 and 3 are NOT a pair, but belong to
    // one family; 4-5 a separate pair; 6 a singleton
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val clusters = Dedup.dupClusters(docs, pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 6L))
    val kept = Dedup.applyClusterDedup(docs, Dedup.dupClusters(docs, pairs))
      .as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 6L))
  }

  test("keep-best cluster dedup keeps the highest-quality member, ties to min id") {
    // same component structure as above; quality says doc 3 is the
    // best of {1,2,3}, docs 4 and 5 tie (min id 4 survives)
    val docs = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 7L), (5L, 7L),
      (6L, 1L)).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.applyClusterDedupBest(docs,
        Dedup.dupClusters(docs, pairs), col("quality"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L, 6L))
  }

  test("incremental dedup resolves arriving dups against the standing index") {
    val standing = Seq((2L, "the quick brown fox"), (4L, "something else"))
      .toDF("doc_id", "text")
    val arriving = Seq((5L, "The  QUICK brown fox"), // dup after normalize
                       (7L, "entirely new content")).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(arriving, Dedup.exact(standing))
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(2))).toSet
    assert(out == Set((5L, Some(2L), false), (7L, None, true)))
  }

  test("dup clusters refuse to return non-converged labels") {
    val docs = (1 to 6).map(_.toLong).toDF("doc_id")
    val pairs = (1 until 6).map(i => (i.toLong, i.toLong + 1))
      .toDF("id_a", "id_b") // a path of diameter 5
    val e = intercept[IllegalArgumentException] {
      Dedup.dupClusters(docs, pairs, maxRounds = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("dup clusters converge on a long chain within the round bound") {
    // a 12-node path has diameter 11 — min-label propagation still
    // converges (label floods one hop per round) and labels everything
    // with the chain head
    val n = 12
    val docs = (1 to n).map(_.toLong).toDF("doc_id")
    val pairs = (1 until n).map(i => (i.toLong, i.toLong + 1))
      .toDF("id_a", "id_b")
    val clusters = Dedup.dupClusters(docs, pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters.values.toSet == Set(1L))
  }

  test("incremental minhash screens a batch against the standing index") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val standing = Seq(
      (2L, base),
      (4L, "completely different standing content about spark plans")
    ).toDF("doc_id", "text")
    val arriving = Seq(
      (11L, base + " extra"), // near-dup of standing 2
      (13L, "entirely novel arrival with fresh words throughout")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalMinhash(arriving,
        Dedup.bandBuckets(standing), Dedup.withHashedShingleSet(standing),
        threshold = 0.5)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(2))).toSet
    assert(out == Set((11L, Some(2L), false), (13L, None, true)))
  }

  test("chunk dedup flags later copies of a repeated span only") {
    val span = (1 to 4).map(i => s"w$i").mkString(" ") // one 4-token chunk
    val docs = Seq(
      (1L, span + " unique tail one"),        // chunks: [span][unique...]
      (2L, span + " different tail here"),    // chunk 0 duplicates doc 1's
      (3L, "entirely fresh words only"),
      (4L, "")).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, chunkTokens = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(3))
      .toMap
    assert(out((1L, 0L)) == false) // first occurrence keeps
    assert(out((2L, 0L)) == true)  // later identical chunk is the dup
    assert(out((1L, 1L)) == false && out((2L, 1L)) == false)
    assert(out((3L, 0L)) == false)
    assert(!out.keys.exists(_._1 == 4L)) // empty doc yields no chunks
    // within-doc repeats dedup too: the second identical chunk in ONE
    // doc is flagged (idx order breaks the tie)
    val self = Seq((9L, span + " " + span)).toDF("doc_id", "text")
    val selfOut = Dedup.chunkDedup(self, chunkTokens = 4)
      .collect().map(r => (r.getLong(1), r.getBoolean(3))).toMap
    assert(selfOut == Map(0L -> false, 1L -> true))
  }

  test("substring dedup masks cross-doc repeated n-grams at any offset, everywhere") {
    // docs 1 and 2 share an 8-token boilerplate span at DIFFERENT
    // offsets (the case fixed-boundary chunk dedup misses); doc 3 is
    // clean; doc 4 repeats a span only WITHIN itself (distinct-doc df
    // stays 1 — not masked); doc 5 is shorter than n
    val boiler = "please subscribe to our newsletter for all future updates"
    val corpus = Seq(
      (1L, s"alpha bravo $boiler charlie delta"),
      (2L, s"echo $boiler foxtrot golf hotel india juliet"),
      (3L, "kilo lima mike november oscar papa quebec romeo sierra tango"),
      (4L, "one two three four five six seven eight nine " +
        "one two three four five six seven eight nine"),
      (5L, "whiskey xray yankee")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(corpus, n = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // the 9-token boilerplate is covered by two overlapping 8-grams →
    // all 9 positions masked in both docs, as ONE contiguous span
    assert(out(1L) == (13L, 9L, 1L, "alpha bravo charlie delta"))
    assert(out(2L) == (15L, 9L, 1L,
      "echo foxtrot golf hotel india juliet"))
    assert(out(3L)._2 == 0L && out(3L)._4.startsWith("kilo lima"))
    // within-doc repetition alone never masks (df counts DISTINCT docs)
    assert(out(4L)._2 == 0L, s"within-doc repeat must not mask: ${out(4L)}")
    // shorter than n: untouched, still present in the output
    assert(out(5L) == (3L, 0L, 0L, "whiskey xray yankee"))

    // two disjoint repeated regions → two spans
    val two = Seq(
      (1L, s"$boiler aaa bbb ccc ddd eee fff ggg hhh $boiler"),
      (2L, s"$boiler zzz yyy xxx www vvv uuu ttt sss $boiler")
    ).toDF("doc_id", "text")
    val t = Dedup.substringDedup(two, n = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(t == Map(1L -> 2L, 2L -> 2L), s"expected two spans each: $t")

    // conservation: the cleaned text holds exactly the unmasked tokens
    (Dedup.substringDedup(corpus, n = 8, minDocs = 2).collect() ++
      Dedup.substringDedup(two, n = 8, minDocs = 2).collect()).foreach { r =>
      val survivors =
        if (r.getString(4).isEmpty) 0L
        else r.getString(4).split(" ").length.toLong
      assert(survivors == r.getLong(1) - r.getLong(2),
        s"doc ${r.getLong(0)}: ${r.getLong(1)} tokens - ${r.getLong(2)} " +
          s"masked != $survivors surviving")
    }
  }

  test("split leakage: only boundary-crossing near-dup pairs survive") {
    import spark.implicits._
    // md5-bucket splits: ids 1, 2, 3 → train (<90); id 8 → val (93).
    val near = "alpha beta gamma delta epsilon zeta eta theta iota"
    val docs = Seq(
      (1L, near),                     // train — leaks against 8
      (8L, near + " kappa"),          // val twin of 1
      (2L, near + " lambda"),         // train near-dup of 1: SAME side
      (3L, "totally unrelated words about nothing shared at all")
    ).toDF("doc_id", "text")
    val got = Dedup.splitLeakage(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(3), r.getString(4)))).toMap
    // pair (1,2) is train-train → absent; (1,8) and (2,8) cross
    assert(got.keySet == Set((1L, 8L), (2L, 8L)), got.toString)
    assert(got((1L, 8L)) == (("train", "val")))
    assert(got((2L, 8L)) == (("train", "val")))

    // remediation: the leaked val doc (8) moves to train — the census
    // shows all four docs in train, exactly one moved in
    val fix = Dedup.splitLeakageFix(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fix == Map("train" -> ((4L, 1L))), fix.toString)
  }
}
