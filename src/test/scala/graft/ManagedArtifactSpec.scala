package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, ArtifactGen, DedupIndex, TextIndex}

/** The shared managed lifecycle (operators.ArtifactGen.ManagedArtifact)
  * over all three artifact families.
  *
  * Crash states: each family's real append (addSegment, addBatch,
  * addVectors) runs on a copy of a managed generation. Every state a
  * hard JVM kill could leave — a subset of the appended tables over the
  * original ones, or a table missing after a swap's delete — is then
  * laid over a fresh copy of the original, and the family's lockstep
  * check must reject it. One state per family also goes through
  * ensure(), which must rebuild it into a fresh generation, while an
  * intact generation resolves without a rebuild. */
class ManagedArtifactSpec extends SparkSpec {
  import spark.implicits._

  /** Copy the tree at `src` to `dst`, which must not exist. */
  private def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      Files.copy(p, dst.resolve(src.relativize(p).toString))
    } finally walk.close()
  }

  private def copyOf(dir: String): String = {
    val dst = Paths.get(Scratch.dir("crash-state"))
    Files.delete(dst)
    copyTree(Paths.get(dir), dst)
    dst.toString
  }

  /** Replace `onto`'s copies of `tables` with `from`'s. */
  private def overlay(from: String, onto: String, tables: Seq[String]): Unit =
    tables.foreach { t =>
      ArtifactGen.wipe(Paths.get(onto, t))
      copyTree(Paths.get(from, t), Paths.get(onto, t))
    }

  /** Every state a crash can leave on `a`: each of `appendStates` (a
    * subset of the tables the append wrote into `appended`) laid over a
    * copy of `a`, and each of `tables` missing from a copy of `a`. */
  private def crashStates(a: String, appended: String,
                          appendStates: Seq[Seq[String]],
                          tables: Seq[String]): Seq[(String, String)] =
    appendStates.map { s =>
      val torn = copyOf(a); overlay(appended, torn, s)
      (s"appended ${s.mkString("+")}", torn)
    } ++ tables.map { t =>
      val torn = copyOf(a); ArtifactGen.wipe(Paths.get(torn, t))
      (s"missing $t", torn)
    }

  test("text index: every addSegment crash state is torn; ensure rebuilds one") {
    val key = "crash-spec-text"
    TextIndex.evictMemo(key)
    ArtifactGen.wipe(TextIndex.rootFor(key))
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val a = TextIndex.ensure(docs, key)
    val appended = copyOf(a.dir)
    TextIndex.addSegment(TextIndex.Loaded(appended),
      Seq((3L, "gamma delta epsilon zeta")).toDF("doc_id", "text"))
    assert(TextIndex.lockstepValid(spark, TextIndex.Loaded(appended)))
    assert(TextIndex.lockstepValid(spark, a))

    // doclen appended, corpus not, each middle chain in or out
    val postingsChain = Seq("postings", "term_df")
    val shingleChain = Seq("shingles", "shingle_df")
    val appendStates = for {
      p <- Seq(Nil, postingsChain); sh <- Seq(Nil, shingleChain)
    } yield "doclen" +: (p ++ sh)
    val tables = Seq("postings", "term_df", "shingles", "shingle_df",
      "doclen", "corpus")
    crashStates(a.dir, appended, appendStates, tables).foreach {
      case (state, torn) =>
        assert(!TextIndex.lockstepValid(spark, TextIndex.Loaded(torn)), state)
    }

    // a hard kill after the doclen append but before the corpus swap,
    // on the managed generation: _DONE intact, stats stale
    overlay(appended, a.dir, Seq("doclen"))
    TextIndex.evictMemo(key)
    val b = TextIndex.ensure(docs, key)
    assert(b.dir != a.dir && b.dir.endsWith("gen-2"),
      s"a torn artifact must rebuild into a fresh generation: ${b.dir}")
    assert(b.corpus(spark).head().getDouble(0).toLong
      == b.doclen(spark).count())
    // an intact artifact keeps resolving without a rebuild
    TextIndex.evictMemo(key)
    assert(TextIndex.ensure(docs, key).dir == b.dir)
  }

  test("dedup index: every addBatch crash state is torn; ensure rebuilds one") {
    val key = "crash-spec-dedup"
    DedupIndex.evictMemo(key)
    ArtifactGen.wipe(DedupIndex.rootFor(key))
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"))
      .toDF("doc_id", "text")
    val a = DedupIndex.ensure(docs, key)
    val appended = copyOf(a.dir)
    val (_, added) = DedupIndex.addBatch(spark, DedupIndex.Loaded(appended),
      Seq((3L, "rivers and mountains under ancient stone bridges"))
        .toDF("doc_id", "text"))
    assert(added == 1L)
    assert(DedupIndex.lockstepValid(spark, DedupIndex.Loaded(appended)))
    assert(DedupIndex.lockstepValid(spark, a))

    // the appends are sequential: fingerprints, buckets, shingle_sets
    val appendStates = Seq(Seq("fingerprints"), Seq("fingerprints", "buckets"))
    val tables = Seq("fingerprints", "buckets", "shingle_sets")
    crashStates(a.dir, appended, appendStates, tables).foreach {
      case (state, torn) =>
        assert(!DedupIndex.lockstepValid(spark, DedupIndex.Loaded(torn)), state)
    }

    // a hard kill after the fingerprints append, on the managed
    // generation: the exact screen knows a doc the near side doesn't
    overlay(appended, a.dir, Seq("fingerprints"))
    DedupIndex.evictMemo(key)
    val b = DedupIndex.ensure(docs, key)
    assert(b.dir != a.dir && b.dir.endsWith("gen-2"),
      s"a torn artifact must rebuild into a fresh generation: ${b.dir}")
    assert(b.fingerprints(spark).count() == b.shingleSets(spark).count())
    DedupIndex.evictMemo(key)
    assert(DedupIndex.ensure(docs, key).dir == b.dir)
  }

  private lazy val vectors = Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("label"), col("embedding"))

  private def newVectors = vectors.limit(3)
    .select((col("vec_id") + 5000000L).as("vec_id"), col("label"),
      col("embedding"))

  test("ann index: every addVectors crash state is torn; ensure rebuilds one") {
    val key = "crash-spec-ann"
    AnnIndex.evictMemo(key)
    ArtifactGen.wipe(AnnIndex.rootFor(key))
    val a = AnnIndex.ensure(vectors, key)
    val appended = copyOf(a.dir)
    AnnIndex.addVectors(AnnIndex.load(spark, appended), newVectors)
    assert(AnnIndex.lockstepValid(spark, AnnIndex.load(spark, appended)))
    assert(AnnIndex.lockstepValid(spark, a))

    // the four appends run concurrently: any proper non-empty subset
    val tables = Seq("ivf", "pq_codes", "ivfpq_codes", "sq8")
    val appendStates = (1 until tables.size).flatMap(tables.combinations)
    assert(appendStates.size == 14)
    crashStates(a.dir, appended, appendStates, tables).foreach {
      case (state, torn) =>
        assert(!AnnIndex.lockstepValid(spark, a.copy(dir = torn)), state)
    }

    // a hard kill after the ivf append only, on the managed generation
    overlay(appended, a.dir, Seq("ivf"))
    AnnIndex.evictMemo(key)
    val b = AnnIndex.ensure(vectors, key)
    assert(b.dir != a.dir && b.dir.endsWith("gen-2"),
      s"a torn artifact must rebuild into a fresh generation: ${b.dir}")
    assert(b.ivf(spark).count() == b.sq8(spark).count())
    AnnIndex.evictMemo(key)
    assert(AnnIndex.ensure(vectors, key).dir == b.dir)
  }

  test("a stale handle's append never overwrites a newer generation's memo entry") {
    val key = "stale-handle-spec-ann"
    AnnIndex.evictMemo(key)
    ArtifactGen.wipe(AnnIndex.rootFor(key))
    val a = AnnIndex.ensure(vectors, key)
    AnnIndex.invalidate(a)
    val b = AnnIndex.ensure(vectors, key)
    assert(b.dir.endsWith("gen-2"), b.dir)
    // a streaming ingest still holding gen-1's handle appends through it
    val grown = AnnIndex.addVectors(a, newVectors)
    assert(grown.nRows == a.nRows + 3)
    assert(AnnIndex.ensure(vectors, key).dir == b.dir)
  }

  test("a swapIn whose write leaves no tmp fails loudly, invalidates, and ensure rebuilds") {
    val key = "swap-failure-spec-text"
    TextIndex.evictMemo(key)
    ArtifactGen.wipe(TextIndex.rootFor(key))
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val a = TextIndex.ensure(docs, key)
    val e = intercept[IllegalStateException] {
      TextIndex.swapIn(spark, a, "corpus")(_ => ())
    }
    assert(e.getMessage.contains("could not rename"), e.getMessage)
    assert(!Files.exists(Paths.get(a.dir, "_DONE")))
    // the memo was evicted too: the same JVM's next ensure() builds
    // a fresh generation instead of serving the torn handle
    val b = TextIndex.ensure(docs, key)
    assert(b.dir != a.dir && b.dir.endsWith("gen-2"), b.dir)
    assert(b.corpus(spark).head().getDouble(0) == 2.0)
  }
}
