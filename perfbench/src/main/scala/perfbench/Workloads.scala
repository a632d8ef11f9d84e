package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.Analyzers
import graft.operators.{Dedup, DedupIndex, Denorm, Search, Similarity, TextIndex}
import graft.sources.Sink

/** What every workload shares: the session, the seed, where the run may
  * write, and the tracer that wraps each call into the library. */
final case class Ctx(spark: SparkSession, seed: Long, sf: Double,
                     runDir: String, parts: Int, tracer: Tracer) {
  val inputs = new Inputs(seed)
  val inDir = s"$runDir/inputs"
}

/** One workload: a seeded input, a set-up the program pays before the
  * first request, and a closed-loop operation the client repeats. The
  * rationale for each is in `perfbench/README.md`. */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def t: Tracer = ctx.tracer

  /** Writes the seeded inputs (not part of the timed set-up). */
  def generate(): Unit

  /** The program's set-up into the fresh directory `dir`. Called
    * several times; the state of the last call serves the run. */
  def setup(dir: String): Unit

  /** One operation; returns the documents it committed, appended,
    * returned or audited. */
  def op(i: Int): Long

  /** Read requests the client sends after operation `i` (maintain and
    * ingest); workloads whose operations are reads return 0. */
  def readsPerOp: Int = 0
  def read(i: Int, j: Int): Unit = ()

  /** The kind of operation `i`; the result file reports each kind's
    * median latency. */
  def kind(i: Int): String = "op"

  /** True when every operation is itself a read request. */
  def opIsRead: Boolean

  /** Operations per block of the seeded mix. A warm-up or measuring
    * window ends on a block boundary, so every window holds the mix in
    * its exact proportions. */
  def blockOps: Int = 1

  /** Operations a measuring window holds at least, however long they
    * take: on a slow or contended host the window grows instead of
    * holding fewer (and earlier, slower) operations. */
  def minOps: Int

  /** Operations the warm-up runs before any window is measured. A count,
    * not a time: with a timed warm-up a slow host would stop warming up
    * earlier and measure operations the JIT had not finished with. */
  def warmupOps: Int

  /** Output checks, run after the timed section; one line per mismatch. */
  def check(): Seq[String]

  /** On-disk bytes per document the workload holds at the end. */
  def bytesPerDoc(): Double

  /** Extra per-layer figures a traced run computes after timing. */
  def tracedExtras(): Map[String, Double] = Map.empty

  protected def readDocs(): DataFrame =
    spark.read.parquet(s"${ctx.inDir}/documents.parquet")
}

object Workload {
  val names: Seq[String] = Seq("ingest", "search", "maintain", "dedup")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest" => new Ingest(ctx)
    case "search" => new SearchMix(ctx)
    case "maintain" => new Maintain(ctx)
    case "dedup" => new DedupAudit(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  /** Bytes of the data files under `path` (checksum files excluded). */
  def bytesUnder(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(f => java.nio.file.Files.isRegularFile(f) &&
            !f.getFileName.toString.startsWith("."))
          .map(f => java.nio.file.Files.size(f)).sum
      } finally s.close()
    }
  }

  /** A one-column (doc_id) frame of `ids`. */
  def ids(spark: SparkSession, ids: Seq[Long]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ids.map(Row(_)): _*),
      StructType(Seq(StructField("doc_id", LongType))))

  /** Comparable rendering of collected rows. */
  def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toString)
}

/** `ingest`: the reference's ETL and bulk-import loop. Each operation
  * fetches the next keyset chunk of the denormalized documents and
  * bulk-writes it into the store (3 shards), waits for the ack and
  * advances the key. After each commit the client reads one committed
  * document back by id. */
final class Ingest(ctx: Ctx) extends Workload(ctx) {
  val meanChunk: Int = math.max(20, math.round(ctx.sf * 20000).toInt)
  private var keys: Array[Long] = _
  private var storeRoot = ""
  private var gen = 0
  private var pos = 0
  /** (directory, generation, index of its first key, docs) per commit. */
  private val segments = mutable.ArrayBuffer.empty[(String, Int, Int, Int)]
  private var committed = 0L

  def opIsRead = false
  override def readsPerOp = 1
  def minOps = 10
  def warmupOps = 3

  def generate(): Unit = {
    ctx.inputs.writeStar(spark, ctx.inDir, ctx.sf, ctx.parts)
    keys = Tables.orders(spark, ctx.inDir).select("o_orderkey")
      .collect().map(_.getLong(0)).sorted
  }

  def setup(dir: String): Unit = {
    // table warm-up: one scan of each input the chunks read
    Seq("orders", "customer", "lineitem", "part", "supplier", "nation")
      .foreach(n => Tables(spark, ctx.inDir, n)
        .write.format("noop").mode("overwrite").save())
    Sink.keysetChunk(Denorm.docs(spark, ctx.inDir), "id", -1L, meanChunk)
      .queryExecution.executedPlan
    storeRoot = s"$dir/store"
    gen = 0; pos = 0; committed = 0L
    segments.clear()
  }

  /** Chunk sizes: uniform on [mean/2, 3·mean/2], drawn per operation. */
  private def chunkSize(i: Int): Int =
    meanChunk / 2 + ctx.inputs.rngFor(20, i.toLong).nextInt(meanChunk + 1)

  def op(i: Int): Long = {
    val size = chunkSize(i)
    val lastKey = if (pos == 0) -1L else keys(pos - 1)
    val docs = t.span("denorm.docs")(Denorm.docs(spark, ctx.inDir))
    val chunk = t.span("sink.keyset_chunk")(
      Sink.keysetChunk(docs, "id", lastKey, size))
    val seg = f"$storeRoot/gen-$gen/seg-$i%06d"
    val n = t.span("sink.bulk_write")(
      Sink.bulkWrite(spark, chunk, "id", seg, shards = 3)).toInt
    val expected = math.min(size, keys.length - pos)
    if (n != expected)
      throw new IllegalStateException(s"chunk $i acked $n docs, expected $expected")
    segments += ((seg, gen, pos, n))
    pos += n
    committed += n
    if (pos == keys.length) { gen += 1; pos = 0 }
    n.toLong
  }

  /** GET by id: one seeded document of the newest segment. */
  override def read(i: Int, j: Int): Unit = {
    val (seg, _, from, n) = segments.last
    val id = keys(from + ctx.inputs.rngFor(21, i.toLong).nextInt(n))
    val rows = t.span("store.get")(
      spark.read.parquet(seg).filter(col("id") === id).collect())
    if (rows.length != 1 || rows(0).getAs[Long]("id") != id)
      throw new IllegalStateException(
        s"read-back of id $id in $seg returned ${rows.length} rows")
  }

  def check(): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    def held(g: Int): Array[Long] = if (g < gen) keys else keys.take(pos)
    def generation(g: Int): DataFrame =
      spark.read.parquet(segments.filter(_._2 == g).map(_._1).toSeq: _*)
    segments.map(_._2).distinct.foreach { g =>
      val ids = generation(g).select("id")
        .collect().map(_.getLong(0)).sorted
      if (!ids.sameElements(held(g)))
        bad += s"store generation $g holds ${ids.length} ids, " +
          s"expected the first ${held(g).length} order keys exactly once"
    }
    if (segments.nonEmpty) {
      val g = segments.last._2
      val rng = ctx.inputs.rngFor(22, 0)
      val sample = Seq.fill(50)(held(g)(rng.nextInt(held(g).length)))
        .distinct.sorted
      val stored = generation(g)
        .filter(col("id").isin(sample: _*)).orderBy("id").collect()
      val fresh = Denorm.docsFiltered(spark, ctx.inDir, Workload.ids(spark, sample))
        .orderBy("id").collect()
      if (!stored.sameElements(fresh))
        bad += s"${sample.size} sampled stored docs differ from Denorm.docsFiltered"
    }
    bad.toSeq
  }

  def bytesPerDoc(): Double =
    Workload.bytesUnder(storeRoot).toDouble / math.max(1L, committed)
}

/** `search`: read-only serving over a nested document store and a text
  * index built in set-up. A fixed, shuffled mix of bm25, phrase,
  * prefix and nested-boolean requests; every request collects its
  * top-k to the client. */
final class SearchMix(ctx: Ctx) extends Workload(ctx) {
  import SearchMix._
  val K = 20
  /** Share of requests whose replies the checks compare, drawn by the
    * seed per request index, so every window is sampled. */
  val SampleRate = 0.1
  private var ix: TextIndex.Loaded = _
  private var storeDir = ""
  private var store: DataFrame = _
  private var dict: Array[String] = _
  private var docTokens: Array[Array[String]] = _
  /** Replies kept for the checks, by request index: the seeded sample,
    * and the last reply of each kind, which the last window holds. */
  private val sampled = mutable.LinkedHashMap.empty[Int, (Request, Seq[Row])]
  private val latest = mutable.LinkedHashMap.empty[String, Int]

  def opIsRead = true
  override def blockOps: Int = Mix.size
  def minOps: Int = 3 * Mix.size
  def warmupOps: Int = 3 * Mix.size

  def generate(): Unit = {
    ctx.inputs.writeStar(spark, ctx.inDir, ctx.sf, ctx.parts)
    val n = ctx.inputs.rows(ctx.sf, 5.0e4)
    val texts = (0L until n).map(id => id -> ctx.inputs.docText(id))
    ctx.inputs.docsFrame(spark, texts.map { case (i, s) =>
        ctx.inputs.docRow(i, s) }, ctx.parts)
      .write.mode("overwrite").parquet(s"${ctx.inDir}/documents.parquet")
    docTokens = texts.map(_._2.split(" ")).toArray
  }

  def setup(dir: String): Unit = {
    storeDir = s"$dir/store"
    val docs = t.span("denorm.docs")(Denorm.docs(spark, ctx.inDir))
    t.span("sink.bulk_write")(
      Sink.bulkWrite(spark, docs, "id", storeDir, shards = 3))
    ix = t.span("textindex.build")(
      TextIndex.build(readDocs(), s"$dir/textindex"))
    store = spark.read.parquet(storeDir)
    // the index dictionary, most frequent term first: bm25 requests
    // draw Zipf ranks from it
    dict = ix.termDf(spark).orderBy(col("df").desc, col("term"))
      .collect().map(_.getString(0))
  }

  /** Request `i` of the seeded mix: each block of ten holds four bm25,
    * two phrase, two prefix and two nested requests, shuffled. */
  def request(i: Int): Request = {
    val kinds = shuffled(Mix, ctx.inputs.rngFor(30, (i / Mix.size).toLong))
    val rng = ctx.inputs.rngFor(31, i.toLong)
    kinds(i % Mix.size) match {
      case "bm25" =>
        val terms = Seq.fill(1 + rng.nextInt(3))(
          dict(math.min(ctx.inputs.zipfRank(rng), dict.length - 1))).distinct
        Bm25(terms)
      case "phrase" =>
        val (toks, p) = position(rng, 2)
        Phrase(toks.slice(p, p + 2).toSeq)
      case "prefix" =>
        val (toks, p) = position(rng, 2)
        Prefix(Seq(toks(p)), toks(p + 1).take(2))
      case _ =>
        Nested(Inputs.nations(rng.nextInt(Inputs.nations.size))._1)
    }
  }

  /** A seeded document and a start position with `len` tokens after it. */
  private def position(rng: java.util.SplittableRandom,
                       len: Int): (Array[String], Int) = {
    val toks = docTokens(rng.nextInt(docTokens.length))
    (toks, rng.nextInt(toks.length - len + 1))
  }

  def run(r: Request): Array[Row] = r match {
    case Bm25(terms) => t.collect("search.bm25")(
      Search.searchBm25Indexed(spark, ix, terms, k = K))
    case Phrase(terms) => t.collect("search.phrase")(
      Search.phraseFromIndex(spark, ix, terms).limit(K))
    case Prefix(terms, pre) => t.collect("search.prefix")(
      Search.phrasePrefixFromIndex(spark, ix, terms, pre).limit(K))
    case Nested(domain) => t.collect("search.nested")(
      Search.scoredSearch(store, domain, k = 50))
  }

  override def kind(i: Int): String = request(i).kind

  def op(i: Int): Long = {
    val r = request(i)
    val rows = run(r)
    latest.get(r.kind).filterNot(isSampled).foreach(sampled -= _)
    latest(r.kind) = i
    sampled(i) = (r, rows.toSeq)
    rows.length.toLong
  }

  private def isSampled(i: Int): Boolean =
    ctx.inputs.rngFor(32, i.toLong).nextDouble() < SampleRate

  def check(): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    sampled.values.foreach { case (r, got) =>
      val want: Seq[String] = r match {
        case Bm25(terms) => Workload.canon(
          Search.searchBm25(spark, ctx.inDir, terms, k = K).collect().toSeq)
        case Phrase(terms) => scanPhrase(terms, None)
        case Prefix(terms, pre) => scanPhrase(terms, Some(pre))
        case Nested(domain) => Workload.canon(
          Search.scoredSearchRaw(spark, ctx.inDir, domain, k = 50)
            .collect().toSeq)
      }
      if (Workload.canon(got) != want)
        bad += s"$r: index path returned ${got.size} rows that differ " +
          s"from its scan twin's ${want.size}"
    }
    bad.toSeq
  }

  /** The phrase (and phrase-prefix) answer by scanning the analyzed
    * token stream of every document: (doc_id, count of start
    * positions), ordered by doc_id, first K. */
  private lazy val analyzed: Array[(Long, Array[String])] =
    readDocs().select(col("doc_id"),
        Analyzers.tokenize(lower(col("text"))).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toArray)
      .sortBy(_._1)

  private def scanPhrase(terms: Seq[String], prefix: Option[String]): Seq[String] = {
    val k = terms.size
    analyzed.iterator.flatMap { case (id, ts) =>
      val starts = (0 to ts.length - k - prefix.size).count { p =>
        terms.indices.forall(j => ts(p + j) == terms(j)) &&
          prefix.forall(pre => ts(p + k).startsWith(pre))
      }
      if (starts > 0) Some(Row(id, starts.toLong).toString) else None
    }.take(K).toSeq
  }

  def bytesPerDoc(): Double =
    (Workload.bytesUnder(storeDir) + Workload.bytesUnder(ix.dir)).toDouble /
      math.max(1L, store.count())
}

object SearchMix {
  val Mix: Seq[String] = Seq.fill(4)("bm25") ++ Seq.fill(2)("phrase") ++
    Seq.fill(2)("prefix") ++ Seq.fill(2)("nested")

  sealed trait Request { def kind: String }
  final case class Bm25(terms: Seq[String]) extends Request { def kind = "bm25" }
  final case class Phrase(terms: Seq[String]) extends Request { def kind = "phrase" }
  final case class Prefix(terms: Seq[String], prefix: String) extends Request {
    def kind = "prefix"
  }
  final case class Nested(domain: String) extends Request { def kind = "nested" }

  def shuffled[T: scala.reflect.ClassTag](xs: Seq[T], rng: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toArray
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = rng.nextInt(i + 1)
      val x = a(i); a(i) = a(j); a(j) = x
    }
    a.toSeq
  }
}

/** `maintain`: writes beside reads on the ES segment model. Set-up
  * indexes a seeded half of the documents (text index and standing
  * dedup index). Each operation screens an incoming batch of unseen
  * documents, with reworded near-copies of standing documents mixed in,
  * admits it under strict near-duplicate admission, and appends the
  * admitted documents as a text-index segment, then deletes a seeded
  * 1% of the live documents and lets the purge policy decide whether to
  * merge (tombstones stay under its 10% threshold for the length of a
  * run, so every operation does the same work; the merge itself runs
  * in the output check). Between operations the client sends two bm25
  * searches against the live index. */
final class Maintain(ctx: Ctx) extends Workload(ctx) {
  val nDocs: Long = ctx.inputs.rows(ctx.sf, 5.0e4)
  val batch: Int = math.max(4, (nDocs / 25).toInt)
  val rewrites: Int = math.max(1, batch / 10)
  val DeleteShare = 0.01
  val RewriteBase = 1000000000L

  private var standing: Seq[(Long, String)] = _
  private var unseen: Array[Long] = _
  private var cursor = 0
  private var tix: TextIndex.Loaded = _
  private var dix: DedupIndex.Loaded = _
  private var dir = ""
  private val live = mutable.LinkedHashMap.empty[Long, String]
  private val planted = mutable.ArrayBuffer.empty[Long]
  private val verdictErrors = mutable.ArrayBuffer.empty[String]
  private var rewriteSeq = 0L

  def opIsRead = false
  override def readsPerOp = 2
  def minOps = 2
  def warmupOps = 1

  def generate(): Unit = {
    val all = (0L until nDocs).map(id => id -> ctx.inputs.docText(id))
    val half = all.filter { case (id, _) => ctx.inputs.rngFor(40, id).nextBoolean() }
    standing = half
    ctx.inputs.docsFrame(spark, all.map { case (i, s) => ctx.inputs.docRow(i, s) },
        ctx.parts)
      .write.mode("overwrite").parquet(s"${ctx.inDir}/documents.parquet")
  }

  def setup(d: String): Unit = {
    val docs = readDocs().join(Workload.ids(spark, standing.map(_._1)),
      Seq("doc_id"), "left_semi")
    tix = t.span("textindex.build")(TextIndex.build(docs, s"$d/textindex"))
    dix = t.span("dedupindex.build")(DedupIndex.build(docs, s"$d/dedupindex"))
    dir = d
    live.clear(); live ++= standing
    val standingIds = standing.map(_._1).toSet
    unseen = (0L until nDocs).filterNot(standingIds).toArray
    cursor = 0
    planted.clear(); verdictErrors.clear(); rewriteSeq = 0L
  }

  /** The next unseen id: the other half of the table, then fresh ids. */
  private def nextUnseen(): Long = {
    cursor += 1
    if (cursor <= unseen.length) unseen(cursor - 1)
    else nDocs + (cursor - unseen.length - 1)
  }

  private def frame(rows: Seq[(Long, String)]): DataFrame =
    ctx.inputs.docsFrame(spark,
      rows.map { case (i, s) => ctx.inputs.docRow(i, s) }, ctx.parts)

  def op(i: Int): Long = {
    val rng = ctx.inputs.rngFor(41, i.toLong)
    val fresh = Seq.fill(batch)(nextUnseen()).map(id => id -> ctx.inputs.docText(id))
    val copies = Seq.fill(rewrites) {
      val (_, text) = standing(rng.nextInt(standing.size))
      rewriteSeq += 1
      (RewriteBase + rewriteSeq) -> ctx.inputs.edit(text, 0.9, rng)
    }
    val rows = SearchMix.shuffled(fresh ++ copies, rng)
    val batchDf = frame(rows)
    val verdicts = t.collect("dedupindex.screen_near")(
      DedupIndex.screenNear(spark, dix, batchDf, threshold = 0.5))
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val (nNew, nFps) = t.span("dedupindex.add_batch")(
      DedupIndex.addBatch(spark, dix, batchDf, nearThreshold = Some(0.5)))
    val admitted = rows.filter { case (id, _) => verdicts.getOrElse(id, false) }
    t.span("textindex.add_segment")(TextIndex.addSegment(tix, frame(admitted)))
    live ++= admitted
    planted ++= copies.map(_._1)
    copies.foreach { case (id, _) =>
      if (verdicts.getOrElse(id, true)) verdictErrors += s"rewrite $id screened as new" }
    if (nNew != admitted.size || nFps != admitted.size)
      verdictErrors += s"batch $i: addBatch admitted ($nNew, $nFps), " +
        s"screening admitted ${admitted.size}"
    val ids = live.keys.toArray
    val victims = Seq.fill(math.max(1, (ids.length * DeleteShare).toInt))(
      ids(rng.nextInt(ids.length))).distinct
    t.span("textindex.delete_by_query")(
      TextIndex.deleteByQuery(spark, tix, Workload.ids(spark, victims)))
    live --= victims
    t.span("textindex.maybe_purge")(TextIndex.maybePurge(spark, tix))
    admitted.size.toLong
  }

  override def read(i: Int, j: Int): Unit = {
    val rng = ctx.inputs.rngFor(42, i * 16L + j)
    val terms = Seq.fill(1 + rng.nextInt(2))(
      ctx.inputs.vocab(ctx.inputs.zipfRank(rng))).distinct
    t.collect("search.bm25")(Search.searchBm25Indexed(spark, tix, terms, k = 20))
  }

  def check(): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String] ++ verdictErrors
    val keepIds = dix.fingerprints(spark).select("keep_id").collect()
      .map(_.getLong(0)).toSet
    val leaked = planted.count(keepIds)
    if (leaked > 0) bad += s"$leaked planted rewrites were admitted to the dedup index"
    TextIndex.purgeDeletes(spark, tix)
    val ref = TextIndex.build(frame(live.toSeq), s"$dir/check-textindex")
    def stats(l: TextIndex.Loaded): Seq[Any] = {
      val c = l.corpus(spark).head()
      val d = l.termDf(spark).agg(count(lit(1)), sum(col("df"))).head()
      Seq(c.getAs[Double]("n"), c.getAs[Long]("sum_len"), d.getLong(0), d.getLong(1))
    }
    val (got, want) = (stats(tix), stats(ref))
    if (got != want)
      bad += s"maintained index stats (n, sum_len, terms, postings) $got " +
        s"!= fresh build over the live docs $want"
    val ids = tix.doclen(spark).select("doc_id").collect().map(_.getLong(0)).toSet
    if (ids != live.keySet) bad += s"maintained index holds ${ids.size} docs, expected ${live.size}"
    bad.toSeq
  }

  def bytesPerDoc(): Double =
    (Workload.bytesUnder(tix.dir) + Workload.bytesUnder(dix.dir)).toDouble /
      math.max(1, live.size)
}

/** `dedup`: the batch curation audit over documents with planted near
  * copies (above and below the 0.5 Jaccard threshold, and partial
  * copies) and embeddings with jittered copies. Set-up builds the
  * standing dedup index over the corpus. One operation is one audit:
  * MinHash pairs, their clusters, containment pairs and blocked cosine
  * pairs, then the near-duplicate screen of an incoming batch (fresh
  * documents and reworded copies of corpus documents) against the
  * standing index. */
final class DedupAudit(ctx: Ctx) extends Workload(ctx) {
  val nDocs: Long = ctx.inputs.rows(ctx.sf, 5.0e4)
  val nVecs: Long = ctx.inputs.rows(ctx.sf, 2.0e4)
  val CopyBase = 1000000000L
  val IncomingBase = 2000000000L
  val CosThreshold = 0.95

  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var incoming: DataFrame = _
  private var dix: DedupIndex.Loaded = _
  /** Incoming ids that are reworded corpus documents. */
  private val incomingCopies = mutable.HashSet.empty[Long]
  private val above = mutable.ArrayBuffer.empty[(Long, Long)]
  private val below = mutable.ArrayBuffer.empty[(Long, Long)]
  private val partial = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jittered = mutable.ArrayBuffer.empty[(Long, Long)]
  private var first: Seq[Seq[String]] = _
  private var firstPairs: Array[Row] = _
  private var firstClusters: Array[Row] = _
  private var firstContain: Array[Row] = _
  private var firstCos: Array[Row] = _
  private var firstScreen: Array[Row] = _
  private var mismatchedOps = 0
  private var total = 0L

  def opIsRead = true
  def minOps = 2
  def warmupOps = 2

  def generate(): Unit = {
    val rng = ctx.inputs.rngFor(50, 0)
    val base = (0L until nDocs).map(id => id -> ctx.inputs.docText(id))
    // each planted copy has its own source, a document of ≥ 45 words
    val sources = SearchMix.shuffled(
      base.filter(_._2.count(_ == ' ') >= 44), rng)
    val per = math.max(1, (nDocs * 0.03).toInt)
    var next = CopyBase
    def plant(src: (Long, String), text: String,
              into: mutable.ArrayBuffer[(Long, Long)]): (Long, String) = {
      next += 1; into += ((src._1, next)); next -> text
    }
    val copies =
      sources.take(per).map(s => plant(s, ctx.inputs.edit(s._2, 0.9, rng), above)) ++
      sources.slice(per, 2 * per).map(s => plant(s, ctx.inputs.edit(s._2, 0.25, rng), below)) ++
      sources.slice(2 * per, 2 * per + per / 2 + 1).map(s =>
        plant(s, ctx.inputs.prefixThird(s._2), partial))
    total = base.size + copies.size
    ctx.inputs.docsFrame(spark, (base ++ copies).map { case (i, s) =>
        ctx.inputs.docRow(i, s) }, ctx.parts)
      .write.mode("overwrite").parquet(s"${ctx.inDir}/documents.parquet")

    val vecs = (0L until nVecs).map(id => id -> ctx.inputs.vector(id))
    val dupOf = SearchMix.shuffled(vecs, rng).take(math.max(1, (nVecs * 0.05).toInt))
    val vcopies = dupOf.zipWithIndex.map { case ((id, v), k) =>
      val cid = CopyBase + k + 1
      jittered += ((id, cid))
      cid -> ctx.inputs.jitter(v, 0.02, rng)
    }
    ctx.inputs.embeddingsFrame(spark, vecs ++ vcopies, ctx.parts)
      .write.mode("overwrite").parquet(s"${ctx.inDir}/embeddings.parquet")

    // the incoming batch: one in five is a reworded corpus document
    val nIn = math.max(5, (nDocs / 20).toInt)
    val batch = (0 until nIn).map { k =>
      val id = IncomingBase + k
      if (k % 5 == 0) {
        incomingCopies += id
        id -> ctx.inputs.edit(base(rng.nextInt(base.size))._2, 0.9, rng)
      } else id -> ctx.inputs.docText(id)
    }
    ctx.inputs.docsFrame(spark, batch.map { case (i, s) =>
        ctx.inputs.docRow(i, s) }, ctx.parts)
      .write.mode("overwrite").parquet(s"${ctx.inDir}/incoming.parquet")
  }

  def setup(dir: String): Unit = {
    docs = readDocs()
    emb = spark.read.parquet(s"${ctx.inDir}/embeddings.parquet")
    incoming = spark.read.parquet(s"${ctx.inDir}/incoming.parquet")
    dix = t.span("dedupindex.build")(DedupIndex.build(docs, s"$dir/dedupindex"))
    first = null
  }

  def op(i: Int): Long = {
    val pairs = t.collect("dedup.minhash_pairs")(Dedup.minhashPairs(docs))
    val pairsDf = spark.createDataFrame(java.util.Arrays.asList(pairs: _*),
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType),
        StructField("jaccard", DoubleType))))
    val clusters = t.collect("dedup.dup_clusters")(Dedup.dupClusters(docs, pairsDf))
    val contain = t.collect("dedup.containment_pairs")(Dedup.containmentPairs(docs))
    val cos = t.collect("similarity.cosine_pairs_blocked")(
      Similarity.cosinePairsBlocked(emb, CosThreshold))
    val screen = t.collect("dedupindex.screen_near")(
      DedupIndex.screenNear(spark, dix, incoming, threshold = 0.5))
    val out = Seq(pairs, clusters, contain, cos, screen)
      .map(rs => Workload.canon(rs.toSeq).sorted)
    if (first == null) {
      first = out
      firstPairs = pairs; firstClusters = clusters
      firstContain = contain; firstCos = cos; firstScreen = screen
    } else if (out != first) mismatchedOps += 1
    total
  }

  def check(): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    if (mismatchedOps > 0) bad += s"$mismatchedOps audits differ from the first"
    val found = firstPairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val missed = above.count(p => !found.contains(p))
    if (missed > 0) bad += s"$missed of ${above.size} planted pairs above 0.5 not found"
    val false_ = (below ++ partial).count(found.contains)
    if (false_ > 0) bad += s"$false_ planted pairs below 0.5 reported"
    val exact = Dedup.jaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val notSub = found.count { case (p, j) =>
      exact.get(p).forall(e => math.abs(e - j) > 1e-6) }
    if (notSub > 0) bad += s"$notSub MinHash pairs are not exact Jaccard pairs"
    val cluster = firstClusters.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val split = above.count { case (a, b) => cluster.get(a) != cluster.get(b) }
    if (split > 0) bad += s"$split planted pairs fall in different clusters"
    val contained = firstContain.map(r => (r.getLong(1), r.getLong(0))).toSet
    val lost = partial.count(p => !contained.contains(p))
    if (lost > 0) bad += s"$lost of ${partial.size} partial copies not found contained"
    val brute = Similarity.cosinePairsBrute(emb, CosThreshold).collect()
    if (Workload.canon(brute.toSeq) != Workload.canon(firstCos.toSeq))
      bad += s"blocked cosine pairs (${firstCos.length}) != brute force (${brute.length})"
    val cosPairs = firstCos.map(r => (r.getLong(0), r.getLong(1))).toSet
    val cosMissed = jittered.count(p => !cosPairs.contains(p))
    if (cosMissed > 0) bad += s"$cosMissed jittered embedding copies not found"
    val verdicts = firstScreen.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val wrong = verdicts.count { case (id, isNew) => isNew == incomingCopies(id) }
    if (verdicts.size != incoming.count() || wrong > 0)
      bad += s"near screen: $wrong of ${verdicts.size} incoming verdicts wrong"
    bad.toSeq
  }

  /** Standing dedup index bytes per corpus document. */
  def bytesPerDoc(): Double = Workload.bytesUnder(dix.dir).toDouble / total

  /** Verified MinHash pairs per LSH candidate pair (distinct id pairs
    * sharing a band bucket). */
  override def tracedExtras(): Map[String, Double] = {
    val b = Dedup.bandBuckets(docs)
    val cand = b.as("a").join(b.as("b"), col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id")).distinct().count()
    Map("dedup.verified_per_candidate" ->
      firstPairs.length.toDouble / math.max(1L, cand))
  }
}
