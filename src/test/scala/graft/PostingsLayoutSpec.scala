package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import graft.functions.Analyzers
import graft.operators.{ArtifactGen, Search, TextIndex}

/** The doc_id-bucketed postings layout (operators.TextIndex): a search
  * request is one Spark job with no exchange, and its answers equal the
  * scan paths' through every write path of the layout. Job counts come
  * from a listener ([[SparkSpec.jobsOf]]), never from wall time. */
class PostingsLayoutSpec extends SparkSpec {

  private lazy val ix: TextIndex.Loaded =
    TextIndex.build(Tables.documents(spark, sf), Scratch.dir("layout-ix"))

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  private def same(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq)
    val (as, bs) = (rows(a), rows(b))
    assert(as == bs, s"first diff: ${as.diff(bs).take(2)} vs ${bs.diff(as).take(2)}")
  }

  /** Phrase (and, with a prefix, phrase_prefix) evaluated over each
    * document's live token array: the scan twin of the index paths. */
  private def scanPhrase(docs: DataFrame, terms: Seq[String],
                         prefix: Option[String] = None): DataFrame = {
    val n = terms.size + prefix.size
    docs.select(col("doc_id"), Analyzers.tokenize(lower(col("text"))).as("t"))
      .select(col("doc_id"), size(filter(
        sequence(lit(0), greatest(size(col("t")) - n, lit(-1))),
        i => (terms.zipWithIndex.map { case (t, k) =>
            element_at(col("t"), i + k + 1) === t } ++
          prefix.map(p => coalesce(
            element_at(col("t"), i + terms.size + 1).startsWith(p), lit(false))))
          .reduce(_ && _))).cast("long").as("phrase_freq"))
      .filter(col("phrase_freq") > 0)
      .orderBy(col("doc_id"))
  }

  private val exchanges = new AdaptiveSparkPlanHelper {
    def of(p: SparkPlan): Seq[SparkPlan] = collect(p) {
      case e: ShuffleExchangeExec => e
      case e: BroadcastExchangeExec => e
    }
  }

  test("a warm bm25, phrase or prefix request is one job with no exchange") {
    val requests: Seq[(String, () => DataFrame)] = Seq(
      "bm25, 1 term" -> (() => Search.searchBm25Indexed(spark, ix, Seq("spark"), k = 20)),
      "bm25, 3 terms" -> (() =>
        Search.searchBm25Indexed(spark, ix, Seq("table", "spark", "merge"), k = 20)),
      "phrase" -> (() => Search.phraseFromIndex(spark, ix, Seq("row", "column")).limit(20)),
      "prefix" -> (() =>
        Search.phrasePrefixFromIndex(spark, ix, Seq("row"), "col").limit(20)))
    requests.foreach { case (name, request) =>
      assert(request().collect().nonEmpty, name)
      val df = request()
      val jobs = jobsOf { df.collect(); () }
      assert(jobs.size == 1, s"$name: $jobs")
      val plan = df.queryExecution.executedPlan
      assert(exchanges.of(plan).isEmpty, s"$name:\n$plan")
    }
  }

  test("answers equal the scan twins after build, append, purge and compaction") {
    val docs = Tables.documents(spark, sf)
    val held = TextIndex.build(docs.filter(col("doc_id") % 3 =!= 0),
      Scratch.dir("layout-held"))
    val n = held.buckets
    assert(n == spark.conf.get("spark.sql.shuffle.partitions").toInt)
    def check(stage: String, live: DataFrame): Unit = {
      val dir = Scratch.dir("layout-live")
      live.write.parquet(s"$dir/documents.parquet")
      val liveDocs = Tables.documents(spark, dir)
      Seq(Seq("spark"), Seq("table", "spark", "merge")).foreach { terms =>
        same(Search.searchBm25Indexed(spark, held, terms, k = 20),
          Search.searchBm25(spark, dir, terms, k = 20))
      }
      same(Search.phraseFromIndex(spark, held, Seq("row", "column", "sort")),
        scanPhrase(liveDocs, Seq("row", "column", "sort")))
      same(Search.phrasePrefixFromIndex(spark, held, Seq("row"), "col"),
        scanPhrase(liveDocs, Seq("row"), Some("col")))
      // every postings file is a bucket file of the generation's N
      val files = Files.list(Paths.get(held.dir, "postings"))
      val names = try {
        import scala.jdk.CollectionConverters._
        files.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toList
      } finally files.close()
      assert(names.nonEmpty, stage)
      names.foreach { f =>
        val id = BucketingUtils.getBucketId(f)
        assert(id.exists(b => b >= 0 && b < n), s"$stage: $f")
      }
      assert(TextIndex.Loaded(held.dir).buckets == n, stage)
    }
    check("build", docs.filter(col("doc_id") % 3 =!= 0))
    TextIndex.addSegment(held, docs.filter(col("doc_id") % 3 === 0))
    check("addSegment", docs)
    val victims = docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"))
    assert(TextIndex.deleteByQuery(spark, held, victims) > 0)
    TextIndex.purgeDeletes(spark, held)
    val live = docs.filter(col("doc_id") % 5 =!= 0)
    check("purgeDeletes", live)
    TextIndex.compactPostings(spark, held)
    check("compactPostings", live)
  }

  test("a prefix matching a fixed term and a repeated-term phrase equal the scan twin") {
    val s: SparkSession = spark
    import s.implicits._
    val docs = Seq(
      1L -> "spark spark table", 2L -> "table spark spark spark",
      3L -> "spark sparkle spark", 4L -> "sparkle spark spark table",
      5L -> "spark table spark", 6L -> "spar spar spark").toDF("doc_id", "text")
    val small = TextIndex.build(docs, Scratch.dir("layout-small"))
    val cases: Seq[(Seq[String], Option[String])] = Seq(
      (Seq("spark"), Some("spark")), (Seq("spark"), Some("spar")),
      (Seq("spar"), Some("spar")), (Seq("spark", "spark"), None),
      (Seq("spark", "spark", "spark"), None), (Seq("spark", "spark"), Some("sp")))
    cases.foreach { case (terms, prefix) =>
      val got = prefix match {
        case Some(p) => Search.phrasePrefixFromIndex(spark, small, terms, p)
        case None => Search.phraseFromIndex(spark, small, terms)
      }
      val want = scanPhrase(docs, terms, prefix)
      assert(rows(want).nonEmpty, s"$terms $prefix")
      same(got, want)
    }
  }

  test("with only a v5 generation present, ensure builds a v6 one") {
    val key = s"layout-v5-${System.nanoTime()}"
    val v6Root = TextIndex.rootFor(key)
    val v5Root = v6Root.getParent.getParent.resolve("v5").resolve(key)
    try {
      val gen = ArtifactGen.claimNextGen(v5Root)
      Files.createDirectories(gen.resolve("postings"))
      ArtifactGen.markDone(gen.toString)
      ArtifactGen.publish(v5Root, gen)
      assert(ArtifactGen.currentDir(v5Root).nonEmpty)
      val docs = Tables.documents(spark, sf)
      val got = TextIndex.ensure(docs, key)
      assert(Paths.get(got.dir).startsWith(v6Root), got.dir)
      assert(v6Root.toString.contains("/v6/"), v6Root)
      assert(got.buckets == spark.conf.get("spark.sql.shuffle.partitions").toInt)
      same(Search.searchBm25Indexed(spark, got, Seq("table", "spark"), k = 20),
        Search.searchBm25(spark, sf, Seq("table", "spark"), k = 20))
    } finally {
      TextIndex.evictMemo(key)
      ArtifactGen.wipe(v5Root)
      ArtifactGen.wipe(v6Root)
    }
  }
}
