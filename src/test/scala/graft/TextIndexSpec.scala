package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Search, TextIndex}

/** The text index as a persisted ingest artifact (operators.TextIndex):
  * the index-backed query paths must return BIT-IDENTICAL results to
  * the corpus-scan paths they replace — statistics and tf/len signals
  * round-trip exactly through the parquet artifact. */
class TextIndexSpec extends SparkSpec {

  private lazy val ix: TextIndex.Loaded = {
    val dir = java.nio.file.Files.createTempDirectory("textix").toString
    TextIndex.build(Tables.documents(spark, sf), dir)
  }

  /** Opens every table once, so the Loaded's schema memo is filled
    * before a mutation that must stay visible through it. */
  private def openAll(l: TextIndex.Loaded): Unit = {
    l.postings(spark); l.termDf(spark); l.shingles(spark)
    l.shingleDf(spark); l.doclen(spark); l.corpus(spark); ()
  }

  private def same(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq)
    val as = a.collect().map(_.toSeq).toSeq
    val bs = b.collect().map(_.toSeq).toSeq
    assert(as == bs, s"first diff: ${as.diff(bs).take(2)} vs ${bs.diff(as).take(2)}")
  }

  test("bm25/tfidf from the index equal the corpus-scan path exactly") {
    same(Search.bm25Indexed(spark, ix, "spark"),
      Search.bm25(spark, sf, "spark"))
    same(Search.tfidfIndexed(spark, ix, "spark"),
      Search.tfidf(spark, sf, "spark"))
    // a term missing from the dictionary degrades identically (df 0,
    // empty result), not an error
    same(Search.bm25Indexed(spark, ix, "zzz_not_a_term"),
      Search.bm25(spark, sf, "zzz_not_a_term"))
  }

  test("multi-term rankings from the index equal the scan path exactly") {
    val terms = Seq("table", "spark", "merge")
    same(Search.searchBm25Indexed(spark, ix, terms, k = 20),
      Search.searchBm25(spark, sf, terms, k = 20))
    same(Search.minShouldMatchIndexed(spark, ix, terms, minMatch = 2),
      Search.minShouldMatch(spark, sf, terms, minMatch = 2))
    same(Search.rescoreIndexed(spark, sf, ix, Seq("table", "scan"),
        "table scan"),
      Search.rescore(spark, sf, Seq("table", "scan"), "table scan"))
  }

  test("bucketed rankings from the index equal the scan path exactly") {
    same(Search.topHitsIndexed(spark, sf, ix, "spark", k = 2),
      Search.topHits(spark, sf, "spark", k = 2))
    same(Search.collapseIndexed(spark, sf, ix, "spark", k = 10),
      Search.collapse(spark, sf, "spark", k = 10))
    same(Search.significantTermsIndexed(spark, ix,
        Tables.documents(spark, sf)
          .select(col("doc_id").as("id"), col("lang").as("cat"))),
      Search.significantTerms(Tables.documents(spark, sf), "lang"))
  }

  test("match_bool_prefix: should semantics over full term + typed prefix") {
    val res = Search.matchBoolPrefix(spark, ix, Seq("merge"), "ba", k = 10)
      .collect()
    assert(res.length == 10)
    val toks = Tables.documents(spark, sf).select(col("doc_id"),
      graft.functions.Analyzers.tokenize(lower(col("text"))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    res.foreach { r =>
      val t = toks(r.getLong(0))
      val hasFull = t.contains("merge")
      val hasPre = t.exists(_.startsWith("ba"))
      assert(hasFull || hasPre, s"doc ${r.getLong(0)} matches no clause")
      // the prefix clause is constant-score: prefix-only docs score
      // exactly 1.0, both-clause docs strictly above it
      if (!hasFull) assert(r.getDouble(1) == 1.0)
      if (hasFull && hasPre) assert(r.getDouble(1) > 1.0)
    }
    val scores = res.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse, "ranked by score desc")
  }

  test("match_bool_prefix guards: empty prefix refused; Char.MaxValue last char falls back, no wrap") {
    intercept[IllegalArgumentException] {
      Search.matchBoolPrefix(spark, ix, Seq("merge"), "", k = 10)
    }
    // a last char of ￿ would make (last+1).toChar wrap the range
    // to empty/inverted; the fallback (>= prefix + startsWith residual)
    // must return exactly the full-term leg (no term starts with the
    // sentinel) rather than silently dropping the prefix clause or
    // matching everything
    val sentinel = "ba" + Char.MaxValue
    val res = Search.matchBoolPrefix(spark, ix, Seq("merge"), sentinel, k = 10)
      .collect()
    assert(res.nonEmpty, "full-term leg must survive an unmatched prefix")
    res.foreach(r => assert(r.getDouble(1) > 0.0 && r.getDouble(1) != 1.0,
      "no constant-score prefix-only rows for an unmatchable prefix"))
  }

  test("_termvectors equals an independent per-doc replay; unindexed docs get df 0") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val someId = docs.agg(min(col("doc_id"))).head().getLong(0)
    val got = Search.termVectors(spark, ix, docs, someId).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // tf + 0-based first position replayed from the one document
    val toks = docs.filter(col("doc_id") === someId)
      .select(graft.functions.Analyzers.tokenize(lower(col("text"))).as("t"))
      .head().getSeq[String](0)
    val exp = toks.zipWithIndex.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (t, occ) => (t, occ.size.toLong, occ.map(_._2).min.toLong)
    }
    assert(got.map(r => (r._1, r._2, r._3)).toSeq == exp)
    // df replayed as corpus-wide distinct membership
    val dfMap = docs.select(explode(array_distinct(
        graft.functions.Analyzers.tokenize(lower(col("text"))))).as("term"))
      .groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach(r => assert(r._4 == dfMap(r._1), s"df for ${r._1}"))
    // realtime path on a doc the index never saw: its novel terms
    // surface with df 0 (found=false), known terms keep corpus df
    val extra = Seq((999999L, "zzzuniq zzzuniq spark")).toDF("doc_id", "text")
    val tv2 = Search.termVectors(spark, ix, extra, 999999L).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(tv2("zzzuniq") == ((2L, 0L)))
    assert(tv2("spark")._2 == dfMap("spark"))
  }

  test("phrase/span queries from the positional index equal a scan-path replay") {
    val docs = Tables.documents(spark, sf)
    def toks = graft.functions.Analyzers.tokenize(lower(col("text")))
    // scan-path phrase evaluation: positions walked over the live
    // token array — an independent computation of the same semantics
    def scanPhrase(terms: Seq[String]): DataFrame = docs
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), size(filter(
        sequence(lit(0), greatest(size(col("t")) - terms.size, lit(-1))),
        i => terms.zipWithIndex
          .map { case (t, k) => element_at(col("t"), i + k + 1) === t }
          .reduce(_ && _))).cast("long").as("phrase_freq"))
      .filter(col("phrase_freq") > 0)
      .orderBy(col("doc_id"))
    same(Search.phraseFromIndex(spark, ix, Seq("row", "column", "sort")),
      scanPhrase(Seq("row", "column", "sort")))
    same(Search.phraseFromIndex(spark, ix, Seq("fast", "table")),
      scanPhrase(Seq("fast", "table")))
    // span_first: first occurrence within the leading positions
    val scanFirst = docs
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"),
        (array_position(col("t"), "fast") - 1).cast("long").as("first_pos"))
      .filter(col("first_pos").between(0, 4))
      .orderBy(col("doc_id"))
    same(Search.spanFirstFromIndex(spark, ix, "fast", end = 5), scanFirst)
    // phrase_prefix: trailing prefix leg unioned across matching terms
    val scanPrefix = docs
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), size(filter(
        sequence(lit(0), greatest(size(col("t")) - 2, lit(-1))),
        i => element_at(col("t"), i + 1) === "row" &&
          coalesce(element_at(col("t"), i + 2).startsWith("col"),
            lit(false)))).cast("long").as("phrase_freq"))
      .filter(col("phrase_freq") > 0)
      .orderBy(col("doc_id"))
    same(Search.phrasePrefixFromIndex(spark, ix, Seq("row"), "col"),
      scanPrefix)
    // and the phrase legs are one pushed term read, never a postings scan
    val p = Search.phraseFromIndex(spark, ix, Seq("row", "column", "sort"))
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("In(term, [column,row,sort])"), p)
  }

  test("positional/batched paths degrade to empty on absent terms, not errors") {
    // an unindexed term empties the intersection (the dictionary-miss
    // path): no exceptions, no partial matches
    assert(Search.phraseFromIndex(spark, ix,
      Seq("row", "zzz_not_a_term")).isEmpty)
    assert(Search.phraseFromIndex(spark, ix, Seq("zzz_not_a_term")).isEmpty)
    assert(Search.phrasePrefixFromIndex(spark, ix,
      Seq("row"), "zzzprefix").isEmpty)
    assert(Search.spanFirstFromIndex(spark, ix, "zzz_not_a_term", 5).isEmpty)
    // msearch: the absent-term query contributes zero rows; the live
    // one is unaffected
    val m = Search.msearchBm25(spark, ix,
      Seq(("q_live", "spark"), ("q_dead", "zzz_not_a_term")), k = 3)
    assert(m.filter(col("query_id") === "q_dead").isEmpty)
    assert(m.filter(col("query_id") === "q_live").count() == 3)
  }

  test("msearch equals each query run alone; one shared postings read") {
    val queries = Seq(("q_spark", "spark"), ("q_table", "table"))
    val batch = Search.msearchBm25(spark, ix, queries, k = 5)
    queries.foreach { case (qid, term) =>
      val alone = Search.bm25Indexed(spark, ix, term).limit(5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fromBatch = batch.filter(col("query_id") === qid)
        .orderBy("rank")
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(fromBatch == alone, s"$qid diverged from its solo run")
    }
    // the sharing is structural: exactly ONE postings scan in the plan
    val p = batch.queryExecution.executedPlan.toString
    assert("Location: InMemoryFileIndex(?:\\(1 paths\\))?\\[[^\\]]*postings"
      .r.findAllIn(p).length == 1, p)
  }

  test("multi-term msearch equals per-query searchBm25Indexed; still one postings scan") {
    // the real _msearch shape: each query a multi-term OR — the
    // batched scores must equal each query's solo searchBm25Indexed
    // run, and the whole batch still reads postings exactly once
    val queries = Seq(
      ("q_st", Seq("spark", "table")),
      ("q_mw", Seq("merge", "window")),
      ("q_solo", Seq("fast")))
    val batch = Search.msearchBm25Multi(spark, ix, queries, k = 5)
    queries.foreach { case (qid, terms) =>
      val alone = Search.searchBm25Indexed(spark, ix, terms, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fromBatch = batch.filter(col("query_id") === qid)
        .orderBy("rank")
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(fromBatch == alone, s"$qid diverged from its solo run")
    }
    val p = batch.queryExecution.executedPlan.toString
    assert("Location: InMemoryFileIndex(?:\\(1 paths\\))?\\[[^\\]]*postings"
      .r.findAllIn(p).length == 1, p)
    // and the batched read is PUSHED: a term IN (...) filter reaches
    // the postings scan instead of a full-dictionary pass
    assert(p.contains("PushedFilters") && p.contains("In(term, "), p)
  }

  test("delete tombstones mask reads; purge makes them physical and exact") {
    val docs = Tables.documents(spark, sf)
    val dix = TextIndex.build(docs,
      java.nio.file.Files.createTempDirectory("textixdel").toString)
    val n = dix.doclen(spark).count()
    val victims = docs.filter(col("doc_id") < 10).select(col("doc_id"))
    val nDel = TextIndex.deleteByQuery(spark, dix, victims)
    assert(nDel == victims.count())
    // re-deleting and deleting absent ids are no-ops
    assert(TextIndex.deleteByQuery(spark, dix, victims) == 0L)
    // the mask hides tombstones while the tables still hold them
    assert(TextIndex.liveView(spark, dix, dix.doclen(spark)).count()
      == n - nDel)
    assert(dix.doclen(spark).count() == n)
    openAll(dix)
    TextIndex.purgeDeletes(spark, dix)
    assert(dix.doclen(spark).count() == n - nDel)
    assert(dix.postings(spark).filter(col("doc_id") < 10).count() == 0)
    // purged index ≡ a fresh build on the filtered corpus: stats,
    // dictionary, and postings all agree
    val fresh = TextIndex.build(docs.filter(col("doc_id") >= 10),
      java.nio.file.Files.createTempDirectory("textixfresh").toString)
    same(dix.corpus(spark), fresh.corpus(spark))
    same(dix.termDf(spark).orderBy("term"),
      fresh.termDf(spark).orderBy("term"))
    same(dix.postings(spark).orderBy("term", "doc_id"),
      fresh.postings(spark).orderBy("term", "doc_id"))
    same(dix.shingles(spark).orderBy("term", "doc_id"),
      fresh.shingles(spark).orderBy("term", "doc_id"))
    same(dix.shingleDf(spark).orderBy("term"),
      fresh.shingleDf(spark).orderBy("term"))
    // a second purge with no tombstones is a no-op
    openAll(dix)
    TextIndex.purgeDeletes(spark, dix)
    assert(dix.doclen(spark).count() == n - nDel)
    // the UPDATE path: a purged id can re-ingest as a fresh segment
    // (delete + purge + add — Lucene's delete-and-reindex; pre-purge
    // the global-id tombstone blocks re-add by design, see
    // deleteByQuery scaladoc)
    TextIndex.addSegment(dix, docs.filter(col("doc_id") === 3))
    assert(dix.doclen(spark).count() == n - nDel + 1)
    assert(dix.doclen(spark).filter(col("doc_id") === 3).count() == 1)
  }

  test("index-served requests drop a deleted document before any purge") {
    import spark.implicits._
    val mix = TextIndex.build(Tables.documents(spark, sf),
      java.nio.file.Files.createTempDirectory("textixmask").toString)
    // built per call: a request reads the tombstones when it is built
    def requests: Seq[(String, DataFrame)] = Seq(
      "searchBm25Indexed" ->
        Search.searchBm25Indexed(spark, mix, Seq("row", "column"), k = 1000000),
      "bm25Indexed" -> Search.bm25Indexed(spark, mix, "row"),
      "phraseFromIndex" -> Search.phraseFromIndex(spark, mix, Seq("row", "column")),
      "phrasePrefixFromIndex" ->
        Search.phrasePrefixFromIndex(spark, mix, Seq("row"), "col"))
    def ids(rows: Seq[org.apache.spark.sql.Row]): Seq[Long] =
      rows.map(_.getAs[Long]("doc_id"))
    val before = requests.map { case (_, df) => df.collect().toSeq }
    // the best-ranked bm25 hit that every request returns
    val inAll = before.map(ids(_).toSet).reduce(_ & _)
    val victim = ids(before.head).find(inAll)
    assert(victim.isDefined, "no document matches every request")
    assert(TextIndex.deleteByQuery(spark, mix,
      Seq(victim.get).toDF("doc_id")) == 1L)
    // the statistics still count the deleted document until a purge
    // (ES's contract), so every other hit keeps its row and score
    requests.zip(before).foreach { case ((name, df), rows) =>
      val after = df.collect().toSeq
      assert(!ids(after).contains(victim.get), s"$name still returns ${victim.get}")
      assert(after == rows.filterNot(_.getAs[Long]("doc_id") == victim.get), name)
    }
  }

  test("rare_terms from the shingle dictionary equals the scan path; no tokenizer in-plan") {
    val docs = Tables.documents(spark, sf)
    val fromIndex = Search.rareTermsIndexed(spark, ix, maxDocCount = 2)
    // doc_count dtype differs in provenance (dictionary df vs scan
    // count) but both are exact longs — compare values
    same(fromIndex, Search.rareTerms(docs, maxDocCount = 2))
    // served from the artifact: the plan reads shingle_df and never
    // tokenizes — zero corpus passes at query time (the round-8
    // double-tokenization finding)
    val p = fromIndex.queryExecution.executedPlan.toString
    assert(p.contains("shingle_df"), p)
    assert(!p.toLowerCase.contains("regexp_extract_all"), p)
    assert(!p.contains("documents.parquet"), p)
  }

  test("maybePurge: below the tombstone-pressure threshold is a no-op; crossing it merges") {
    val docs = Tables.documents(spark, sf)
    val pix = TextIndex.build(docs,
      java.nio.file.Files.createTempDirectory("textixpress").toString)
    val n = pix.doclen(spark).count()
    // no tombstones at all → no-op, nothing to read
    assert(!TextIndex.maybePurge(spark, pix))
    // tombstone ~2% of the corpus: 0.02/0.98 ≈ 2% of live — far under
    // a 10% threshold, so the merge must NOT run (tombstones persist,
    // the mask keeps serving)
    val few = docs.filter(col("doc_id") % 50 === 0).select(col("doc_id"))
    val nFew = TextIndex.deleteByQuery(spark, pix, few)
    assert(nFew > 0)
    assert(!TextIndex.maybePurge(spark, pix))
    assert(pix.doclen(spark).count() == n,
      "below threshold the tables must be untouched (tombstones only)")
    assert(TextIndex.liveView(spark, pix, pix.doclen(spark)).count()
      == n - nFew)
    // pile on to ~1/3 of the corpus: ratio vs live crosses 10% → the
    // merge runs and the tombstones become physical
    val many = docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"))
    val nMany = TextIndex.deleteByQuery(spark, pix, many)
    assert(TextIndex.maybePurge(spark, pix))
    assert(pix.doclen(spark).count() == n - nFew - nMany,
      "crossing the threshold must purge physically")
    // and the pressure is relieved: the next check is a no-op again
    assert(!TextIndex.maybePurge(spark, pix))
  }

  test("maybePurge below the threshold counts its pressure in one aggregate") {
    val docs = Tables.documents(spark, sf)
    val pix = TextIndex.build(docs,
      java.nio.file.Files.createTempDirectory("textixjobs").toString)
    assert(TextIndex.deleteByQuery(spark, pix,
      docs.filter(col("doc_id") % 50 === 0).select(col("doc_id"))) > 0)
    // one aggregate over the doclen ids and the tombstones: two jobs
    // under AQE (its shuffle stage and its result), plus the
    // tombstone table's schema inference on the handle's first read
    // of it; the memo serves every later read
    val cold = jobsOf(assert(!TextIndex.maybePurge(spark, pix)))
    assert(cold.size <= 3, cold)
    val warm = jobsOf(assert(!TextIndex.maybePurge(spark, pix)))
    assert(warm.size <= 2, warm)
  }

  test("term predicates push into the postings scan") {
    val p = Search.bm25Indexed(spark, ix, "spark")
      .queryExecution.executedPlan.toString
    // the access path: an IsNotNull+EqualTo filter lands in the parquet
    // reader (term-sorted files ⇒ row-group skipping), and no tokenizer
    // appears anywhere in the scoring plan
    assert(p.contains("PushedFilters: [IsNotNull(term), EqualTo(term,spark)]"), p)
    assert(!p.toLowerCase.contains("regexp_extract_all"), p)
  }

  test("artifact statistics equal the in-query aggregation") {
    val stats = ix.corpus(spark).head()
    val want = Tables.documents(spark, sf)
      .select(size(functions.Analyzers.tokenize(lower(col("text")))).as("len"))
      .agg(count(lit(1)).cast("double"), avg(col("len"))).head()
    assert(stats.getDouble(0) == want.getDouble(0))
    assert(stats.getDouble(1) == want.getDouble(1))
    // df for one term == conditional count over the corpus
    val dfSpark = ix.termDf(spark).filter(col("term") === "spark")
      .head().getLong(1)
    val wantDf = Tables.documents(spark, sf)
      .select(array_contains(
        functions.Analyzers.tokenize(lower(col("text"))), "spark").as("m"))
      .filter(col("m")).count()
    assert(dfSpark == wantDf)
  }

  test("segment append + merged dictionary equals a full rebuild, bit for bit") {
    val docs = Tables.documents(spark, sf)
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val inc = TextIndex.build(half1,
      java.nio.file.Files.createTempDirectory("textix-inc").toString)
    openAll(inc)
    TextIndex.addSegment(inc, half2)
    val full = TextIndex.build(docs,
      java.nio.file.Files.createTempDirectory("textix-full").toString)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(inc.postings(spark)) == rows(full.postings(spark)))
    assert(rows(inc.termDf(spark)) == rows(full.termDf(spark)))
    assert(rows(inc.doclen(spark)) == rows(full.doclen(spark)))
    assert(rows(inc.shingles(spark)) == rows(full.shingles(spark)))
    assert(rows(inc.shingleDf(spark)) == rows(full.shingleDf(spark)))
    // the shingle-served rare tail is maintained by the append: the
    // merged dictionary answers rare_terms exactly as the full build
    same(Search.rareTermsIndexed(spark, inc, maxDocCount = 2),
      Search.rareTermsIndexed(spark, full, maxDocCount = 2))
    // (n, avgdl, sum_len) identical — avgdl from ONE division of the
    // merged exact long, not an average of averages
    assert(inc.corpus(spark).head().toSeq == full.corpus(spark).head().toSeq)
    // and a consumer ranking over the merged index is bit-identical
    same(Search.searchBm25Indexed(spark, inc, Seq("table", "spark"), k = 20),
      Search.searchBm25Indexed(spark, full, Seq("table", "spark"), k = 20))
  }

  test("an empty segment append is a statistics no-op") {
    val docs = Tables.documents(spark, sf)
    val ixe = TextIndex.build(docs.filter(col("doc_id") < 50),
      java.nio.file.Files.createTempDirectory("textix-empty").toString)
    val corpusBefore = ixe.corpus(spark).head().toSeq
    val nPostings = ixe.postings(spark).count()
    TextIndex.addSegment(ixe, docs.filter(lit(false)))
    // the empty batch's sum() is NULL — the merge must not poison the
    // corpus row (n, avgdl, sum_len) or the postings
    assert(ixe.corpus(spark).head().toSeq == corpusBefore)
    assert(ixe.postings(spark).count() == nPostings)
  }

  test("segment append rejects duplicate doc ids loudly") {
    val docs = Tables.documents(spark, sf)
    val ix2 = TextIndex.build(docs.filter(col("doc_id") < 100),
      java.nio.file.Files.createTempDirectory("textix-dup").toString)
    val e = intercept[IllegalArgumentException] {
      TextIndex.addSegment(ix2, docs.filter(col("doc_id") < 10))
    }
    assert(e.getMessage.contains("already indexed"))
  }

  test("postings compaction keeps results and the pushed-filter access path") {
    val docs = Tables.documents(spark, sf)
    val ixc = TextIndex.build(docs.filter(col("doc_id") % 2 === 0),
      java.nio.file.Files.createTempDirectory("textix-cmp").toString)
    TextIndex.addSegment(ixc, docs.filter(col("doc_id") % 2 === 1))
    val before = Search.bm25Indexed(spark, ixc, "spark").collect().toSeq
    val (nBefore, nAfter) = TextIndex.compactPostings(spark, ixc)
    assert(nAfter <= nBefore)
    assert(Search.bm25Indexed(spark, ixc, "spark").collect().toSeq == before)
    val p = Search.bm25Indexed(spark, ixc, "spark")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(term), EqualTo(term,spark)]"), p)
  }

  test("terms_enum: prefix-pruned dictionary range read with exact doc counts") {
    val out = Search.termsEnum(spark, ix, "s", k = 10)
    // the prefix predicate reaches the dictionary scan (SARGable)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("StringStartsWith(term,s)"), p)
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.nonEmpty && rows.forall(_._1.startsWith("s")))
    assert(rows.map(_._1).sorted.toSeq == rows.map(_._1).toSeq,
      "lexicographic enumeration")
    // doc counts equal an independent corpus recount per term
    val docs = Tables.documents(spark, sf)
    rows.foreach { case (t, df) =>
      val n = docs.filter(array_contains(
        graft.functions.Analyzers.tokenize(lower(col("text"))), t)).count()
      assert(n == df, s"df($t): dictionary $df vs corpus $n")
    }
    // k bounds the enumeration; an absent prefix enumerates nothing
    assert(Search.termsEnum(spark, ix, "s", k = 2).count() == 2)
    assert(Search.termsEnum(spark, ix, "zzzz", k = 5).count() == 0)
  }

  test("boosting: demoted docs stay ranked at exactly the factored score") {
    val base = Search.bm25Indexed(spark, ix, "spark").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val slowDocs = Tables.documents(spark, sf)
      .filter(array_contains(
        graft.functions.Analyzers.tokenize(lower(col("text"))), "slow"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rows = Search.boosting(spark, ix, "spark", "slow", k = 500).collect()
    assert(rows.exists(_.getBoolean(1)), "soft demotion keeps the doc")
    rows.foreach { r =>
      val (id, demoted, score) = (r.getLong(0), r.getBoolean(1), r.getDouble(2))
      assert(demoted == slowDocs.contains(id), s"doc $id demotion flag")
      val factor = if (demoted) 0.5 else 1.0
      // base is rounded to 6 then we re-derive: compare at 1e-5 slack
      assert(math.abs(score - base(id) * factor) < 1e-5, s"doc $id score")
    }
  }

  test("suffix wildcard: dictionary-served union matches a corpus recount") {
    val out = Search.suffixWildcard(spark, ix, "er", k = 15)
    // scale-shape lock: the matched-terms semi-join into postings is
    // a broadcast, never a shuffle
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val rows = out.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.nonEmpty)
    // per returned doc: recount matching terms straight from the text
    val docs = Tables.documents(spark, sf)
      .filter(col("doc_id").isin(rows.keys.toSeq: _*))
      .select(col("doc_id"),
        graft.functions.Analyzers.tokenize(lower(col("text"))).as("toks"))
      .collect()
    docs.foreach { r =>
      val ts = r.getSeq[String](1).filter(_.endsWith("er"))
      assert(rows(r.getLong(0)) == ((ts.distinct.size.toLong, ts.size.toLong)),
        s"doc ${r.getLong(0)}")
    }
    // an absent suffix matches no dictionary entry → no docs
    assert(Search.suffixWildcard(spark, ix, "qqqq").count() == 0)
  }
}
