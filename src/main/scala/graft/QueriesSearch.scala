package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Analyzers
import graft.operators._
import graft.streaming.EventStream

/** SparkEntry's Search family —
  * full-text scoring, query-string, highlight/hybrid, geo, percolate, analyst SQL (§2.7/§3.3).
  *
  * Split out of the single 7.7k-line registry (round-14): each family
  * module contributes its slice of the SAME SparkEntry.queries /
  * oracleSql maps — pure motion, no semantics; key-disjointness is
  * spec-asserted so ++ can never silently overwrite an entry. */
private[graft] object QueriesSearch {
  import SparkEntry.{queries => _, oracleSql => _, entry => _, _}

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "f19_explain" -> ((s, d) =>
      // ES _explain: the BM25 factor decomposition per matching doc
      // (Search.explainBm25 scaladoc) — the oracle recomputes every
      // factor from the raw corpus, so the explanation itself is
      // differentially verified, not just the final score
      Search.explainBm25(s, textIndexFor(s, d), "spark", k = 10)),
    "f18_msearch" -> ((s, d) =>
      // ES _msearch: three queries, ONE shared postings pass
      // (Search.msearchBm25 scaladoc — a single pushed term-IN read,
      // one broadcast stats row, per-query top-k as a rank-filtered
      // window the planner runs as WindowGroupLimit)
      Search.msearchBm25(s, textIndexFor(s, d),
        Seq(("q_merge", "merge"), ("q_spark", "spark"),
          ("q_window", "window")), k = 5)),
    "f28_sparse_vector" -> ((s, d) =>
      // learned-sparse retrieval (Search.sparseVectorSearch scaladoc):
      // sparse term-weight query vector dotted against index-served
      // integer doc impacts — the ELSER/SPLADE serving shape, one
      // pushed postings read, no floats
      Search.sparseVectorSearch(s, textIndexFor(s, d),
        Seq(("spark", 800000L), ("merge", 500000L), ("vector", 250000L)),
        k = 15)),
    "f27_boosting" -> ((s, d) =>
      // ES boosting query (Search.boosting scaladoc): positive-term
      // BM25 with soft demotion of negative-term matches — both legs
      // pushed postings reads, demoted docs stay ranked (vs must_not)
      Search.boosting(s, textIndexFor(s, d), "spark", "slow", k = 15)),
    "f26_suffix_wildcard" -> ((s, d) =>
      // leading-wildcard (*er) query served Lucene-style from the
      // index (Search.suffixWildcard scaladoc): dictionary scan for
      // the matching terms — O(vocab), never the corpus — broadcast
      // semi-join into the postings, per-doc matched-term frequency
      Search.suffixWildcard(s, textIndexFor(s, d), "er", k = 15)),
    "f21_terms_enum" -> ((s, d) =>
      // ES _terms_enum: lexicographic prefix enumeration of index
      // terms with doc counts, a pure dictionary range read (SARGable
      // startsWith on the term-sorted (term, df) table — no postings,
      // no corpus; Search.termsEnum scaladoc)
      Search.termsEnum(s, textIndexFor(s, d), "s", k = 10)),
    "f22_termvectors" -> ((s, d) =>
      // ES _termvectors (term_statistics=true): one doc's terms with
      // in-doc tf + first position + corpus df — the realtime path: a
      // pushed doc_id point-read re-analyzes the ONE row, the corpus
      // statistics stream once from the persisted term dictionary
      // against a broadcast probe of the doc's term set
      // (Search.termVectors scaladoc; no corpus scan, no shuffle)
      Search.termVectors(s, textIndexFor(s, d),
        Tables.documents(s, d), docId = 42L)),
    "f23_random_score" -> ((s, d) =>
      // ES function_score random_score (seeded + field-keyed):
      // deterministic per-doc uniform score — consistent random
      // sampling whose pagination is stable across re-runs, replicas,
      // and engines. The x11/x12 md5 discipline keyed on (seed, _id)
      // in exact integer micro-units (first 8 md5 hex chars → 32-bit
      // uniform, mod 10^6); the filter is scan-side, the top-k plans
      // as TakeOrderedAndProject (shard-local then global — ES's
      // query-phase shape), nothing shuffles but k rows per task.
      Tables.documents(s, d)
        .filter(col("lang") === "en")
        .select(col("doc_id"),
          (conv(substring(md5(concat_ws(":", lit("rs42"),
            col("doc_id").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 1000000L).as("score_e6"))
        .orderBy(col("score_e6").desc, col("doc_id")).limit(20)),
    "f24_rank_feature" -> ((s, d) =>
      // ES rank_feature query, saturation function: score =
      // x/(x+pivot) over a numeric feature field (n_chars, pivot
      // 500), here in exact ×10^6 integer division so the rational
      // saturation curve is engine-exact; scan-side lang filter +
      // TakeOrderedAndProject top-k — a pure projection, no shuffle
      Tables.documents(s, d)
        .filter(col("lang") === "de")
        .select(col("doc_id"),
          expr("(n_chars * 1000000L) div (n_chars + 500L)").as("sat_e6"))
        .orderBy(col("sat_e6").desc, col("doc_id")).limit(15)),
    "f25_pinned" -> ((s, d) => {
      // ES pinned query (searchable promotions): the pinned ids rank
      // first IN THE GIVEN ORDER carrying the above-any-organic
      // constant score (ES implements pinning exactly so — a huge
      // constant _score per pinned hit; 10^9 here, NULL would break
      // the harness's mixed-type row sort), the organic BM25 leg
      // follows with pinned ids deduplicated out —
      // index-served (one pushed term read), and the organic rank
      // window runs AFTER the top-k limit so it sorts k rows, never
      // the corpus.
      import s.implicits._
      val pinnedIds = Seq(5L, 17L, 29L)
      val pinnedDf = pinnedIds.zipWithIndex
        .map { case (id, i) => (id, (i + 1).toLong) }
        .toDF("doc_id", "rank")
        .select(col("rank"), col("doc_id"), lit(true).as("pinned"),
          lit(1.0e9).as("bm25"))
      val organic = Search.bm25Indexed(s, textIndexFor(s, d), "spark")
        .filter(!col("doc_id").isin(pinnedIds: _*))
        .limit(10)
      val w = Window.orderBy(col("bm25").desc, col("doc_id"))
      pinnedDf.unionByName(organic
          .withColumn("rank",
            (row_number().over(w) + pinnedIds.size).cast("long"))
          .select(col("rank"), col("doc_id"), lit(false).as("pinned"),
            col("bm25")))
        .orderBy(col("rank"))
    }),
    "f20_msearch_multi" -> ((s, d) =>
      // the real _msearch shape: each batched query a multi-term OR
      // (searchBm25Indexed semantics), the whole batch one pushed
      // term-IN postings read + a broadcast (term, df) dictionary
      // slice — constant-width rows at ANY batch size, where the
      // when-chain predecessor hit codegen's 64 KB method limit
      // (Search.msearchBm25Multi scaladoc)
      Search.msearchBm25Multi(s, textIndexFor(s, d),
        Seq(("q_ms", Seq("merge", "spark")),
          ("q_wt", Seq("window", "table"))), k = 5)),
    "f17_span_first" -> ((s, d) =>
      // ES span_first(match=fast, end=5): the match must sit in the
      // first 5 token positions — one pushed term read + a row-local
      // first-position check against the sorted positions array
      Search.spanFirstFromIndex(s, textIndexFor(s, d), "fast", end = 5)),

    // ---- scoring / search (SURVEY §2.7) ----
    "f1_scored_search" -> ((s, d) =>
      // the pushed-down plan: identical scoring to
      // Search.scoredSearch(Denorm.docs(..)) — SearchSpec proves
      // equality — but computed from raw tables, so the nested corpus
      // is never built (let alone twice) just to score it
      Search.scoredSearchRaw(s, d, "NATION_1", 50)),
    "f2_tfidf" -> ((s, d) =>
      Search.tfidfIndexed(s, textIndexFor(s, d), "spark")),
    "f3_bm25" -> ((s, d) =>
      Search.bm25Indexed(s, textIndexFor(s, d), "spark")),
    "f4_search_bm25" -> ((s, d) =>
      Search.searchBm25Indexed(s, textIndexFor(s, d),
        Seq("spark", "window"), k = 20)),
    "h2_hybrid_rrf" -> ((s, d) =>
      // hybrid lexical+vector retrieval fused by integer RRF
      // (Search.hybridRrf): BM25 leg from the persisted text index,
      // exact-integer dot-product leg over the doc-aligned embeddings
      Search.hybridRrf(s, textIndexFor(s, d), Tables.embeddings(s, d),
        Seq("spark", "window"), probeId = 7L)),
    "f5_fuzzy_match" -> ((s, d) => {
      // ES fuzziness: docs holding a token within edit distance 1 of
      // the (typo'd) term; count of close tokens per doc
      val toks = functions.Analyzers.tokenize(lower(col("text")))
      Tables.documents(s, d)
        .select(col("doc_id"),
          operators.Search.fuzzyCount(toks, "custmer", maxEdits = 1)
            .cast("long").as("n_fuzzy"))
        .filter(col("n_fuzzy") > 0)
        .orderBy(col("doc_id"))
    }),

    // ---- analyst SQL entry (SURVEY §3.3) ----
    "sql2_sql_functions" -> ((s, d) => {
      // the library's custom codegen'd expressions reached BY NAME from
      // SQL (function-registry / SparkSessionExtensions path): Porter-
      // stem every token of every document in one SQL statement
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, d).createOrReplaceTempView("documents")
      s.sql(s"""
        SELECT doc_id,
               array_join(transform(
                 regexp_extract_all(lower(text),
                   '${Analyzers.tokenPattern
                       .replace("\\", "\\\\").replace("'", "\\'")}', 0),
                 t -> porter_stem(t)), '|') AS stemmed
        FROM documents ORDER BY doc_id""")
    }),
    "sql1_analyst" -> ((s, d) => {
      // the reference's standalone-SQL path (used_queries/queries.sql):
      // ANSI SQL submitted as a string runs on the same engine/tables
      // as the DSL — same pre-aggregate + left-join + COALESCE shape
      // as the Postgres query, flat projection for the oracle hash
      Seq("orders", "customer", "lineitem", "part", "supplier", "nation")
        .foreach(t => Tables(s, d, t).createOrReplaceTempView(t))
      s.sql("""
        SELECT o.o_orderkey AS id, c.c_custkey AS author_id,
               coalesce(li.n_items, 0) AS n_items,
               coalesce(ann.n_annotations, 0) AS n_annotations
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN (SELECT l_orderkey, count(*) AS n_items
                   FROM lineitem GROUP BY l_orderkey) li
          ON li.l_orderkey = o.o_orderkey
        LEFT JOIN (SELECT l.l_orderkey, count(*) AS n_annotations
                   FROM lineitem l
                   JOIN part p ON l.l_partkey = p.p_partkey
                   JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   JOIN nation n ON s.s_nationkey = n.n_nationkey
                   GROUP BY l.l_orderkey) ann
          ON ann.l_orderkey = o.o_orderkey
        ORDER BY id""")
    }),
    "f6_more_like_this" -> ((s, d) => {
      // ES more_like_this: select the seed document's top
      // max_query_terms=10 terms by tf·idf (stopwords dropped), then
      // retrieve the top 20 other docs by how many selected terms they
      // contain. Shapes at scale: df is ONE distinct-token corpus
      // aggregation; the seed-term set is ≤10 rows and broadcast into
      // the retrieval scan; the rank-by-match-count cut is integer, so
      // the top-k boundary is engine-independent.
      // distinct (doc, token) pairs, per-term df, and the seed doc's
      // term frequencies are all index lookups (TextIndex artifact) —
      // no re-analysis of any document text
      val ix = textIndexFor(s, d)
      val tok = ix.postings(s)
        .select(col("doc_id"), col("term").as("token"))
      val dfs = ix.termDf(s).select(col("term").as("token"), col("df"))
      val seedTf = ix.postings(s).filter(col("doc_id") === 0L)
        .filter(!col("term").isin(Analyzers.englishStopwords: _*))
        .select(col("term").as("token"), col("tf").cast("long").as("tf"))
      // term selection ranks on the integer key (tf desc, df asc) —
      // the tf·idf ORDER ES uses, made engine-portable: a float tf·ln
      // cut could straddle libm rounding between engines at the k-th
      // term; integers cannot
      val wTerm = Window.orderBy(
        col("tf").desc, col("df").asc, col("token")) // ≤ seed-vocab rows
      val terms = seedTf.join(dfs, "token")
        .withColumn("rk", row_number().over(wTerm))
        .filter(col("rk") <= 10)
        .select(col("token"))
      tok.filter(col("doc_id") =!= 0L)
        .join(broadcast(terms), "token")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matched"))
        .orderBy(col("n_matched").desc, col("doc_id"))
        .limit(20)
    }),
    "f9_multi_match" -> ((s, d) => {
      // ES multi_match, most_fields: per-field scores summed — BM25 on
      // the analyzed text field plus a boosted exact match on the
      // keyword field. tf/len/df/(n, avgdl) all come from the
      // TextIndex artifact; the stored docs contribute only the pruned
      // (doc_id, source) columns (the keyword field needs no analysis),
      // so no document text is ever re-tokenized.
      val ix = textIndexFor(s, d)
      val pre = Tables.documents(s, d)
        .select(col("doc_id"), col("source"))
        .join(ix.doclen(s), "doc_id")
        .join(broadcast(ix.postings(s).filter(col("term") === "customer")
          .select(col("doc_id"), col("tf"))), Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("tf"), lit(0)).as("tf"), col("len"))
      val stats = ix.corpus(s).crossJoin(
        ix.termDf(s).filter(col("term") === "customer")
          .agg(coalesce(sum(col("df")), lit(0L)).cast("double").as("df")))
      val (idf, tfNorm) = Search.bm25Parts(col("tf"), col("df"),
        col("len"), col("n"), col("avgdl"))
      pre.filter(col("tf") > 0 || col("source") === "src3")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          round(when(col("tf") > 0, idf * tfNorm).otherwise(lit(0.0)) +
            when(col("source") === "src3", 3.0).otherwise(0.0), 6)
            .as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }),
    "f10_rescore" -> ((s, d) =>
      // ES rescore: BM25 primary ranks off the index artifact, the
      // top-50 window fetches text and re-scores by exact-phrase
      // occurrences, final = primary + 2·phrase_n
      Search.rescoreIndexed(s, d, textIndexFor(s, d),
        Seq("table", "scan"), "table scan")),
    "f11_min_should_match" -> ((s, d) =>
      // ES bool should, minimum_should_match=2 of 3 term clauses
      Search.minShouldMatchIndexed(s, textIndexFor(s, d),
        Seq("table", "spark", "merge"), minMatch = 2)),
    "f7_decay_score" -> ((s, d) => {
      // ES function_score gauss decay on a date field: with decay=0.5
      // the score is 0.5^((dist/scale)^2) — monotone in the integer
      // day-distance, so the top-k cut is engine-independent even
      // though exp/pow differ in ulps between libms (distinct
      // distances can never swap order). Row-local projection +
      // TakeOrderedAndProject; nothing widens the scan.
      val dist = abs(datediff(col("o_orderdate"), lit("1998-01-01")))
      Tables.orders(s, d)
        .select(col("o_orderkey"), dist.cast("long").as("dist_days"),
          round(pow(lit(0.5), pow(dist.cast("double") / 180.0, 2.0)), 6)
            .as("score"))
        .orderBy(col("score").desc, col("o_orderkey"))
        .limit(20)
    }),
    "h1_highlight" -> ((s, d) => {
      // ES highlighting: ±30-char fragment around the first
      // case-insensitive occurrence, the match wrapped in <em> tags —
      // a pure codegen'd string projection over the matching docs (the
      // fragmenter runs beside the scan; nothing widens the plan).
      val pos = instr(lower(col("text")), "customer")
      val start = greatest(pos - 30, lit(1))
      Tables.documents(s, d)
        .filter(pos > 0)
        .select(col("doc_id"),
          concat(
            col("text").substr(start, pos - start),
            lit("<em>"), col("text").substr(pos, lit(8)), lit("</em>"),
            col("text").substr(pos + 8, lit(30))).as("fragment"))
        .orderBy(col("doc_id"))
    }),

    // ---- ES query surface, round 5: wildcard / terms_set /
    //      span_near ----
    "f12_wildcard" -> ((s, d) =>
      // ES wildcard / prefix / regexp term-level queries — all three
      // evaluated in one scan as codegen'd predicates (LIKE '%..%',
      // LIKE 'co%', RLIKE), the union filter keeping any match. The
      // prefix pattern is the sargable one (range-prunable at scan);
      // the infix/regexp forms are the honest full-scan ES also pays
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_name"),
          col("p_name").like("%dg%").as("wildcard"),
          col("p_name").startsWith("co").as("prefix"),
          col("p_name").rlike("b(olt|lue)").as("re_match"))
        .filter(col("wildcard") || col("prefix") || col("re_match"))
        .orderBy(col("p_partkey"))),
    "f13_terms_set" -> ((s, d) => {
      // ES terms_set: match when at least `required` of the given
      // terms appear in the analyzed field. Per-term array_contains
      // summed — row-local, codegen'd, no token explode
      val t = Analyzers.tokenize(lower(col("text")))
      val terms = Seq("spark", "data", "fast", "query")
      Tables.documents(s, d)
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"),
          terms.map(w => array_contains(col("t"), w).cast("int"))
            .reduce(_ + _).cast("long").as("n_matched"))
        .filter(col("n_matched") >= 2)
        .orderBy(col("doc_id"))
    }),
    "f14_span_near" -> ((s, d) => {
      // ES span_near (slop=3): 'key' with 'scan' at distance 1..4 —
      // in_order, plus the in_order=false variant (either direction).
      // Same adjacency machinery as p10: the token array zipped with
      // its shifted self per offset, all inside one codegen'd
      // projection; no positional index, one corpus pass
      val t = Analyzers.tokenize(lower(col("text")))
      def near(a: String, b: String, at: Int) = coalesce(array_contains(
        zip_with(col("t"),
          slice(col("t"), lit(1 + at), greatest(size(col("t")) - at, lit(0))),
          (x, y) => x === a && y === b), true), lit(false))
      val ord = (1 to 4).map(near("key", "scan", _)).reduce(_ || _)
      val rev = (1 to 4).map(near("scan", "key", _)).reduce(_ || _)
      Tables.documents(s, d)
        // necessary-condition substring prefilter (the
        // TokenMatchPrefilter discipline, hand-applied): a span hit
        // requires BOTH tokens, and a token is always a substring of
        // the lowered text — docs without both skip tokenization and
        // all eight adjacency zips (memcmp vs regexp+8 array passes)
        .filter(lower(col("text")).contains("key") &&
          lower(col("text")).contains("scan"))
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"), ord.as("in_order"),
          (ord || rev).as("unordered"))
        .filter(col("unordered"))
        .orderBy(col("doc_id"))
    }),

    "pc1_percolate" -> ((s, d) =>
      // ES percolator: stored queries matched against each document —
      // broadcast NL join + codegen'd array clauses, zero shuffle
      Percolate.percolate(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("query_id"))),
    "pc2_percolate_indexed" -> ((s, d) => {
      // the same percolator through candidate pre-selection: a
      // necessary-term inverted index over the stored queries prunes
      // the (doc, query) pairs before clause evaluation — identical
      // results (same oracle as pc1), broadcast-hash instead of
      // nested-loop, built for 1000s of stored queries. Must-term
      // choice uses real corpus df from the persisted text index's
      // term dictionary (rarest term = smallest candidate set — the
      // ES term-dictionary discipline), fetched for the query terms
      // only, never the whole vocabulary.
      val df = Percolate.dfForQueries(textIndexFor(s, d).termDf(s),
        Percolate.stored)
      Percolate.percolateIndexed(Tables.documents(s, d), Percolate.stored, df)
        .orderBy(col("doc_id"), col("query_id"))
    }),
    "f15_query_string" -> ((s, d) => {
      // Lucene query_string syntax through the QueryString parser:
      // phrase adjacency, nesting, AND/OR/NOT — compiled to pure
      // Column algebra; the filter stays inside whole-stage codegen
      val q = """("hash join" OR (merge AND sort)) AND NOT slow"""
      Tables.documents(s, d)
        .withColumn("toks", Analyzers.tokenize(lower(col("text"))))
        .filter(graft.functions.QueryString.matches(q, col("toks")))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "f16_dis_max" -> ((s, d) => {
      // ES dis_max, tie_breaker 0.3, two term clauses scored by raw tf:
      // score×10 = 10·max + 3·(sum − max) — exact integers end-to-end
      val toks = Analyzers.tokenize(lower(col("text")))
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(filter(toks, t => t === "join")).as("tf_a"),
          size(filter(toks, t => t === "stream")).as("tf_b"))
        .select(col("doc_id"),
          (greatest(col("tf_a"), col("tf_b")) * 10 +
            (col("tf_a") + col("tf_b") -
              greatest(col("tf_a"), col("tf_b"))) * 3)
            .cast("long").as("score_x10"))
        .filter(col("score_x10") > 0)
        .orderBy(col("score_x10").desc, col("doc_id"))
    }),
    "r1_rank_eval" -> ((s, d) => {
      // ES rank_eval: precision@10 and MRR@10 for three term-retrieval
      // runs, judged by a deterministic labeling rule (relevant ⇔
      // tf ≥ 2) both engines replay. Metrics are exact ×10^6 integers
      // (p = hits·10^5; MRR = 10^6 div first-relevant-rank); the run
      // itself is a total order (tf desc, doc_id) so rank boundaries
      // are engine-portable.
      import s.implicits._
      val queries = Seq(("q1", "spark"), ("q2", "vector"), ("q3", "merge"))
        .toDF("query_id", "term")
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), Analyzers.tokenize(lower(col("text"))).as("toks"))
        .crossJoin(broadcast(queries))
        .select(col("query_id"), col("doc_id"),
          size(filter(col("toks"), t => t === col("term"))).as("tf"))
        .filter(col("tf") > 0)
      tf.withColumn("rk",
          row_number().over(Window.partitionBy(col("query_id"))
            .orderBy(col("tf").desc, col("doc_id"))))
        .groupBy(col("query_id"))
        .agg(
          sum(when(col("rk") <= 10 && col("tf") >= 2, 1L).otherwise(0L))
            .as("rel_in_top10"),
          min(when(col("tf") >= 2 && col("rk") <= 10, col("rk")))
            .as("first_rel"),
          sum(when(col("tf") >= 2, 1L).otherwise(0L)).as("n_rel"))
        .select(col("query_id"),
          (col("rel_in_top10") * 100000L).as("p_at_10_e6"),
          coalesce(expr("cast(1000000 as bigint) div first_rel"), lit(0L))
            .as("mrr_e6"),
          col("n_rel"))
        .orderBy(col("query_id"))
    }),
    "r2_ndcg" -> ((s, d) => {
      // ES rank_eval dcg metric: NDCG@10 for the r1 runs, with the
      // 1/log2(rank+1) discount table FROZEN as integer ×10^6
      // literals (the metric spec — both engines read the SAME
      // table, so no libm log2 ulp can flip a comparison; binary
      // relevance ⇔ tf ≥ 2 as in r1). DCG sums the discount of each
      // relevant held rank; the ideal DCG fills ranks 1..min(n_rel,10)
      // — ndcg reported in exact basis points.
      import s.implicits._
      val wLit = array(Seq(1000000L, 630929L, 500000L, 430676L,
        386852L, 356207L, 333333L, 315464L, 301029L, 289064L)
        .map(lit): _*)
      val queries = Seq(("q1", "spark"), ("q2", "vector"), ("q3", "merge"))
        .toDF("query_id", "term")
      val tf = Tables.documents(s, d)
        .select(col("doc_id"),
          Analyzers.tokenize(lower(col("text"))).as("toks"))
        .crossJoin(broadcast(queries))
        .select(col("query_id"), col("doc_id"),
          size(filter(col("toks"), t => t === col("term"))).as("tf"))
        .filter(col("tf") > 0)
      tf.withColumn("rk",
          row_number().over(Window.partitionBy(col("query_id"))
            .orderBy(col("tf").desc, col("doc_id"))))
        .groupBy(col("query_id"))
        .agg(
          sum(when(col("rk") <= 10 && col("tf") >= 2,
            element_at(wLit, col("rk"))).otherwise(0L)).as("dcg_e6"),
          sum(when(col("tf") >= 2, 1L).otherwise(0L)).as("n_rel"))
        .select(col("query_id"), col("dcg_e6"), col("n_rel"),
          expr("""aggregate(slice(array(1000000L, 630929L, 500000L,
                    430676L, 386852L, 356207L, 333333L, 315464L,
                    301029L, 289064L), 1, int(least(n_rel, 10L))),
                  0L, (a, x) -> a + x)""").as("idcg_e6"))
        .select(col("query_id"), col("dcg_e6"), col("idcg_e6"),
          when(col("idcg_e6") > 0L,
            expr("dcg_e6 * 10000L div idcg_e6")).otherwise(0L)
            .as("ndcg_bp"))
        .orderBy(col("query_id"))
    }),

    "geo1_geohash_grid" -> ((s, d) =>
      // ES geo_bounding_box + geohash_grid (precision 2): REAL geohash
      // bit-interleave in pure integer arithmetic over synthetic
      // microdegree points; box prunes before the one cell shuffle
      Geo.geohashGrid(Tables.customer(s, d), col("c_custkey"))
        .orderBy(col("rk"))),
    "geo2_geo_distance" -> ((s, d) =>
      // ES geo_distance range + nearest-k sort in exact squared-degree
      // integers (trig-free — no libm divergence); TakeOrderedAndProject
      Geo.nearest(Tables.customer(s, d), col("c_custkey"),
        col("c_custkey"))),
    "geo3_centroid" -> ((s, d) => {
      // ES geo_centroid per geohash cell, in the family's exact
      // integer space: per-cell floored mean of the microdegree
      // coordinates (sums ≤ 1.4e11 are exact in the double divide,
      // floor matches DuckDB bit-for-bit — the axisBits argument).
      // One cell shuffle with map-side partial sums, like geo1.
      val pts = Tables.customer(s, d)
        .select(Geo.latUdeg(col("c_custkey")).as("lat"),
          Geo.lonUdeg(col("c_custkey")).as("lon"))
        .filter(col("lat").between(-45000000L, 45000000L) &&
          col("lon").between(-90000000L, 90000000L))
      pts.select(substring(Geo.geohash6(col("lat"), col("lon")), 1, 2)
          .as("cell"), col("lat"), col("lon"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sum(col("lat")).as("slat"),
          sum(col("lon")).as("slon"))
        .select(col("cell"), col("n"),
          floor(col("slat") / col("n")).cast("long").as("cen_lat_udeg"),
          floor(col("slon") / col("n")).cast("long").as("cen_lon_udeg"))
        .orderBy(col("n").desc, col("cell")).limit(10)
    }),
    "geo4_geo_bounds" -> ((s, d) => {
      // ES geo_bounds agg per geohash bucket: the tightest lat/lon box
      // enclosing each cell's box-filtered points, in the geo family's
      // exact microdegree-integer space (no trig, no floats — min/max
      // over BIGINT microdegrees cross-engine-exact by construction).
      // One cell shuffle with map-side min/max partials; at 100 TB the
      // partial aggregation reduces each map task to |cells| rows
      // before anything moves.
      val pts = Tables.customer(s, d)
        .select(Geo.latUdeg(col("c_custkey")).as("lat"),
          Geo.lonUdeg(col("c_custkey")).as("lon"))
        .filter(col("lat").between(-45000000L, 45000000L) &&
          col("lon").between(-90000000L, 90000000L))
      pts.select(substring(Geo.geohash6(col("lat"), col("lon")), 1, 2)
          .as("cell"), col("lat"), col("lon"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"),
          max(col("lat")).as("top"), min(col("lat")).as("bottom"),
          min(col("lon")).as("left"), max(col("lon")).as("right"))
        .orderBy(col("n").desc, col("cell")).limit(10)
    }),
  )

  lazy val oracleSql: Map[String, String] = Map(
    "f19_explain" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          p AS (SELECT doc_id, len(list_filter(toks, x -> x = 'spark'))::INT AS tf,
                       len(toks)::INT AS len FROM t),
          s AS (SELECT count(*)::DOUBLE AS n, avg(len) AS avgdl,
                       sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END)::DOUBLE AS df FROM p)
          SELECT doc_id, tf, len, df::BIGINT AS df,
                 round(ln((n - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf,
                 round((tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl)), 6) AS tf_norm,
                 round(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
                       (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl)), 6) AS bm25
          FROM p, s WHERE tf > 0
          ORDER BY bm25 DESC, doc_id LIMIT 10""",
    "f18_msearch" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          p AS (SELECT doc_id, len(toks)::INT AS len,
                       len(list_filter(toks, x -> x = 'merge'))::INT AS tf0,
                       len(list_filter(toks, x -> x = 'spark'))::INT AS tf1,
                       len(list_filter(toks, x -> x = 'window'))::INT AS tf2
                FROM t),
          s AS (SELECT count(*)::DOUBLE AS n, avg(len) AS avgdl,
                       sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
                       sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
                       sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2
                FROM p),
          u AS (SELECT 'q_merge' AS query_id, doc_id,
                       round(ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) *
                             (tf0 * 2.2) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl)), 6) AS score
                FROM p, s WHERE tf0 > 0
                UNION ALL
                SELECT 'q_spark', doc_id,
                       round(ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) *
                             (tf1 * 2.2) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl)), 6)
                FROM p, s WHERE tf1 > 0
                UNION ALL
                SELECT 'q_window', doc_id,
                       round(ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) *
                             (tf2 * 2.2) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl)), 6)
                FROM p, s WHERE tf2 > 0),
          r AS (SELECT query_id, doc_id, score,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, doc_id)::BIGINT AS rank
                FROM u)
          SELECT query_id, doc_id, score, rank FROM r
          WHERE rank <= 5 ORDER BY query_id, rank""",
    "f21_terms_enum" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          p AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM t)
          SELECT term, count(*)::BIGINT AS df FROM p
          WHERE term LIKE 's%' GROUP BY term
          ORDER BY term LIMIT 10""",
    // f28: the sparse dot product replayed from tokens — per-term
    // tf and df recomputed, same integer divisions
    "f28_sparse_vector" ->
      s"""WITH q(term, q_w) AS (VALUES ('spark', 800000), ('merge', 500000),
                                       ('vector', 250000)),
          t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          p AS (SELECT doc_id, tok AS term, count(*)::BIGINT AS tf
                FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
                GROUP BY 1, 2),
          dfs AS (SELECT term, count(*)::BIGINT AS df FROM p GROUP BY 1),
          sc AS (SELECT p.doc_id,
                        (q.q_w * ((p.tf * 1000000) // dfs.df)) AS c
                 FROM p JOIN q USING (term) JOIN dfs ON p.term = dfs.term)
          SELECT doc_id, (sum(c) // 1000000)::BIGINT AS score_e6,
                 count(*)::BIGINT AS n_terms
          FROM sc GROUP BY doc_id
          ORDER BY score_e6 DESC, doc_id LIMIT 15""",
    // f27: the f3 BM25 replay for 'spark' with the 0.5 demotion
    // factor on docs that also contain 'slow'
    "f27_boosting" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          p AS (SELECT doc_id, len(list_filter(toks, x -> x = 'spark'))::INT AS tf,
                       len(toks)::INT AS len,
                       len(list_filter(toks, x -> x = 'slow')) > 0 AS demoted
                FROM t),
          s AS (SELECT count(*)::DOUBLE AS n, avg(len) AS avgdl,
                       sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END)::DOUBLE AS df FROM p)
          SELECT doc_id, demoted,
                 round(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
                       (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl)) *
                       (CASE WHEN demoted THEN 0.5 ELSE 1.0 END), 6) AS score
          FROM p, s WHERE tf > 0
          ORDER BY score DESC, doc_id LIMIT 15""",
    // f26: the token replay of the dictionary-served wildcard — per
    // doc, distinct '%er' terms and their summed frequency
    "f26_suffix_wildcard" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          p AS (SELECT doc_id, tok, count(*)::BIGINT AS tf
                FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
                WHERE tok LIKE '%er' GROUP BY 1, 2)
          SELECT doc_id, count(*)::BIGINT AS n_terms,
                 sum(tf)::BIGINT AS sum_tf
          FROM p GROUP BY doc_id
          ORDER BY sum_tf DESC, doc_id LIMIT 15""",
    // f22: per-term tf + 0-based first position of doc 42 (DuckDB's
    // parallel unnest zips term with its 1-based subscript), df across
    // the corpus from the distinct-membership replay
    "f22_termvectors" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          d AS (SELECT unnest(toks) AS term,
                       unnest(generate_series(1, len(toks))) AS pos
                FROM t WHERE doc_id = 42),
          g AS (SELECT term, count(*)::BIGINT AS tf,
                       (min(pos) - 1)::BIGINT AS first_pos
                FROM d GROUP BY term),
          df AS (SELECT term, count(*)::BIGINT AS df
                 FROM (SELECT DISTINCT doc_id, unnest(toks) AS term FROM t)
                 GROUP BY term)
          SELECT g.term, g.tf, g.first_pos, df.df
          FROM g JOIN df USING (term) ORDER BY g.term""",
    // f23: the x11 md5 uniform replayed on (seed, doc_id)
    "f23_random_score" ->
      """SELECT doc_id,
                (('0x' || substr(md5('rs42:' || doc_id::VARCHAR), 1, 8))::BIGINT
                 % 1000000) AS score_e6
         FROM documents WHERE lang = 'en'
         ORDER BY score_e6 DESC, doc_id LIMIT 20""",
    // f24: the integer saturation curve replayed verbatim
    "f24_rank_feature" ->
      """SELECT doc_id,
                (n_chars * 1000000 // (n_chars + 500))::BIGINT AS sat_e6
         FROM documents WHERE lang = 'de'
         ORDER BY sat_e6 DESC, doc_id LIMIT 15""",
    // f25: pinned literals first, then the f3 BM25 replay minus the
    // pinned ids, rank offset by the pinned count
    "f25_pinned" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          p AS (SELECT doc_id, len(list_filter(toks, x -> x = 'spark'))::INT AS tf,
                       len(toks)::INT AS len FROM t),
          s AS (SELECT count(*)::DOUBLE AS n, avg(len) AS avgdl,
                       sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END)::DOUBLE AS df FROM p),
          org AS (SELECT doc_id,
                         round(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
                               (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl)), 6) AS bm25
                  FROM p, s
                  WHERE tf > 0 AND doc_id NOT IN (5, 17, 29)
                  ORDER BY bm25 DESC, doc_id LIMIT 10),
          orgr AS (SELECT (row_number() OVER (ORDER BY bm25 DESC, doc_id) + 3)::BIGINT AS rank,
                          doc_id, false AS pinned, bm25
                   FROM org)
          SELECT * FROM (
            SELECT 1::BIGINT AS rank, 5::BIGINT AS doc_id, true AS pinned,
                   1000000000.0::DOUBLE AS bm25
            UNION ALL SELECT 2::BIGINT, 17::BIGINT, true, 1000000000.0::DOUBLE
            UNION ALL SELECT 3::BIGINT, 29::BIGINT, true, 1000000000.0::DOUBLE
            UNION ALL SELECT rank, doc_id, pinned, bm25 FROM orgr)
          ORDER BY rank""",
    "f20_msearch_multi" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          p AS (SELECT doc_id, len(toks)::INT AS len,
                       len(list_filter(toks, x -> x = 'merge'))::INT AS tf0,
                       len(list_filter(toks, x -> x = 'spark'))::INT AS tf1,
                       len(list_filter(toks, x -> x = 'window'))::INT AS tf2,
                       len(list_filter(toks, x -> x = 'table'))::INT AS tf3
                FROM t),
          s AS (SELECT count(*)::DOUBLE AS n, avg(len) AS avgdl,
                       sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
                       sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
                       sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2,
                       sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df3
                FROM p),
          u AS (SELECT 'q_ms' AS query_id, doc_id,
                       round((CASE WHEN tf0 > 0
                                   THEN ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) *
                                        (tf0 * 2.2) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl))
                                   ELSE 0.0 END) +
                             (CASE WHEN tf1 > 0
                                   THEN ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) *
                                        (tf1 * 2.2) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl))
                                   ELSE 0.0 END), 6) AS score
                FROM p, s WHERE tf0 > 0 OR tf1 > 0
                UNION ALL
                SELECT 'q_wt', doc_id,
                       round((CASE WHEN tf2 > 0
                                   THEN ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) *
                                        (tf2 * 2.2) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl))
                                   ELSE 0.0 END) +
                             (CASE WHEN tf3 > 0
                                   THEN ln((n - df3 + 0.5) / (df3 + 0.5) + 1.0) *
                                        (tf3 * 2.2) / (tf3 + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl))
                                   ELSE 0.0 END), 6) AS score
                FROM p, s WHERE tf2 > 0 OR tf3 > 0),
          r AS (SELECT query_id, doc_id, score,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, doc_id)::BIGINT AS rank
                FROM u)
          SELECT query_id, doc_id, score, rank FROM r
          WHERE rank <= 5 ORDER BY query_id, rank""",
    "f17_span_first" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents)
          SELECT doc_id,
                 (list_position(toks, 'fast') - 1)::BIGINT AS first_pos
          FROM t
          WHERE list_position(toks, 'fast') BETWEEN 1 AND 5
          ORDER BY doc_id""",
    "f1_scored_search" ->
      """WITH ann AS (SELECT l_orderkey, count(*)::INT AS dl,
                            sum(CASE WHEN n.n_name LIKE '%NATION_1%' THEN 1 ELSE 0 END)::INT AS tf
                     FROM lineitem JOIN part ON l_partkey = p_partkey
                                   JOIN supplier s ON l_suppkey = s.s_suppkey
                                   JOIN nation n ON s.s_nationkey = n.n_nationkey
                     GROUP BY 1),
           d AS (SELECT o.o_orderkey AS id, c.c_custkey AS author_id, c.c_acctbal AS acctbal,
                        coalesce(ann.dl, 0) AS dl, coalesce(ann.tf, 0) AS tf,
                        EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
                                AND l.l_returnflag = 'R') AS has_r
                 FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                 LEFT JOIN ann ON ann.l_orderkey = o.o_orderkey),
           s AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
                        sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END)::DOUBLE AS df FROM d)
         SELECT id, author_id,
                round(CASE WHEN tf > 0
                           THEN 5.0 * ln((n - df + 0.5) / (df + 0.5) + 1.0) *
                                (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                           ELSE 0.0 END, 6) AS score
         FROM d, s
         WHERE acctbal > 100.0 AND author_id > 10 AND has_r
         ORDER BY score DESC, id LIMIT 50""",
    "f2_tfidf" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          s AS (SELECT doc_id, len(list_filter(toks, x -> x = 'spark'))::INT AS tf, len(toks)::INT AS len FROM t),
          c AS (SELECT count(*)::DOUBLE AS n FROM documents),
          f AS (SELECT count(*)::DOUBLE AS df FROM s WHERE tf > 0)
          SELECT doc_id, round(tf::DOUBLE / len * ln((n + 1.0) / (df + 1.0)), 6) AS tfidf
          FROM s, c, f WHERE tf > 0 ORDER BY tfidf DESC, doc_id""",
    "f3_bm25" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          p AS (SELECT doc_id, len(list_filter(toks, x -> x = 'spark'))::INT AS tf, len(toks)::INT AS len FROM t),
          s AS (SELECT count(*)::DOUBLE AS n, avg(len) AS avgdl,
                       sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END)::DOUBLE AS df FROM p)
          SELECT doc_id, round(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
                               (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl)), 6) AS bm25
          FROM p, s WHERE tf > 0 ORDER BY bm25 DESC, doc_id""",
    "f4_search_bm25" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          p AS (SELECT doc_id, len(toks)::INT AS len,
                       len(list_filter(toks, x -> x = 'spark'))::INT AS tf0,
                       len(list_filter(toks, x -> x = 'window'))::INT AS tf1 FROM t),
          s AS (SELECT count(*)::DOUBLE AS n, avg(len) AS avgdl,
                       sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
                       sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1 FROM p)
          SELECT doc_id,
                 round((CASE WHEN tf0 > 0
                             THEN ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) *
                                  (tf0 * 2.2) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl))
                             ELSE 0.0 END) +
                       (CASE WHEN tf1 > 0
                             THEN ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) *
                                  (tf1 * 2.2) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl))
                             ELSE 0.0 END), 6) AS score
          FROM p, s WHERE tf0 > 0 OR tf1 > 0
          ORDER BY score DESC, doc_id LIMIT 20""",
    // h2: both legs replayed in full — the f4 BM25 CTE ranked, the
    // vector leg as the same one-rounding-per-element BIGINT dot
    // product, fused by exact integer reciprocal-rank contributions
    "h2_hybrid_rrf" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          p AS (SELECT doc_id, len(toks)::INT AS len,
                       len(list_filter(toks, x -> x = 'spark'))::INT AS tf0,
                       len(list_filter(toks, x -> x = 'window'))::INT AS tf1 FROM t),
          s AS (SELECT count(*)::DOUBLE AS n, avg(len) AS avgdl,
                       sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
                       sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1 FROM p),
          sc AS (SELECT doc_id,
                        round((CASE WHEN tf0 > 0
                                    THEN ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) *
                                         (tf0 * 2.2) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl))
                                    ELSE 0.0 END) +
                              (CASE WHEN tf1 > 0
                                    THEN ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) *
                                         (tf1 * 2.2) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl))
                                    ELSE 0.0 END), 6) AS score
                 FROM p, s WHERE tf0 > 0 OR tf1 > 0
                 ORDER BY score DESC, doc_id LIMIT 20),
          tr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS text_rank
                 FROM sc),
          v AS (SELECT vec_id,
                       list_transform(embedding,
                         x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS q
                FROM embeddings),
          pr AS (SELECT q AS p FROM v WHERE vec_id = 7),
          dots AS (SELECT vec_id,
                          list_sum(list_transform(range(1, len(q) + 1),
                                                  i -> q[i] * p[i]))::BIGINT AS dp
                   FROM v, pr),
          vt AS (SELECT vec_id, dp FROM dots ORDER BY dp DESC, vec_id LIMIT 20),
          vr AS (SELECT vec_id, row_number() OVER (ORDER BY dp DESC, vec_id) AS vec_rank
                 FROM vt),
          f AS (SELECT coalesce(tr.doc_id, vr.vec_id) AS id,
                       tr.text_rank::BIGINT AS text_rank,
                       vr.vec_rank::BIGINT AS vec_rank,
                       (coalesce(1000000000 // (60 + tr.text_rank), 0) +
                        coalesce(1000000000 // (60 + vr.vec_rank), 0))::BIGINT AS rrf
                FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.vec_id)
          SELECT id, text_rank, vec_rank, rrf FROM f
          ORDER BY rrf DESC, id LIMIT 10""",
    "f5_fuzzy_match" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          m AS (SELECT doc_id,
                       len(list_filter(toks, x -> abs(len(x) - 7) <= 1
                           AND levenshtein(x, 'custmer') <= 1))::BIGINT AS n_fuzzy
                FROM t)
          SELECT doc_id, n_fuzzy FROM m WHERE n_fuzzy > 0 ORDER BY doc_id""",
    "sql2_sql_functions" -> OracleSql.porterTokensSql,
    "sql1_analyst" ->
      """WITH li AS (SELECT l_orderkey, count(*)::BIGINT AS n_items FROM lineitem GROUP BY 1),
          ann AS (SELECT l.l_orderkey, count(*)::BIGINT AS n_annotations
                  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                                  JOIN supplier s ON l.l_suppkey = s.s_suppkey
                                  JOIN nation n ON s.s_nationkey = n.n_nationkey
                  GROUP BY 1)
          SELECT o.o_orderkey AS id, c.c_custkey AS author_id,
                 coalesce(li.n_items, 0)::BIGINT AS n_items,
                 coalesce(ann.n_annotations, 0)::BIGINT AS n_annotations
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          LEFT JOIN li ON li.l_orderkey = o.o_orderkey
          LEFT JOIN ann ON ann.l_orderkey = o.o_orderkey
          ORDER BY id""",
    "f6_more_like_this" ->
      s"""WITH tok AS (SELECT DISTINCT doc_id, unnest(${sqlToks("lower(text)")}) AS token
                       FROM documents),
          dfs AS (SELECT token, count(*)::BIGINT AS df FROM tok GROUP BY 1),
          seed AS (SELECT t AS token, count(*)::BIGINT AS tf
                   FROM (SELECT unnest(${sqlToks("lower(text)")}) AS t
                         FROM documents WHERE doc_id = 0)
                   WHERE NOT list_contains($sqlStop, t) GROUP BY 1),
          terms AS (SELECT token FROM (
                      SELECT seed.token,
                             row_number() OVER (ORDER BY seed.tf DESC, dfs.df ASC,
                                                seed.token) AS rk
                      FROM seed JOIN dfs USING (token))
                    WHERE rk <= 10)
          SELECT tok.doc_id, count(*)::BIGINT AS n_matched
          FROM tok JOIN terms USING (token) WHERE tok.doc_id <> 0
          GROUP BY 1 ORDER BY n_matched DESC, doc_id LIMIT 20""",
    "f9_multi_match" ->
      s"""WITH pre AS (SELECT doc_id, source,
                  len(list_filter(${sqlToks("lower(text)")}, x -> x = 'customer')) AS tf,
                  len(${sqlToks("lower(text)")}) AS len
           FROM documents),
          stats AS (SELECT count(*)::DOUBLE AS n, avg(len) AS avgdl,
                           sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END)::DOUBLE AS df
                    FROM pre)
          SELECT doc_id,
                 round(CASE WHEN tf > 0
                        THEN ln((n - df + 0.5) / (df + 0.5) + 1.0) *
                             (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * len / avgdl))
                        ELSE 0.0 END +
                       CASE WHEN source = 'src3' THEN 3.0 ELSE 0.0 END, 6) AS score
          FROM pre, stats WHERE tf > 0 OR source = 'src3'
          ORDER BY score DESC, doc_id LIMIT 20""",
    "f7_decay_score" ->
      """WITH m AS (SELECT o_orderkey,
                           abs(datediff('day', TIMESTAMP '1998-01-01',
                                        o_orderdate))::BIGINT AS dist_days
                    FROM orders)
         SELECT o_orderkey, dist_days,
                round(pow(0.5, pow(dist_days::DOUBLE / 180.0, 2.0)), 6) AS score
         FROM m ORDER BY score DESC, o_orderkey LIMIT 20""",
    "h1_highlight" ->
      """WITH m AS (SELECT doc_id, text,
                           strpos(lower(text), 'customer') AS pos
                    FROM documents),
          f AS (SELECT doc_id, text, pos, greatest(pos - 30, 1) AS s
                FROM m WHERE pos > 0)
          SELECT doc_id,
                 substr(text, s, pos - s) || '<em>' || substr(text, pos, 8)
                   || '</em>' || substr(text, pos + 8, 30) AS fragment
          FROM f ORDER BY doc_id""",
    "f10_rescore" ->
      s"""WITH t AS (SELECT doc_id, lower(text) AS lt, ${sqlToks("lower(text)")} AS toks FROM documents),
          p AS (SELECT doc_id, lt, len(toks)::INT AS len,
                       len(list_filter(toks, x -> x = 'table'))::INT AS tf0,
                       len(list_filter(toks, x -> x = 'scan'))::INT AS tf1 FROM t),
          s AS (SELECT count(*)::DOUBLE AS n, avg(len) AS avgdl,
                       sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
                       sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1 FROM p),
          pr AS (SELECT doc_id, lt,
                        round((CASE WHEN tf0 > 0
                                    THEN ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) *
                                         (tf0 * 2.2) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl))
                                    ELSE 0.0 END) +
                              (CASE WHEN tf1 > 0
                                    THEN ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) *
                                         (tf1 * 2.2) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl))
                                    ELSE 0.0 END), 6) AS primary_score
                 FROM p, s WHERE tf0 > 0 OR tf1 > 0
                 ORDER BY primary_score DESC, doc_id LIMIT 50),
          rs AS (SELECT doc_id, primary_score,
                        (len(string_split(lt, 'table scan')) - 1)::BIGINT AS phrase_n
                 FROM pr)
          SELECT doc_id, primary_score, phrase_n,
                 round(primary_score + 2.0 * phrase_n, 6) AS score
          FROM rs ORDER BY score DESC, doc_id LIMIT 20""",
    "f11_min_should_match" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          p AS (SELECT doc_id, len(toks)::INT AS len,
                       len(list_filter(toks, x -> x = 'table'))::INT AS tf0,
                       len(list_filter(toks, x -> x = 'spark'))::INT AS tf1,
                       len(list_filter(toks, x -> x = 'merge'))::INT AS tf2 FROM t),
          s AS (SELECT count(*)::DOUBLE AS n, avg(len) AS avgdl,
                       sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
                       sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
                       sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2 FROM p)
          SELECT doc_id,
                 ((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) +
                  (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) +
                  (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END))::BIGINT AS n_matched,
                 round((CASE WHEN tf0 > 0
                             THEN ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) *
                                  (tf0 * 2.2) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl))
                             ELSE 0.0 END) +
                       (CASE WHEN tf1 > 0
                             THEN ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) *
                                  (tf1 * 2.2) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl))
                             ELSE 0.0 END) +
                       (CASE WHEN tf2 > 0
                             THEN ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) *
                                  (tf2 * 2.2) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl))
                             ELSE 0.0 END), 6) AS score
          FROM p, s
          WHERE (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) +
                (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) +
                (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) >= 2
          ORDER BY score DESC, doc_id LIMIT 20""",
    "f12_wildcard" ->
      """SELECT p_partkey, p_name,
                p_name LIKE '%dg%' AS wildcard,
                p_name LIKE 'co%' AS prefix,
                regexp_matches(p_name, 'b(olt|lue)') AS re_match
         FROM part
         WHERE p_name LIKE '%dg%' OR p_name LIKE 'co%'
            OR regexp_matches(p_name, 'b(olt|lue)')
         ORDER BY p_partkey""",
    "f13_terms_set" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks
                     FROM documents)
          SELECT doc_id,
                 (list_contains(toks, 'spark')::INT
                  + list_contains(toks, 'data')::INT
                  + list_contains(toks, 'fast')::INT
                  + list_contains(toks, 'query')::INT)::BIGINT AS n_matched
          FROM t
          WHERE list_contains(toks, 'spark')::INT
                + list_contains(toks, 'data')::INT
                + list_contains(toks, 'fast')::INT
                + list_contains(toks, 'query')::INT >= 2
          ORDER BY doc_id""",
    "f14_span_near" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks
                     FROM documents),
          m AS (SELECT doc_id,
                       len(list_filter(range(1, len(toks) + 1),
                           i -> toks[i] = 'key'
                                AND (toks[i+1] = 'scan' OR toks[i+2] = 'scan'
                                     OR toks[i+3] = 'scan'
                                     OR toks[i+4] = 'scan'))) > 0 AS in_order,
                       len(list_filter(range(1, len(toks) + 1),
                           i -> toks[i] = 'scan'
                                AND (toks[i+1] = 'key' OR toks[i+2] = 'key'
                                     OR toks[i+3] = 'key'
                                     OR toks[i+4] = 'key'))) > 0 AS rev
                FROM t)
          SELECT doc_id, in_order, (in_order OR rev) AS unordered
          FROM m WHERE in_order OR rev ORDER BY doc_id""",
    "pc1_percolate" -> pc1Sql,
    "pc2_percolate_indexed" -> pc1Sql,
    "f15_query_string" ->
      // ("hash join" OR (merge AND sort)) AND NOT slow
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents)
          SELECT doc_id FROM t
          WHERE ((strpos(' ' || array_to_string(toks, ' ') || ' ', ' hash join ') > 0
                  OR (list_contains(toks, 'merge') AND list_contains(toks, 'sort')))
                 AND NOT list_contains(toks, 'slow'))
          ORDER BY doc_id""",
    "f16_dis_max" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          s AS (SELECT doc_id,
                       len(list_filter(toks, x -> x = 'join'))::BIGINT AS tf_a,
                       len(list_filter(toks, x -> x = 'stream'))::BIGINT AS tf_b
                FROM t)
          SELECT doc_id,
                 (greatest(tf_a, tf_b) * 10
                  + (tf_a + tf_b - greatest(tf_a, tf_b)) * 3)::BIGINT AS score_x10
          FROM s WHERE greatest(tf_a, tf_b) > 0
          ORDER BY score_x10 DESC, doc_id""",
    "r1_rank_eval" ->
      s"""WITH q(query_id, term) AS (VALUES ('q1','spark'),('q2','vector'),('q3','merge')),
          t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          tf AS (SELECT query_id, doc_id,
                        len(list_filter(toks, x -> x = term))::BIGINT AS tf
                 FROM t, q),
          f AS (SELECT * FROM tf WHERE tf > 0),
          r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                             ORDER BY tf DESC, doc_id)::BIGINT AS rk FROM f),
          m AS (SELECT query_id,
                       sum(CASE WHEN rk <= 10 AND tf >= 2 THEN 1 ELSE 0 END)::BIGINT
                         AS rel_in_top10,
                       min(CASE WHEN tf >= 2 AND rk <= 10 THEN rk END) AS first_rel,
                       sum(CASE WHEN tf >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_rel
                FROM r GROUP BY 1)
          SELECT query_id, (rel_in_top10 * 100000)::BIGINT AS p_at_10_e6,
                 coalesce(1000000 // first_rel, 0)::BIGINT AS mrr_e6, n_rel
          FROM m ORDER BY query_id""",
    // r2: NDCG@10 with the frozen ×10^6 discount-literal table (the
    // metric spec both engines share — no libm log2 in either plan)
    "r2_ndcg" ->
      s"""WITH q(query_id, term) AS (VALUES ('q1','spark'),('q2','vector'),('q3','merge')),
          w(rk, disc) AS (VALUES (1,1000000),(2,630929),(3,500000),(4,430676),
                                 (5,386852),(6,356207),(7,333333),(8,315464),
                                 (9,301029),(10,289064)),
          t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          tf AS (SELECT query_id, doc_id,
                        len(list_filter(toks, x -> x = term))::BIGINT AS tf
                 FROM t, q),
          f AS (SELECT * FROM tf WHERE tf > 0),
          r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                             ORDER BY tf DESC, doc_id)::BIGINT AS rk FROM f),
          m AS (SELECT r.query_id,
                       sum(CASE WHEN r.rk <= 10 AND r.tf >= 2
                                THEN w.disc ELSE 0 END)::BIGINT AS dcg_e6,
                       sum(CASE WHEN r.tf >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_rel
                FROM r LEFT JOIN w ON r.rk = w.rk GROUP BY 1),
          i AS (SELECT m.query_id, m.dcg_e6, m.n_rel,
                       coalesce((SELECT sum(disc) FROM w
                                 WHERE rk <= least(m.n_rel, 10)), 0)::BIGINT
                         AS idcg_e6
                FROM m)
          SELECT query_id, dcg_e6, idcg_e6,
                 CASE WHEN idcg_e6 > 0
                      THEN (dcg_e6 * 10000 // idcg_e6) ELSE 0 END::BIGINT
                   AS ndcg_bp
          FROM i ORDER BY query_id""",
    "geo1_geohash_grid" ->
      s"""WITH p AS (SELECT ((c_custkey * 2654435761) % 180000000) - 90000000 AS lat,
                            ((c_custkey * 2654435761 * 31 + 7) % 360000000) - 180000000 AS lon
                     FROM customer),
          f AS (SELECT * FROM p WHERE lat BETWEEN -45000000 AND 45000000
                                  AND lon BETWEEN -90000000 AND 90000000),
          g AS (SELECT substring((${Geo.geohash6Sql("lat", "lon")}), 1, 2) AS cell
                FROM f),
          c AS (SELECT cell, count(*)::BIGINT AS n FROM g GROUP BY 1),
          r AS (SELECT *, row_number() OVER (ORDER BY n DESC, cell)::BIGINT AS rk
                FROM c)
          SELECT cell, n, rk FROM r WHERE rk <= 10 ORDER BY rk""",
    // geo3: same synthetic points + geohash replay, floored integer
    // centroid per cell
    "geo3_centroid" ->
      s"""WITH p AS (SELECT ((c_custkey * 2654435761) % 180000000) - 90000000 AS lat,
                            ((c_custkey * 2654435761 * 31 + 7) % 360000000) - 180000000 AS lon
                     FROM customer),
          f AS (SELECT * FROM p WHERE lat BETWEEN -45000000 AND 45000000
                                  AND lon BETWEEN -90000000 AND 90000000),
          g AS (SELECT substring((${Geo.geohash6Sql("lat", "lon")}), 1, 2) AS cell,
                       lat, lon
                FROM f),
          c AS (SELECT cell, count(*)::BIGINT AS n,
                       floor(sum(lat) / count(*))::BIGINT AS cen_lat_udeg,
                       floor(sum(lon) / count(*))::BIGINT AS cen_lon_udeg
                FROM g GROUP BY 1)
          SELECT cell, n, cen_lat_udeg, cen_lon_udeg FROM c
          ORDER BY n DESC, cell LIMIT 10""",
    // geo4: same synthetic points + geohash replay, per-cell
    // enclosing box (integer min/max)
    "geo4_geo_bounds" ->
      s"""WITH p AS (SELECT ((c_custkey * 2654435761) % 180000000) - 90000000 AS lat,
                            ((c_custkey * 2654435761 * 31 + 7) % 360000000) - 180000000 AS lon
                     FROM customer),
          f AS (SELECT * FROM p WHERE lat BETWEEN -45000000 AND 45000000
                                  AND lon BETWEEN -90000000 AND 90000000),
          g AS (SELECT substring((${Geo.geohash6Sql("lat", "lon")}), 1, 2) AS cell,
                       lat, lon
                FROM f),
          c AS (SELECT cell, count(*)::BIGINT AS n,
                       max(lat)::BIGINT AS top, min(lat)::BIGINT AS bottom,
                       min(lon)::BIGINT AS "left", max(lon)::BIGINT AS "right"
                FROM g GROUP BY 1)
          SELECT cell, n, top, bottom, "left", "right" FROM c
          ORDER BY n DESC, cell LIMIT 10""",
    "geo2_geo_distance" ->
      """WITH p AS (SELECT c_custkey AS id,
                           ((c_custkey * 2654435761) % 180000000) - 90000000 AS lat,
                           ((c_custkey * 2654435761 * 31 + 7) % 360000000) - 180000000 AS lon
                    FROM customer),
          d AS (SELECT id, lat::BIGINT AS lat, lon::BIGINT AS lon,
                       (lat * lat + lon * lon)::BIGINT AS d2
                FROM p)
          SELECT id, lat, lon, d2 FROM d
          WHERE d2 <= 20000000::BIGINT * 20000000
          ORDER BY d2, id LIMIT 20""",
  )
}
