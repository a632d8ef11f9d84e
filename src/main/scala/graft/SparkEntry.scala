package graft

import org.apache.spark.sql.{Column, DataFrame, GraftShim, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Analyzers
import graft.operators._
import graft.streaming.EventStream

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2 (+ the §7 M5 extensions), each with an equivalent
  * ANSI-SQL DuckDB oracle where SQL can express it. Column names are
  * aliased identically on both sides; every query's output VALUES are
  * deterministic (row order is canonicalized by the harness — see the
  * note above `queries`); computed doubles are rounded on both sides;
  * DuckDB integer aggregates are cast to BIGINT to match Spark's
  * LongType.
  */
object SparkEntry {

  /** Flagship: the denormalizing ETL (reference `src/main.py:43-101`)
    * on sf0.001 — one nested document per order. */
  def entry(spark: SparkSession): DataFrame =
    Denorm.docs(spark, "/root/testdata/sf0.001")

  // DuckDB expression fragments shared by several oracles (mirror
  // Analyzers.tokenize / Dedup.normalize / Dedup.shingleSet exactly).
  private[graft] val sqlNorm =
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  private[graft] def sqlToks(src: String) =
    s"regexp_extract_all($src, '[a-z0-9](?:[a-z0-9''’]*[a-z0-9])?')"
  private[graft] val sqlShingles =
    s"""(CASE WHEN len(toks) >= 3
        THEN list_distinct(list_transform(generate_series(1, len(toks)-2), i -> array_to_string(toks[i:i+2], ' ')))
        ELSE [array_to_string(toks, ' ')] END)"""
  private[graft] val sqlStop = Analyzers.englishStopwords
    .map(w => s"'$w'").mkString("[", ", ", "]")
  // Analyzers.customNgram/customShingles token stage: html_strip →
  // standard tokenizer (mixed case) → lowercase → asciifold, as DuckDB
  // (strip_accents ≡ the NFD-mark-strip of expressions.Impl.asciiFold).
  private[graft] def sqlFoldedToks(src: String) =
    s"""list_transform(regexp_extract_all(regexp_replace($src, '<[^>]*>', ' ', 'g'),
        '[\\p{L}\\p{N}](?:[\\p{L}\\p{N}''’]*[\\p{L}\\p{N}])?'), t -> strip_accents(lower(t)))"""

  /** Shared by `pc1_percolate` and `st8_stream_percolate` (the
    * streaming percolator is stateless, so its finite-input output is
    * the batch answer). Mirrors [[Percolate.stored]] verbatim — the
    * stored-query table IS part of the operator contract. */
  private[graft] lazy val pc1Sql =
    s"""WITH q(query_id, must, must_not, should, min_should) AS (VALUES
          (1::BIGINT, ['spark','join'], ['slow'], []::VARCHAR[], 0),
          (2::BIGINT, ['customer'], []::VARCHAR[], ['order','line','part'], 2),
          (3::BIGINT, []::VARCHAR[], ['vector'], ['stream','window','batch'], 3),
          (4::BIGINT, ['hash','merge','sort'], []::VARCHAR[], []::VARCHAR[], 0),
          (5::BIGINT, ['scan'], ['filter','slow'], ['fast','big'], 1)),
        t AS (SELECT doc_id, list_distinct(${sqlToks("lower(text)")}) AS toks
              FROM documents)
        SELECT doc_id, query_id,
               len(list_filter(should, x -> list_contains(toks, x)))::BIGINT
                 AS n_should
        FROM t, q
        WHERE len(list_filter(must, x -> NOT list_contains(toks, x))) = 0
          AND len(list_filter(must_not, x -> list_contains(toks, x))) = 0
          AND len(list_filter(should, x -> list_contains(toks, x))) >= min_should
        ORDER BY doc_id, query_id"""

  /** The driver's oracle harness hashes result cells with pandas, which
    * cannot hash numpy arrays — every declared query output must be
    * FLAT (scalars only). Array columns are therefore projected through
    * a canonical '|'-join for verification; the array-native operators
    * behind them are unchanged. */
  private[graft] def joined(arr: Column): Column = concat_ws("|", arr)

  // t18_analyze's sample text — exercises html_strip, possessives,
  // case folding, accents, stopwords and numerics in one string; the
  // SQL twin escapes the apostrophe
  private[graft] val analyzeSample =
    "The Spark-Jobs' <b>Cafés</b> run FASTER than 42 résumés!"
  private[graft] val analyzeSampleSql = analyzeSample.replace("'", "''")

  /** Mechanically generated replay of `TextStats.bpeTrain` (the
    * OracleSql.scala pattern: the oracle re-derives every training
    * step, not golden literals): chained CTEs — vocab → adjacent-pair
    * counts → argmax (count desc, lexicographic tie-break) → literal
    * replace on the sentinel-space representation — once per step. */
  private[graft] def sqlBpeTrain(steps: Int): String = {
    val head =
      s"""WITH w AS (SELECT unnest(toks) AS w
                     FROM (SELECT ${sqlToks("lower(text)")} AS toks FROM documents)),
          v0 AS (SELECT ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS rep,
                        count(*)::BIGINT AS freq
                 FROM w GROUP BY w)"""
    val stages = (0 until steps).map { i =>
      s"""s$i AS (SELECT string_split(trim(rep), ' ') AS syms, freq FROM v$i),
          e$i AS (SELECT unnest(generate_series(1, len(syms) - 1)) AS ix, syms, freq FROM s$i),
          p$i AS (SELECT syms[ix] AS l, syms[ix + 1] AS r, sum(freq)::BIGINT AS c
                  FROM e$i GROUP BY 1, 2),
          b$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
          v${i + 1} AS (SELECT replace(rep, ' ' || b.l || ' ' || b.r || ' ',
                                       ' ' || b.l || b.r || ' ') AS rep, freq
                        FROM v$i, b$i b)"""
    }.mkString(",\n", ",\n", "")
    val finals = (0 until steps).map { i =>
      s"""SELECT ${i + 1}::BIGINT AS step, l AS left_sym, r AS right_sym,
                 l || r AS merged, c AS pair_count FROM b$i"""
    }.mkString("\nUNION ALL\n")
    s"$head$stages\n$finals\nORDER BY step"
  }

  /** DuckDB replay of [[graft.operators.TextStats.bpeTrainBatched]] —
    * the BATCHED trainer is the production path (job count ÷batch for
    * a 32k-merge vocab), so it must be the differentially-tested one,
    * not just spec-locked to batch=1 ≡ sequential. The replay is
    * step-exact: per round, pair counts over the current vocab, the
    * (c desc, l, r) ranking LIMITed to the same 4×want over-fetch,
    * the greedy symbol-disjoint screen as a RECURSIVE CTE walking the
    * ranking one rank at a time (kept iff none of l, r, l||r was
    * claimed this round — state is the claimed-symbol list), then one
    * list_reduce applying the round's replaces in pick order, exactly
    * the foldLeft projection Spark runs. `steps` stages are emitted
    * statically; a stage whose dynamic `want` (steps − emitted so
    * far) is 0 ranks a LIMIT-0 list and is a no-op, so the SQL is
    * correct for ANY fill pattern the screen produces — rounds that
    * fill, partial rounds, all the way to one-pick rounds.
    *
    * The terminal `supply_exhausted` marker (the trainer's scaladoc,
    * round-14 verdict task 6) is replayed too: the exhausted round is
    * the FIRST stage whose `want` was positive but whose pair ranking
    * came back empty — min over the per-stage exhaustion flags — and
    * the marker row carries (total emitted + 1, that round, '', '',
    * 'supply_exhausted', 0), exactly the Spark emission. A fully-
    * supplied run has no exhausted stage, min is NULL, the arm emits
    * nothing. `source` lets a fixture query replay training over an
    * inline VALUES relation instead of the documents table (the
    * exhausted case needs a corpus that actually runs dry). */
  private[graft] def sqlBpeTrainBatched(steps: Int, batch: Int,
                                        source: String = "documents")
      : String = {
    // every non-recursive CTE is MATERIALIZED: the v-chain is
    // referenced twice per stage (s$i and v$i), so inlining would
    // re-expand v0 2^steps times — at 16 stages that's 65k parquet
    // scans (observed as an fd-exhaustion refusal), where
    // materialization computes each vocab generation once
    val head =
      s"""WITH RECURSIVE w AS (SELECT unnest(toks) AS w
                     FROM (SELECT ${sqlToks("lower(text)")} AS toks FROM $source)),
          v0 AS MATERIALIZED (SELECT ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS rep,
                        count(*)::BIGINT AS freq
                 FROM w GROUP BY w)"""
    val stages = (1 to steps).map { i =>
      val prevEm = (1 until i).map(j => s"(SELECT count(*) FROM k$j)")
        .mkString(" + ") match { case "" => "0"; case s => s }
      val keepCond =
        s"""g.npick < (SELECT want FROM w$i)
                         AND NOT (list_contains(g.used, t.l) OR list_contains(g.used, t.r)
                                  OR list_contains(g.used, t.l || t.r))"""
      s"""em$i AS MATERIALIZED (SELECT ($prevEm)::BIGINT AS em),
          w$i AS MATERIALIZED (SELECT greatest(0, least($batch, $steps - em)) AS want FROM em$i),
          s$i AS MATERIALIZED (SELECT string_split(trim(rep), ' ') AS syms, freq FROM v${i - 1}),
          e$i AS MATERIALIZED (SELECT unnest(generate_series(1, len(syms) - 1)) AS ix, syms, freq FROM s$i),
          p$i AS MATERIALIZED (SELECT syms[ix] AS l, syms[ix + 1] AS r, sum(freq)::BIGINT AS c
                  FROM e$i GROUP BY 1, 2),
          t$i AS MATERIALIZED (SELECT l, r, c, row_number() OVER (ORDER BY c DESC, l, r) AS rk
                  FROM p$i ORDER BY c DESC, l, r LIMIT (SELECT 4 * want FROM w$i)),
          g$i(rk, npick, picked, used) AS (
            SELECT 0::BIGINT, 0::BIGINT, CAST([] AS VARCHAR[]), CAST([] AS VARCHAR[])
            UNION ALL
            SELECT t.rk,
                   CASE WHEN $keepCond THEN g.npick + 1 ELSE g.npick END,
                   CASE WHEN $keepCond
                        THEN list_append(g.picked, t.l || chr(1) || t.r || chr(1) || t.c::VARCHAR)
                        ELSE g.picked END,
                   CASE WHEN $keepCond
                        THEN g.used || [t.l, t.r, t.l || t.r] ELSE g.used END
            FROM g$i g JOIN t$i t ON t.rk = g.rk + 1),
          k$i AS MATERIALIZED (SELECT split_part(x, chr(1), 1) AS l, split_part(x, chr(1), 2) AS r,
                         split_part(x, chr(1), 3)::BIGINT AS c, ord::BIGINT AS ord
                  FROM (SELECT unnest(picked) AS x, generate_subscripts(picked, 1) AS ord
                        FROM (SELECT picked FROM g$i ORDER BY rk DESC LIMIT 1))),
          v$i AS MATERIALIZED (SELECT list_reduce(
                    list_prepend(rep,
                      coalesce((SELECT list(' ' || l || ' ' || r || ' ' || chr(1) || ' ' || l || r || ' ' ORDER BY ord) FROM k$i), [])),
                    (acc, x) -> replace(acc, split_part(x, chr(1), 1), split_part(x, chr(1), 2))) AS rep,
                  freq
                  FROM v${i - 1})"""
    }.mkString(",\n", ",\n", "")
    // the exhausted round: first stage that WANTED merges but ranked
    // zero pairs (empty vocab tail); NULL when supply never ran out
    val exhArms = (1 to steps).map { i =>
      s"""SELECT $i AS i WHERE (SELECT want FROM w$i) > 0
                 AND NOT EXISTS (SELECT 1 FROM t$i)"""
    }.mkString("\nUNION ALL\n")
    val emTotal = (1 to steps).map(i => s"(SELECT count(*) FROM k$i)")
      .mkString(" + ")
    val exh =
      s""",
          exh AS MATERIALIZED (SELECT min(i) AS r FROM ($exhArms))"""
    val finals = (1 to steps).map { i =>
      s"""SELECT ((SELECT em FROM em$i) + ord) AS step, $i::BIGINT AS round,
                 l AS left_sym, r AS right_sym, l || r AS merged, c AS pair_count FROM k$i"""
    }.mkString("\nUNION ALL\n")
    val terminal =
      s"""UNION ALL
          SELECT ($emTotal + 1)::BIGINT AS step, r::BIGINT AS round,
                 '' AS left_sym, '' AS right_sym,
                 'supply_exhausted' AS merged, 0::BIGINT AS pair_count
          FROM exh WHERE r IS NOT NULL"""
    s"$head$stages$exh\n$finals\n$terminal\nORDER BY step"
  }

  /** Planted-ground-truth corpus shared by the ANN contract queries
    * (n2/n3/n4): the sf embeddings are structureless random directions
    * (recall-vs-brute gates nothing for ANY sublinear index), so the
    * standard evaluation is planted ground truth — each probe vector
    * gets a ×2-scaled copy under id+10⁶: same direction, so cosine is
    * exactly 1, the same LSH bucket (positive scaling preserves every
    * hyperplane sign) and the same IVF cell. */
  private[graft] val annProbeIds = Seq(1L, 101L, 202L)

  /** The plant-id invariant, checked ONCE per corpus dir per JVM
    * (memo — the scan never lands in a timed query after the untimed
    * index build warms it): no ORGANIC row may hold one of the three
    * planted ids (probe id + 10⁶ — a fixed offset 65 oracle-SQL sites
    * encode), or every per-id contract and recall metric silently
    * conflates two vectors under one id. The round-13 review found
    * exactly this on the pre-rev5 ×1000 replica corpus, whose
    * replica-100 ids landed in [10⁶, 10⁶ + 2002]; scaled corpora now
    * keep the invariant by replica-striding vec_id at ≥ 10⁷
    * ([[graft.BenchScale]] rev5). */
  private[graft] val plantGuard =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[graft] def annPlantedCorpus(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"))
    // all three plant windows: +10⁶ (this corpus), +2·10⁶ (n10's
    // incremental-add twins), +3·10⁶ (st11's streaming twins) — the
    // round-13 review found the guard covering only the first
    val plantIds = for (off <- Seq(1000000L, 2000000L, 3000000L);
                        id <- annProbeIds) yield id + off
    val clashes: Long = plantGuard.computeIfAbsent(d,
      _ => emb.filter(col("vec_id").isin(plantIds: _*)).count())
    require(clashes == 0L,
      s"ANN plant-id collision: corpus $d holds $clashes organic " +
        s"row(s) at the planted ids ${plantIds.mkString(",")} — " +
        "per-id contracts would conflate two vectors; re-stride the " +
        "corpus (BenchScale rev5 floors the replica stride at 10⁷)")
    val planted = emb.filter(col("vec_id").isin(annProbeIds: _*))
      .select((col("vec_id") + 1000000L).as("vec_id"), col("label"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
          .as("embedding"))
    emb.unionByName(planted)
  }

  /** The persisted ANN index artifact over the planted corpus
    * (operators.AnnIndex scaladoc): trained + encoded ONCE per corpus
    * version, shared by n3/n4/n7/n8/n9 — the ingest-job discipline the
    * text analyzers already follow. Bench pre-builds it untimed, the
    * way an ES benchmark indexes before it searches. */
  private[graft] def annIndexFor(s: SparkSession, d: String): AnnIndex.Loaded =
    AnnIndex.ensure(annPlantedCorpus(s, d), AnnIndex.corpusKey(d))

  /** The persisted text search index over `documents`
    * (operators.TextIndex scaladoc): the analyzer runs at ingest, the
    * BM25/significant-terms family reads postings + statistics — ES's
    * index-time analysis discipline. Shared by
    * f2/f3/f4/f6/f9/f10/f11/a8/a17/a27/w9. */
  private[graft] def textIndexFor(s: SparkSession, d: String): TextIndex.Loaded =
    TextIndex.ensure(Tables.documents(s, d), TextIndex.corpusKey(d))

  /** The persisted standing dedup indexes (operators.DedupIndex
    * scaladoc) — the state a daily-ingest dedup service screens
    * against, fingerprint-keyed per corpus version like the other two
    * artifacts. Two standing splits exist because d10 (even ids) and
    * d12 (ids % 10 ≠ 0) model different standing corpora. */
  private[graft] def dedupIndexEven(s: SparkSession, d: String): DedupIndex.Loaded =
    DedupIndex.ensure(Tables.documents(s, d).filter(col("doc_id") % 2 === 0),
      "even-" + TextIndex.corpusKey(d))
  private[graft] def dedupIndexMost(s: SparkSession, d: String): DedupIndex.Loaded =
    DedupIndex.ensure(Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0),
      "most-" + TextIndex.corpusKey(d))

  /** The bucketed co-located layout behind z3: orders and lineitem in
    * `nb` hash buckets on the order key, each bucket file sorted by it,
    * written with the bucket writer TextIndex's postings use
    * ([[ArtifactGen.writeBuckets]], no catalog table) and read back as
    * bucketed relations. A maintained ingest layout like
    * [[Denorm.childrenTable]]: one directory per corpus version, keyed
    * by the two tables' fingerprint under a layout-version segment and
    * `_DONE`-marked last, so it is built once per machine (untimed in
    * Bench's indexing phase) and every later session, in this JVM or
    * another, reads it with no job. */
  private[graft] def bucketedTablesFor(s: SparkSession,
                                       d: String): (DataFrame, DataFrame) = {
    val nb = 8
    val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_z3_layout", "v1", Fingerprint.ofTables(d, "orders", "lineitem"))
    val tables = Seq(
      ("orders", "o_orderkey",
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))),
      ("lineitem", "l_orderkey",
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice"))))
    def spec(key: String) = BucketSpec(nb, Seq(key), Seq(key))
    if (!java.nio.file.Files.exists(dir.resolve("_DONE"))) {
      tables.foreach { case (t, key, df) =>
        ArtifactGen.writeBuckets(ArtifactGen.byBucket(df, spec(key)),
          s"$dir/$t", SaveMode.Overwrite, spec(key))
      }
      ArtifactGen.markDone(dir.toString)
    }
    val Seq(o, l) = tables.map { case (t, key, df) =>
      GraftShim.readBucketed(s, s"$dir/$t", df.schema, spec(key))
    }
    (o, l)
  }

  // Physical row order is NOT part of the verification contract: the
  // harness canonicalizes by sorting rows (and columns by name) on both
  // the Spark and the DuckDB side before hashing. Queries keep ORDER BY
  // only where ordering IS the semantics (top-k, keyset pagination,
  // ranked search); the large ETL outputs skip the final global sort —
  // a range exchange + full sort of the whole result that no production
  // write path contains.

  // Assembled from the per-family modules (round-14 split of the
  // 7.7k-line registry): same keys, same lambdas — the registry is
  // the sum of its files, and RegistrySpec asserts the family maps
  // are key-disjoint (++ would otherwise overwrite silently) and
  // that every oracle key names a query.
  private[graft] lazy val families: Seq[(String, Map[String, (SparkSession, String) => DataFrame], Map[String, String])] = Seq(
    ("QueriesAgg", QueriesAgg.queries, QueriesAgg.oracleSql),
    ("QueriesAnalyze", QueriesAnalyze.queries, QueriesAnalyze.oracleSql),
    ("QueriesDedup", QueriesDedup.queries, QueriesDedup.oracleSql),
    ("QueriesEvents", QueriesEvents.queries, QueriesEvents.oracleSql),
    ("QueriesMultimodal", QueriesMultimodal.queries, QueriesMultimodal.oracleSql),
    ("QueriesRel", QueriesRel.queries, QueriesRel.oracleSql),
    ("QueriesScanSink", QueriesScanSink.queries, QueriesScanSink.oracleSql),
    ("QueriesSearch", QueriesSearch.queries, QueriesSearch.oracleSql),
    ("QueriesStream", QueriesStream.queries, QueriesStream.oracleSql),
    ("QueriesTextStats", QueriesTextStats.queries, QueriesTextStats.oracleSql),
    ("QueriesVector", QueriesVector.queries, QueriesVector.oracleSql),
  )

  // lazy vals, built ONCE per JVM: callers look queries up in loops
  // (Bench per query, Plans, BenchScale), and the oracle side
  // mechanically generates large SQL (the multi-stage BPE replay
  // CTEs) that must not be re-derived per access
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    families.iterator.map(_._2).reduce(_ ++ _)

  lazy val oracleSql: Map[String, String] =
    families.iterator.map(_._3).reduce(_ ++ _)
}
