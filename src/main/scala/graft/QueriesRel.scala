package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Analyzers
import graft.operators._
import graft.streaming.EventStream

/** SparkEntry's Rel family —
  * projections, filters, joins, denorm ETL, set ops, windows-adjacent relational ops (§2.2/2.3/2.6).
  *
  * Split out of the single 7.7k-line registry (round-14): each family
  * module contributes its slice of the SAME SparkEntry.queries /
  * oracleSql maps — pure motion, no semantics; key-disjointness is
  * spec-asserted so ++ can never silently overwrite an entry. */
private[graft] object QueriesRel {
  import SparkEntry.{queries => _, oracleSql => _, entry => _, _}

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "z3_bucketed_join" -> ((s, d) => {
      // Bucketed CO-LOCATED join — the layout that removes the
      // fact⋈fact shuffle entirely at 100 TB: both tables are written
      // into 8 hash buckets on the order key (Spark's bucket hash, one
      // routed shard per bucket, the layout TextIndex's postings use),
      // so matching keys land in the same bucket file on both sides and
      // the sort-merge join reads bucket i ⋈ bucket i with NO exchange
      // on either side — proven by a REQUIRE on the executed plan, so
      // the driver gate itself fails if either side ever shuffles.
      // The merge hint pins SMJ — at harness scale Spark would broadcast,
      // which benchmarks nothing about co-location. The write is the
      // maintained-layout ingest job (bucketedTablesFor — persisted per
      // corpus version and pre-built untimed by Bench, like the
      // ANN/text indexes); production writes it once and every
      // downstream join rides it.
      val (o, l) = bucketedTablesFor(s, d)
      val j = o.join(l.hint("merge"),
        col("o_orderkey") === col("l_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
        s"bucketed join must be exchange-free SMJ:\n$plan")
      j.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") * 100, 0).cast("long"))
            .as("rev_cents"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- projections / filters (SURVEY §2.2) ----
    "p1_project" -> ((s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey").as("id"),
        col("o_orderstatus").as("status"),
        (col("o_totalprice") * 0.9).as("discounted"))),
    "p5_range_filter" -> ((s, d) =>
      Tables.customer(s, d)
        .filter(col("c_acctbal") > 100.0 && col("c_acctbal") < 5000.0)
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_custkey"))),
    "p6_exists_filter" -> ((s, d) => {
      // field-existence over array-of-structs on the denormalized docs
      // (elastic_queries.json:30-40) — higher-order `exists`. Scale
      // shape: a HOF-`exists` can't push below the aggregation that
      // builds the array, so qualifying parent ids are derived from
      // the RAW child table first (a pushed-down scan+project) and the
      // nested aggregation only ever runs over qualifying orders
      // (Denorm.docsFiltered); the declared HOF filter then runs over
      // the surviving docs. Items only — annotations are unreferenced.
      val keep = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      Denorm.docsFiltered(s, d, keep, withAnnotations = false)
        .filter(exists(col("items"), i => i.getField("returnflag") === "R"))
        .select(col("id")).orderBy(col("id"))
    }),
    "p8_nested_match" -> ((s, d) => {
      // nested match on an analyzed text field of an array element —
      // same pre-filter shape as p6: qualifying ids from the raw
      // child ⋈ broadcast dim, nested agg only over those orders
      val widgets = Tables.part(s, d).filter(col("p_name").contains("widget"))
      val keep = Tables.lineitem(s, d)
        .join(broadcast(widgets), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .select(col("l_orderkey"))
      Denorm.docsFiltered(s, d, keep, withItems = false)
        .filter(exists(col("annotations"),
          a => a.getField("entity").getField("name").contains("widget")))
        .select(col("id")).orderBy(col("id"))
    }),
    "p9_nested_agg" -> ((s, d) =>
      // doc-level aggregation over the nested child array (the ES
      // painless-script-over-nested analog): per-doc revenue via HOF.
      // Only `items` is read, so the annotations collection (three dim
      // joins + a second collect_list) is pruned from the build
      Denorm.docs(s, d, withItems = true, withAnnotations = false)
        .select(col("id"),
          round(aggregate(col("items"), lit(0.0),
            (acc, it) => acc + it.getField("extendedprice")), 2)
            .as("items_total"),
          size(col("items")).cast("long").as("n_items"))),

    // ---- joins (SURVEY §2.3) ----
    "j1_join_dim" -> ((s, d) => {
      val o = Tables.orders(s, d); val c = Tables.customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("c_mktsegment"))
    }),
    "j6_bridge" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d); val su = Tables.supplier(s, d)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("p_name"),
          col("s_name"))
    }),
    "j15_asof_join" -> ((s, d) => {
      // AS-OF join (operators/AsOf scaladoc) — each event picks up the
      // dimension version in effect at its timestamp from a
      // deterministic 4-version-per-type rate table whose first
      // version starts Jan 5, so early events exercise the
      // no-version-yet null path. Differentially tested against
      // DuckDB's NATIVE `ASOF LEFT JOIN` — engine-vs-engine, not a
      // replay of this implementation.
      val events = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"),
          col("value"))
      val dim = events.select(col("event_type")).distinct()
        .select(col("event_type"), explode(sequence(lit(0L), lit(3L))).as("k"))
        .select(col("event_type"),
          expr("timestampadd(DAY, cast(k * 7 AS int), " +
            "timestamp'2024-01-05 00:00:00')").as("eff_from"),
          (length(col("event_type")) * 100 + col("k") * 10)
            .cast("long").as("rate_bp"))
      AsOf.asofLeft(events, dim, "event_type", "ts", "eff_from",
          struct(col("rate_bp")))
        .groupBy(col("event_type"), col("asof.rate_bp").as("rate_bp"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
        .orderBy(col("event_type"), col("rate_bp"))
    }),
    "j17_overlap_join" -> ((s, d) => {
      // Interval-OVERLAP join (EventOps.overlapJoin scaladoc): the
      // third temporal-join shape next to as-of (j15) and
      // point-in-range (j16) — both sides are intervals (per-user
      // sessions), paired when they intersect. Hour-bucket banding
      // turns the range predicate into an equi-join; the REQUIRE pins
      // the same scale property as j16: no BroadcastNestedLoopJoin
      // anywhere in the plan.
      val res = EventOps.overlapJoin(Tables.events(s, d))
      require(!res.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"),
        "overlap join must plan as a banded equi-join")
      res
    }),
    "j17b_overlap_capped" -> ((s, d) => {
      // j17's maxPerBucket escape hatch, ORACLE-GATED: a storm hour
      // keeps only the DETERMINISTIC earliest-first prefix (cap 5) of
      // its bucket, bounding candidate work at cap² per bucket no
      // matter how hot the hour. The oracle replays the identical
      // prefix (same row_number order: start, user, session), pinning
      // the capped semantics cross-engine — the trade is explicit:
      // pairs whose only shared buckets were truncated are dropped.
      val res = EventOps.overlapJoin(Tables.events(s, d), maxPerBucket = 5)
      require(!res.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"),
        "capped overlap join must stay a banded equi-join")
      res
    }),
    "j16_range_join" -> ((s, d) => {
      // RANGE join via interval bucketing (AsOf.rangeJoin scaladoc):
      // events against overlapping 10-day campaign windows (3 per
      // type, starting every 7 days — overlap days match TWO
      // campaigns, proving interval multi-match). The REQUIRE pins
      // the scale property: the plan must contain no
      // BroadcastNestedLoopJoin — the bucketing turned the time-range
      // predicate into a hashable equi-join.
      val events = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"),
          col("value"))
      val camp = events.select(col("event_type")).distinct()
        .select(col("event_type"), explode(sequence(lit(0L), lit(2L))).as("c"))
        .select(col("event_type").as("camp_type"), col("c"),
          expr("timestampadd(DAY, cast(c * 7 AS int), " +
            "timestamp'2024-01-01 00:00:00')").as("start_ts"),
          expr("timestampadd(DAY, cast(c * 7 + 10 AS int), " +
            "timestamp'2024-01-01 00:00:00')").as("end_ts"))
      val joined = AsOf.rangeJoin(events, "ts", camp,
          "start_ts", "end_ts",
          struct(col("camp_type"), col("c")), binSeconds = 86400L * 7)
        .filter(col("event_type") === col("range.camp_type"))
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"range join must stay an equi-join on the bin:\n$plan")
      joined
        .groupBy(col("event_type"), col("range.c").as("campaign"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
        .orderBy(col("event_type"), col("campaign"))
    }),
    "j10_self_join" -> ((s, d) => {
      val o1 = Tables.orders(s, d).as("o1")
      val o2 = Tables.orders(s, d).as("o2")
      o1.join(o2, col("o1.o_custkey") === col("o2.o_custkey") &&
          col("o1.o_orderkey") < col("o2.o_orderkey"))
        .groupBy(col("o1.o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("custkey"))
    }),
    "j13_semi" -> ((s, d) => {
      // customers with ≥1 urgent order — left_semi (EXISTS)
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey")).orderBy(col("c_custkey"))
    }),
    "j14_anti" -> ((s, d) => {
      // customers with NO urgent order — left_anti (NOT EXISTS)
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey")).orderBy(col("c_custkey"))
    }),
    "j11_parent_scalar" -> ((s, d) => {
      // decorrelated correlated scalar subquery (src/main.py:82-86)
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d); val c = Tables.customer(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("c_name").as("parent_author"))
    }),
    "j12_parent_agg" -> ((s, d) => {
      // decorrelated correlated json_agg (src/main.py:87-92) —
      // insertion-order array: the child sequence number leads the sort
      // (stripped afterwards), matching the reference's id-ordered
      // child fetch, not an alphabetical canonicalization; the brand
      // value stays as the tiebreak for repeated sequence numbers
      val li = Tables.lineitem(s, d); val p = Tables.part(s, d)
      val brands = li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(transform(
          sort_array(collect_list(struct(
            col("l_linenumber").as("seq"), col("p_brand").as("brand")))),
          s => s.getField("brand")).as("brands"))
      val o = Tables.orders(s, d)
      o.join(brands, o("o_orderkey") === brands("l_orderkey"), "left")
        .select(col("o_orderkey"), joined(col("brands")).as("brands"))
    }),

    // ---- set operations (SURVEY §2.6 — builtins, exercised) ----
    "u1_union" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
        .union(o.filter(col("o_totalprice") > 150000.0).select(col("o_orderkey")))
        .distinct().orderBy(col("o_orderkey"))
    }),
    "u2_intersect" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
        .intersect(o.filter(col("o_totalprice") > 150000.0)
          .select(col("o_orderkey")))
        .orderBy(col("o_orderkey"))
    }),
    "u3_except" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
        .except(o.filter(col("o_totalprice") > 150000.0)
          .select(col("o_orderkey")))
        .orderBy(col("o_orderkey"))
    }),

    // ---- denorm flagship (SURVEY §7 M1) ----
    "denorm_docs" -> ((s, d) =>
      // the nested document, verification-flattened: scalars + author
      // expanded, child arrays as canonical ':'-field '|'-element
      // strings (money in exact integer cents)
      Denorm.docs(s, d).select(
        col("id"), col("status"), col("priority"), col("total_price"),
        col("created_at"),
        col("author.id").as("author_id"), col("author.name").as("author_name"),
        col("author.segment").as("author_segment"),
        col("author.acctbal").as("author_acctbal"),
        joined(transform(col("items"), i => concat_ws(":",
          i.getField("linenumber"), i.getField("partkey"),
          i.getField("suppkey"), i.getField("quantity").cast("long"),
          round(i.getField("extendedprice") * 100, 0).cast("long"),
          i.getField("returnflag")))).as("items"),
        joined(transform(col("annotations"), a => concat_ws(":",
          a.getField("entity").getField("id"),
          a.getField("entity").getField("name"),
          a.getField("entity").getField("description"),
          a.getField("domain").getField("id"),
          a.getField("domain").getField("name")))).as("annotations"))),
    "denorm_roundtrip" -> ((s, d) => Denorm.roundtrip(s, d)),
    "tweet_denorm" -> ((s, _) =>
      // exact reference schema, golden fixture — flat projection of the
      // nested doc (scalars + '|'-joined children); the oracle carries
      // the golden values as literal VALUES rows
      TweetFixture.docs(s).select(
        col("id"), col("content"), col("language"), col("source"),
        col("retweet_count"), col("reply_count"), col("like_count"),
        col("quote_count"),
        date_format(col("created_at"), "yyyy-MM-dd HH:mm:ss").as("created_utc"),
        col("author.username").as("author_username"),
        col("author.followers_count").as("author_followers"),
        joined(transform(col("context_annotations"), ca => concat_ws(":",
          ca.getField("entity").getField("id"),
          ca.getField("entity").getField("name"),
          ca.getField("domain").getField("id"),
          ca.getField("domain").getField("name")))).as("context_annotations"),
        joined(transform(col("conversation_hashtags"),
          h => h.getField("tag"))).as("hashtags"),
        joined(transform(col("annotations"), a => concat_ws(":",
          a.getField("value"), a.getField("type"),
          round(a.getField("probability").cast("double") * 1000, 0)
            .cast("long")))).as("annotations"),
        joined(transform(col("links"), l => l.getField("url"))).as("links"),
        joined(transform(col("conversation_references"), r => concat_ws(":",
          r.getField("id"), r.getField("type"),
          r.getField("author").getField("username")))).as("references"),
        joined(col("content_tokens")).as("content_tokens"),
        joined(col("author_name_shingles")).as("author_name_shingles"))
        .orderBy(col("id"))),
    "z2_rank_bucket" -> ((s, d) => {
      // equi-depth contract for the rank bucketing behind z-order on
      // skewed dims: every bucket within 2x the ideal depth, exact row
      // total preserved (the constant-TRUE + exact-anchor discipline)
      val ev = Tables.events(s, d)
      val vb = operators.Prune.rankBucket(ev, "value", buckets = 16,
        err = 0.001)
      ev.select(vb.as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_rows"),
          max(col("n")).as("mx"))
        .select(col("n_buckets"), col("n_rows"),
          (col("mx") * lit(8) <= col("n_rows")).as("depth_balanced"))
    }),
    "z1_zorder" -> ((s, d) => {
      // Morton interleave of two bucketed dims — the multi-dimensional
      // data-skipping layout key; the bit math is oracle-checked
      val ev = Tables.events(s, d)
      ev.select(col("event_id"),
          (col("user_id") % 256L).as("ua"),
          (floor(col("value") / 2.0).cast("long") % 256L).as("vb"))
        .withColumn("z", operators.Prune.zvalue(col("ua"), col("vb")))
        .orderBy(col("event_id"))
    }),
    "bf1_bloom_prefilter" -> ((s, d) => {
      // runtime-filter contract: the bloom pre-filter must
      // never drop a matching fact row (one-sided error) and its false
      // positives stay under 1% of the non-matching rows + 1. n_exact is
      // the DuckDB-checkable anchor; the flags are constant-TRUE.
      import graft.functions.expressions
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
      val bloom = dim
        .select(expressions.bloom_agg(xxhash64(col("o_orderkey"))).as("bf"))
        .head().getAs[Array[Byte]](0)
      val keys = dim.select(col("o_orderkey")).distinct()
      val li = Tables.lineitem(s, d).select(col("l_orderkey"))
      li.join(keys, li("l_orderkey") === keys("o_orderkey"), "left_outer")
        .select(col("o_orderkey").isNotNull.as("is_exact"),
          expressions.might_contain(lit(bloom), xxhash64(col("l_orderkey")))
            .as("pass"))
        .agg(
          sum(when(col("is_exact"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("is_exact") && !col("pass"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("is_exact") && col("pass"), 1L).otherwise(0L)).as("fp"),
          count(lit(1)).as("n"))
        .select(col("n_exact"),
          (col("fn") === 0L).as("no_false_negatives"),
          (col("fp") * 100L <= col("n") - col("n_exact") + 100L)
            .as("fp_bounded"))
    }),
    "j15_full_outer" -> ((s, d) => {
      // full outer join with BOTH orphan sides live: the dim prunes to
      // one segment, so orders of other segments surface as left-null
      // rows while BUILDING customers without orders surface right-null
      val bc = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_mktsegment"))
      val oc = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_spend"))
      // orphan sides keep their rows; their null columns flatten to
      // sentinels because the harness compare sorts column values and
      // can't order NULL against strings
      bc.join(oc, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          coalesce(col("c_mktsegment"), lit("NONE")).as("segment"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_spend"), lit(0.0d)).as("total_spend"))
        .orderBy(col("custkey"))
    }),
    "pipe1_curation" -> ((s, d) => {
      // the full curation pipeline as ONE declarative plan: quality
      // filter → language filter → exact dedup → train split →
      // sequence packing. Quality, language and split are row-local
      // signals, so they ride ONE corpus scan as a fused filter; only
      // dedup (inherently an aggregation) adds a second scan, joined
      // back as a left-semi prune. Packing materializes its two-long
      // projection once (localCheckpoint) — the corpus is read exactly
      // twice end to end, at any scale.
      val docs = Tables.documents(s, d)
      val pruned = docs.filter(
        TextStats.qualityScore(col("text")) >= 0.7 &&
        TextStats.langId(col("text")) === "en" &&
        TextStats.splitBucket(col("doc_id")) < 90)
      val keep = Dedup.exact(docs).select(col("keep_id").as("doc_id"))
      val survivors = pruned.join(keep, Seq("doc_id"), "left_semi")
      TextStats.packChunks(survivors, budget = 2048).orderBy(col("doc_id"))
    }),
    "p11_json_extract" -> ((s, d) =>
      // ES runtime fields / dynamic mapping: extract a typed value out
      // of a JSON payload column at query time (codegen'd path
      // expression, no UDF), filter on it, aggregate per event_type.
      // avg stays in the exact integer domain (sum/count computed
      // separately) so no float-summation order reaches the compare.
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k") >= 50)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .select(col("event_type"), col("n"), col("sum_k"),
          round(col("sum_k").cast("double") / col("n"), 6).as("avg_k"))
        .orderBy(col("event_type"))),

    // ---- ES search surface: phrase / more-like-this / suggest /
    //      highlight ----
    "p10_phrase_match" -> ((s, d) => {
      // ES match_phrase (+ slop=1 variant): consecutive-position check
      // over the analyzed token stream, entirely row-local — the token
      // array zipped with its own tail(s), no positional index needed.
      // At scale this is the same one-pass corpus scan as any match;
      // the adjacency test is a codegen'd HOF over each row's tokens.
      val t = Analyzers.tokenize(lower(col("text")))
      // zip_with pads the shorter (shifted) side with nulls, so the
      // pair-predicate array can hold nulls near the tail and
      // array_contains then answers NULL instead of false — coalesce
      // pins the three-valued result down to a boolean
      def follows(at: Int) = coalesce(array_contains(
        zip_with(col("t"),
          slice(col("t"), lit(1 + at), greatest(size(col("t")) - at, lit(0))),
          (a, b) => a === "fast" && b === "table"), true), lit(false))
      Tables.documents(s, d)
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"),
          follows(1).as("phrase"),
          (follows(1) || follows(2)).as("near_slop1"))
        .filter(col("phrase") || col("near_slop1"))
        .orderBy(col("doc_id"))
    }),
    "g1_pagerank" -> ((s, d) => {
      // iterative graph algorithm done Spark-shaped: PageRank over the
      // conversation-reference graph (each order "replies to" orders
      // id÷2 and id÷3 — a deterministic citation DAG both engines
      // derive identically). THREE fixed iterations, each ONE
      // join + ONE shuffle agg — the loop unrolls into a bounded plan,
      // no driver-side per-node work (at real scale you'd checkpoint
      // the rank relation between iterations to cut lineage; the
      // shape is unchanged). All arithmetic is 10^12 FIXED-POINT
      // integer (div, not /): damping 0.85 as (15·S + 85·Σ)div 100 —
      // bit-identical across engines, no float summation anywhere.
      val S = 1000000000000L
      val nodes = Tables.orders(s, d).select(col("o_orderkey").as("id"))
      val edges = nodes.select(col("id").as("src"), expr("id div 2").as("dst"))
        .unionByName(
          nodes.select(col("id").as("src"), expr("id div 3").as("dst")))
        .filter(col("dst") >= 1L && col("dst") =!= col("src"))
        .distinct()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("outd"))
      val contribSrc = edges.join(deg, "src")
      var ranks = nodes.select(col("id"), lit(S).as("r"))
      for (_ <- 1 to 3) {
        val contrib = contribSrc
          .join(ranks.withColumnRenamed("id", "rid"),
            col("src") === col("rid"))
          .select(col("dst"), expr("r div outd").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("cin"))
        ranks = nodes
          .join(contrib, nodes("id") === contrib("dst"), "left")
          .select(nodes("id"),
            (lit(15L * S) + lit(85L) * coalesce(col("cin"), lit(0L)))
              .as("num"))
          .select(col("id"), expr("num div 100").as("r"))
      }
      ranks.orderBy(col("r").desc, col("id")).limit(20)
    }),
    "opt1_agg_rewrite" -> ((s, d) => {
      // CollectStrengthReduction on a LIVE session (the extensions
      // path is build-time; experimental.extraOptimizations is the
      // runtime hook): the query is written naively against collected
      // arrays and executes as count/min/max/flag aggregates — no
      // array buffer, no ObjectHashAggregate (plan-locked in
      // StrengthReductionSpec). The rule attaches to a CLONE of the
      // session (same SparkContext, fresh SessionState), so the
      // harness session's optimizer is untouched for every query that
      // runs after this one — the same isolation discipline the bench
      // applies to storage state.
      val s2 = s.newSession()
      s2.experimental.extraOptimizations =
        Seq(graft.plans.CollectStrengthReduction)
      Tables.lineitem(s2, d)
        .groupBy(col("l_returnflag"))
        .agg(size(collect_list(col("l_quantity"))).cast("long").as("n"),
          array_min(collect_list(col("l_quantity"))).as("mn"),
          array_max(collect_list(col("l_quantity"))).as("mx"),
          array_contains(collect_list(col("l_linestatus")), "F").as("has_f"),
          size(collect_set(col("l_linestatus"))).cast("long").as("n_status"))
        .orderBy(col("l_returnflag"))
    }),
    "opt2_token_prefilter" -> ((s, d) => {
      // TokenMatchPrefilter on a LIVE session (same clone-session
      // isolation as opt1): a naive boolean term query over analyzed
      // text executes with the memcmp substring prefilter conjoined
      // ahead of the tokenizer — including the OR-propagated
      // contains('merge') OR contains('vector') arm (plan-locked in
      // TokenPrefilterSpec). The rewrite is verdict-preserving by
      // construction, so the oracle replays the plain term query.
      val s2 = s.newSession()
      s2.experimental.extraOptimizations =
        Seq(graft.plans.TokenMatchPrefilter)
      val tk = Analyzers.tokenize(lower(col("text")))
      Tables.documents(s2, d)
        .filter((array_contains(tk, "merge") && array_contains(tk, "sort"))
          || array_contains(tk, "vector"))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),
  )

  lazy val oracleSql: Map[String, String] = Map(
    // z3: the values are a plain join-aggregate; the co-location claim
    // itself is enforced by the in-query REQUIRE on the executed plan
    "z3_bucketed_join" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n_items,
                sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))::BIGINT AS rev_cents
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY 1 ORDER BY 1""",
    // j17: the e2 sessionize replay with bounds, paired by the direct
    // overlap predicate (the oracle affords the quadratic join)
    "j17_overlap_join" ->
      """WITH g AS (SELECT user_id, ts,
                           CASE WHEN lag(ts) OVER w IS NULL
                                  OR date_diff('second', lag(ts) OVER w, ts) > 1800
                                THEN 1 ELSE 0 END AS new_s
                    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
                FROM g),
          sess AS (SELECT user_id, session_idx, min(ts) AS st, max(ts) AS en
                   FROM s GROUP BY 1, 2),
          pr AS (SELECT a.user_id AS u1, a.session_idx AS i1,
                        b.user_id AS u2, b.session_idx AS i2,
                        date_diff('second', greatest(a.st, b.st),
                                  least(a.en, b.en))::BIGINT AS ov_s
                 FROM sess a JOIN sess b
                   ON a.user_id < b.user_id
                  AND a.st <= b.en AND b.st <= a.en)
          SELECT u1, u2, count(*)::BIGINT AS n_overlaps,
                 sum(ov_s)::BIGINT AS overlap_s
          FROM pr GROUP BY 1, 2
          ORDER BY overlap_s DESC, u1, u2 LIMIT 15""",
    // j17b: the capped variant replays the hour-bucket banding
    // EXPLICITLY (j17's oracle can skip it — uncapped banding is
    // lossless — but the cap is defined ON the buckets): per bucket
    // the earliest-first prefix of 5 survives, pairs must share a
    // surviving bucket, DISTINCT collapses multi-bucket co-occupancy
    "j17b_overlap_capped" ->
      """WITH g AS (SELECT user_id, ts,
                           CASE WHEN lag(ts) OVER w IS NULL
                                  OR date_diff('second', lag(ts) OVER w, ts) > 1800
                                THEN 1 ELSE 0 END AS new_s
                    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
                FROM g),
          sess AS (SELECT user_id, session_idx, min(ts) AS st, max(ts) AS en
                   FROM s GROUP BY 1, 2),
          bb AS (SELECT user_id, session_idx, st, en,
                        unnest(generate_series(date_trunc('hour', st)::TIMESTAMP,
                                               date_trunc('hour', en)::TIMESTAMP,
                                               INTERVAL 1 HOUR)) AS hb
                 FROM sess),
          cap AS (SELECT * FROM (SELECT *, row_number() OVER
                                   (PARTITION BY hb
                                    ORDER BY st, user_id, session_idx) AS rk
                                 FROM bb) WHERE rk <= 5),
          pr AS (SELECT DISTINCT a.user_id AS u1, a.session_idx AS i1,
                        b.user_id AS u2, b.session_idx AS i2,
                        date_diff('second', greatest(a.st, b.st),
                                  least(a.en, b.en))::BIGINT AS ov_s
                 FROM cap a JOIN cap b
                   ON a.hb = b.hb AND a.user_id < b.user_id
                  AND a.st <= b.en AND b.st <= a.en)
          SELECT u1, u2, count(*)::BIGINT AS n_overlaps,
                 sum(ov_s)::BIGINT AS overlap_s
          FROM pr GROUP BY 1, 2
          ORDER BY overlap_s DESC, u1, u2 LIMIT 15""",
    "p1_project" ->
      """SELECT o_orderkey AS id, o_orderstatus AS status, o_totalprice * 0.9 AS discounted
         FROM orders ORDER BY id""",
    "p5_range_filter" ->
      """SELECT c_custkey, c_acctbal FROM customer
         WHERE c_acctbal > 100.0 AND c_acctbal < 5000.0 ORDER BY c_custkey""",
    "p6_exists_filter" ->
      """SELECT o_orderkey AS id FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
         ORDER BY id""",
    "p8_nested_match" ->
      """SELECT o_orderkey AS id FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                       WHERE l.l_orderkey = o.o_orderkey AND p.p_name LIKE '%widget%')
         ORDER BY id""",
    "j1_join_dim" ->
      """SELECT o_orderkey, c_name, c_mktsegment FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    "j6_bridge" ->
      """SELECT l_orderkey, l_linenumber, p_name, s_name
         FROM lineitem JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey
         ORDER BY l_orderkey, l_linenumber""",
    "j10_self_join" ->
      """SELECT o1.o_custkey AS custkey, count(*) AS n_pairs
         FROM orders o1 JOIN orders o2 ON o1.o_custkey = o2.o_custkey AND o1.o_orderkey < o2.o_orderkey
         GROUP BY 1 ORDER BY 1""",
    // j16: plain non-equi BETWEEN join as the oracle (DuckDB's IEJoin
    // evaluates it exactly) — results must be independent of the
    // bucketing access path
    "j16_range_join" ->
      """WITH types AS (SELECT DISTINCT event_type FROM events),
          camp AS (SELECT event_type,  c,
                          TIMESTAMP '2024-01-01 00:00:00' + (c*7) * INTERVAL 1 DAY AS s,
                          TIMESTAMP '2024-01-01 00:00:00' + (c*7+10) * INTERVAL 1 DAY AS e
                   FROM types CROSS JOIN generate_series(0,2) AS g(c)),
          j AS (SELECT ev.event_type, camp.c, ev.value
                FROM events ev JOIN camp
                  ON ev.event_type = camp.event_type
                 AND ev.ts >= camp.s AND ev.ts < camp.e)
         SELECT event_type, c AS campaign, count(*)::BIGINT AS n,
                sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS cents
         FROM j GROUP BY 1, 2 ORDER BY 1, 2""",
    // j15: DuckDB's NATIVE ASOF JOIN as the oracle — engine-vs-engine
    "j15_asof_join" ->
      """WITH types AS (SELECT DISTINCT event_type FROM events),
          dim AS (SELECT event_type,
                         TIMESTAMP '2024-01-05 00:00:00' + (k*7) * INTERVAL 1 DAY AS eff_from,
                         (length(event_type)*100 + k*10)::BIGINT AS rate_bp
                  FROM types CROSS JOIN generate_series(0,3) AS g(k)),
          j AS (SELECT e.event_type, e.value, d.rate_bp
                FROM events e ASOF LEFT JOIN dim d
                  ON e.event_type = d.event_type AND e.ts >= d.eff_from)
         SELECT event_type, rate_bp, count(*)::BIGINT AS n,
                sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS cents
         FROM j GROUP BY 1, 2 ORDER BY 1, 2""",
    "j13_semi" ->
      """SELECT c_custkey FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "j14_anti" ->
      """SELECT c_custkey FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "u1_union" ->
      """SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
         UNION
         SELECT o_orderkey FROM orders WHERE o_totalprice > 150000.0
         ORDER BY o_orderkey""",
    "u2_intersect" ->
      """SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_orderkey FROM orders WHERE o_totalprice > 150000.0
         ORDER BY o_orderkey""",
    "u3_except" ->
      """SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT
         SELECT o_orderkey FROM orders WHERE o_totalprice > 150000.0
         ORDER BY o_orderkey""",
    "j11_parent_scalar" ->
      """SELECT l.l_orderkey, l.l_linenumber,
                (SELECT c.c_name FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                 WHERE o.o_orderkey = l.l_orderkey) AS parent_author
         FROM lineitem l ORDER BY l.l_orderkey, l.l_linenumber""",
    "j12_parent_agg" ->
      """SELECT o.o_orderkey, coalesce(array_to_string(b.brands, '|'), '') AS brands
         FROM orders o LEFT JOIN (SELECT l_orderkey, list(p_brand ORDER BY l_linenumber, p_brand) AS brands
                                  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1) b
         ON b.l_orderkey = o.o_orderkey ORDER BY o.o_orderkey""",
    "denorm_docs" ->
      """SELECT o.o_orderkey AS id, o.o_orderstatus AS status, o.o_orderpriority AS priority,
                o.o_totalprice AS total_price, o.o_orderdate AS created_at,
                c.c_custkey AS author_id, c.c_name AS author_name,
                c.c_mktsegment AS author_segment, c.c_acctbal AS author_acctbal,
                coalesce(array_to_string(li.items, '|'), '') AS items,
                coalesce(array_to_string(an.annotations, '|'), '') AS annotations
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         LEFT JOIN (SELECT l_orderkey,
                           list(l_linenumber::VARCHAR || ':' || l_partkey || ':' || l_suppkey || ':' ||
                                CAST(l_quantity AS BIGINT) || ':' ||
                                CAST(round(l_extendedprice * 100, 0) AS BIGINT) || ':' || l_returnflag
                                ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
                                         l_extendedprice, l_returnflag) AS items
                    FROM lineitem GROUP BY 1) li ON li.l_orderkey = o.o_orderkey
         LEFT JOIN (SELECT l_orderkey,
                           list(p_partkey::VARCHAR || ':' || p_name || ':' || p_type || ':' ||
                                n_nationkey::BIGINT || ':' || n_name
                                ORDER BY l_linenumber, p_partkey, p_name, p_type,
                                         n_nationkey, n_name) AS annotations
                    FROM lineitem JOIN part ON l_partkey = p_partkey
                                  JOIN supplier ON l_suppkey = s_suppkey
                                  JOIN nation ON s_nationkey = n_nationkey
                    GROUP BY 1) an ON an.l_orderkey = o.o_orderkey
         ORDER BY id""",
    // golden-values oracle: the two fixture documents, hand-checked
    // against the reference's docs/sample_document.json by
    // TweetDenormSpec, transported here as literal rows
    "tweet_denorm" ->
      """SELECT * FROM (VALUES
           (1496727690157588483, 'SPREAD AND SHARE, YOU CAN HELP UKRAINE #Ukraine #Russia https://t.co/rp2IFCKMi3',
            'en', 'Twitter Web App', 6085, 3, 9000, 50, '2022-02-24 20:00:00', 'one_sorrow', 1000,
            '', 'Ukraine|Russia', '', '', '',
            'spread|share|you|can|help|ukrain|ukrain|russia|http|t|co|rp2ifckmi3',
            'one|for|pocskie|onefor|forpocskie'),
           (1497032529894805509, 'RT @one_sorrow: SPREAD AND SHARE, YOU CAN HELP UKRAINE #Ukraine #Russia https://t.co/rp2IFCKMi3',
            'en', 'Twitter for Android', 6085, 0, 0, 0, '2022-02-25 02:15:43', 'michaelkinnie', 9,
            '1484601166080081920:Russo-Ukrainian conflict:123:Ongoing News Story|1484601166080081920:Russo-Ukrainian conflict:123:Ongoing News Story',
            'Ukraine|Russia', 'UKRAINE:Place:954',
            'https://twitter.com/one_sorrow/status/1496727690157588483/photo/1',
            '1496727690157588483:retweeted:one_sorrow',
            'rt|on|sorrow|spread|share|you|can|help|ukrain|ukrain|russia|http|t|co|rp2ifckmi3',
            'ted|wil|alex|tedwil|wilalex')
         ) AS t(id, content, language, source, retweet_count, reply_count, like_count, quote_count,
                created_utc, author_username, author_followers, context_annotations, hashtags,
                annotations, links, "references", content_tokens, author_name_shingles)
         ORDER BY id""",
    "denorm_roundtrip" ->
      """SELECT o_orderkey AS id, o_custkey AS author_id, l_linenumber AS linenumber,
                l_partkey AS partkey, l_quantity AS quantity, l_returnflag AS returnflag
         FROM orders JOIN customer ON o_custkey = c_custkey JOIN lineitem ON l_orderkey = o_orderkey
         ORDER BY id, linenumber""",
    "p9_nested_agg" ->
      """SELECT o_orderkey AS id,
                round(coalesce(li.total, 0.0), 2) AS items_total,
                coalesce(li.n, 0)::BIGINT AS n_items
         FROM orders LEFT JOIN (SELECT l_orderkey, sum(l_extendedprice) AS total, count(*) AS n
                                FROM lineitem GROUP BY 1) li ON li.l_orderkey = o_orderkey
         ORDER BY id""",
    "pipe1_curation" -> {
      val hitExprs = graft.operators.TextStats.langMarkers.toSeq.sortBy(_._1)
        .map { case (lang, words) =>
          val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_filter(toks, x -> list_contains($list, x))) AS h_$lang"
        }.mkString(",\n                 ")
      val m = "greatest(h_de, h_en, h_es, h_fr)"
      s"""WITH t AS (SELECT doc_id, text, ${sqlToks("lower(text)")} AS toks FROM documents),
          qual AS (SELECT doc_id,
                 round(least(len(toks)::DOUBLE / 20.0, 1.0) * 0.4 +
                       (1.0 - least((CASE WHEN len(text) > 0
                            THEN (len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE / len(text)::INT
                            ELSE 0.0 END) * 5.0, 1.0)) * 0.3 +
                       least((CASE WHEN len(toks) > 0
                            THEN len(list_filter(toks, x -> list_contains($sqlStop, x)))::DOUBLE / len(toks)::INT
                            ELSE 0.0 END) * 4.0, 1.0) * 0.3, 6) AS quality
                 FROM t),
          h AS (SELECT doc_id, $hitExprs FROM t),
          lang AS (SELECT doc_id, CASE WHEN $m = 0 THEN 'und'
                          WHEN h_fr = $m THEN 'fr' WHEN h_es = $m THEN 'es'
                          WHEN h_en = $m THEN 'en' ELSE 'de' END AS lang_pred FROM h),
          keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5($sqlNorm)),
          sv AS (SELECT d.doc_id,
                  (CASE WHEN len(trim(d.text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END)::BIGINT AS n_tokens
                 FROM documents d
                 WHERE d.doc_id IN (SELECT doc_id FROM qual WHERE quality >= 0.7)
                   AND d.doc_id IN (SELECT doc_id FROM lang WHERE lang_pred = 'en')
                   AND d.doc_id IN (SELECT doc_id FROM keep)
                   AND ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 90),
          s AS (SELECT doc_id, n_tokens,
                 (sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS start_offset
                FROM sv)
          SELECT doc_id, n_tokens, start_offset, (start_offset // 2048)::BIGINT AS chunk
          FROM s ORDER BY doc_id"""
    },
    "j15_full_outer" ->
      """WITH bc AS (SELECT c_custkey, c_mktsegment FROM customer
                     WHERE c_mktsegment = 'BUILDING'),
          oc AS (SELECT o_custkey, count(*)::BIGINT AS n_orders,
                        round(sum(o_totalprice), 2) AS total_spend
                 FROM orders GROUP BY 1)
          SELECT coalesce(c_custkey, o_custkey) AS custkey,
                 coalesce(c_mktsegment, 'NONE') AS segment,
                 coalesce(n_orders, 0)::BIGINT AS n_orders,
                 coalesce(total_spend, 0.0) AS total_spend
          FROM bc FULL OUTER JOIN oc ON c_custkey = o_custkey
          ORDER BY custkey""",
    "z2_rank_bucket" ->
      """SELECT 16::BIGINT AS n_buckets,
                (SELECT count(*) FROM events)::BIGINT AS n_rows,
                TRUE AS depth_balanced""",
    "z1_zorder" ->
      s"""SELECT event_id, (user_id % 256)::BIGINT AS ua,
                 (floor(value / 2.0)::BIGINT % 256)::BIGINT AS vb,
                 ${operators.Prune.zvalueSql("(user_id % 256)",
                   "(floor(value / 2.0)::BIGINT % 256)")} AS z
          FROM events ORDER BY event_id""",
    "bf1_bloom_prefilter" ->
      """SELECT (SELECT count(*) FROM lineitem l
                 WHERE EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey
                                 AND o.o_orderpriority = '1-URGENT'))::BIGINT AS n_exact,
                TRUE AS no_false_negatives, TRUE AS fp_bounded""",
    "p11_json_extract" ->
      """WITH e AS (SELECT event_type,
                           json_extract_string(props, '$.k')::BIGINT AS k
                    FROM events)
         SELECT event_type, count(*)::BIGINT AS n, sum(k)::BIGINT AS sum_k,
                round(sum(k)::DOUBLE / count(*), 6) AS avg_k
         FROM e WHERE k >= 50 GROUP BY 1 ORDER BY event_type""",
    "p10_phrase_match" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          m AS (SELECT doc_id,
                       ' ' || array_to_string(toks, ' ') || ' '
                         LIKE '% fast table %' AS phrase,
                       len(list_filter(range(1, greatest(len(toks), 1)),
                           i -> toks[i] = 'fast'
                                AND (toks[i+1] = 'table' OR toks[i+2] = 'table')))
                         > 0 AS near_slop1
                FROM t)
          SELECT doc_id, phrase, near_slop1 FROM m
          WHERE phrase OR near_slop1 ORDER BY doc_id""",
    "g1_pagerank" ->
      """WITH nodes AS (SELECT o_orderkey AS id FROM orders),
          edges AS (
            SELECT id AS src, id // 2 AS dst FROM nodes WHERE id // 2 >= 1 AND id // 2 <> id
            UNION
            SELECT id AS src, id // 3 AS dst FROM nodes WHERE id // 3 >= 1 AND id // 3 <> id),
          deg AS (SELECT src, count(*)::BIGINT AS outd FROM edges GROUP BY 1),
          r0 AS (SELECT id, 1000000000000::BIGINT AS r FROM nodes),
          c1 AS (SELECT e.dst AS id, sum(r0.r // d.outd)::BIGINT AS cin
                 FROM edges e JOIN deg d ON e.src = d.src JOIN r0 ON r0.id = e.src GROUP BY 1),
          r1 AS (SELECT n.id, ((15000000000000 + 85 * coalesce(c1.cin, 0)) // 100)::BIGINT AS r
                 FROM nodes n LEFT JOIN c1 ON c1.id = n.id),
          c2 AS (SELECT e.dst AS id, sum(r1.r // d.outd)::BIGINT AS cin
                 FROM edges e JOIN deg d ON e.src = d.src JOIN r1 ON r1.id = e.src GROUP BY 1),
          r2 AS (SELECT n.id, ((15000000000000 + 85 * coalesce(c2.cin, 0)) // 100)::BIGINT AS r
                 FROM nodes n LEFT JOIN c2 ON c2.id = n.id),
          c3 AS (SELECT e.dst AS id, sum(r2.r // d.outd)::BIGINT AS cin
                 FROM edges e JOIN deg d ON e.src = d.src JOIN r2 ON r2.id = e.src GROUP BY 1),
          r3 AS (SELECT n.id, ((15000000000000 + 85 * coalesce(c3.cin, 0)) // 100)::BIGINT AS r
                 FROM nodes n LEFT JOIN c3 ON c3.id = n.id)
          SELECT id, r FROM r3 ORDER BY r DESC, id LIMIT 20""",
    "opt1_agg_rewrite" ->
      """SELECT l_returnflag, count(l_quantity)::BIGINT AS n,
                min(l_quantity) AS mn, max(l_quantity) AS mx,
                bool_or(l_linestatus = 'F') AS has_f,
                count(DISTINCT l_linestatus)::BIGINT AS n_status
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
    "opt2_token_prefilter" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents)
          SELECT doc_id FROM t
          WHERE (list_contains(toks, 'merge') AND list_contains(toks, 'sort'))
             OR list_contains(toks, 'vector')
          ORDER BY doc_id""",
  )
}
