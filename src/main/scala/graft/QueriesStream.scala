package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Analyzers
import graft.operators._
import graft.streaming.EventStream

/** SparkEntry's Stream family —
  * Structured Streaming: ingest, dedup, state, percolate, index/vector maintenance (§2.9).
  *
  * Split out of the single 7.7k-line registry (round-14): each family
  * module contributes its slice of the SAME SparkEntry.queries /
  * oracleSql maps — pure motion, no semantics; key-disjointness is
  * spec-asserted so ++ can never silently overwrite an entry. */
private[graft] object QueriesStream {
  import SparkEntry.{queries => _, oracleSql => _, entry => _, _}

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st12_stream_deletes" -> ((s, d) => {
      // Streaming DELETE ingest (IndexStream.runDeleteIngest
      // scaladoc): retention delete requests arrive as a multi-batch
      // stream, each micro-batch tombstones in O(batch), one final
      // purge merge reclaims. Readback: ti1-style corpus invariants
      // over the RETAINED docs (the oracle recomputes them from the
      // filtered corpus), the tombstone total, and multi_batch
      // proving the requests really arrived incrementally.
      val (ix, nBatches, nDeleted) =
        graft.streaming.IndexStream.runDeleteIngest(s, d)
      val nPhysical = ix.postings(s).count()
      ix.corpus(s)
        .select(col("n").cast("long").as("n_docs"), col("sum_len"))
        .crossJoin(ix.termDf(s).agg(count(lit(1)).as("n_terms"),
          sum(col("df")).as("n_postings")))
        .withColumn("n_deleted", lit(nDeleted))
        .withColumn("postings_agree", lit(nPhysical) === col("n_postings"))
        .withColumn("multi_batch", lit(nBatches >= 2))
    }),
    "st13_stream_vector_deletes" -> ((s, d) => {
      // Streaming VECTOR delete ingest (IndexStream
      // .runVectorDeleteIngest scaladoc): the ANN twin of st12 —
      // delete requests arrive as a multi-batch stream, each batch
      // tombstones O(batch) and applies the pressure policy
      // (Tombstoned.maybePurge), terminal merge at close. Readback:
      // live counts across all four encoding tables, the nearest
      // LIVE neighbor of vec 1 by the exact BIGINT quantized dot
      // (n12's invariant, through the streamed lifecycle), and
      // multi_batch proving incremental arrival.
      val (ix, nBatches, nDeleted) =
        graft.streaming.IndexStream.runVectorDeleteIngest(s, d)
      val emb = Tables.embeddings(s, d)
      val q = emb.select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000, 0).cast("long")).as("q"))
      val probe = q.filter(col("vec_id") === 1L).select(col("q").as("p"))
      // the six readback jobs (five table counts + the NN probe) all
      // describe the SAME post-purge state and are independent of one
      // another — overlapped, the readback costs one wall instead of
      // six serial small jobs (Par scaladoc); values unchanged
      var nBefore, nAfter, nPq, nSq8, nIvfPq = 0L
      var r: org.apache.spark.sql.Row = null
      Par.run(
        () => nBefore = emb.count(),
        () => nAfter = ix.ivf(s).count(),
        () => nPq = ix.pqCodes(s).count(),
        () => nSq8 = ix.sq8(s).count(),
        () => nIvfPq = ix.ivfPqCodes(s).count(),
        () => r = q.join(ix.ivf(s).select(col("vec_id")), Seq("vec_id"))
          .crossJoin(broadcast(probe))
          .select(col("vec_id"),
            aggregate(zip_with(col("q"), col("p"), (a, b) => a * b),
              lit(0L), (acc, x) => acc + x).as("dp"))
          .filter(col("vec_id") =!= 1L)
          .orderBy(col("dp").desc, col("vec_id")).limit(1).head())
      val tablesAgree =
        nPq == nAfter && nSq8 == nAfter && nIvfPq == nAfter
      import s.implicits._
      Seq((nBefore, nDeleted, nAfter, r.getLong(0), r.getLong(1),
          tablesAgree, nBatches >= 2))
        .toDF("n_before", "n_deleted", "n_after", "live_nn", "live_dp",
          "tables_agree", "multi_batch")
    }),
    "st10_stream_index" -> ((s, d) => {
      // Streaming index ingest (streaming/IndexStream scaladoc): the
      // documents table arrives as a 4-file stream, one micro-batch
      // per file; the first batch builds the index, each later batch
      // commits a Lucene-model segment against the standing artifact.
      // Readback: the ti1 corpus invariants (recomputed by the oracle
      // from the raw documents) — batch boundaries must leave no trace
      // — plus multi_batch proving the run was genuinely incremental.
      val (ix, nBatches) = graft.streaming.IndexStream.runIndexIngest(s, d)
      val nPhysical = ix.postings(s).count()
      ix.corpus(s)
        .select(col("n").cast("long").as("n_docs"), col("sum_len"))
        .crossJoin(ix.termDf(s).agg(count(lit(1)).as("n_terms"),
          sum(col("df")).as("n_postings")))
        .withColumn("postings_agree", lit(nPhysical) === col("n_postings"))
        .withColumn("multi_batch", lit(nBatches >= 2))
    }),
    "st11_stream_vectors" -> ((s, d) => {
      // Streaming vector ingest (IndexStream.runVectorIngest — the
      // FAISS add() loop as a stream, the ANN twin of st10): the base
      // trains once on the raw embeddings, then ×2-scaled twins of
      // the probes arrive as a 2-batch delta stream, each micro-batch
      // encoded against the FROZEN codebooks and appended. Invariant
      // (the n10 contract): an IVF probe over the merged corpus must
      // surface each probe's streamed twin at rank 1 / cosine exactly
      // 1 through the pruned inverted-file path, plus the multi-batch
      // flag. Fresh ids (+3·10⁶) keep it disjoint from n10's appends;
      // like n10/st10 it deliberately pays its index-build cost
      // in-query (maintenance IS the thing measured).
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"))
      val delta = base.filter(col("vec_id").isin(annProbeIds: _*))
        .select((col("vec_id") + 3000000L).as("vec_id"), col("label"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
            .as("embedding"))
      val (ix, nBatches) =
        graft.streaming.IndexStream.runVectorIngest(s, base, delta)
      Similarity.knnIvfBatchAssigned(base.unionByName(delta), ix.ivf(s),
          ix.cents, annProbeIds, k = 1)
        .select(col("qid"),
          (col("vec_id") === col("qid") + 3000000L).as("hit_is_twin"),
          (col("cos_sim") === 1.0).as("cos_is_one"))
        .withColumn("multi_batch", lit(nBatches >= 2))
        .orderBy(col("qid"))
    }),

    // ---- Structured Streaming, run to completion (SURVEY §2.9) ----
    // Real StreamingQuery executions (file source → stateful op →
    // memory sink, Trigger.AvailableNow); the oracle is the batch SQL
    // the stream must converge to on a finite input.
    "st1_stream_tumbling" -> ((s, d) => EventStream.runTumbling(s, d)),
    "st2_stream_dedup" -> ((s, d) => EventStream.runDedupIngest(s, d)),
    "st3_stream_state" -> ((s, d) => EventStream.runUserCounts(s, d)),
    "st4_stream_denorm" -> ((s, d) =>
      graft.streaming.DenormStream.runDenorm(s, d)),
    "st5_stream_join" -> ((s, d) => EventStream.runStreamJoin(s, d)),
    "st6_stream_funnel" -> ((s, d) =>
      // per-user funnel state machine (mapGroupsWithState) run to
      // completion — converged stage counts ≡ the batch e7 funnel
      EventStream.runFunnel(s, d, Seq("signup", "click", "purchase"))),

    // ST7: streaming gap sessions converge to the batch e4 answer
    "st7_stream_session" -> ((s, d) =>
      EventStream.runSessionWindows(s, d)),

    // ST9: the HLL++ sketch as a streaming aggregation — windowed
    // approximate distinct users, whose streaming estimate must equal
    // the batch sketch bit-for-bit (EventStream.runApproxUsers)
    "st9_stream_sketch" -> ((s, d) =>
      EventStream.runApproxUsers(s, d)),

    // ST14: cohort retention as a per-user streaming state machine —
    // the converged distinct-week sets fold to the e9 matrix
    // bit-for-bit (EventStream.runRetention; st9's full-outer
    // convergence contract)
    "st14_stream_retention" -> ((s, d) =>
      EventStream.runRetention(s, d)),
    "st8_stream_percolate" -> ((s, d) =>
      // ST8: the percolator on the ingest stream (alerting) — stateless
      // micro-batches, append output ≡ the batch pc1 answer
      graft.streaming.PercolateStream.runPercolate(s, d)),
  )

  lazy val oracleSql: Map[String, String] = Map(
    // st11: the n10 contract through the STREAMED append path
    "st11_stream_vectors" ->
      """SELECT qid::BIGINT AS qid, true AS hit_is_twin, true AS cos_is_one,
                true AS multi_batch
         FROM (VALUES (1), (101), (202)) t(qid) ORDER BY qid""",
    // st13: the n12 replay over the STREAMED delete lifecycle —
    // retained vectors are % 5 <> 0, nearest-live of vec 1 by the
    // same one-rounding-per-element BIGINT dot
    "st13_stream_vector_deletes" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding,
                      x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS q
                    FROM embeddings),
          live AS (SELECT * FROM e WHERE vec_id % 5 <> 0),
          pr AS (SELECT q AS pq FROM e WHERE vec_id = 1),
          dp AS (SELECT vec_id,
                        CAST(list_sum(list_transform(range(1, len(q) + 1),
                          i -> q[i] * pq[i])) AS BIGINT) AS dp
                 FROM live, pr WHERE vec_id <> 1),
          nn AS (SELECT vec_id, dp FROM dp ORDER BY dp DESC, vec_id LIMIT 1)
          SELECT (SELECT count(*) FROM e)::BIGINT AS n_before,
                 (SELECT count(*) FROM e WHERE vec_id % 5 = 0)::BIGINT AS n_deleted,
                 (SELECT count(*) FROM live)::BIGINT AS n_after,
                 (SELECT vec_id FROM nn) AS live_nn,
                 (SELECT dp FROM nn) AS live_dp,
                 true AS tables_agree, true AS multi_batch""",
    // st12: ti1's invariants over the RETAINED corpus after the
    // streamed tombstones are purged, + the tombstone total
    "st12_stream_deletes" ->
      s"""WITH r AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
          t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM r),
          p AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM t)
          SELECT (SELECT count(*) FROM t)::BIGINT AS n_docs,
                 (SELECT coalesce(sum(len(toks)), 0) FROM t)::BIGINT AS sum_len,
                 (SELECT count(DISTINCT term) FROM p)::BIGINT AS n_terms,
                 (SELECT count(*) FROM p)::BIGINT AS n_postings,
                 (SELECT count(*) FROM documents WHERE doc_id % 3 = 0)::BIGINT AS n_deleted,
                 true AS postings_agree, true AS multi_batch""",
    // st10: ti1's corpus invariants (the streamed, segment-at-a-time
    // build must converge to the same index) + the multi-batch flag
    "st10_stream_index" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
          p AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM t)
          SELECT (SELECT count(*) FROM t)::BIGINT AS n_docs,
                 (SELECT coalesce(sum(len(toks)), 0) FROM t)::BIGINT AS sum_len,
                 (SELECT count(DISTINCT term) FROM p)::BIGINT AS n_terms,
                 (SELECT count(*) FROM p)::BIGINT AS n_postings,
                 true AS postings_agree, true AS multi_batch""",
    // streaming convergence oracles: the batch answer the finite
    // stream must reach (st2's input is the table delivered twice —
    // the dedup operator must collapse it back to ONE copy, so the
    // single-copy aggregate IS the check)
    "st1_stream_tumbling" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*)::BIGINT AS n,
                round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "st2_stream_dedup" ->
      """SELECT event_type, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1 ORDER BY 1""",
    // st9: exact counts + the constant-TRUE convergence contract
    // (stream sketch ≡ batch sketch; the estimate itself is
    // engine-specific and never compared)
    "st9_stream_sketch" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
                count(DISTINCT user_id)::BIGINT AS exact_users,
                count(*) AS n, TRUE AS stream_eq_batch
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "st3_stream_state" ->
      """SELECT user_id, count(*)::BIGINT AS n
         FROM events GROUP BY 1 ORDER BY 1""",
    "st4_stream_denorm" ->
      """WITH li AS (SELECT l_orderkey, count(*)::INT AS n_items FROM lineitem GROUP BY 1),
          ann AS (SELECT l_orderkey, count(*)::INT AS n_annotations
                  FROM lineitem JOIN part ON l_partkey = p_partkey
                                JOIN supplier s ON l_suppkey = s.s_suppkey
                                JOIN nation n ON s.s_nationkey = n.n_nationkey
                  GROUP BY 1)
          SELECT o.o_orderkey AS id, c.c_custkey AS author_id,
                 coalesce(li.n_items, 0)::INT AS n_items,
                 coalesce(ann.n_annotations, 0)::INT AS n_annotations
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          LEFT JOIN li ON li.l_orderkey = o.o_orderkey
          LEFT JOIN ann ON ann.l_orderkey = o.o_orderkey
          ORDER BY id""",
    "st5_stream_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
         ORDER BY purchase_id, click_id""",
    "st6_stream_funnel" ->
      // the stream must converge to the batch funnel — e7's oracle,
      // verbatim
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                     WHERE event_type = 'signup' GROUP BY 1),
          s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
                 JOIN s1 USING (user_id)
                 WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
          s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
                 JOIN s2 USING (user_id)
                 WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
          SELECT '1_signup' AS stage, count(*)::BIGINT AS n_users FROM s1
          UNION ALL SELECT '2_click', count(*)::BIGINT FROM s2
          UNION ALL SELECT '3_purchase', count(*)::BIGINT FROM s3
          ORDER BY stage""",
    // st14: e9's matrix replay + the constant-TRUE convergence
    // contract (the stream must fold to the batch matrix bit-for-bit)
    "st14_stream_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id,
                            date_trunc('week', ts)::TIMESTAMP AS wk
                     FROM events),
          fst AS (SELECT user_id, min(wk) AS cohort_week FROM wk GROUP BY 1),
          m AS (SELECT cohort_week,
                       (date_diff('day', cohort_week, wk) // 7)::BIGINT
                         AS week_offset,
                       count(*)::BIGINT AS n_users
                FROM wk JOIN fst USING (user_id) GROUP BY 1, 2),
          sz AS (SELECT cohort_week, n_users AS cohort_size FROM m
                 WHERE week_offset = 0)
          SELECT m.cohort_week, m.week_offset, m.n_users, sz.cohort_size,
                 (m.n_users * 10000 // sz.cohort_size)::BIGINT AS retention_bp,
                 TRUE AS stream_eq_batch
          FROM m JOIN sz USING (cohort_week)
          ORDER BY m.cohort_week, m.week_offset""",
    "st7_stream_session" ->
      """WITH g AS (SELECT user_id, ts, value,
                           CASE WHEN lag(ts) OVER w IS NULL
                                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                                THEN 1 ELSE 0 END AS new_s
                    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM g)
          SELECT min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end,
                 user_id, count(*) AS n_events, round(sum(value), 2) AS session_value
          FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""",
    // streaming percolate is stateless → finite-input append output ≡
    // the batch percolator; oracle shared verbatim
    "st8_stream_percolate" -> pc1Sql,
  )
}
