package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Analyzers
import graft.operators._
import graft.streaming.EventStream

/** SparkEntry's Dedup family —
  * exact/MinHash/SimHash/semantic dedup + decontamination (brief extensions).
  *
  * Split out of the single 7.7k-line registry (round-14): each family
  * module contributes its slice of the SAME SparkEntry.queries /
  * oracleSql maps — pure motion, no semantics; key-disjointness is
  * spec-asserted so ++ can never silently overwrite an entry. */
private[graft] object QueriesDedup {
  import SparkEntry.{queries => _, oracleSql => _, entry => _, _}

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d15_keep_best_dedup" -> ((s, d) => {
      // near-dup clusters as d8, but KEEP-BEST survivor selection
      // (Dedup.applyClusterDedupBest): the longest member of each
      // cluster survives (tie → smaller id) — the curation-pipeline
      // policy, vs d8's keep-min-id canonical representative
      val docs = Tables.documents(s, d)
      val clusters =
        Dedup.dupClusters(docs, Dedup.jaccardPairs(docs, threshold = 0.5))
      Dedup.applyClusterDedupBest(docs, clusters, col("n_chars"))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // ---- dedup (brief §extensions; SURVEY §7 M5) ----
    "d1_exact_dedup" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d)).orderBy(col("fingerprint"))),
    "d2_minhash_pairs" -> ((s, d) => // LSH is probabilistic: rows-only
      Dedup.minhashPairs(Tables.documents(s, d), threshold = 0.5)),
    "d3_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), maxHamming = 10)),
    "d4_jaccard_pairs" -> ((s, d) =>
      Dedup.jaccardPairs(Tables.documents(s, d), threshold = 0.5)),
    "d14_containment" -> ((s, d) =>
      // asymmetric containment |A∩B|/|A| in exact basis points — the
      // partial-copy detector symmetric Jaccard misses
      // (Dedup.containmentPairs scaladoc)
      Dedup.containmentPairs(Tables.documents(s, d))),
    "d20_split_leakage" -> ((s, d) =>
      // train/val split-leakage audit (Dedup.splitLeakage scaladoc):
      // near-dup pairs CROSSING the x8 hash-split boundary — the
      // eval-integrity failure in-split dedup can't see
      Dedup.splitLeakage(Tables.documents(s, d))),
    "d22_leakage_fix" -> ((s, d) =>
      // the remediation the d20 audit calls for (Dedup.splitLeakageFix
      // scaladoc): leaked val docs move to train; before/after split
      // census with the moved count
      Dedup.splitLeakageFix(Tables.documents(s, d))),
    "d21_dedup_report" -> ((s, d) =>
      // dedup audit report (Dedup.dupReport scaladoc): the
      // cluster-size histogram over d7's exact transitive clusters —
      // how many duplicate families of each size, absorbing how many
      // docs
      Dedup.dupReport(Tables.documents(s, d))),
    "d6_dedup_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.applyDedup(docs,
          Dedup.jaccardPairs(docs, threshold = 0.5))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    "d7_dup_clusters" -> ((s, d) => {
      // connected components over the dup-pair graph: transitive
      // closure that pair-wise d6 can't express
      val docs = Tables.documents(s, d)
      Dedup.dupClusters(docs, Dedup.jaccardPairs(docs, threshold = 0.5))
        .orderBy(col("doc_id"))
    }),
    "d8_cluster_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val clusters =
        Dedup.dupClusters(docs, Dedup.jaccardPairs(docs, threshold = 0.5))
      Dedup.applyClusterDedup(docs, clusters)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    "d5_cosine_pairs" -> ((s, d) =>
      // exact all-pairs semantics, tiled so the quadratic work shuffle-
      // partitions instead of planning a BroadcastNestedLoopJoin
      Similarity.cosinePairsBlocked(Tables.embeddings(s, d), 0.4)),
    "d11_chunk_dedup" -> ((s, d) =>
      graft.operators.Dedup.chunkDedup(Tables.documents(s, d),
        chunkTokens = 32)
        .orderBy(col("doc_id"), col("chunk_idx"))),
    "d19_substring_dedup" -> ((s, d) =>
      // exact repeated-substring masking (Dedup.substringDedup): every
      // word 8-gram present in >= 2 distinct docs is masked wherever
      // it occurs; cleaned_text is the surviving token sequence
      graft.operators.Dedup.substringDedup(Tables.documents(s, d),
        n = 8, minDocs = 2)),
    "d12_incremental_minhash" -> ((s, d) => {
      // arriving batch (doc_id % 10 = 0) screened against the standing
      // corpus's MAINTAINED frames — the banded LSH index and shingle
      // verify-side now read from the PERSISTED DedupIndex artifact
      // (production appends to it daily — d17 gates that loop); oracle
      // is the exact-Jaccard batch×standing join (LSH recall 1.0 at
      // this scale — the d2 argument)
      val docs = Tables.documents(s, d)
      DedupIndex.screenNear(s, dedupIndexMost(s, d),
          docs.filter(col("doc_id") % 10 === 0))
        .orderBy(col("doc_id"))
    }),
    "d17_standing_index" -> ((s, d) => {
      // the daily-ingest MAINTENANCE loop on a private index copy
      // (the ti1/s16 discipline — the shared artifact stays
      // immutable): build the standing index, screen the arriving
      // batch, append the survivors (O(batch) — DedupIndex.addBatch),
      // then RE-SCREEN the same batch: every doc must now resolve as
      // known — the idempotence a production dedup service relies on
      // (a re-delivered batch adds nothing twice).
      val docs = Tables.documents(s, d)
      val standing = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val ix = DedupIndex.build(standing, Scratch.dir("d17ix"))
      // the five pre-append reads are independent of one another (all
      // describe the index/batch state BEFORE addBatch mutates it) and
      // run overlapped — same values, wall = the slowest read instead
      // of the sum of five small jobs (Par scaladoc)
      var before, bucketsBefore, setsBefore, n1new, nBatch = 0L
      Par.run(
        () => before = ix.fingerprints(s).count(),
        () => bucketsBefore = ix.buckets(s).count(),
        () => setsBefore = ix.shingleSets(s).count(),
        () => n1new = DedupIndex.screenExact(s, ix, batch)
          .filter(col("is_new")).count(),
        () => nBatch = batch.count())
      val (_, nFps) = DedupIndex.addBatch(s, ix, batch)
      // ...and the four post-append reads likewise
      var after, n2new, bucketsAfter, setsAfter = 0L
      Par.run(
        () => after = ix.fingerprints(s).count(),
        () => n2new = DedupIndex.screenExact(s, ix, batch)
          .filter(col("is_new")).count(),
        () => bucketsAfter = ix.buckets(s).count(),
        () => setsAfter = ix.shingleSets(s).count())
      // INDEPENDENT structural evidence that all three tables moved in
      // lockstep: the appended representatives carry exactly
      // Dedup.Bands bucket rows and one shingle-set row each — counted
      // from the tables themselves, not from addBatch's own
      // bookkeeping (a gate that compares a computation with itself
      // can never fail)
      val lockstep =
        bucketsAfter == bucketsBefore + Dedup.Bands.toLong * nFps &&
        setsAfter == setsBefore + nFps
      import s.implicits._
      Seq((before, nBatch, n1new, nFps, after,
          n2new == 0L, lockstep, after == before + nFps))
        .toDF("n_index_before", "n_batch", "n_new", "n_fps_added",
          "n_index_after", "rescreen_all_known",
          "tables_in_lockstep", "growth_consistent")
    }),
    "d18_strict_admission" -> ((s, d) => {
      // the STRICT near-dup admission policy under the gate
      // (DedupIndex.addBatch(nearThreshold) scaladoc): exact-new
      // representatives are additionally near-screened against the
      // standing side, and a verified Jaccard ≥ 0.5 is refused
      // admission — the policy that keeps the standing index
      // distinct-content-sized when re-worded duplicates arrive
      // daily. Verified per batch doc: exact_new (its fingerprint was
      // unknown) and admitted (its fingerprint entered the index) —
      // the oracle replays both from raw text, including the rep
      // selection and the near-dup verify. Private index copy, the
      // d17 discipline; the before-fingerprints snapshot is
      // materialized to scratch (lesson 13 — the membership join
      // must not re-list the directory the append writes into).
      // Shares d12's documented assumption: the oracle's exact
      // all-pairs join equals the LSH-banded candidate set because
      // banding recall is 1.0 on this corpus's actual >= 0.5 pairs
      // (deterministic xxhash banding — same verdict every run; a
      // future corpus with a borderline-0.5 pair that misses all 16
      // bands would surface here exactly as it would in d12).
      val docs = Tables.documents(s, d)
      val standing = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val ix = DedupIndex.build(standing, Scratch.dir("d18ix"))
      val scratch = Scratch.dir("d18before")
      ix.fingerprints(s).select(col("fingerprint"))
        .write.mode("overwrite").parquet(s"$scratch/before")
      val beforeFps = s.read.parquet(s"$scratch/before")
      DedupIndex.addBatch(s, ix, batch, nearThreshold = Some(0.5))
      batch.select(col("doc_id"),
          md5(Dedup.normalize(col("text"))).as("fp"))
        .join(beforeFps.select(col("fingerprint").as("fp"),
          lit(true).as("known")), Seq("fp"), "left")
        .join(ix.fingerprints(s).select(col("fingerprint").as("fp"),
          lit(true).as("now")), Seq("fp"), "left")
        .select(col("doc_id"),
          (col("known").isNull && col("fp").isNotNull).as("exact_new"),
          (col("known").isNull && coalesce(col("now"), lit(false)))
            .as("admitted"))
        .orderBy(col("doc_id"))
    }),
    "d10_incremental_dedup" -> ((s, d) => {
      // standing corpus = even ids, arriving batch = odd ids; each new
      // doc resolves to the standing doc it duplicates or marks itself
      // new. The standing fingerprint index is the PERSISTED artifact
      // (operators.DedupIndex) — screening READS it; the per-batch
      // rebuild this query used to pay is gone (the d17 query
      // exercises the maintenance side).
      val docs = Tables.documents(s, d)
      DedupIndex.screenExact(s, dedupIndexEven(s, d),
          docs.filter(col("doc_id") % 2 =!= 0))
        .orderBy(col("doc_id"))
    }),
    "d9_contamination" -> ((s, d) => {
      // eval set = every 20th doc (stand-in benchmark); flag training
      // docs sharing >= 5 distinct shingles with any eval doc
      val docs = Tables.documents(s, d)
      Dedup.contamination(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0), minShared = 5)
        .orderBy(col("doc_id"))
    }),
    "d16_contamination_fraction" -> ((s, d) => {
      // per-EVAL-doc overlap fraction (Dedup.contaminationFraction
      // scaladoc) — the GPT-3-appendix decontamination metric: what
      // fraction of each benchmark doc's grams leak from the training
      // corpus; ≥50% → drop the example
      val docs = Tables.documents(s, d)
      Dedup.contaminationFraction(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0))
    }),
    "d13_semantic_dedup" -> ((s, d) =>
      // SemDeDup: cluster-scoped embedding near-dup removal — the
      // quadratic pair work is bounded by the cluster, never the
      // corpus (Similarity.semDedup scaladoc)
      Similarity.semDedup(Tables.embeddings(s, d), threshold = 0.35)
        .orderBy(col("vec_id"))),
  )

  lazy val oracleSql: Map[String, String] = Map(
    // d15: the d8 recursive component closure, but the survivor per
    // component is the longest member (tie → smaller id) instead of
    // the min id
    "d15_keep_best_dedup" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM documents),
          s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
          p0 AS (SELECT doc_id, len(sh)::INT AS setsize, unnest(sh) AS sh1 FROM s),
          p AS (SELECT * FROM p0
                QUALIFY count(*) OVER (PARTITION BY sh1) <= 1000),
          j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, any_value(a.setsize) AS sa,
                       any_value(b.setsize) AS sb, count(*)::INT AS inter
                FROM p a JOIN p b ON a.sh1 = b.sh1 AND a.doc_id < b.doc_id GROUP BY 1, 2),
          pr AS (SELECT id_a, id_b FROM j
                 WHERE inter::DOUBLE / (sa + sb - inter)::DOUBLE >= 0.5),
          e AS (SELECT id_a AS u, id_b AS v FROM pr UNION SELECT id_b, id_a FROM pr),
          r AS (SELECT u, v FROM e UNION SELECT r.u, e.v FROM r JOIN e ON r.v = e.u),
          lab AS (SELECT d.doc_id, any_value(d.n_chars) AS n_chars,
                         least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
                  FROM documents d LEFT JOIN r ON d.doc_id = r.u
                  GROUP BY d.doc_id)
          SELECT doc_id FROM lab
          QUALIFY row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY n_chars DESC, doc_id) = 1
          ORDER BY doc_id""",
    "d1_exact_dedup" ->
      s"""SELECT md5($sqlNorm) AS fingerprint, min(doc_id) AS keep_id, count(*) AS n_dups
          FROM documents GROUP BY 1 ORDER BY 1""",
    // d2's LSH candidate generation is verified by its exact-Jaccard
    // re-check: at this scale recall is 1.0 (SimilaritySpec/DedupSpec),
    // so the exact-Jaccard SQL is a valid oracle for the MinHash path
    "d2_minhash_pairs" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM documents),
          s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
          p0 AS (SELECT doc_id, len(sh)::INT AS setsize, unnest(sh) AS sh1 FROM s),
          -- mirror the impl's stop-shingle cap (maxShingleFreq=1000):
          -- posting buckets past the cap are dropped on BOTH sides, so
          -- the differential check stays exact on corpora where some
          -- shingle exceeds the cap
          p AS (SELECT * FROM p0
                QUALIFY count(*) OVER (PARTITION BY sh1) <= 1000),
          j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, any_value(a.setsize) AS sa,
                       any_value(b.setsize) AS sb, count(*)::INT AS inter
                FROM p a JOIN p b ON a.sh1 = b.sh1 AND a.doc_id < b.doc_id GROUP BY 1, 2)
          SELECT id_a, id_b, round(inter::DOUBLE / (sa + sb - inter)::DOUBLE, 6) AS jaccard
          FROM j WHERE inter::DOUBLE / (sa + sb - inter)::DOUBLE >= 0.5
          ORDER BY id_a, id_b""",
    // full SQL replay of the SimHash pipeline: two mod-prime code-point
    // token hashes → 60 per-bit majority votes → packed signature →
    // 4×15-bit LSH bands → candidate join → Hamming verify
    "d3_simhash_pairs" -> {
      val votes = (0 until 60).map { j =>
        val (h, bit) = if (j < 30) ("h1", j) else ("h2", j - 30)
        s"sum(CASE WHEN (($h >> $bit) & 1) = 1 THEN 1 ELSE -1 END) AS b$j"
      }.mkString(", ")
      val pack = (0 until 60)
        .map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END")
        .mkString(" + ")
      def fold(base: Long) =
        s"list_reduce(list_prepend(0::BIGINT, cps), (a, b) -> (a*$base + b) % 1000000007)"
      s"""WITH t AS (SELECT doc_id, unnest(${sqlToks(sqlNorm)}) AS tok FROM documents),
          cpt AS (SELECT doc_id, list_transform(string_split(tok, ''), c -> unicode(c)::BIGINT) AS cps FROM t),
          h AS (SELECT doc_id, ${fold(1000003L)} AS h1, ${fold(1000033L)} AS h2 FROM cpt),
          v AS (SELECT doc_id, $votes FROM h GROUP BY 1),
          s AS (SELECT doc_id, ($pack)::BIGINT AS sim FROM v),
          bb AS (SELECT doc_id, sim, band, (sim >> (band*15)) & 32767 AS bucket
                 FROM (SELECT doc_id, sim, unnest([0,1,2,3]) AS band FROM s)),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                          a.sim AS sim_a, b.sim AS sim_b
                   FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket
                                      AND a.doc_id < b.doc_id)
          SELECT id_a, id_b, bit_count(xor(sim_a, sim_b))::INT AS hamming
          FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 10
          ORDER BY id_a, id_b""".stripMargin
    },
    "d4_jaccard_pairs" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM documents),
          s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
          p0 AS (SELECT doc_id, len(sh)::INT AS setsize, unnest(sh) AS sh1 FROM s),
          -- mirror the impl's stop-shingle cap (maxShingleFreq=1000):
          -- posting buckets past the cap are dropped on BOTH sides, so
          -- the differential check stays exact on corpora where some
          -- shingle exceeds the cap
          p AS (SELECT * FROM p0
                QUALIFY count(*) OVER (PARTITION BY sh1) <= 1000),
          j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, any_value(a.setsize) AS sa,
                       any_value(b.setsize) AS sb, count(*)::INT AS inter
                FROM p a JOIN p b ON a.sh1 = b.sh1 AND a.doc_id < b.doc_id GROUP BY 1, 2)
          SELECT id_a, id_b, round(inter::DOUBLE / (sa + sb - inter)::DOUBLE, 6) AS jaccard
          FROM j WHERE inter::DOUBLE / (sa + sb - inter)::DOUBLE >= 0.5
          ORDER BY id_a, id_b""",
    // d22: the d20 replay's leaked-val set applied as a split
    // reassignment, then the census
    "d22_leakage_fix" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM documents),
          s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
          p0 AS (SELECT doc_id, len(sh)::INT AS setsize, unnest(sh) AS sh1 FROM s),
          p AS (SELECT * FROM p0
                QUALIFY count(*) OVER (PARTITION BY sh1) <= 1000),
          j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, any_value(a.setsize) AS sa,
                       any_value(b.setsize) AS sb, count(*)::INT AS inter
                FROM p a JOIN p b ON a.sh1 = b.sh1 AND a.doc_id < b.doc_id GROUP BY 1, 2),
          sp AS (SELECT doc_id,
                        CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 90
                             THEN 'train' ELSE 'val' END AS split
                 FROM documents),
          lk AS (SELECT DISTINCT
                        CASE WHEN sa2.split = 'val' THEN j.id_a ELSE j.id_b END AS id
                 FROM j JOIN sp sa2 ON j.id_a = sa2.doc_id
                        JOIN sp sb2 ON j.id_b = sb2.doc_id
                 WHERE inter::DOUBLE / (sa + sb - inter)::DOUBLE >= 0.5
                   AND sa2.split <> sb2.split),
          fixed AS (SELECT CASE WHEN lk.id IS NOT NULL THEN 'train'
                                ELSE sp.split END AS split,
                           lk.id IS NOT NULL AS moved
                    FROM sp LEFT JOIN lk ON sp.doc_id = lk.id)
          SELECT split, count(*)::BIGINT AS n_docs,
                 sum(CASE WHEN moved THEN 1 ELSE 0 END)::BIGINT AS n_moved_in
          FROM fixed GROUP BY split ORDER BY split""",
    // d21: the d7 transitive-closure replay folded to the
    // cluster-size histogram
    "d21_dedup_report" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM documents),
          s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
          p0 AS (SELECT doc_id, len(sh)::INT AS setsize, unnest(sh) AS sh1 FROM s),
          p AS (SELECT * FROM p0
                QUALIFY count(*) OVER (PARTITION BY sh1) <= 1000),
          j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, any_value(a.setsize) AS sa,
                       any_value(b.setsize) AS sb, count(*)::INT AS inter
                FROM p a JOIN p b ON a.sh1 = b.sh1 AND a.doc_id < b.doc_id GROUP BY 1, 2),
          pr AS (SELECT id_a, id_b FROM j
                 WHERE inter::DOUBLE / (sa + sb - inter)::DOUBLE >= 0.5),
          e AS (SELECT id_a AS u, id_b AS v FROM pr UNION SELECT id_b, id_a FROM pr),
          r AS (SELECT u, v FROM e UNION SELECT r.u, e.v FROM r JOIN e ON r.v = e.u),
          cl AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
                 FROM documents d LEFT JOIN r ON d.doc_id = r.u
                 GROUP BY d.doc_id),
          sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size
                 FROM cl GROUP BY 1)
          SELECT cluster_size, count(*)::BIGINT AS n_clusters,
                 sum(cluster_size)::BIGINT AS n_docs
          FROM sz GROUP BY cluster_size ORDER BY cluster_size""",
    // d20: the d4 pair replay with the x8 split labels joined onto
    // both sides, keeping only boundary-crossing pairs
    "d20_split_leakage" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM documents),
          s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
          p0 AS (SELECT doc_id, len(sh)::INT AS setsize, unnest(sh) AS sh1 FROM s),
          p AS (SELECT * FROM p0
                QUALIFY count(*) OVER (PARTITION BY sh1) <= 1000),
          j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, any_value(a.setsize) AS sa,
                       any_value(b.setsize) AS sb, count(*)::INT AS inter
                FROM p a JOIN p b ON a.sh1 = b.sh1 AND a.doc_id < b.doc_id GROUP BY 1, 2),
          sp AS (SELECT doc_id,
                        CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 90
                             THEN 'train' ELSE 'val' END AS split
                 FROM documents)
          SELECT id_a, id_b,
                 round(inter::DOUBLE / (sa + sb - inter)::DOUBLE, 6) AS jaccard,
                 sa2.split AS split_a, sb2.split AS split_b
          FROM j JOIN sp sa2 ON j.id_a = sa2.doc_id
                 JOIN sp sb2 ON j.id_b = sb2.doc_id
          WHERE inter::DOUBLE / (sa + sb - inter)::DOUBLE >= 0.5
            AND sa2.split <> sb2.split
          ORDER BY id_a, id_b""",
    // d14: the d4 intersection CTE scored in both directions, exact
    // integer basis points per contained side
    "d14_containment" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM documents),
          s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
          p0 AS (SELECT doc_id, len(sh)::INT AS setsize, unnest(sh) AS sh1 FROM s),
          -- mirror the impl's stop-shingle cap (maxShingleFreq=1000):
          -- posting buckets past the cap are dropped on BOTH sides, so
          -- the differential check stays exact on corpora where some
          -- shingle exceeds the cap
          p AS (SELECT * FROM p0
                QUALIFY count(*) OVER (PARTITION BY sh1) <= 1000),
          j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, any_value(a.setsize) AS sa,
                       any_value(b.setsize) AS sb, count(*)::BIGINT AS inter
                FROM p a JOIN p b ON a.sh1 = b.sh1 AND a.doc_id < b.doc_id GROUP BY 1, 2),
          u AS (SELECT id_a AS contained, id_b AS container,
                       (inter * 10000 // sa)::BIGINT AS containment_bp FROM j
                UNION ALL
                SELECT id_b, id_a, (inter * 10000 // sb)::BIGINT FROM j)
          SELECT contained, container, containment_bp FROM u
          WHERE containment_bp >= 8000 ORDER BY 1, 2""",
    "d17_standing_index" ->
      s"""WITH st AS (SELECT md5($sqlNorm) AS fp FROM documents WHERE doc_id % 10 <> 0),
          sfp AS (SELECT DISTINCT fp FROM st),
          b AS (SELECT doc_id, md5($sqlNorm) AS fp FROM documents WHERE doc_id % 10 = 0),
          nw AS (SELECT b.doc_id, b.fp FROM b LEFT JOIN sfp ON b.fp = sfp.fp
                 WHERE sfp.fp IS NULL)
          SELECT (SELECT count(*) FROM sfp)::BIGINT AS n_index_before,
                 (SELECT count(*) FROM b)::BIGINT AS n_batch,
                 (SELECT count(*) FROM nw)::BIGINT AS n_new,
                 (SELECT count(DISTINCT fp) FROM nw)::BIGINT AS n_fps_added,
                 ((SELECT count(*) FROM sfp)
                  + (SELECT count(DISTINCT fp) FROM nw))::BIGINT AS n_index_after,
                 true AS rescreen_all_known,
                 true AS tables_in_lockstep,
                 true AS growth_consistent""",
    "d10_incremental_dedup" ->
      s"""WITH idx AS (SELECT md5($sqlNorm) AS fingerprint, min(doc_id) AS keep_id
                       FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
          nb AS (SELECT doc_id, md5($sqlNorm) AS fp FROM documents WHERE doc_id % 2 <> 0)
          SELECT nb.doc_id, idx.keep_id AS dup_of, idx.keep_id IS NULL AS is_new
          FROM nb LEFT JOIN idx ON nb.fp = idx.fingerprint
          ORDER BY nb.doc_id""",
    // d7/d8: same exact-Jaccard pair graph as d4, closed transitively
    // with a recursive CTE — every node's cluster is the min id it can
    // reach (singletons map to themselves via the LEFT JOIN + least)
    "d7_dup_clusters" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM documents),
          s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
          p0 AS (SELECT doc_id, len(sh)::INT AS setsize, unnest(sh) AS sh1 FROM s),
          -- mirror the impl's stop-shingle cap (maxShingleFreq=1000):
          -- posting buckets past the cap are dropped on BOTH sides, so
          -- the differential check stays exact on corpora where some
          -- shingle exceeds the cap
          p AS (SELECT * FROM p0
                QUALIFY count(*) OVER (PARTITION BY sh1) <= 1000),
          j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, any_value(a.setsize) AS sa,
                       any_value(b.setsize) AS sb, count(*)::INT AS inter
                FROM p a JOIN p b ON a.sh1 = b.sh1 AND a.doc_id < b.doc_id GROUP BY 1, 2),
          pr AS (SELECT id_a, id_b FROM j
                 WHERE inter::DOUBLE / (sa + sb - inter)::DOUBLE >= 0.5),
          e AS (SELECT id_a AS u, id_b AS v FROM pr UNION SELECT id_b, id_a FROM pr),
          r AS (SELECT u, v FROM e UNION SELECT r.u, e.v FROM r JOIN e ON r.v = e.u)
          SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
          FROM documents d LEFT JOIN r ON d.doc_id = r.u
          GROUP BY d.doc_id ORDER BY d.doc_id""",
    "d8_cluster_dedup" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM documents),
          s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
          p0 AS (SELECT doc_id, len(sh)::INT AS setsize, unnest(sh) AS sh1 FROM s),
          -- mirror the impl's stop-shingle cap (maxShingleFreq=1000):
          -- posting buckets past the cap are dropped on BOTH sides, so
          -- the differential check stays exact on corpora where some
          -- shingle exceeds the cap
          p AS (SELECT * FROM p0
                QUALIFY count(*) OVER (PARTITION BY sh1) <= 1000),
          j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, any_value(a.setsize) AS sa,
                       any_value(b.setsize) AS sb, count(*)::INT AS inter
                FROM p a JOIN p b ON a.sh1 = b.sh1 AND a.doc_id < b.doc_id GROUP BY 1, 2),
          pr AS (SELECT id_a, id_b FROM j
                 WHERE inter::DOUBLE / (sa + sb - inter)::DOUBLE >= 0.5),
          e AS (SELECT id_a AS u, id_b AS v FROM pr UNION SELECT id_b, id_a FROM pr),
          r AS (SELECT u, v FROM e UNION SELECT r.u, e.v FROM r JOIN e ON r.v = e.u)
          SELECT d.doc_id
          FROM documents d LEFT JOIN r ON d.doc_id = r.u
          GROUP BY d.doc_id
          HAVING least(d.doc_id, coalesce(min(r.v), d.doc_id)) = d.doc_id
          ORDER BY d.doc_id""",
    "d6_dedup_apply" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM documents),
          s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
          p0 AS (SELECT doc_id, len(sh)::INT AS setsize, unnest(sh) AS sh1 FROM s),
          -- mirror the impl's stop-shingle cap (maxShingleFreq=1000):
          -- posting buckets past the cap are dropped on BOTH sides, so
          -- the differential check stays exact on corpora where some
          -- shingle exceeds the cap
          p AS (SELECT * FROM p0
                QUALIFY count(*) OVER (PARTITION BY sh1) <= 1000),
          j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, any_value(a.setsize) AS sa,
                       any_value(b.setsize) AS sb, count(*)::INT AS inter
                FROM p a JOIN p b ON a.sh1 = b.sh1 AND a.doc_id < b.doc_id GROUP BY 1, 2)
          SELECT doc_id FROM documents
          WHERE doc_id NOT IN (SELECT id_b FROM j
                               WHERE inter::DOUBLE / (sa + sb - inter)::DOUBLE >= 0.5)
          ORDER BY doc_id""",
    "d5_cosine_pairs" ->
      """SELECT id_a, id_b, cos_sim FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                        (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                         sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_sim
           FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
         WHERE cos_sim >= 0.4 ORDER BY id_a, id_b""",
    "d11_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                    FROM documents WHERE len(trim(text)) > 0),
          c AS (SELECT doc_id, i::BIGINT AS chunk_idx,
                       md5(array_to_string(toks[i*32+1:i*32+32], ' ')) AS fp
                FROM t, unnest(range((len(toks)-1)//32 + 1)) AS u(i)),
          f AS (SELECT doc_id, chunk_idx, fp,
                       min(ROW(doc_id, chunk_idx)) OVER (PARTITION BY fp) AS first_seen
                FROM c)
          SELECT doc_id, chunk_idx, fp,
                 (ROW(doc_id, chunk_idx) <> first_seen) AS is_dup
          FROM f ORDER BY doc_id, chunk_idx""",
    "d19_substring_dedup" ->
      s"""WITH t AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM documents),
          g AS (SELECT doc_id, pos, array_to_string(toks[pos:pos+7], ' ') AS gram
                FROM (SELECT doc_id, toks,
                             unnest(generate_series(1, len(toks)-7)) AS pos
                      FROM t WHERE len(toks) >= 8)),
          rep AS (SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g)
                  GROUP BY gram HAVING count(*) >= 2),
          mp AS (SELECT DISTINCT doc_id, p FROM (
                  SELECT g.doc_id, unnest(generate_series(g.pos, g.pos + 7)) AS p
                  FROM g JOIN rep USING (gram))),
          sp AS (SELECT doc_id, count(*)::BIGINT AS n_masked,
                        sum(CASE WHEN prev IS NULL OR prev <> p - 1
                                 THEN 1 ELSE 0 END)::BIGINT AS n_spans
                 FROM (SELECT doc_id, p,
                              lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
                       FROM mp)
                 GROUP BY doc_id),
          tk AS (SELECT doc_id, pos, toks[pos] AS tok
                 FROM (SELECT doc_id, toks,
                              unnest(generate_series(1, len(toks))) AS pos
                       FROM t)),
          cl AS (SELECT tk.doc_id,
                        string_agg(tk.tok, ' ' ORDER BY tk.pos) AS cleaned
                 FROM tk LEFT JOIN mp ON tk.doc_id = mp.doc_id AND tk.pos = mp.p
                 WHERE mp.p IS NULL GROUP BY tk.doc_id)
          SELECT t.doc_id, len(toks)::BIGINT AS n_tokens,
                 coalesce(sp.n_masked, 0)::BIGINT AS n_masked,
                 coalesce(sp.n_spans, 0)::BIGINT AS n_spans,
                 coalesce(cl.cleaned, '') AS cleaned_text
          FROM t LEFT JOIN sp USING (doc_id) LEFT JOIN cl USING (doc_id)
          ORDER BY doc_id""",
    "d12_incremental_minhash" ->
      s"""WITH nw AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
          st AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
          nt AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM nw),
          ns AS (SELECT doc_id, $sqlShingles AS sh FROM nt),
          ot AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM st),
          os AS (SELECT doc_id, $sqlShingles AS sh FROM ot),
          np AS (SELECT doc_id, len(sh)::INT AS setsize, unnest(sh) AS sh1 FROM ns),
          op AS (SELECT doc_id, len(sh)::INT AS setsize, unnest(sh) AS sh1 FROM os),
          j AS (SELECT n.doc_id AS nid, o.doc_id AS oid,
                       any_value(n.setsize) AS sa, any_value(o.setsize) AS sb,
                       count(*)::INT AS inter
                FROM np n JOIN op o ON n.sh1 = o.sh1 GROUP BY 1, 2),
          d AS (SELECT nid, min(oid) AS dup_of FROM j
                WHERE inter::DOUBLE / (sa + sb - inter)::DOUBLE >= 0.5
                GROUP BY 1)
          SELECT nw.doc_id, d.dup_of, d.dup_of IS NULL AS is_new
          FROM nw LEFT JOIN d ON nw.doc_id = d.nid
          ORDER BY nw.doc_id""",
    // d18: full replay of the strict admission policy — exact-new
    // fingerprints, one representative per fingerprint (min id),
    // near-dup verify of the representatives against the standing
    // side (the d12 CTE), admission = exact-new AND rep not near-dup
    "d18_strict_admission" ->
      s"""WITH nw AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
          st AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
          bf AS (SELECT doc_id, md5($sqlNorm) AS fp FROM nw),
          sf AS (SELECT DISTINCT md5($sqlNorm) AS fp FROM st),
          reps AS (SELECT fp, min(doc_id) AS rep FROM bf
                   WHERE fp IS NOT NULL
                     AND fp NOT IN (SELECT fp FROM sf WHERE fp IS NOT NULL)
                   GROUP BY fp),
          rt AS (SELECT r.rep AS doc_id, ${sqlToks(sqlNorm)} AS toks
                 FROM reps r JOIN nw n ON n.doc_id = r.rep),
          rs AS (SELECT doc_id, $sqlShingles AS sh FROM rt),
          ot AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM st),
          os AS (SELECT doc_id, $sqlShingles AS sh FROM ot),
          rp AS (SELECT doc_id, len(sh)::INT AS setsize, unnest(sh) AS sh1 FROM rs),
          op AS (SELECT doc_id, len(sh)::INT AS setsize, unnest(sh) AS sh1 FROM os),
          j AS (SELECT r.doc_id AS rid, o.doc_id AS oid,
                       any_value(r.setsize) AS sa, any_value(o.setsize) AS sb,
                       count(*)::INT AS inter
                FROM rp r JOIN op o ON r.sh1 = o.sh1 GROUP BY 1, 2),
          nd AS (SELECT DISTINCT rid FROM j
                 WHERE inter::DOUBLE / (sa + sb - inter)::DOUBLE >= 0.5),
          adm AS (SELECT fp FROM reps
                  WHERE rep NOT IN (SELECT rid FROM nd))
          SELECT b.doc_id,
                 coalesce(b.fp IS NOT NULL AND
                   b.fp NOT IN (SELECT fp FROM sf WHERE fp IS NOT NULL),
                   false) AS exact_new,
                 coalesce(b.fp IN (SELECT fp FROM adm), false) AS admitted
          FROM bf b ORDER BY b.doc_id""",
    "d9_contamination" ->
      s"""WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
          ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
          tt AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM tr),
          ts AS (SELECT doc_id, $sqlShingles AS sh FROM tt),
          et AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM ev),
          es AS (SELECT DISTINCT unnest($sqlShingles) AS sh1
                 FROM et),
          tp AS (SELECT doc_id, unnest(sh) AS sh1 FROM ts),
          sh AS (SELECT tp.doc_id, count(*)::BIGINT AS n_shared
                 FROM tp JOIN es ON tp.sh1 = es.sh1 GROUP BY 1)
          SELECT tr.doc_id, coalesce(sh.n_shared, 0)::BIGINT AS n_shared,
                 coalesce(sh.n_shared, 0) >= 5 AS contaminated
          FROM tr LEFT JOIN sh ON tr.doc_id = sh.doc_id
          ORDER BY tr.doc_id""",
    "d16_contamination_fraction" ->
      s"""WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
          ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
          tt AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM tr),
          trg AS (SELECT DISTINCT unnest($sqlShingles) AS g
                  FROM (SELECT doc_id, toks FROM tt)),
          et AS (SELECT doc_id, ${sqlToks(sqlNorm)} AS toks FROM ev),
          eg AS (SELECT doc_id, unnest(sh) AS g
                 FROM (SELECT doc_id, $sqlShingles AS sh FROM et)),
          m AS (SELECT eg.doc_id, count(*)::BIGINT AS n_grams,
                       sum(CASE WHEN trg.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit
                FROM eg LEFT JOIN trg ON eg.g = trg.g GROUP BY 1)
          SELECT doc_id, n_grams, n_hit,
                 (n_hit * 10000 // greatest(n_grams, 1))::BIGINT AS overlap_bp,
                 n_hit * 10000 // greatest(n_grams, 1) >= 5000 AS contaminated
          FROM m ORDER BY doc_id""",
    "d13_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, label,
                           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                    FROM embeddings WHERE sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0),
          d AS (SELECT a.vec_id AS vec_id, min(b.vec_id) AS dup_of
                FROM embeddings a JOIN embeddings b
                  ON a.label = b.label AND a.vec_id > b.vec_id
                WHERE sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) > 0
                  AND sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])) > 0
                  AND round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.35
                GROUP BY 1)
          SELECT e.vec_id, e.label::BIGINT AS cluster,
                 d.dup_of IS NULL AS kept,
                 coalesce(d.dup_of, -1)::BIGINT AS dup_of
          FROM e LEFT JOIN d ON d.vec_id = e.vec_id
          ORDER BY e.vec_id""",
  )
}
