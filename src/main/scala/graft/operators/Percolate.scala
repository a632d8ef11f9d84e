package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Analyzers

/** ES percolator — search turned inside-out: the QUERIES are stored and
  * each incoming document is matched against all of them (ES `percolate`
  * query over a `.percolator` field; the reference's alerting-style use
  * of its index in `src/used_queries/` is the forward form of the same
  * bool clauses). Each stored query is a bool of `must` / `must_not` /
  * `should` term clauses with `minimum_should_match`.
  *
  * Spark shape: the stored-query table is small by construction (humans
  * author queries; documents arrive at corpus scale), so it rides a
  * BROADCAST nested-loop join against the token-arrayed documents, and
  * clause evaluation is codegen'd array algebra per (doc, query) pair —
  * no shuffle at any corpus size; the document side streams through
  * scan → project → broadcast-join → filter in one codegen stage. At
  * 100 TB with thousands of stored queries the refinement is the same
  * one ES uses (pre-select candidate queries via a term index on the
  * query's must-terms); the evaluation contract below is unchanged.
  */
object Percolate {

  /** Stored-query fixture: (query_id, must, must_not, should,
    * minimum_should_match) over the corpus vocabulary. */
  val stored: Seq[(Long, Seq[String], Seq[String], Seq[String], Int)] = Seq(
    (1L, Seq("spark", "join"), Seq("slow"), Seq.empty, 0),
    (2L, Seq("customer"), Seq.empty, Seq("order", "line", "part"), 2),
    (3L, Seq.empty, Seq("vector"), Seq("stream", "window", "batch"), 3),
    (4L, Seq("hash", "merge", "sort"), Seq.empty, Seq.empty, 0),
    (5L, Seq("scan"), Seq("filter", "slow"), Seq("fast", "big"), 1))

  type StoredQuery = (Long, Seq[String], Seq[String], Seq[String], Int)

  def storedQueries(spark: SparkSession,
                    qs: Seq[StoredQuery] = stored): DataFrame = {
    import spark.implicits._
    qs.toDF("query_id", "must", "must_not", "should", "min_should")
  }

  private[graft] def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      array_distinct(Analyzers.tokenize(lower(col("text")))).as("toks"))

  /** The bool-clause evaluation shared by both match paths. */
  private def evalClauses(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("n_should",
        size(filter(col("should"), t => array_contains(col("toks"), t))))
      .filter(
        forall(col("must"), t => array_contains(col("toks"), t)) &&
          !exists(col("must_not"), t => array_contains(col("toks"), t)) &&
          col("n_should") >= col("min_should"))
      .select(col("doc_id"), col("query_id"),
        col("n_should").cast("long").as("n_should"))

  /** Match every document against every stored query; emit one row per
    * (doc, query) hit with the satisfied should-clause count. */
  def percolate(docs: DataFrame, qs: Seq[StoredQuery] = stored): DataFrame =
    evalClauses(tokenized(docs)
      .crossJoin(broadcast(storedQueries(docs.sparkSession, qs))))

  /** Necessary-term inverted index over a stored-query set, in the
    * [[graft.functions.PercolateIndexImpl]] spec encoding: the rarest
    * must term keys the posting list per must-query — and for queries
    * with ≥2 must terms (when `conjunctionTerms ≥ 2`) the
    * SECOND-rarest is recorded as an additional required term, ES's
    * conjunction pre-selection: the candidate set becomes the
    * INTERSECTION of two posting lists, which shrinks
    * multiplicatively for queries built from mid-frequency terms
    * (where any single posting list stays a large fraction of the
    * corpus). Must-free queries with `minimum_should_match ≥ 1` index
    * every should term; queries with no necessary condition are
    * always-candidate residuals.
    *
    * The term ranking is what the index's selectivity hangs on — ES
    * picks the terms with the LOWEST document frequency from its term
    * dictionary. With corpus `df` statistics (a bounded
    * query-term-only lookup against the [[TextIndex]] term dictionary,
    * see [[dfForQueries]]) this does the same: globally rarest terms
    * first; a term absent from the dictionary has df 0 — a must term
    * no corpus doc contains makes the query unmatchable, the ideal
    * candidate key. Without statistics it falls back to
    * longest-term-as-rarity-proxy. */
  def indexSpec(qs: Seq[StoredQuery],
                df: Map[String, Long] = Map.empty,
                conjunctionTerms: Int = 2): String = {
    // the spec encoding carries at most ONE extra required term per
    // query (the `second` channel below): a count of 3+ would
    // silently behave as 2 (round-13 review) — refuse until the
    // encoding grows, instead of pretending to prune harder
    require(conjunctionTerms >= 1 && conjunctionTerms <= 2,
      s"conjunctionTerms=$conjunctionTerms unsupported: the candidate " +
        "spec encodes at most one extra required term (1 disables it, " +
        "2 enables it)")
    val postings =
      scala.collection.mutable.LinkedHashMap.empty[String, Vector[Long]]
    val second = Vector.newBuilder[(Long, String)]
    val residual = Vector.newBuilder[Long]
    qs.foreach { case (id, must, _, should, minShould) =>
      val keys =
        if (must.nonEmpty) {
          val ranked = must.distinct
            .sortBy(t => (df.getOrElse(t, 0L), -t.length, t))
          if (conjunctionTerms >= 2 && ranked.size >= 2)
            second += ((id, ranked(1)))
          Seq(ranked.head)
        }
        else if (minShould > 0 && should.nonEmpty) should.distinct
        else Seq.empty
      if (keys.isEmpty) residual += id
      else keys.foreach { t =>
        postings(t) = postings.getOrElse(t, Vector.empty) :+ id
      }
    }
    val secondv = second.result()
    (postings.keys ++ secondv.map(_._2)).foreach { t =>
      require(!t.exists(",;:|=".contains(_)), s"unindexable term $t")
    }
    residual.result().mkString(",") + "|" +
      postings.map { case (t, ids) => s"$t:${ids.mkString(",")}" }
        .mkString(";") + "|" +
      secondv.map { case (id, t) => s"$id=$t" }.mkString(";")
  }

  /** Percolate with candidate pre-selection — the 100 TB / large-query-
    * set path. Instead of evaluating all |docs|×|queries| pairs in a
    * broadcast nested loop, each doc looks up its candidate query ids
    * in the necessary-term index (a codegen'd per-token hash probe),
    * explodes only those, and the clause evaluation joins the query
    * table by id as a BROADCAST HASH join. Results are identical to
    * [[percolate]] by construction (the index is a necessary
    * condition); the corpus still never shuffles. */
  def percolateIndexed(docs: DataFrame, qs: Seq[StoredQuery] = stored,
                       df: Map[String, Long] = Map.empty,
                       conjunctionTerms: Int = 2): DataFrame = {
    val spec = indexSpec(qs, df, conjunctionTerms)
    val cand = tokenized(docs)
      .withColumn("query_id",
        explode(graft.functions.expressions
          .candidate_queries(col("toks"), spec)))
    evalClauses(
      cand.join(broadcast(storedQueries(docs.sparkSession, qs)), "query_id"))
  }

  /** Document frequencies for exactly the terms the stored queries
    * mention, from a (term, df) dictionary frame (the [[TextIndex]]
    * `term_df` artifact). The filter bounds the collect by the
    * QUERY-SET size, never the corpus vocabulary — at 100 TB the
    * dictionary has hundreds of millions of terms; the queries
    * reference a few thousand. */
  def dfForQueries(termDf: DataFrame, qs: Seq[StoredQuery]): Map[String, Long] = {
    val wanted = qs.flatMap { case (_, must, _, should, _) => must ++ should }
      .distinct
    if (wanted.isEmpty) Map.empty
    else termDf.filter(col("term").isin(wanted: _*))
      .select(col("term"), col("df").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }
}
