package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The denormalizing ETL — the reference's single big query
  * (kuko6/tweets-elastic `src/main.py:43-101`) transposed to the
  * testdata star schema (FIXTURES.md §B): one nested document per
  * `orders` row, carrying its `customer` as an embedded struct (J1) and
  * two child collections as arrays of structs built by pre-aggregated
  * left-joined subqueries (J2/A1: `GROUP BY` + `json_agg` →
  * `groupBy().agg(collect_list(struct(...)))`), with
  * `COALESCE(..., '[]')` empty-array defaults (P9, `src/main.py:47-51`).
  *
  * Scale notes (100 TB design):
  *  - both child arrays come out of ONE aggregation over the
  *    dim-enriched child table ([[childrenPerOrder]]): the fact table
  *    shuffles once total, not once per child collection, and that
  *    shuffle lands on the join key itself, so the left join that
  *    follows reuses the `HashPartitioning(l_orderkey)` without a
  *    re-exchange;
  *  - dimension lookups (part, supplier, nation) are broadcast inner
  *    joins before aggregation, so the fact table is only shuffled once;
  *  - arrays are sorted inside each group (`sort_array`) to make output
  *    deterministic — the same trick the oracle SQL uses (`ORDER BY`
  *    inside `list()`), see SURVEY.md §7 risk (4). This also preserves
  *    the reference's insertion-order semantics (Postgres `json_agg`
  *    emits child-table order, `src/main.py:55`): the leading sort key
  *    is the child's insertion key (`l_linenumber` — the within-parent
  *    sequence number), so the arrays come out in the same order the
  *    reference produces, with the remaining struct fields only as a
  *    determinism tiebreak. `collect_list` alone cannot promise any
  *    order on a cluster (partial aggs merge in task-completion order);
  *    sorting on the insertion key inside the group is the
  *    distributed-correct way to say "insertion order".
  */
object Denorm {

  /** The orders TABLE contract as a static schema — what a streaming
    * watcher uses when its source directory has no files yet to infer
    * from (SchemaContractSpec pins the live table to the same shape). */
  val ordersSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType)))
  }

  /** Left-semi prune `df` to rows whose `key` appears in `keep` (a
    * single-column DataFrame of order keys). The keep side is a
    * key-only projection, so Catalyst broadcasts it when small and the
    * probe side's scan filters push down untouched — this is how a
    * parent-id restriction lands BELOW the child aggregations, where a
    * higher-order `exists` over the built array can never be pushed. */
  private def pruneTo(df: DataFrame, key: Column,
                      keep: Option[DataFrame]): DataFrame = keep match {
    case Some(k0) =>
      val k = k0.toDF("keep_key")
      df.join(k, key === k("keep_key"), "left_semi")
    case None => df
  }

  /** Pin the child aggregation's shuffle to the CONFIGURED shuffle
    * parallelism (guide §2.5): the exchange is byte-light after
    * compression but its reduce side does the expensive per-group work
    * (struct building over strings, in-group sort_array), so AQE's
    * byte-based partition coalescing starves it — measured at sf0.1
    * the whole collect_list stage ran on 3 of 32 cores (2.4 s of a
    * 3.7 s query) and those 3 long tasks were the wander amplifier
    * (any GC pause or scheduling hiccup on one of them extends the
    * critical path directly). An explicit numPartitions is AQE-exempt
    * and the groupBy on the same key reuses the partitioning — still
    * exactly ONE fact-table shuffle; the value is the session's
    * shuffle-partition conf, the cluster-sized knob. */
  private def byOrderKey(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt, col("l_orderkey"))

  /** Array-of-structs child collection: lineitems per order, the analog
    * of the reference's links/annotations child arrays. */
  def itemsPerOrder(spark: SparkSession, dir: String,
                    keep: Option[DataFrame] = None): DataFrame =
    byOrderKey(pruneTo(Tables.lineitem(spark, dir), col("l_orderkey"), keep))
      .groupBy(col("l_orderkey").as("order_id"))
      .agg(sort_array(collect_list(struct(
        col("l_linenumber").as("linenumber"),
        col("l_partkey").as("partkey"),
        col("l_suppkey").as("suppkey"),
        col("l_quantity").as("quantity"),
        col("l_extendedprice").as("extendedprice"),
        col("l_returnflag").as("returnflag")))).as("items"))

  /** Entity/domain annotations per order — the analog of the reference's
    * `context_annotations` (entity ⋈ domain resolved through dims,
    * `src/main.py:54-60`): part plays context_entities, the supplier's
    * nation plays context_domains. Dims are broadcast (they are small
    * relative to the fact table at every scale). */
  def annotationsPerOrder(spark: SparkSession, dir: String,
                          keep: Option[DataFrame] = None): DataFrame = {
    val li = pruneTo(Tables.lineitem(spark, dir), col("l_orderkey"), keep)
    val part = Tables.part(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val nation = Tables.nation(spark, dir)
    byOrderKey(li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
      .join(broadcast(nation), supp("s_nationkey") === nation("n_nationkey")))
      .groupBy(col("l_orderkey").as("order_id"))
      // insertion order, distributed-correct: the child sequence number
      // rides as the leading sort key and is stripped after the sort —
      // the arrays come out as Postgres json_agg emits them from an
      // id-ordered child fetch (src/main.py:54-60). The payload struct
      // stays in the sort as a determinism tiebreak: the synthetic data
      // repeats sequence numbers within a parent, and a tied sort would
      // be arrival-order-dependent on a cluster.
      .agg(transform(
        sort_array(collect_list(struct(
          col("l_linenumber").as("seq"),
          struct(
            col("p_partkey").as("id"),
            col("p_name").as("name"),
            col("p_type").as("description")).as("entity"),
          struct(
            col("n_nationkey").cast("long").as("id"),
            col("n_name").as("name")).as("domain")))),
        s => struct(s.getField("entity").as("entity"),
          s.getField("domain").as("domain"))).as("annotations"))
  }

  /** Both child collections from ONE pass over the child table: the
    * dims join in as broadcasts (no shuffle), then a single
    * groupBy(order key) builds items AND annotations together. The
    * fact table shuffles once — not once per child collection — and
    * the parent join touches one child relation instead of two; at
    * 100 TB that halves both the shuffled row count and the number of
    * sort-merge joins against the parent. Dim joins are LEFT so a
    * child row with no dim match still contributes its item (the
    * two-subquery shape's semantics); its annotation struct is
    * conditionally null and `collect_list` drops nulls, so it simply
    * vanishes from `annotations` — exactly what the reference's inner
    * joins inside the annotations subquery produce. */
  def childrenPerOrder(spark: SparkSession, dir: String,
                       keep: Option[DataFrame] = None): DataFrame = {
    val li = pruneTo(Tables.lineitem(spark, dir), col("l_orderkey"), keep)
    val part = Tables.part(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val nation = Tables.nation(spark, dir)
    byOrderKey(li
      .join(broadcast(part), li("l_partkey") === part("p_partkey"), "left")
      .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"), "left")
      .join(broadcast(nation), supp("s_nationkey") === nation("n_nationkey"),
        "left"))
      .groupBy(col("l_orderkey").as("order_id"))
      .agg(
        sort_array(collect_list(struct(
          col("l_linenumber").as("linenumber"),
          col("l_partkey").as("partkey"),
          col("l_suppkey").as("suppkey"),
          col("l_quantity").as("quantity"),
          col("l_extendedprice").as("extendedprice"),
          col("l_returnflag").as("returnflag")))).as("items"),
        transform(
          sort_array(collect_list(
            when(col("p_partkey").isNotNull && col("n_nationkey").isNotNull,
              struct(
                col("l_linenumber").as("seq"),
                struct(
                  col("p_partkey").as("id"),
                  col("p_name").as("name"),
                  col("p_type").as("description")).as("entity"),
                struct(
                  col("n_nationkey").cast("long").as("id"),
                  col("n_name").as("name")).as("domain"))))),
          s => struct(s.getField("entity").as("entity"),
            s.getField("domain").as("domain"))).as("annotations"))
  }

  /** Corpus-version fingerprint over the denorm child inputs (the same
    * parquet-metadata discipline as [[TextIndex.corpusKey]] /
    * [[AnnIndex.corpusKey]]): lineitem drives the aggregate, the three
    * dims shape the annotation structs. */
  def childrenKey(sfDir: String): String =
    Fingerprint.ofTables(sfDir, "lineitem", "part", "supplier", "nation")

  private val childrenMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The child-aggregate relation as a MAINTAINED INGEST ARTIFACT: the
    * [[childrenPerOrder]] aggregation persisted once per corpus version
    * and RE-READ by consumers — the compacted table a production
    * incremental-ingest deployment keeps next to the fact table (the
    * 100 TB posture the DenormStream scaladoc describes: the child
    * aggregate is far too large to pin in executor memory there, so
    * each trigger re-reads the maintained table; same join plan shape).
    * Reading parquet instead of caching the live aggregation also
    * decouples consumers from driver-heap state — a columnar-cache
    * build of array-of-struct rows late in a long-lived JVM is exactly
    * the kind of GC-sensitive work a per-query stream run should not
    * repeat. */
  def childrenTable(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = childrenMemo.computeIfAbsent(childrenKey(sfDir), { key =>
      // "v1": the layout-version segment every persisted artifact
      // carries (the TextIndex/AnnIndex discipline) — a schema change
      // bumps it so machine-global tmpdir survivors are never half-read
      val d = java.nio.file.Paths
        .get(sys.props("java.io.tmpdir"), "graft_denorm_children", "v1", key)
        .toString
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(d, "_DONE"))) {
        childrenPerOrder(spark, sfDir)
          .write.mode("overwrite").parquet(d)
        ArtifactGen.markDone(d)
      }
      d
    })
    spark.read.parquet(dir)
  }

  /** One nested document per order — the engine's analog of the tweet
    * document (`docs/sample_document.json`, FIXTURES.md §A). Callers
    * that read only one child collection pass the flags: skipping a
    * collection removes its dim joins and collect_lists from the plan
    * entirely — the same column-pruning discipline a scan applies,
    * which Catalyst cannot do itself across a grouped left join. */
  def docs(spark: SparkSession, dir: String,
           withItems: Boolean = true,
           withAnnotations: Boolean = true): DataFrame =
    build(spark, dir, keep = None,
      withItems = withItems, withAnnotations = withAnnotations)

  /** [[docs]] restricted to the parent ids in `keep` (single-column
    * DataFrame of order keys), with unreferenced child collections
    * skipped entirely. This is the scale shape for a selective filter
    * over the nested docs: the semi-join prune lands on the PARENT
    * TABLE and on EACH CHILD AGGREGATION'S INPUT, so the heavy
    * collect_lists only ever run over qualifying orders — Catalyst
    * cannot do this rewrite itself because a higher-order `exists`
    * over the built array is opaque to predicate pushdown, and a left
    * join to a grouped child can't be pruned away even when its
    * columns go unused. */
  def docsFiltered(spark: SparkSession, dir: String, keep: DataFrame,
                   withItems: Boolean = true,
                   withAnnotations: Boolean = true): DataFrame =
    build(spark, dir, Some(keep), withItems, withAnnotations)

  private def build(spark: SparkSession, dir: String,
                    keep: Option[DataFrame], withItems: Boolean,
                    withAnnotations: Boolean): DataFrame = {
    val orders = pruneTo(Tables.orders(spark, dir), col("o_orderkey"), keep)
    val cust = Tables.customer(spark, dir)

    val base = orders
      .join(cust, orders("o_custkey") === cust("c_custkey"), "inner") // J1
    val scalars = Seq(
      orders("o_orderkey").as("id"),
      orders("o_orderstatus").as("status"),
      orders("o_orderpriority").as("priority"),
      orders("o_totalprice").as("total_price"),
      orders("o_orderdate").as("created_at"),
      struct(
        cust("c_custkey").as("id"),
        cust("c_name").as("name"),
        cust("c_mktsegment").as("segment"),
        cust("c_acctbal").as("acctbal")).as("author"))

    // the child relation: one fused pass when both collections are
    // wanted (single lineitem shuffle), the per-collection aggregation
    // when the caller pruned one away
    val child: Option[DataFrame] = (withItems, withAnnotations) match {
      case (true, true)   => Some(childrenPerOrder(spark, dir, keep))
      case (true, false)  => Some(itemsPerOrder(spark, dir, keep))
      case (false, true)  => Some(annotationsPerOrder(spark, dir, keep))
      case (false, false) => None
    }
    val joined = child match {
      case Some(ch) =>
        base.join(ch, orders("o_orderkey") === ch("order_id"), "left") // J2
      case None => base
    }
    val arrays = child.toSeq.flatMap { ch =>
      val wanted = Seq("items" -> withItems, "annotations" -> withAnnotations)
        .collect { case (n, true) => n }
      wanted.map { n =>
        coalesce(col(n), array().cast(ch.schema(n).dataType)).as(n)
      }
    }
    joined.select(scalars ++ arrays: _*)
  }

  /** Round-trip check query: explode the nested docs back to flat
    * (order, item) rows — must equal the plain orders ⋈ customer ⋈
    * lineitem join. Flat output ⇒ hash-friendly DuckDB oracle. Only
    * `items` is referenced, so the annotations collection is pruned
    * from the build — the same column-pruning discipline a scan
    * applies, which Catalyst cannot do itself across a grouped left
    * join. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame =
    build(spark, dir, keep = None, withItems = true, withAnnotations = false)
      .select(col("id"), col("author.id").as("author_id"),
        explode(col("items")).as("item"))
      .select(col("id"), col("author_id"),
        col("item.linenumber").as("linenumber"),
        col("item.partkey").as("partkey"),
        col("item.quantity").as("quantity"),
        col("item.returnflag").as("returnflag"))
}
