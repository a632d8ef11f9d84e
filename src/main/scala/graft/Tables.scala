package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.operators.Fingerprint

/** Readers for the driver-generated test tables (TESTDATA.md).
  *
  * These parquet tables play the role of the reference's normalized
  * Postgres schema (kuko6/tweets-elastic `src/main.py:52-97`):
  * orders→conversations, customer→authors, lineitem→child collections,
  * part/supplier/nation/region→dimension lookups, documents→tweet text,
  * events→stream, embeddings→similarity extension (SURVEY.md §7).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else {
      val path = s"$dir/$name.parquet"
      spark.read.schema(schemaOf(spark, path, Fingerprint.ofTables(dir, name)))
        .parquet(path)
    }

  // path → (fingerprint, schema): inferring a schema is a one-task Spark
  // job, so it runs once per version of a table's files. A rewritten
  // table has a new fingerprint (file names, lengths, mtimes) and is
  // inferred again, replacing its entry. Fingerprint lists the local
  // filesystem, where these tables are generated.
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  private def schemaOf(spark: SparkSession, path: String,
                       fingerprint: String): StructType =
    Option(schemas.get(path)).filter(_._1 == fingerprint).map(_._2).getOrElse {
      val s = spark.read.parquet(path).schema
      schemas.put(path, (fingerprint, s))
      s
    }

  /** Upstream writers have shipped `events.ts` under several parquet
    * encodings over time — TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects outright, hence `nanosAsLong`), plain microsecond
    * timestamp-without-timezone (read back as TIMESTAMP_NTZ), and true
    * TIMESTAMP. The ingest contract of this engine is a single
    * `TimestampType` column regardless of encoding (the reference pins
    * ingest typing the same way via an explicit date format in its
    * mapping), so normalize all three here. NTZ → TIMESTAMP is a
    * lossless reinterpretation under the pinned UTC session timezone. */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    // Conditionally-scoped conf flip. Schema inference is eager
    // (`spark.read.parquet` reads footers immediately), but the
    // returned frame is LAZY and Spark 4.1.2 re-reads this flag from
    // the session conf at PHYSICAL-PLANNING time
    // (ParquetFileFormat.setupHadoopConf copies SQL confs into the
    // per-scan hadoop conf then; the resolved relation carries no
    // snapshot of its own). So a blanket restore-after-read would make
    // any action over a genuinely nanos-encoded table throw "Illegal
    // Parquet type: INT64 (TIMESTAMP(NANOS))" executor-side. Probe the
    // schema under the flag, then restore ONLY when ts is not
    // nanos-encoded: a micro/NTZ corpus (every driver-generated one)
    // leaves the session conf untouched after this call, while a nanos
    // corpus keeps the flag on for the session — required for its own
    // execution, and normalizeTs's LongType branch does the loud,
    // integral µs conversion. The alternative (eagerly materializing
    // the frame so the flag could be restored) would buffer the whole
    // events table, a non-starter at the 100 TB design point.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    def restore(): Unit = prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    spark.conf.set(key, "true")
    // the schema probe lives INSIDE the guarded region: a corpus whose
    // events table lacks `ts` throws from `df.schema("ts")` AFTER a
    // successful read, and a restore scoped to read failures alone
    // would leak the session-wide flag on that path (round-14 advisor)
    val (df, tsType) =
      try {
        val d = spark.read.parquet(s"$dir/events.parquet")
        (d, d.schema("ts").dataType)
      } catch { case t: Throwable => restore(); throw t }
    if (tsType != org.apache.spark.sql.types.LongType) restore()
    df.withColumn("ts", normalizeTs(tsType))
  }

  /** `ts` under any historical encoding → one `TimestampType` column.
    * Shared by the batch reader above and the streaming ingest
    * (`streaming.EventStream.eventsStream`). */
  private[graft] def normalizeTs(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types._
    dt match {
      // nanos-as-long: integral `div`, NOT `/` — long / long is double
      // division in the Column DSL, and 2024-epoch nanos exceed 2⁵³;
      // the round-trip through double was off by 1 µs on some rows
      case LongType         => timestamp_micros(expr("ts div 1000"))
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other => throw new IllegalStateException(
        s"events.ts has unsupported parquet type $other; expected " +
        "TIMESTAMP(NANOS) long, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
