package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generation. Every table the program reads is made here
  * from `--seed`; the same seed and scale give byte-identical inputs.
  *
  * The tables follow the test-table schemas the library reads
  * (`graft.Tables`, FIXTURES.md §B): orders, customer, lineitem, part,
  * supplier, nation, region, documents, embeddings. Row counts scale
  * with `sf` like the reference generator (sf0.1 = 150k orders, 600k
  * lineitem, 5k documents, 2k embeddings).
  */
final class Inputs(seed: Long) {

  /** Deterministic 64-bit hash of the seed, a salt and some columns. */
  private def h(salt: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)
  private def uniform(salt: Int, m: Long, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(m))
  private def unit(salt: Int, cols: Column*): Column =
    uniform(salt, 1000000L, cols: _*).cast("double") / 1e6
  private def pick(salt: Int, options: Seq[String], cols: Column*): Column =
    element_at(array(options.map(lit): _*),
      (uniform(salt, options.size.toLong, cols: _*) + 1).cast("int"))

  def rows(sf: Double, base: Double): Long = math.max(10L, math.round(base * sf))

  /** Writes the seven star-schema tables under `dir`. Order keys are
    * sparse: the gaps make keyset pagination depend on the keys, not on
    * a row count. */
  def writeStar(spark: SparkSession, dir: String, sf: Double,
                parts: Int): Unit = {
    val nOrders = rows(sf, 1.5e6)
    val nCust = rows(sf, 1.5e5)
    val nPart = rows(sf, 2.0e5)
    val nSupp = rows(sf, 1.0e4)
    // the tables are independent, so their writes run as concurrent
    // Spark jobs (generation is not measured; this only shortens it)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parts)
    val pending = mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
    def write(df: DataFrame, name: String): Unit =
      pending += pool.submit(new Runnable {
        def run(): Unit = df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
      })

    val id = col("id")
    val orderKey = (id * 4 + uniform(1, 4, id)).as("o_orderkey")
    val orders = spark.range(0, nOrders, 1, parts).select(
      orderKey,
      uniform(2, nCust, id).as("o_custkey"),
      pick(3, Seq("F", "O", "P"), id).as("o_orderstatus"),
      round(unit(4, id) * 400000.0 + 1000.0, 2).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), uniform(5, 2400, id).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      pick(6, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW"), id).as("o_orderpriority"))
    write(orders, "orders")

    val ln = col("l_linenumber")
    val ok = col("o_orderkey")
    val lineitem = spark.range(0, nOrders, 1, parts)
      .select(orderKey)
      .select(ok, explode(sequence(lit(1),
        (uniform(7, 7, ok) + 1).cast("int"))).as("l_linenumber"))
      .select(ok.as("l_orderkey"),
        uniform(8, nPart, ok, ln).as("l_partkey"),
        uniform(9, nSupp, ok, ln).as("l_suppkey"),
        ln,
        (uniform(10, 50, ok, ln) + 1).cast("double").as("l_quantity"),
        round(unit(11, ok, ln) * 100000.0 + 900.0, 2).as("l_extendedprice"),
        (uniform(12, 11, ok, ln).cast("double") / 100.0).as("l_discount"),
        (uniform(13, 9, ok, ln).cast("double") / 100.0).as("l_tax"),
        pick(14, Seq("R", "A", "N"), ok, ln).as("l_returnflag"),
        pick(15, Seq("O", "F"), ok, ln).as("l_linestatus"),
        date_add(lit("1992-01-02").cast("date"),
          uniform(16, 2500, ok, ln).cast("int"))
          .cast("timestamp").as("l_shipdate"))
    write(lineitem, "lineitem")

    write(spark.range(0, nCust, 1, parts).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      uniform(17, 25, id).cast("int").as("c_nationkey"),
      round(unit(18, id) * 10999.98 - 999.99, 2).as("c_acctbal"),
      pick(19, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), id).as("c_mktsegment")), "customer")

    write(spark.range(0, nPart, 1, parts).select(
      id.as("p_partkey"),
      concat(pick(20, Seq("cold", "small", "large", "bright", "dark",
          "steel", "rapid", "quiet"), id), lit(" "),
        pick(21, Seq("widget", "bolt", "gear", "valve", "spring", "panel",
          "lamp", "cable"), id)).as("p_name"),
      concat(lit("Brand#"), (uniform(22, 25, id) + 1).cast("string"))
        .as("p_brand"),
      pick(23, Seq("ECONOMY", "PROMO", "STANDARD", "SMALL", "LARGE",
        "MEDIUM"), id).as("p_type"),
      (uniform(24, 50, id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + id.cast("double") * 0.1, 2).as("p_retailprice")),
      "part")

    write(spark.range(0, nSupp, 1, 1).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      uniform(25, 25, id).cast("int").as("s_nationkey"),
      round(unit(26, id) * 10999.98 - 999.99, 2).as("s_acctbal")),
      "supplier")

    val nationRows = Inputs.nations.zipWithIndex.map { case ((n, r), i) =>
      Row(i, n, r) }
    write(spark.createDataFrame(java.util.Arrays.asList(nationRows: _*),
      StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))), "nation")
    write(spark.createDataFrame(java.util.Arrays.asList(
      Inputs.regions.zipWithIndex.map { case (r, i) => Row(i, r) }: _*),
      StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType)))), "region")
    try pending.foreach(_.get())
    finally pool.shutdown()
  }

  // ---- documents ----------------------------------------------------

  /** Vocabulary of `Inputs.VocabSize` distinct lowercase words; term
    * ranks follow a Zipf law with exponent `Inputs.ZipfS`, so a few
    * terms have long postings lists and most have short ones. */
  lazy val vocab: Array[String] = {
    val rng = new SplittableRandom(seed ^ 0x5eedL)
    val cons = "bcdfghjklmnprstvz"; val vows = "aeiou"
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < Inputs.VocabSize) {
      val syll = 2 + rng.nextInt(3)
      seen.add((0 until syll).map { _ =>
        s"${cons(rng.nextInt(cons.length))}${vows(rng.nextInt(vows.length))}"
      }.mkString)
    }
    seen.toArray(new Array[String](0))
  }

  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Inputs.VocabSize)(r =>
      1.0 / math.pow(r + 1.0, Inputs.ZipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  /** A Zipf-distributed term rank. */
  def zipfRank(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, Inputs.VocabSize - 1)
  }

  def rngFor(salt: Long, id: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt * 0x632BE59BD9B4E019L + id)

  /** The text of document `id`: 20–100 Zipf-drawn words. A pure
    * function of (seed, id), so a workload can mint fresh documents
    * at any point of a run. */
  def docText(id: Long): String = {
    val rng = rngFor(1, id)
    val n = 20 + rng.nextInt(81)
    (0 until n).map(_ => vocab(zipfRank(rng))).mkString(" ")
  }

  /** `text` with about a (1−j)/(1+j) share of its word 3-gram shingles
    * replaced, so the copy's shingle Jaccard to the original is near
    * `j`. Replaced words are spaced at least three apart so each
    * replacement breaks three distinct shingles. */
  def edit(text: String, j: Double, rng: SplittableRandom): String = {
    val w = text.split(" ")
    val shingles = math.max(1, w.length - 2)
    val r = math.max(1, math.round(shingles * (1 - j) / (3 * (1 + j))).toInt)
    val step = math.max(3, w.length / r)
    var pos = rng.nextInt(step)
    while (pos < w.length) {
      var repl = vocab(rng.nextInt(vocab.length))
      while (repl == w(pos)) repl = vocab(rng.nextInt(vocab.length))
      w(pos) = repl
      pos += step
    }
    w.mkString(" ")
  }

  /** The first third of `text` (a partial copy: fully contained in its
    * source, Jaccard to it about 1/3). */
  def prefixThird(text: String): String = {
    val w = text.split(" ")
    w.take(math.max(8, w.length / 3)).mkString(" ")
  }

  def docRow(id: Long, text: String): Row = {
    val rng = rngFor(2, id)
    Row(id, text, Inputs.langs(rng.nextInt(Inputs.langs.size)),
      s"src${rng.nextInt(8)}", text.length.toLong)
  }

  def docsFrame(spark: SparkSession, rows: Seq[Row], parts: Int): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Inputs.docSchema)
      .repartition(parts)

  // ---- embeddings ---------------------------------------------------

  /** Gaussian vector of `Inputs.Dim` floats for `id`. */
  def vector(id: Long): Array[Float] = {
    val rng = rngFor(3, id)
    Array.fill(Inputs.Dim)(gauss(rng).toFloat)
  }

  def jitter(v: Array[Float], sigma: Double, rng: SplittableRandom): Array[Float] =
    v.map(x => (x + sigma * gauss(rng)).toFloat)

  private def gauss(rng: SplittableRandom): Double = {
    val u = math.max(rng.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  def embeddingsFrame(spark: SparkSession,
                      vecs: Seq[(Long, Array[Float])], parts: Int): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(vecs.map { case (i, v) =>
        Row(i, v.toSeq, (i % 10).toInt) }: _*), Inputs.embSchema)
      .repartition(parts)
}

object Inputs {
  val VocabSize = 4000
  val ZipfS = 1.0
  val Dim = 64

  val langs = Seq("en", "de", "fr", "es", "sk", "zh")

  val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val nations: Seq[(String, Int)] = Seq(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1,
    "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3,
    "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4, "IRAQ" -> 4,
    "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0, "MOROCCO" -> 0,
    "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
    "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3,
    "UNITED KINGDOM" -> 3, "UNITED STATES" -> 1)

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))
}
