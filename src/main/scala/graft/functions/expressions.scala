package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Java-side helpers invoked from generated code.
  *
  * MUST be a top-level object: Scala emits Java-visible static forwarder
  * methods only for top-level objects, and Janino resolves the generated
  * `graft.functions.Impl.porterStem(...)` call through those forwarders.
  * As a nested object (round 1) the call failed to compile and every
  * containing stage silently fell back to interpreted execution.
  */
object Impl {
    def porterStem(s: UTF8String): UTF8String =
      if (s == null) null
      else UTF8String.fromString(PorterStemmer.stem(s.toString))

    private val marks = java.util.regex.Pattern.compile("\\p{M}+")
    /** Strip diacritics: NFD-decompose then drop combining marks — the
      * semantics of the reference's `asciifolding` filter
      * (kuko6/tweets-elastic `src/config/settings.json:26,36`). */
    def asciiFold(s: UTF8String): UTF8String =
      if (s == null) null
      else {
        val str = s.toString
        var needs = false
        var i = 0
        while (i < str.length && !needs) {
          if (str.charAt(i) >= 0x80) needs = true
          i += 1
        }
        if (!needs) s
        else {
          val norm = java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFD)
          UTF8String.fromString(marks.matcher(norm).replaceAll(""))
        }
      }

    /** NFKC compatibility normalization — the standard pre-hash text
      * canonicalization in curation pipelines: fullwidth forms,
      * ligatures, superscripts and half-width kana all fold to their
      * canonical compatibles, so visually-identical documents hash
      * identically before dedup. Pure-ASCII fast path skips the
      * normalizer entirely (the overwhelmingly common case). */
    def nfkc(s: UTF8String): UTF8String =
      if (s == null) null
      else {
        val str = s.toString
        var needs = false
        var i = 0
        while (i < str.length && !needs) {
          if (str.charAt(i) >= 0x80) needs = true
          i += 1
        }
        if (!needs) s
        else UTF8String.fromString(java.text.Normalizer.normalize(
          str, java.text.Normalizer.Form.NFKC))
      }
}

/** Codegen'd core of the dedup family — see [[expressions.ShingleHashes]].
  * Top-level for Java-visible static forwarders (Janino requirement). */
object ShingleImpl {
  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L
  private def fnv(s: UTF8String): Long = {
    val b = s.getBytes
    var h = FnvOffset
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= FnvPrime; i += 1 }
    h
  }
  @inline private def mix(acc: Long, t: Long): Long =
    (acc ^ t) * 0x9e3779b97f4a7c15L + 0x165667b19e3779f9L
  def shingleHashes(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                    n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val m = arr.numElements()
    val th = new Array[Long](m)
    var i = 0
    while (i < m) { th(i) = fnv(arr.getUTF8String(i)); i += 1 }
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (m < n) {
      var h = FnvOffset
      i = 0
      while (i < m) { h = mix(h, th(i)); i += 1 }
      out.add(h)
    } else {
      i = 0
      while (i <= m - n) {
        var h = FnvOffset
        var j = 0
        while (j < n) { h = mix(h, th(i + j)); j += 1 }
        out.add(h)
        i += 1
      }
    }
    val res = new Array[Long](out.size)
    val it = out.iterator()
    i = 0
    while (it.hasNext) { res(i) = it.next(); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(res)
  }
}

/** O(n) Rabin–Karp winnowing core — see [[expressions.RollingMinHash]].
  * Top-level for Java-visible static forwarders (Janino requirement).
  *
  * Operates on Unicode CODE POINTS with polynomial hashing mod a prime
  * (not wrapping 64-bit over UTF-8 bytes): every intermediate fits well
  * inside a signed long, so the exact same fold is expressible in
  * standard SQL integer arithmetic — the DuckDB oracle for
  * `x6_rolling_fingerprint` replays it with `list_reduce` over
  * `unicode()` code points and must match bit-for-bit. */
object RollingImpl {
  final val Base = 1000003L
  final val Mod = 1000000007L
  def minWindowHash(s: UTF8String, window: Int): java.lang.Long = {
    if (s == null) return null
    val str = s.toString
    val n = str.codePointCount(0, str.length)
    if (n < window) return null
    val cps = new Array[Long](n)
    var ci = 0
    var k = 0
    while (ci < str.length) {
      val cp = str.codePointAt(ci)
      cps(k) = cp.toLong
      k += 1
      ci += Character.charCount(cp)
    }
    // basePow = Base^(window-1) mod Mod, for removing the outgoing char
    var basePow = 1L
    var i = 1
    while (i < window) { basePow = (basePow * Base) % Mod; i += 1 }
    var h = 0L
    i = 0
    while (i < window) { h = (h * Base + cps(i)) % Mod; i += 1 }
    var min = h
    while (i < n) {
      var t = (h - (cps(i - window) * basePow) % Mod) % Mod
      if (t < 0) t += Mod
      h = (t * Base + cps(i)) % Mod
      if (h < min) min = h
      i += 1
    }
    min
  }
}

/** Fused analyzer-pipeline cores (top-level for static forwarders).
  *
  * Spark's higher-order functions (`transform`/`filter`) are
  * CodegenFallback and re-walk the token array once per stage — the
  * `englando` pipeline alone is 4 interpreted traversals per row. Each
  * core below runs a whole token-filter chain in one primitive loop and
  * is called from generated code, so the analyzer queries stay inside
  * whole-stage codegen end to end. Semantics are locked to the staged
  * versions by AnalyzerSpec's golden vectors and the DuckDB oracles
  * (t9/t10 mirror lower→strip_accents→gram generation exactly). */
object AnalyzerChainImpl {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  private val stops: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    // single source of truth — a drifted copy here would silently break
    // the fused==staged contract
    graft.functions.Analyzers.englishStopwords.foreach(s.add)
    s
  }

  @inline private def possessiveLower(t: String): String = {
    val n = t.length
    val stripped =
      if (n >= 2 && (t.charAt(n - 1) == 's' || t.charAt(n - 1) == 'S') &&
          (t.charAt(n - 2) == '\'' || t.charAt(n - 2) == '’'))
        t.substring(0, n - 2)
      else t
    // Locale.ROOT: executor JVMs may run any default locale, and e.g.
    // tr-TR lowercases "IF" to a dotless "ıf" that misses the stopword
    // set — the staged path (Spark lower()) is locale-independent
    stripped.toLowerCase(java.util.Locale.ROOT)
  }

  @inline private def lowerFold(t: String): String = {
    val lowered = t.toLowerCase(java.util.Locale.ROOT)
    Impl.asciiFold(UTF8String.fromString(lowered)).toString
  }

  /** englando token filters: possessive strip → lowercase → stop →
    * Porter, one pass. */
  def englishChain(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    val out = new java.util.ArrayList[UTF8String](m)
    var i = 0
    while (i < m) {
      val t = possessiveLower(arr.getUTF8String(i).toString)
      if (!stops.contains(t))
        out.add(UTF8String.fromString(PorterStemmer.stem(t)))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** custom_ngram token filters: lowercase → asciifold → all
    * minGram..maxGram substrings per token, length-major. */
  def foldNgrams(arr: ArrayData, minGram: Int, maxGram: Int): ArrayData = {
    val m = arr.numElements()
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < m) {
      val t = lowerFold(arr.getUTF8String(i).toString)
      val len = t.length
      var n = minGram
      while (n <= maxGram && n <= len) {
        var s = 0
        while (s + n <= len) {
          out.add(UTF8String.fromString(t.substring(s, s + n)))
          s += 1
        }
        n += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** custom_shingles token filters: lowercase → asciifold → unigrams
    * followed by separator-less word bigrams. */
  def foldShingles(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    val folded = new Array[String](m)
    var i = 0
    while (i < m) { folded(i) = lowerFold(arr.getUTF8String(i).toString); i += 1 }
    val out = new Array[UTF8String](if (m >= 2) 2 * m - 1 else m)
    i = 0
    while (i < m) { out(i) = UTF8String.fromString(folded(i)); i += 1 }
    i = 0
    while (i < m - 1) {
      out(m + i) = UTF8String.fromString(folded(i) + folded(i + 1))
      i += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }
}

/** Fused text-statistics cores for [[graft.operators.TextStats]] (same
  * rationale and static-forwarder requirement as [[AnalyzerChainImpl]]):
  * each replaces 1-4 interpreted higher-order-function array walks with
  * one primitive loop callable from generated code. */
object TextStatsImpl {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  private def toSet(words: Seq[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  // built from the canonical definitions (language-sorted, matching
  // LangHits' index contract) — a drifted copy here would silently
  // skew the scores
  private val langSets: Array[java.util.HashSet[UTF8String]] =
    graft.operators.TextStats.langMarkers.toSeq.sortBy(_._1)
      .map { case (_, words) => toSet(words) }.toArray
  private val stopSet: java.util.HashSet[UTF8String] =
    toSet(graft.functions.Analyzers.englishStopwords)

  /** Function-word hits per candidate language, one token pass. */
  def langHits(arr: ArrayData): ArrayData = {
    val hits = new Array[Int](langSets.length)
    val m = arr.numElements()
    var i = 0
    while (i < m) {
      val t = arr.getUTF8String(i)
      var l = 0
      while (l < langSets.length) {
        if (langSets(l).contains(t)) hits(l) += 1
        l += 1
      }
      i += 1
    }
    new GenericArrayData(hits)
  }

  /** (n_tokens, n_stopwords, Σ token chars) in one token pass. */
  def tokenStats(arr: ArrayData): InternalRow = {
    val m = arr.numElements()
    var stop = 0
    var sumLen = 0L
    var i = 0
    while (i < m) {
      val t = arr.getUTF8String(i)
      if (stopSet.contains(t)) stop += 1
      sumLen += t.numChars()
      i += 1
    }
    InternalRow(m, stop, sumLen)
  }

  /** Polynomial code-point hash mod a prime — the SQL-replayable hash
    * family (DuckDB: list_reduce over unicode code points). Used by
    * SimHash so its whole pipeline has an exact DuckDB oracle; ~30
    * output bits per (base, mod) pair, combine two for 60. */
  def polyHash(s: UTF8String, base: Long, mod: Long): Long = {
    val str = s.toString
    var h = 0L
    var ci = 0
    while (ci < str.length) {
      val cp = str.codePointAt(ci)
      h = (h * base + cp) % mod
      ci += Character.charCount(cp)
    }
    h
  }

  private val hexDigits = "0123456789abcdef".toCharArray
  /** min(md5(element)) without materializing the per-element hash
    * array — the winnowing partial fingerprint of TextStats.X4. */
  def minMd5(arr: ArrayData): UTF8String = {
    val m = arr.numElements()
    if (m == 0) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    var min: String = null
    var i = 0
    while (i < m) {
      md.reset()
      val digest = md.digest(arr.getUTF8String(i).getBytes)
      val sb = new java.lang.StringBuilder(32)
      var j = 0
      while (j < 16) {
        sb.append(hexDigits((digest(j) >> 4) & 0xf))
        sb.append(hexDigits(digest(j) & 0xf))
        j += 1
      }
      val h = sb.toString
      if (min == null || h.compareTo(min) < 0) min = h
      i += 1
    }
    UTF8String.fromString(min)
  }
}

/** Custom scalar Catalyst expressions for analyzer stages that have no
  * built-in equivalent (SURVEY.md §2.8 T5 asciifold, T8 Porter stem).
  * Both generate code (a static call) so they stay inside whole-stage
  * codegen when used outside higher-order-function lambdas.
  */
object expressions {

  abstract class StaticStringCall(fnName: String) extends UnaryExpression
      with Serializable {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any = call(v.asInstanceOf[UTF8String])
    protected def call(s: UTF8String): UTF8String
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Impl.$fnName($c)")
  }

  case class PorterStem(child: Expression) extends StaticStringCall("porterStem") {
    override protected def call(s: UTF8String): UTF8String = Impl.porterStem(s)
    override protected def withNewChildInternal(c: Expression): PorterStem = copy(c)
    override def prettyName: String = "porter_stem"
  }

  case class AsciiFold(child: Expression) extends StaticStringCall("asciiFold") {
    override protected def call(s: UTF8String): UTF8String = Impl.asciiFold(s)
    override protected def withNewChildInternal(c: Expression): AsciiFold = copy(c)
    override def prettyName: String = "ascii_fold"
  }

  case class Nfkc(child: Expression) extends StaticStringCall("nfkc") {
    override protected def call(s: UTF8String): UTF8String = Impl.nfkc(s)
    override protected def withNewChildInternal(c: Expression): Nfkc = copy(c)
    override def prettyName: String = "nfkc"
  }

  def porter_stem(c: Column): Column =
    GraftShim.toColumn(PorterStem(GraftShim.toExpression(c)))
  def ascii_fold(c: Column): Column =
    GraftShim.toColumn(AsciiFold(GraftShim.toExpression(c)))
  def nfkc(c: Column): Column =
    GraftShim.toColumn(Nfkc(GraftShim.toExpression(c)))

  /** Distinct word-n-gram shingle hashes straight from a token array —
    * the codegen'd core of the dedup family. Equivalent (w.h.p.) to
    * hashing the string shingles of [[graft.operators.Dedup.shingleSet]]
    * but with no string concatenation, no per-element lambda
    * interpretation and no string-compare distinct: per-token FNV-1a
    * 64-bit hashes combined over a sliding window, deduped in a hash
    * set. Shorter-than-n token lists collapse to one whole-text shingle
    * (same shape as the string version). [[shingle_hashes]] builds it
    * at [[graft.operators.Dedup.ShingleWidth]]. */
  case class ShingleHashes(child: Expression, n: Int)
      extends UnaryExpression with Serializable {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      ShingleImpl.shingleHashes(
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.ShingleImpl.shingleHashes($c, $n)")
    override protected def withNewChildInternal(c: Expression): ShingleHashes =
      copy(child = c)
    override def prettyName: String = "shingle_hashes"
  }

  def shingle_hashes(toks: Column): Column =
    GraftShim.toColumn(ShingleHashes(GraftShim.toExpression(toks),
      graft.operators.Dedup.ShingleWidth))

  private val stringArrayType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)

  /** Fused `englando` token-filter chain (see [[AnalyzerChainImpl]]). */
  case class EnglishChain(child: Expression)
      extends UnaryExpression with Serializable {
    override def dataType: DataType = stringArrayType
    override def nullSafeEval(v: Any): Any =
      AnalyzerChainImpl.englishChain(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.AnalyzerChainImpl.englishChain($c)")
    override protected def withNewChildInternal(c: Expression): EnglishChain =
      copy(child = c)
    override def prettyName: String = "english_chain"
  }

  /** Fused `custom_ngram` token-filter chain. */
  case class FoldNgrams(child: Expression, minGram: Int, maxGram: Int)
      extends UnaryExpression with Serializable {
    override def dataType: DataType = stringArrayType
    override def nullSafeEval(v: Any): Any =
      AnalyzerChainImpl.foldNgrams(v.asInstanceOf[ArrayData], minGram, maxGram)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.AnalyzerChainImpl.foldNgrams($c, $minGram, $maxGram)")
    override protected def withNewChildInternal(c: Expression): FoldNgrams =
      copy(child = c)
    override def prettyName: String = "fold_ngrams"
  }

  /** Fused `custom_shingles` token-filter chain. */
  case class FoldShingles(child: Expression)
      extends UnaryExpression with Serializable {
    override def dataType: DataType = stringArrayType
    override def nullSafeEval(v: Any): Any =
      AnalyzerChainImpl.foldShingles(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.AnalyzerChainImpl.foldShingles($c)")
    override protected def withNewChildInternal(c: Expression): FoldShingles =
      copy(child = c)
    override def prettyName: String = "fold_shingles"
  }

  /** Per-language function-word hit counts (see [[TextStatsImpl]]). */
  case class LangHits(child: Expression)
      extends UnaryExpression with Serializable {
    override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      TextStatsImpl.langHits(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextStatsImpl.langHits($c)")
    override protected def withNewChildInternal(c: Expression): LangHits =
      copy(child = c)
    override def prettyName: String = "lang_hits"
  }

  /** One-pass (n_tokens, n_stopwords, sum of token lengths). */
  case class TokenStats(child: Expression)
      extends UnaryExpression with Serializable {
    override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_stop",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("sum_len",
        org.apache.spark.sql.types.LongType, nullable = false)))
    override def nullSafeEval(v: Any): Any =
      TextStatsImpl.tokenStats(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextStatsImpl.tokenStats($c)")
    override protected def withNewChildInternal(c: Expression): TokenStats =
      copy(child = c)
    override def prettyName: String = "token_stats"
  }

  /** min(md5(element)) over a string array, one pass, no hash array. */
  case class MinMd5(child: Expression)
      extends UnaryExpression with Serializable {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any =
      TextStatsImpl.minMd5(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val tmp = ctx.freshName("mm")
        s"""
           |org.apache.spark.unsafe.types.UTF8String $tmp =
           |  graft.functions.TextStatsImpl.minMd5($c);
           |if ($tmp == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $tmp; }
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): MinMd5 =
      copy(child = c)
    override def prettyName: String = "min_md5"
  }

  /** Codegen'd polynomial mod-prime code-point hash of a string. */
  case class PolyHash(child: Expression, base: Long, mod: Long)
      extends UnaryExpression with Serializable {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def nullSafeEval(v: Any): Any =
      TextStatsImpl.polyHash(v.asInstanceOf[UTF8String], base, mod)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextStatsImpl.polyHash($c, ${base}L, ${mod}L)")
    override protected def withNewChildInternal(c: Expression): PolyHash =
      copy(child = c)
    override def prettyName: String = "poly_hash"
  }

  def poly_hash(c: Column, base: Long = 1000003L,
                mod: Long = 1000000007L): Column =
    GraftShim.toColumn(PolyHash(GraftShim.toExpression(c), base, mod))

  def lang_hits(toks: Column): Column =
    GraftShim.toColumn(LangHits(GraftShim.toExpression(toks)))
  def token_stats(toks: Column): Column =
    GraftShim.toColumn(TokenStats(GraftShim.toExpression(toks)))
  def min_md5(arr: Column): Column =
    GraftShim.toColumn(MinMd5(GraftShim.toExpression(arr)))

  def english_chain(toks: Column): Column =
    GraftShim.toColumn(EnglishChain(GraftShim.toExpression(toks)))
  def fold_ngrams(toks: Column, minGram: Int, maxGram: Int): Column =
    GraftShim.toColumn(FoldNgrams(GraftShim.toExpression(toks), minGram, maxGram))
  def fold_shingles(toks: Column): Column =
    GraftShim.toColumn(FoldShingles(GraftShim.toExpression(toks)))

  /** Rabin–Karp rolling-hash document fingerprint: the minimum
    * polynomial hash (mod prime) over all `window`-code-point windows
    * of the text, computed in one O(n) roll (each step: drop the
    * outgoing char's term, shift, add the incoming char). The
    * min-window selection is the winnowing idea — stable under local
    * edits away from the minimizing window. Returns null for texts
    * shorter than `window` code points.
    */
  case class RollingMinHash(child: Expression, window: Int)
      extends UnaryExpression with Serializable {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any =
      RollingImpl.minWindowHash(v.asInstanceOf[UTF8String], window)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val tmp = ctx.freshName("rh")
        s"""
           |java.lang.Long $tmp =
           |  graft.functions.RollingImpl.minWindowHash($c, $window);
           |if ($tmp == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $tmp.longValue(); }
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): RollingMinHash =
      copy(child = c)
    override def prettyName: String = "rolling_min_hash"
  }

  def rolling_min_hash(c: Column, window: Int = 32): Column =
    GraftShim.toColumn(RollingMinHash(GraftShim.toExpression(c), window))

  /** Σ aᵢ·bᵢ over two array<double> columns, fully codegen'd — the hot
    * inner loop of cosine similarity search. The higher-order-function
    * formulation (`aggregate(zip_with(...))`) is CodegenFallback and
    * allocates a zipped array per row-pair; this is a tight primitive
    * loop over the two ArrayData buffers (measured ~30× faster on the
    * all-pairs cosine join). Same float semantics as DuckDB's
    * list_dot_product (sequential left-to-right sum). */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression with Serializable {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      // a silent min-length truncation would score ragged embeddings
      // with a plausible-but-wrong partial product — surface data bugs
      if (n != y.numElements())
        throw new IllegalArgumentException(
          s"dot_product: dimension mismatch ($n vs ${y.numElements()})")
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  throw new IllegalArgumentException(
           |    "dot_product: dimension mismatch (" + $n + " vs " + $b.numElements() + ")");
           |}
           |double ${ev.value}_s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  ${ev.value}_s += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = ${ev.value}_s;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
      copy(left = l, right = r)
    override def prettyName: String = "dot_product"
  }

  def dot_product(a: Column, b: Column): Column =
    GraftShim.toColumn(DotProduct(GraftShim.toExpression(a), GraftShim.toExpression(b)))

  /** A query constant bound by reference, the prepared-statement
    * parameter. A double `Literal` is constant-folded and inlined into
    * the generated Java source, so queries that differ only in such a
    * constant compile their stages anew, one Janino compile per query.
    * This value is never folded; its generated code reads it from the
    * references array, so one compiled class serves every value. */
  case class BoundDouble(value: Double) extends LeafExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = false
    override def foldable: Boolean = false
    override def eval(input: InternalRow): Any = value
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val v = ctx.addReferenceObj("bound", java.lang.Double.valueOf(value),
        "java.lang.Double")
      ev.copy(isNull = FalseLiteral,
        code = code"final double ${ev.value} = $v.doubleValue();")
    }
    override def prettyName: String = "bound_double"
  }

  def bound_double(value: Double): Column =
    GraftShim.toColumn(BoundDouble(value))

  // Column-typed shift amount: the public functions.shiftrightunsigned
  // only accepts a literal Int, but SimHash needs per-element shifts
  // inside higher-order-function lambdas.
  import org.apache.spark.sql.catalyst.expressions.ShiftRightUnsigned
  def shift_right_unsigned(c: Column, bits: Column): Column =
    GraftShim.toColumn(ShiftRightUnsigned(GraftShim.toExpression(c), GraftShim.toExpression(bits)))

  /** BPE merge application over a pre-token array (see [[BpeImpl]]).
    * The merge table rides as a constant constructor param; codegen
    * passes it through the references array (`addReferenceObj`), so the
    * expression stays inside whole-stage codegen with zero per-row
    * parsing — the rank map is cached per JVM by spec identity. */
  case class BpeTokens(child: Expression, mergesSpec: String)
      extends UnaryExpression with Serializable {
    override def dataType: DataType = stringArrayType
    override def nullSafeEval(v: Any): Any =
      BpeImpl.encode(v.asInstanceOf[ArrayData], mergesSpec)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val m = ctx.addReferenceObj("bpeMerges", mergesSpec, "java.lang.String")
      defineCodeGen(ctx, ev, c => s"graft.functions.BpeImpl.encode($c, $m)")
    }
    override protected def withNewChildInternal(c: Expression): BpeTokens =
      copy(child = c)
    override def prettyName: String = "bpe_tokens"
  }

  def bpe_tokens(preTokens: Column, merges: Seq[(String, String)]): Column =
    GraftShim.toColumn(BpeTokens(GraftShim.toExpression(preTokens),
      merges.map { case (l, r) => s"$l $r" }.mkString(",")))

  /** Percolator candidate pre-selection over a token array (see
    * [[PercolateIndexImpl]]): the necessary-term → query-id inverted
    * index rides as a constant spec through the references array;
    * per row the kernel is |tokens| hash lookups inside whole-stage
    * codegen. */
  case class CandidateQueries(child: Expression, indexSpec: String)
      extends UnaryExpression with Serializable {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      PercolateIndexImpl.candidates(v.asInstanceOf[ArrayData], indexSpec)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val m = ctx.addReferenceObj("percIndex", indexSpec, "java.lang.String")
      defineCodeGen(ctx, ev,
        c => s"graft.functions.PercolateIndexImpl.candidates($c, $m)")
    }
    override protected def withNewChildInternal(c: Expression): CandidateQueries =
      copy(child = c)
    override def prettyName: String = "candidate_queries"
  }

  def candidate_queries(toks: Column, indexSpec: String): Column =
    GraftShim.toColumn(
      CandidateQueries(GraftShim.toExpression(toks), indexSpec))

  // Spark's runtime-filter machinery (SPARK-32268) as explicit user
  // operators: the same BloomFilterAggregate/BloomFilterMightContain
  // expressions AQE injects, exposed so a pipeline can pre-prune a fact
  // scan against a dim-side key set it controls. Probe values go through
  // xxhash64 on BOTH sides (the InjectRuntimeFilter convention).
  import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
  def bloom_agg(c: Column): Column =
    GraftShim.toColumn(
      new BloomFilterAggregate(GraftShim.toExpression(c)).toAggregateExpression())
  def might_contain(bloom: Column, v: Column): Column =
    GraftShim.toColumn(BloomFilterMightContain(
      GraftShim.toExpression(bloom), GraftShim.toExpression(v)))
}
