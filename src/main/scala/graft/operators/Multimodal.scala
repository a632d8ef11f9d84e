package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (brief §extensions): image/audio/video
  * treated as opaque `binary` columns with typed metadata, batched
  * decode/feature-extract over partitions via [[MediaDecoder]] — a
  * REAL from-scratch 24-bit BMP parser for `format = "bmp"`, a
  * documented deterministic stub for codecs whose libraries are absent
  * in this container. The Spark-side shape is real either way: binary
  * column + metadata struct schema, partition-wise batch processing
  * via a typed `mapPartitions` (the Scala analog of `mapInPandas`: one
  * decoder init per partition, streamed rows), and a columnar feature
  * output suitable for the Similarity operators.
  */
object Multimodal {

  case class MediaRow(media_id: Long, content: Array[Byte],
                      format: String, n_bytes: Long)
  case class MediaFeatures(media_id: Long, n_bytes: Long, format: String,
                           width: Int, height: Int,
                           features: Array[Float])

  /** Per-partition media decoder. Dispatches on the typed `format`
    * column:
    *
    *  - `"bmp"` — a REAL decode path: a from-scratch parser for the
    *    public BMP format (24-bit uncompressed, BITMAPINFOHEADER —
    *    little-endian dims at offsets 18/22, pixel rows bottom-up and
    *    4-byte padded, BGR byte order). Features are exact pixel
    *    statistics: per-channel mean and max, aspect, bit depth.
    *  - anything else — ==== STUB ==== a deterministic fake standing
    *    in for codecs whose libraries are absent in this container
    *    (JPEG/PNG/audio); swap for javax.imageio / ffmpeg bindings in
    *    production. The fake arithmetic is a mod-prime polynomial fold
    *    over the content's code points — the same SQL-expressible
    *    construction as `expressions.RollingImpl` — so even the stub
    *    path is replayable in DuckDB and oracle-checked end to end.
    *
    * Expensive init is modeled by `open()` being called once per
    * partition, the pattern that matters at scale. */
  class MediaDecoder {
    final val Base = 1000003L
    final val Mod = 1000000007L
    def open(): Unit = () // real codec: load model / native lib here

    def decode(format: String, bytes: Array[Byte]): (Int, Int, Array[Float]) =
      format match {
        case "bmp" => decodeBmp(bytes)
        case "png" => decodePng(bytes)
        case _     => decodeStub(bytes)
      }

    /** 24-bit uncompressed BMP: header-declared dims; features are
      * [meanB, meanG, meanR, maxB, maxG, maxR] / 255, w/(w+h), bpp/32.
      * Unsupported variants (other depths / compressed) degrade to
      * header dims with zero features rather than failing the batch. */
    private def decodeBmp(b: Array[Byte]): (Int, Int, Array[Float]) = {
      // degrade, never throw: one corrupt row must not kill the batch
      if (b.length < 54) return (0, 0, new Array[Float](8))
      def i32(o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
        ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)
      def i16(o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
      val dataOff = i32(10)
      val w = i32(18)
      val h = math.abs(i32(22)) // negative height = top-down row order
      val bpp = i16(28)
      val compression = i32(30)
      if (bpp != 24 || compression != 0 || w <= 0 || h <= 0)
        return (w, h, new Array[Float](8))
      // truncated pixel payload / bogus data offset: header dims, no stats
      val rowBytes = ((w.toLong * 3 + 3) / 4) * 4
      if (dataOff < 0 || dataOff + rowBytes * h > b.length)
        return (w, h, new Array[Float](8))
      val rowSize = ((w * 3 + 3) / 4) * 4
      val sums = new Array[Long](3)
      val maxs = new Array[Int](3)
      var r = 0
      while (r < h) {
        var x = 0
        while (x < w) {
          val p = dataOff + r * rowSize + 3 * x
          var c = 0
          while (c < 3) {
            val v = b(p + c) & 0xFF
            sums(c) += v
            if (v > maxs(c)) maxs(c) = v
            c += 1
          }
          x += 1
        }
        r += 1
      }
      val n = w.toLong * h
      ( w, h,
        Array(
          (sums(0) / (n * 255.0)).toFloat, (sums(1) / (n * 255.0)).toFloat,
          (sums(2) / (n * 255.0)).toFloat,
          maxs(0) / 255.0f, maxs(1) / 255.0f, maxs(2) / 255.0f,
          w.toFloat / (w + h), bpp / 32.0f))
    }

    /** Average-hash (aHash) — the classic perceptual image fingerprint:
      * box-pool the image to a `grid`×`grid` gray grid, set bit i when
      * cell i's mean exceeds the global mean. Identical for the same
      * picture at different resolutions (that is the point: byte-exact
      * dedup can't see a rescaled copy, aHash can). BMP rows hash real
      * pixels; stub rows hash the same deterministic pseudo-grid the
      * stub features come from (SQL-replayable, so the oracle covers
      * both paths). Flat images hash to 0 — the documented aHash
      * degenerate case (no cell exceeds the mean). */
    def aHash(format: String, bytes: Array[Byte], grid: Int = 4): Long =
      format match {
        case "bmp" => aHashBmp(bytes, grid)
        case "png" => pngPixels(bytes) match {
          case Some((w, h, rgb)) => aHashRgb(w, h, rgb, grid)
          case None => 0L
        }
        case _ => aHashStub(bytes, grid)
      }

    private def aHashBmp(b: Array[Byte], grid: Int): Long = {
      if (b.length < 54) return 0L
      def i32(o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
        ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)
      def i16(o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
      val dataOff = i32(10)
      val w = i32(18)
      val rawH = i32(22)
      val h = math.abs(rawH)
      if (i16(28) != 24 || i32(30) != 0 || w <= 0 || h <= 0) return 0L
      val rowSize = ((w * 3 + 3) / 4) * 4
      if (dataOff < 0 || dataOff + rowSize.toLong * h > b.length) return 0L
      // gray as the (b+g+r) sum — scaling by 1/3 cancels in comparisons
      val cellSum = new Array[Long](grid * grid)
      val cellCnt = new Array[Long](grid * grid)
      var y = 0
      while (y < h) {
        // normalize orientation to image rows FROM THE TOP: positive
        // header height means file rows run bottom-up, negative
        // top-down — unlike the per-channel stats (orientation-
        // invariant), grid cells are positional, and skipping this
        // flip would hash the same picture differently per encoding
        val imageRow = if (rawH < 0) y else h - 1 - y
        val cy = (imageRow.toLong * grid / h).toInt
        var x = 0
        while (x < w) {
          val p = dataOff + y * rowSize + 3 * x
          val g = (b(p) & 0xFF) + (b(p + 1) & 0xFF) + (b(p + 2) & 0xFF)
          val c = cy * grid + (x.toLong * grid / w).toInt
          cellSum(c) += g
          cellCnt(c) += 1
          x += 1
        }
        y += 1
      }
      val total = cellSum.sum.toDouble / cellSum.indices.map(cellCnt).sum
      var hash = 0L
      var i = 0
      while (i < grid * grid) {
        if (cellCnt(i) > 0 && cellSum(i).toDouble / cellCnt(i) > total)
          hash |= 1L << i
        i += 1
      }
      hash
    }

    /** PNG (public spec, RFC 2083 layout): 8-byte signature, big-endian
      * length-typed chunks, IHDR dims, IDAT = one zlib DEFLATE stream of
      * filter-byte-prefixed scanlines. REAL decode — `Inflater` for the
      * compressed stream, then per-row unfiltering (None/Sub/Up/Average/
      * Paeth). Supports 8-bit gray / RGB / RGBA, non-interlaced; anything
      * else degrades to header dims with no pixels, same discipline as
      * the BMP path (one corrupt row must never kill the batch). Returns
      * top-down RGB triplets (gray replicated, alpha dropped). */
    private[graft] def pngPixels(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      if (b.length < 45) return None
      val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
      var i = 0
      while (i < 8) { if ((b(i) & 0xFF) != sig(i)) return None; i += 1 }
      def i32(o: Int): Int = ((b(o) & 0xFF) << 24) | ((b(o + 1) & 0xFF) << 16) |
        ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)
      def typ(o: Int): String = new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (i32(8) != 13 || typ(12) != "IHDR") return None
      val w = i32(16)
      val h = i32(20)
      val channels = (b(24), b(25)) match { // (bit depth, color type)
        case (8, 0) => 1 // grayscale
        case (8, 2) => 3 // RGB
        case (8, 6) => 4 // RGBA
        case _      => return None
      }
      if (w <= 0 || h <= 0 || b(28) != 0) return None // interlace unsupported
      // header dims must be plausible BEFORE any allocation: a corrupt
      // 100-byte file declaring 30000×30000 would otherwise overflow
      // the Int buffer size (NegativeArraySizeException) or attempt a
      // multi-GB allocation — both kill the batch the decoder promises
      // to survive. Inflated size is bounded by what any real image
      // this pipeline plants could be (all arithmetic in Long).
      val rawLen = h.toLong * (1L + w.toLong * channels)
      if (rawLen > (1L << 28)) return None
      // walk the chunk list, concatenating the IDAT payload (length
      // checks in Long: a near-Int.MaxValue declared chunk length must
      // fail the bounds test, not wrap negative past it)
      val idat = new java.io.ByteArrayOutputStream()
      var off = 33
      var end = false
      while (!end && off + 12 <= b.length) {
        val len = i32(off)
        if (len < 0 || off.toLong + 12 + len > b.length) return None
        typ(off + 4) match {
          case "IDAT" => idat.write(b, off + 8, len)
          case "IEND" => end = true
          case _      => ()
        }
        off += 12 + len
      }
      val stride = w * channels
      val raw = new Array[Byte](rawLen.toInt)
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat.toByteArray)
      try {
        var got = 0
        while (got < raw.length && !inf.finished()) {
          val n = inf.inflate(raw, got, raw.length - got)
          // zero progress with output space available: truncated
          // stream (needsInput), preset-dictionary stream
          // (needsDictionary), or any other stall — degrade, never
          // spin (the loop would otherwise hang the task forever on
          // an FDICT zlib header)
          if (n == 0 && !inf.finished()) return None
          got += n
        }
        if (got < raw.length) return None
      } catch {
        case _: java.util.zip.DataFormatException => return None
      } finally inf.end()
      // unfilter scanlines in place (prior decoded rows are the
      // predictors, exactly the spec's a/b/c neighbor bytes)
      val out = new Array[Byte](h * stride)
      var y = 0
      while (y < h) {
        val f = raw(y * (1 + stride)) & 0xFF
        if (f > 4) return None
        val in0 = y * (1 + stride) + 1
        val o0 = y * stride
        var x = 0
        while (x < stride) {
          val rv = raw(in0 + x) & 0xFF
          val a = if (x >= channels) out(o0 + x - channels) & 0xFF else 0
          val up = if (y > 0) out(o0 - stride + x) & 0xFF else 0
          val c = if (y > 0 && x >= channels) out(o0 - stride + x - channels) & 0xFF else 0
          val pred = f match {
            case 0 => 0
            case 1 => a
            case 2 => up
            case 3 => (a + up) / 2
            case 4 =>
              val p = a + up - c
              val pa = math.abs(p - a); val pb = math.abs(p - up); val pc = math.abs(p - c)
              if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
          }
          out(o0 + x) = (rv + pred).toByte
          x += 1
        }
        y += 1
      }
      val rgb = channels match {
        case 3 => out
        case _ =>
          val r = new Array[Byte](w * h * 3)
          var p = 0
          while (p < w * h) {
            if (channels == 1) { r(3 * p) = out(p); r(3 * p + 1) = out(p); r(3 * p + 2) = out(p) }
            else { r(3 * p) = out(4 * p); r(3 * p + 1) = out(4 * p + 1); r(3 * p + 2) = out(4 * p + 2) }
            p += 1
          }
          r
      }
      Some((w, h, rgb))
    }

    /** PNG feature extraction — the SAME statistics contract as the BMP
      * path ([meanB, meanG, meanR, maxB, maxG, maxR, w/(w+h), bits/32],
      * channel order normalized so a picture's features are
      * format-independent). Header dims survive a pixel-level failure. */
    private def decodePng(b: Array[Byte]): (Int, Int, Array[Float]) = {
      // header dims even when the pixel payload is undecodable
      def headerDims: (Int, Int) =
        if (b.length >= 33 && (b(0) & 0xFF) == 0x89 && b(1) == 'P'.toByte) {
          def i32(o: Int): Int = ((b(o) & 0xFF) << 24) | ((b(o + 1) & 0xFF) << 16) |
            ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)
          (math.max(i32(16), 0), math.max(i32(20), 0))
        } else (0, 0)
      pngPixels(b) match {
        case None =>
          val (w, h) = headerDims
          (w, h, new Array[Float](8))
        case Some((w, h, rgb)) =>
          val sums = new Array[Long](3) // B, G, R — the BMP feature order
          val maxs = new Array[Int](3)
          var p = 0
          while (p < w * h) {
            val r = rgb(3 * p) & 0xFF; val g = rgb(3 * p + 1) & 0xFF; val bb = rgb(3 * p + 2) & 0xFF
            sums(0) += bb; sums(1) += g; sums(2) += r
            if (bb > maxs(0)) maxs(0) = bb
            if (g > maxs(1)) maxs(1) = g
            if (r > maxs(2)) maxs(2) = r
            p += 1
          }
          val n = w.toLong * h
          val bits = (if (b(25) == 0) 8 else if (b(25) == 2) 24 else 32)
          (w, h, Array(
            (sums(0) / (n * 255.0)).toFloat, (sums(1) / (n * 255.0)).toFloat,
            (sums(2) / (n * 255.0)).toFloat,
            maxs(0) / 255.0f, maxs(1) / 255.0f, maxs(2) / 255.0f,
            w.toFloat / (w + h), bits / 32.0f))
      }
    }

    /** aHash over decoded top-down RGB triplets — identical grid
      * pooling to [[aHashBmp]], so the same picture hashes equally
      * across BMP and PNG encodings (the cross-format duplicate case). */
    private def aHashRgb(w: Int, h: Int, rgb: Array[Byte], grid: Int): Long = {
      val cellSum = new Array[Long](grid * grid)
      val cellCnt = new Array[Long](grid * grid)
      var y = 0
      while (y < h) {
        val cy = (y.toLong * grid / h).toInt
        var x = 0
        while (x < w) {
          val p = 3 * (y * w + x)
          val g = (rgb(p) & 0xFF) + (rgb(p + 1) & 0xFF) + (rgb(p + 2) & 0xFF)
          val c = cy * grid + (x.toLong * grid / w).toInt
          cellSum(c) += g
          cellCnt(c) += 1
          x += 1
        }
        y += 1
      }
      val total = cellSum.sum.toDouble / cellSum.indices.map(cellCnt).sum
      var hash = 0L
      var i = 0
      while (i < grid * grid) {
        if (cellCnt(i) > 0 && cellSum(i).toDouble / cellCnt(i) > total)
          hash |= 1L << i
        i += 1
      }
      hash
    }

    /** Audio decode: 16-bit PCM WAV (public RIFF/WAVE layout — "fmt "
      * chunk for rate/channels/depth, "data" chunk of little-endian
      * int16 frames). Real parse + exact integer statistics: peak
      * amplitude and integer RMS (isqrt of the mean square — all
      * arithmetic in Long, so the oracle can carry exact literals).
      * Non-PCM / non-16-bit / corrupt input degrades to zeros; non-wav
      * formats take the deterministic stub (same replayable h0 family
      * as the image stub). Returns (rate, channels, frames, peak, rms). */
    def decodeAudio(format: String, bytes: Array[Byte]): (Int, Int, Long, Int, Long) =
      if (format == "wav") decodeWav(bytes) else audioStub(bytes)

    /** Header walk shared by every WAV reader: (rate, channels,
      * dataOff, nSamples), or null for anything that isn't clean
      * 16-bit PCM (the callers degrade to zeros). */
    private def wavPcm(b: Array[Byte]): Array[Int] = {
      if (b.length < 44) return null
      def s4(o: Int): String = new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
      def i32(o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
        ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)
      def i16(o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
      if (s4(0) != "RIFF" || s4(8) != "WAVE") return null
      var off = 12
      var rate = 0; var channels = 0; var bits = 0; var fmtOk = false
      var dataOff = -1; var dataLen = 0
      while (off + 8 <= b.length && (dataOff < 0 || !fmtOk)) {
        val id = s4(off); val len = i32(off + 4)
        // Long bounds test: a crafted chunk length near Int.MaxValue
        // must degrade to zeros, not wrap negative past the guard and
        // read out of bounds
        if (len < 0 || off.toLong + 8 + len > b.length) return null
        id match {
          case "fmt " if len >= 16 =>
            fmtOk = i16(off + 8) == 1 // PCM only
            channels = i16(off + 10)
            rate = i32(off + 12)
            bits = i16(off + 22)
          case "data" => dataOff = off + 8; dataLen = len
          case _ => ()
        }
        off += 8 + len + (len & 1) // chunks are word-aligned
      }
      if (!fmtOk || bits != 16 || channels <= 0 || rate <= 0 || dataOff < 0)
        return null
      Array(rate, channels, dataOff, dataLen / 2)
    }

    private def decodeWav(b: Array[Byte]): (Int, Int, Long, Int, Long) = {
      val zero = (0, 0, 0L, 0, 0L)
      val hdr = wavPcm(b)
      if (hdr == null) return zero
      val Array(rate, channels, dataOff, nSamples) = hdr
      def i16(o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
      if (nSamples == 0) return (rate, channels, 0L, 0, 0L)
      var peak = 0
      var sumSq = 0L
      var s = 0
      while (s < nSamples) {
        val v = (i16(dataOff + 2 * s) << 16) >> 16 // sign-extend
        val a = math.abs(v)
        if (a > peak) peak = a
        sumSq += v.toLong * v
        s += 1
      }
      (rate, channels, (nSamples / channels).toLong, peak, isqrt(sumSq / nSamples))
    }

    private def isqrt(v: Long): Long = {
      var r = math.sqrt(v.toDouble).toLong
      while (r > 0 && r * r > v) r -= 1
      while ((r + 1) * (r + 1) <= v) r += 1
      r
    }

    /** Silence segmentation (the VAD-style pre-step of a speech
      * curation pipeline — what gets transcribed/kept is the voiced
      * SEGMENTS, not raw files): fixed windows of `windowSamples`
      * interleaved samples, a window is VOICED when its exact integer
      * RMS ≥ `threshold`; returns (n_windows, n_voiced, n_segments,
      * longest_silence) where segments are maximal voiced runs and
      * longest_silence is the longest silent run in windows. The
      * final partial window counts with its own sample count. Non-wav
      * payloads take the replayable stub: 8 pseudo-windows whose
      * voiced bits are the 8-bit pattern of (h0 mod 256), MSB first —
      * the same mod-prime fold as every m-family stub, so DuckDB
      * replays runs with one regexp over the padded bin string. */
    def audioSegments(format: String, bytes: Array[Byte],
                      windowSamples: Int = 16,
                      threshold: Long = 100L): (Long, Long, Long, Long) = {
      val voicedBits: Seq[Boolean] =
        if (format == "wav") {
          val hdr = wavPcm(bytes)
          if (hdr == null) Seq.empty
          else {
            val Array(_, _, dataOff, nSamples) = hdr
            def i16(o: Int): Int =
              (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8)
            (0 until nSamples by windowSamples).map { w0 =>
              val end = math.min(w0 + windowSamples, nSamples)
              var sumSq = 0L
              var s = w0
              while (s < end) {
                val v = (i16(dataOff + 2 * s) << 16) >> 16
                sumSq += v.toLong * v
                s += 1
              }
              isqrt(sumSq / (end - w0)) >= threshold
            }
          }
        } else {
          val m = (contentHash(bytes) % 256L).toInt
          (0 until 8).map(i => ((m >> (7 - i)) & 1) == 1)
        }
      def runs(target: Boolean): Seq[Int] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[Int]
        var cur = 0
        voicedBits.foreach { v =>
          if (v == target) cur += 1
          else { if (cur > 0) out += cur; cur = 0 }
        }
        if (cur > 0) out += cur
        out.toSeq
      }
      (voicedBits.size.toLong, voicedBits.count(identity).toLong,
        runs(true).size.toLong,
        if (runs(false).isEmpty) 0L else runs(false).max.toLong)
    }

    /** The mod-prime content fold every stub path shares — ONE
      * implementation (the round-13 review found four verbatim
      * copies): h = (h·Base + codePoint) mod Mod over the payload's
      * UTF-8 string, the exact fold the DuckDB oracle replays, so a
      * change here is a change to the oracle contract and must land
      * in both places AT ONCE. */
    private def contentHash(bytes: Array[Byte]): Long = {
      val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      var h = 0L
      var ci = 0
      while (ci < s.length) {
        val cp = s.codePointAt(ci)
        h = (h * Base + cp) % Mod
        ci += Character.charCount(cp)
      }
      h
    }

    /** ==== STUB ==== pseudo-audio stats for non-wav payloads, derived
      * from the same mod-prime fold as the image stub — DuckDB-
      * replayable so the stub path stays oracle-checked. */
    private def audioStub(bytes: Array[Byte]): (Int, Int, Long, Int, Long) = {
      val h = contentHash(bytes)
      val rate = 8000 + (h % 40001L).toInt
      val channels = 1 + (h % 2L).toInt
      val frames = 1L + h % 100000L
      val peak = ((h * 31L) % 32768L).toInt
      val rms = (h * 37L) % 32768L
      (rate, channels, frames, peak, rms)
    }

    private def aHashStub(bytes: Array[Byte], grid: Int): Long = {
      val h = contentHash(bytes)
      val n = grid * grid
      val cells = Array.tabulate(n)(i => (h * 31 + i * 2654435761L) % Base)
      val mean = cells.sum.toDouble / n
      cells.zipWithIndex.foldLeft(0L) { case (acc, (v, i)) =>
        if (v.toDouble > mean) acc | (1L << i) else acc
      }
    }

    private def decodeStub(bytes: Array[Byte]): (Int, Int, Array[Float]) = {
      val h = contentHash(bytes)
      val width = (h % 640).toInt + 1
      val height = ((h / 640) % 480).toInt + 1
      val features = Array.tabulate(8)(i =>
        ((h * 31 + i * 2654435761L) % Base) / Base.toFloat)
      (width, height, features)
    }
  }

  /** Minimal 24-bit uncompressed BMP writer (the public
    * BITMAPFILEHEADER + BITMAPINFOHEADER layout) — used to plant
    * byte-exact binary fixtures whose decoded statistics are
    * hand-computable. `bgr` is row-major bottom-up, matching the
    * format's native row order. */
  def makeBmp(width: Int, height: Int, bgr: Seq[(Int, Int, Int)],
              topDown: Boolean = false): Array[Byte] = {
    require(bgr.length == width * height, "pixel count != w*h")
    val rowSize = ((width * 3 + 3) / 4) * 4
    val size = 54 + rowSize * height
    val out = new Array[Byte](size)
    def w32(o: Int, v: Int): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
      out(o + 2) = (v >> 16).toByte; out(o + 3) = (v >> 24).toByte
    }
    def w16(o: Int, v: Int): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    w32(2, size); w32(10, 54) // file size, pixel-data offset
    w32(14, 40); w32(18, width) // BITMAPINFOHEADER
    w32(22, if (topDown) -height else height) // negative = top-down rows
    w16(26, 1); w16(28, 24) // planes, bpp
    w32(34, rowSize * height) // image size (compression stays 0)
    bgr.zipWithIndex.foreach { case ((bb, g, r), i) =>
      // `bgr` rows arrive bottom-up; a top-down file stores them flipped
      val fileRow = if (topDown) height - 1 - (i / width) else i / width
      val p = 54 + fileRow * rowSize + 3 * (i % width)
      out(p) = bb.toByte; out(p + 1) = g.toByte; out(p + 2) = r.toByte
    }
    out
  }

  /** Minimal PNG writer (the public signature/IHDR/IDAT/IEND layout)
    * with CALLER-CHOSEN per-row filter types — each fixture row can
    * exercise a specific unfilter path (Sub/Up/Average/Paeth) in the
    * decoder. The zlib stream uses STORED deflate blocks, so the byte
    * count is a closed-form function of the dims (8 + 25 IHDR +
    * 12 + [2 + 5·⌈n/65535⌉ + n + 4] IDAT + 12 IEND, n = h·(1+3w)) and
    * the planted `n_bytes` oracle literals stay hand-computable —
    * no dependence on any deflate implementation's choices. */
  def makePng(width: Int, height: Int, rgb: Seq[(Int, Int, Int)],
              filters: Seq[Int]): Array[Byte] = {
    require(rgb.length == width * height, "pixel count != w*h")
    require(filters.length == height && filters.forall(f => f >= 0 && f <= 4),
      "one filter type 0..4 per row")
    val stride = width * 3
    val px = new Array[Byte](height * stride) // top-down RGB
    rgb.zipWithIndex.foreach { case ((r, g, b), i) =>
      px(3 * i) = r.toByte; px(3 * i + 1) = g.toByte; px(3 * i + 2) = b.toByte
    }
    // forward-filter: encoded byte = raw − predictor (mod 256)
    val raw = new Array[Byte](height * (1 + stride))
    for (y <- 0 until height) {
      val f = filters(y)
      raw(y * (1 + stride)) = f.toByte
      for (x <- 0 until stride) {
        val v = px(y * stride + x) & 0xFF
        val a = if (x >= 3) px(y * stride + x - 3) & 0xFF else 0
        val up = if (y > 0) px((y - 1) * stride + x) & 0xFF else 0
        val c = if (y > 0 && x >= 3) px((y - 1) * stride + x - 3) & 0xFF else 0
        val pred = f match {
          case 0 => 0
          case 1 => a
          case 2 => up
          case 3 => (a + up) / 2
          case 4 =>
            val p = a + up - c
            val pa = math.abs(p - a); val pb = math.abs(p - up); val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
        }
        raw(y * (1 + stride) + 1 + x) = (v - pred).toByte
      }
    }
    // zlib: 2-byte header, stored (uncompressed) deflate blocks, adler32
    val z = new java.io.ByteArrayOutputStream()
    z.write(0x78); z.write(0x01)
    var o = 0
    while (o < raw.length) {
      val n = math.min(65535, raw.length - o)
      z.write(if (o + n >= raw.length) 1 else 0)
      z.write(n & 0xFF); z.write((n >> 8) & 0xFF)
      z.write((~n) & 0xFF); z.write(((~n) >> 8) & 0xFF)
      z.write(raw, o, n)
      o += n
    }
    val ad = new java.util.zip.Adler32()
    ad.update(raw)
    val av = ad.getValue
    z.write(((av >> 24) & 0xFF).toInt); z.write(((av >> 16) & 0xFF).toInt)
    z.write(((av >> 8) & 0xFF).toInt); z.write((av & 0xFF).toInt)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def w32(v: Long): Unit = {
        out.write(((v >> 24) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
        out.write(((v >> 8) & 0xFF).toInt); out.write((v & 0xFF).toInt)
      }
      w32(data.length)
      val tb = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(tb); out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      w32(crc.getValue)
      out.toByteArray
    }
    val ihdr = new Array[Byte](13)
    def be32(o2: Int, v: Int): Unit = {
      ihdr(o2) = (v >> 24).toByte; ihdr(o2 + 1) = (v >> 16).toByte
      ihdr(o2 + 2) = (v >> 8).toByte; ihdr(o2 + 3) = v.toByte
    }
    be32(0, width); be32(4, height)
    ihdr(8) = 8; ihdr(9) = 2 // 8-bit, color type 2 (RGB)
    val head = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    head ++ chunk("IHDR", ihdr) ++ chunk("IDAT", z.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** Minimal 16-bit PCM WAV writer (public RIFF layout) for planted
    * audio fixtures with hand-computable sample statistics. `samples`
    * are interleaved int16 frames. */
  def makeWav(rate: Int, channels: Int, samples: Seq[Int]): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    def asc(o: Int, s: String): Unit =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        .zipWithIndex.foreach { case (c, i) => out(o + i) = c }
    def w32(o: Int, v: Int): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
      out(o + 2) = (v >> 16).toByte; out(o + 3) = (v >> 24).toByte
    }
    def w16(o: Int, v: Int): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
    }
    asc(0, "RIFF"); w32(4, 36 + dataLen); asc(8, "WAVE")
    asc(12, "fmt "); w32(16, 16); w16(20, 1); w16(22, channels)
    w32(24, rate); w32(28, rate * channels * 2); w16(32, channels * 2)
    w16(34, 16)
    asc(36, "data"); w32(40, dataLen)
    samples.zipWithIndex.foreach { case (s, i) => w16(44 + 2 * i, s) }
    out
  }

  /** Planted BMP fixtures for the feature-extraction contract: real
    * binary images built by [[makeBmp]], chosen so every decoded
    * statistic is an exact binary fraction — the oracle carries the
    * hand-computed values as literals. */
  def bmpFixtures(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val red2x2 = makeBmp(2, 2, Seq.fill(4)((0, 0, 255)))
    val black3x1 = makeBmp(3, 1, Seq.fill(3)((0, 0, 0)))
    Seq((-1L, red2x2, "bmp", red2x2.length.toLong),
        (-2L, black3x1, "bmp", black3x1.length.toLong))
      .toDF("media_id", "content", "format", "n_bytes")
  }

  /** Planted PNG fixtures — the REAL compressed-image decode path
    * (zlib inflate + scanline unfiltering). The filter lists are chosen
    * so every PNG filter type (None/Sub/Up/Average/Paeth) is exercised
    * by at least one planted row; the decoded statistics are
    * hand-computed oracle literals. `-3` is the same 2×2 pure-red
    * picture as BMP fixture `-1`, so the feature contract is visibly
    * format-independent. */
  def pngFixtures(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val red2x2 = makePng(2, 2, Seq.fill(4)((255, 0, 0)), Seq(0, 1))
    val grad3x3 = makePng(3, 3,
      for { y <- 0 until 3; x <- 0 until 3 }
        yield (10 + 20 * x, 50 * y, 25 * (x + y)),
      Seq(2, 3, 4))
    Seq((-3L, red2x2), (-4L, grad3x3))
      .map { case (id, b) => (id, b, "png", b.length.toLong) }
      .toDF("media_id", "content", "format", "n_bytes")
  }

  /** Planted WAV fixtures for the audio-decode contract: a mono square
    * wave whose RMS equals its amplitude exactly, an interleaved stereo
    * ramp with hand-computed integer RMS, and a truncated header that
    * must degrade to zeros rather than fail the batch. */
  def wavFixtures(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val square = makeWav(8000, 1,
      (0 until 16).map(i => if (i % 2 == 0) 8000 else -8000))
    val stereo = makeWav(44100, 2,
      (0 until 8).flatMap(i => Seq(1000 * i, 3000)))
    val corrupt =
      "RIFFxxxxWAVE".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    // voiced(16×2000) → silent(16×0) → voiced(16×3000): with the
    // 16-sample windows of m9 that is voiced/silent/voiced — two
    // segments around one silent window
    val gap = makeWav(8000, 1,
      (0 until 16).map(_ => 2000) ++ (0 until 16).map(_ => 0) ++
        (0 until 16).map(_ => 3000))
    Seq((-21L, square), (-22L, stereo), (-23L, corrupt), (-24L, gap))
      .map { case (id, b) => (id, b, "wav", b.length.toLong) }
      .toDF("media_id", "content", "format", "n_bytes")
  }

  /** Wrap a text table as a binary media table — the ingest shape for
    * opaque content (utf-8 bytes stand in for image bytes here). */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("media_id"),
      encode(col("text"), "utf-8").as("content"),
      lit("txt").as("format"))
      .withColumn("n_bytes", octet_length(col("content")).cast("long"))

  /** Batched decode/feature-extract: one decoder per partition, rows
    * pulled in `batchSize` groups (the mapInPandas batch shape — a real
    * codec amortizes per-batch setup/SIMD over the group), the
    * partition itself never materialized. Partitioning: inherit the
    * scan's splits — media decode is CPU-bound and embarrassingly
    * parallel, so the only scale knob is input split size, not shuffle. */
  def extractFeatures(spark: SparkSession, media: DataFrame,
                      batchSize: Int = 64): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select("media_id", "content", "format", "n_bytes")
      .as[MediaRow]
      .mapPartitions { rows =>
        val dec = new MediaDecoder
        dec.open()
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val (w, h, f) = dec.decode(r.format, r.content)
            MediaFeatures(r.media_id, r.n_bytes, r.format, w, h, f)
          }
        }
      }
  }

  /** Resize stage: clamp decoded dimensions to a bounding box
    * preserving aspect ratio (the thumbnail/downsample step of an image
    * pipeline; arithmetic is real, pixel work would live in the codec).
    * Columnar — no UDF needed once dimensions are columns. */
  def resize(features: Dataset[MediaFeatures], maxW: Int = 224,
             maxH: Int = 224): DataFrame = {
    val f = features.toDF()
    val scale = least(lit(maxW).cast("double") / col("width"),
      lit(maxH).cast("double") / col("height"), lit(1.0))
    f.select(col("media_id"), col("width"), col("height"),
      greatest(floor(col("width") * scale), lit(1)).cast("int").as("out_w"),
      greatest(floor(col("height") * scale), lit(1)).cast("int").as("out_h"))
  }

  /** Fixed-size binary chunking — the frame-sampling / windowing shape
    * for opaque media: split the payload into `chunkBytes` windows and
    * digest each (all on the binary column; `Substring` supports
    * BinaryType). A real pipeline would decode per chunk; the chunk
    * boundaries, counts and digests are the schema-level contract. */
  def mediaChunks(media: DataFrame, chunkBytes: Int = 64): DataFrame = {
    val n = col("n_bytes")
    val nChunks = ceil(n.cast("double") / chunkBytes).cast("long")
    // empty payloads produce an EMPTY digest array: without the
    // guard, sequence(0, -1) generates the DESCENDING [0, -1] (the
    // exact hazard rangeJoin's bin comment documents) and the row
    // would report n_chunks = 0 beside two phantom digests —
    // size(chunk_md5s) == n_chunks is the schema contract
    media.select(col("media_id"), nChunks.as("n_chunks"),
        when(nChunks === 0, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0L), nChunks - 1),
            i => md5(col("content").substr(
              (i * chunkBytes + 1).cast("int"), lit(chunkBytes)))))
          .as("chunk_md5s"))
      .orderBy(col("media_id"))
  }

  /** Scene-cut detection over a media item's frame stream — the
    * video-curation segmentation op (shot boundaries gate what a
    * video training pipeline dedups, captions, and clip-samples): a
    * cut opens wherever consecutive frame features differ by more
    * than `threshold`; scenes = cuts + 1. Frames here are the chunked
    * payload's per-chunk digests folded to 32-bit integer features —
    * the m-family's DuckDB-replayable stub for the pixel path (a real
    * decoder's pooled frame means slot into the same feature column;
    * MultimodalCodecSpec drives planted real-pixel fixtures through
    * the same delta contract). Shapes: frame pairs come from ONE
    * posexplode + a per-media lag window (explode + agg, not nested
    * lambdas over a computed array — the ProjectCollapse recompute
    * trap); the window partitions by media_id, so state is one media
    * item's frames, never the corpus; zero-frame media survive via
    * the left join back to the chunk projection. */
  def sceneCuts(media: DataFrame, chunkBytes: Int = 64,
                threshold: Long = 3000000000L): DataFrame = {
    val chunks = mediaChunks(media, chunkBytes)
    val frames = chunks
      .select(col("media_id"),
        posexplode(col("chunk_md5s")).as(Seq("frame_no", "m")))
      .select(col("media_id"), col("frame_no"),
        conv(substring(col("m"), 1, 8), 16, 10).cast("long").as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("media_id")).orderBy(col("frame_no"))
    val cuts = frames
      .withColumn("prev", lag(col("f"), 1).over(w))
      .groupBy(col("media_id"))
      .agg(sum(when(abs(col("f") - col("prev")) > threshold, 1L)
        .otherwise(0L)).as("n_cuts"))
    chunks.select(col("media_id"), col("n_chunks").as("n_frames"))
      .join(cuts, Seq("media_id"), "left")
      .select(col("media_id"), col("n_frames"),
        coalesce(col("n_cuts"), lit(0L)).as("n_cuts"),
        when(col("n_frames") === 0L, 0L)
          .otherwise(coalesce(col("n_cuts"), lit(0L)) + 1L).as("n_scenes"))
      .orderBy(col("media_id"))
  }

  /** Oracle-friendly metadata projection (no stubbed math): byte size
    * and content digest of the binary column. */
  def mediaMeta(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("n_bytes"), col("format"),
      md5(col("content")).as("content_md5"))
      .orderBy(col("media_id"))

  case class MediaHash(media_id: Long, phash: Long)

  /** Left/right-half test picture (shared by fixtures and specs so the
    * planted image and the tested image cannot drift apart). */
  private[graft] def halfImage(w: Int, h: Int, leftWhite: Boolean,
                               topDown: Boolean = false): Array[Byte] =
    makeBmp(w, h, (0 until w * h).map { i =>
      val left = (i % w) < w / 2
      if (left == leftWhite) (255, 255, 255) else (0, 0, 0)
    }, topDown)

  /** Planted fixtures for the perceptual-hash contract: the SAME
    * left-white/right-black picture at 4×4 and 8×8 (different bytes,
    * equal aHash — the rescaled-copy case byte dedup misses) and its
    * inversion (different aHash). Grid cells: white column halves beat
    * the global mean → bits 0x3333 row-wise; inverted → 0xCCCC. */
  def phashFixtures(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((-11L, halfImage(4, 4, leftWhite = true)),
        (-12L, halfImage(8, 8, leftWhite = true)),
        (-13L, halfImage(4, 4, leftWhite = false)))
      .map { case (id, b) => (id, b, "bmp", b.length.toLong) }
      .toDF("media_id", "content", "format", "n_bytes")
  }

  /** The SAME left-white picture as the BMP phash fixtures, but
    * PNG-encoded at 8×8 with every filter type in the scanline mix —
    * the cross-FORMAT duplicate: different bytes, different codec,
    * equal aHash. Lands in the −11/−12 perceptual group. */
  def pngPhashFixtures(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val half8 = makePng(8, 8,
      (0 until 64).map(i => if (i % 8 < 4) (255, 255, 255) else (0, 0, 0)),
      Seq(0, 1, 2, 3, 4, 1, 2, 4))
    Seq((-10L, half8, "png", half8.length.toLong))
      .toDF("media_id", "content", "format", "n_bytes")
  }

  /** M7: batched audio decode/feature-extract — same partition-wise
    * decoder shape as [[extractFeatures]], dispatching on `format`:
    * real 16-bit PCM WAV parse for `"wav"` rows, the replayable stub
    * for opaque rows. Exact integer statistics (peak, integer RMS) so
    * the differential oracle is byte-for-byte. */
  case class AudioFeatures(media_id: Long, n_bytes: Long, format: String,
                           sample_rate: Int, channels: Int, n_frames: Long,
                           peak: Int, rms: Long)

  def audioFeatures(spark: SparkSession, media: DataFrame,
                    batchSize: Int = 64): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.select("media_id", "content", "format", "n_bytes")
      .as[MediaRow]
      .mapPartitions { rows =>
        val dec = new MediaDecoder
        dec.open()
        rows.grouped(batchSize).flatMap(_.map { r =>
          val (rate, ch, frames, peak, rms) = dec.decodeAudio(r.format, r.content)
          AudioFeatures(r.media_id, r.n_bytes, r.format, rate, ch, frames,
            peak, rms)
        })
      }
  }

  case class AudioSegments(media_id: Long, n_windows: Long,
                           n_voiced: Long, n_segments: Long,
                           longest_silence: Long)

  /** M9: silence segmentation over the audio corpus — the VAD-style
    * pre-step of a speech pipeline (voiced segments are what gets
    * transcribed, deduped and kept; long silences are cut points).
    * Same batched per-partition decoder shape as [[audioFeatures]];
    * per row, MediaDecoder.audioSegments windows the PCM stream and
    * counts voiced runs with exact integer RMS — non-wav rows take
    * the replayable bit-pattern stub. Row-local, no shuffle. */
  def silenceSegments(spark: SparkSession, media: DataFrame,
                      windowSamples: Int = 16, threshold: Long = 100L,
                      batchSize: Int = 64): Dataset[AudioSegments] = {
    import spark.implicits._
    media.select("media_id", "content", "format", "n_bytes")
      .as[MediaRow]
      .mapPartitions { rows =>
        val dec = new MediaDecoder
        dec.open()
        rows.grouped(batchSize).flatMap(_.map { r =>
          val (w, v, seg, sil) =
            dec.audioSegments(r.format, r.content, windowSamples, threshold)
          AudioSegments(r.media_id, w, v, seg, sil)
        })
      }
  }

  /** M6: perceptual near-dup detection over a media corpus — aHash per
    * row (batched per-partition decode, same shape as
    * [[extractFeatures]]), then hash-exact grouping: every row resolves
    * to the lowest media_id sharing its perceptual hash. One shuffle on
    * the 8-byte hash; a rescaled copy of an image lands in the same
    * group even though its bytes (and md5) differ. */
  def phashDedup(spark: SparkSession, media: DataFrame,
                 grid: Int = 4, batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    val hashed = media.select("media_id", "content", "format", "n_bytes")
      .as[MediaRow]
      .mapPartitions { rows =>
        val dec = new MediaDecoder
        dec.open()
        rows.grouped(batchSize).flatMap(_.map(r =>
          MediaHash(r.media_id, dec.aHash(r.format, r.content, grid))))
      }
      .toDF()
    val canon = hashed.groupBy(col("phash"))
      .agg(min(col("media_id")).as("canonical_id"))
    hashed.join(canon, "phash")
      .select(col("media_id"), col("phash"), col("canonical_id"),
        (col("media_id") =!= col("canonical_id")).as("is_dup"))
  }
}
