package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing — SURVEY.md §2.10 north star.
  *
  * Media (image/audio/video) travels as an opaque `binary` column plus
  * typed metadata; decode / feature-extract / frame-sample run as typed
  * mapPartitions stages so each partition amortizes decoder setup (the
  * Scala analogue of batch-at-a-time Pandas UDFs). Header decode for
  * PNG / BMP / WAV is REAL pure-JVM byte parsing ([[HeaderCodec]]); only
  * full pixel/sample decode of compressed codecs (JPEG, video containers)
  * is out of scope in this container — such payloads sniff as "unknown".
  */
object Multimodal {

  /** A media payload: id + raw bytes + declared kind ("image"/"audio"/...). */
  case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte])

  /** Decoded feature row: sniffed container format + header metadata.
    * Image fields are zero for audio and vice versa; all-zero with format
    * "unknown" when the payload matches no supported container. */
  case class MediaFeatures(
      media_id: Long,
      kind: String,
      format: String,  // sniffed from magic bytes: png | bmp | wav | unknown
      n_bytes: Long,
      width: Int,
      height: Int,
      sample_rate: Int,
      channels: Int,
      n_samples: Long,
      checksum: Long)

  /** Real pure-JVM header codec for PNG, BMP and WAV — byte-level parsing
    * of the published container layouts, no external libraries:
    *
    *  - PNG (W3C spec): 8-byte signature, IHDR first chunk; width/height
    *    are big-endian u32 at data offsets 0/4; the IHDR CRC32 is VERIFIED
    *    (java.util.zip.CRC32) so corrupt headers sniff as unknown.
    *  - BMP (BITMAPINFOHEADER): "BM" magic, little-endian i32 width/height
    *    at offsets 18/22 (height may be negative = top-down; abs taken).
    *  - WAV (RIFF): chunk WALK (not fixed offsets — an INFO/LIST chunk
    *    before "fmt " is legal), little-endian fields; sample count =
    *    data size / block align.
    *
    * The matching ENCODERS exist for fixtures/tests: they write fully
    * valid files (PNG includes a real zlib-deflated IDAT), so the parser
    * is exercised against spec-conformant bytes, and any external PNG/BMP/
    * WAV file decodes identically. */
  object HeaderCodec {
    case class Parsed(format: String, width: Int, height: Int,
        sampleRate: Int, channels: Int, nSamples: Long)

    private val PngSig =
      Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

    private def be32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    private def le32(b: Array[Byte], o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    private def le16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def ascii(b: Array[Byte], o: Int, s: String): Boolean =
      b.length >= o + s.length && s.indices.forall(i => b(o + i) == s.charAt(i).toByte)

    def parse(b: Array[Byte]): Option[Parsed] =
      parsePng(b).orElse(parseBmp(b)).orElse(parseWav(b))

    private def parsePng(b: Array[Byte]): Option[Parsed] = {
      if (b.length < 33 || !PngSig.indices.forall(i => b(i) == PngSig(i))) return None
      if (be32(b, 8) != 13L || !ascii(b, 12, "IHDR")) return None
      val crc = new java.util.zip.CRC32
      crc.update(b, 12, 17) // chunk type + 13 data bytes
      if (crc.getValue != be32(b, 29)) return None
      Some(Parsed("png", be32(b, 16).toInt, be32(b, 20).toInt, 0, 0, 0L))
    }

    private def parseBmp(b: Array[Byte]): Option[Parsed] = {
      if (b.length < 26 || !ascii(b, 0, "BM")) return None
      if (le32(b, 14) < 40L) return None // BITMAPINFOHEADER or later
      Some(Parsed("bmp", le32(b, 18).toInt, math.abs(le32(b, 22).toInt), 0, 0, 0L))
    }

    private def parseWav(b: Array[Byte]): Option[Parsed] = {
      if (b.length < 12 || !ascii(b, 0, "RIFF") || !ascii(b, 8, "WAVE")) return None
      var off = 12
      var rate = 0; var chans = 0; var blockAlign = 0; var dataSize = -1L
      var ok = true
      while (ok && off + 8 <= b.length && (rate == 0 || dataSize < 0)) {
        val size = le32(b, off + 4) // unsigned u32 as long (never negative)
        // size >= 16: a fmt chunk declaring fewer than the 16 PCM-header
        // bytes is malformed — reading channels/rate through it would pull
        // bytes from the NEXT chunk (bounds-safe but garbage metadata)
        if (ascii(b, off, "fmt ") && size >= 16 && off + 24 <= b.length) {
          chans = le16(b, off + 10)
          rate = le32(b, off + 12).toInt
          blockAlign = le16(b, off + 20)
        } else if (ascii(b, off, "data")) dataSize = size
        // A declared size past the buffer (or u32-max junk) means a
        // truncated/malformed file: stop the walk instead of wrapping the
        // .toInt negative — which would loop forever (step 0) or walk
        // backwards out of bounds. A data/fmt chunk already read above
        // still counts (legal header-only truncation).
        if (size > b.length.toLong - off - 8) ok = false
        else off += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
      }
      if (rate == 0 || dataSize < 0 || blockAlign == 0) None
      else Some(Parsed("wav", 0, 0, rate, chans, dataSize / blockAlign))
    }

    // ---- encoders (fixture/test side): spec-conformant files ----------

    /** PNG Paeth predictor (spec §9, Filtering): nearest of left/above/
      * upper-left to p = a + b - c, ties breaking a, then b. Shared by the
      * pattern encoder (forward filter) and [[decodePngPixels]] (inverse). */
    private def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    /** Assemble a spec-conformant PNG file from pre-filtered scanlines
      * (`raw` = height rows of 1 filter byte + width*3 RGB bytes):
      * signature + IHDR (8-bit truecolor) + one real zlib-deflated IDAT +
      * IEND, all CRCs correct. */
    private def pngFile(width: Int, height: Int, raw: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def chunk(typ: String, data: Array[Byte]): Unit = {
        val len = data.length
        out.write(Array[Byte]((len >>> 24).toByte, (len >>> 16).toByte,
          (len >>> 8).toByte, len.toByte))
        val body = typ.getBytes("US-ASCII") ++ data
        out.write(body)
        val crc = new java.util.zip.CRC32
        crc.update(body)
        val c = crc.getValue
        out.write(Array[Byte]((c >>> 24).toByte, (c >>> 16).toByte,
          (c >>> 8).toByte, c.toByte))
      }
      out.write(PngSig)
      chunk("IHDR", Array[Byte](
        (width >>> 24).toByte, (width >>> 16).toByte, (width >>> 8).toByte, width.toByte,
        (height >>> 24).toByte, (height >>> 16).toByte, (height >>> 8).toByte, height.toByte,
        8, 2, 0, 0, 0)) // bit depth 8, color type 2 (truecolor)
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(raw); deflater.finish()
      val buf = new Array[Byte](8192)
      val z = new java.io.ByteArrayOutputStream()
      while (!deflater.finished()) z.write(buf, 0, deflater.deflate(buf))
      deflater.end()
      chunk("IDAT", z.toByteArray)
      chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }

    /** Fully valid 24-bit PNG of black pixels (filter type 0 rows) —
      * decodable by any standard PNG reader. */
    def encodePng(width: Int, height: Int): Array[Byte] =
      pngFile(width, height, new Array[Byte](height * (1 + width * 3)))

    /** Valid 24-bit PNG carrying [[patternValue]] pixels with the row
      * filter type CYCLING through all five spec filters
      * ((id + y) % 5: None/Sub/Up/Average/Paeth) — so a decoder must
      * implement every reconstruction rule, not just the None passthrough
      * the black fixture exercises. Forward filtering here is the exact
      * inverse of [[decodePngPixels]]'s reconstruction. */
    def encodePngPattern(id: Long, width: Int, height: Int): Array[Byte] = {
      val stride = width * 3
      val rgb = new Array[Byte](height * stride)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          var c = 0
          while (c < 3) {
            rgb((y * width + x) * 3 + c) = patternValue(id, x, y, c).toByte
            c += 1
          }
          x += 1
        }
        y += 1
      }
      val raw = new Array[Byte](height * (stride + 1))
      y = 0
      while (y < height) {
        val ft = (((id % 5) + y) % 5).toInt
        raw(y * (stride + 1)) = ft.toByte
        var i = 0
        while (i < stride) {
          val v = rgb(y * stride + i) & 0xff
          val a = if (i >= 3) rgb(y * stride + i - 3) & 0xff else 0
          val b = if (y > 0) rgb((y - 1) * stride + i) & 0xff else 0
          val cc = if (y > 0 && i >= 3) rgb((y - 1) * stride + i - 3) & 0xff else 0
          val f = ft match {
            case 0 => v
            case 1 => v - a
            case 2 => v - b
            case 3 => v - ((a + b) >> 1)
            case _ => v - paeth(a, b, cc)
          }
          raw(y * (stride + 1) + 1 + i) = f.toByte
          i += 1
        }
        y += 1
      }
      pngFile(width, height, raw)
    }

    /** Real PNG pixel decode, not just the IHDR header: full chunk
      * walk with per-chunk CRC32 verification, IDAT concatenation, zlib
      * inflate (java.util.zip.Inflater), then per-row filter
      * RECONSTRUCTION — all five spec filters (None/Sub/Up/Average/Paeth,
      * PNG spec §9). Claims 8-bit truecolor (color type 2), non-interlaced
      * — anything else (palette, alpha, 16-bit, Adam7, corrupt CRCs,
      * truncated IDAT, foreign bytes) returns None, never throws. Output
      * is the same top-down RGB [[BmpPixels]] grid the BMP decoder emits,
      * so the box-filter resample downstream is container-agnostic. */
    def decodePngPixels(b: Array[Byte]): Option[BmpPixels] = {
      if (b.length < 45 || !PngSig.indices.forall(i => b(i) == PngSig(i))) return None
      var off = 8
      var width = 0; var height = 0
      var ok = true; var headerSeen = false; var ended = false
      val idat = new java.io.ByteArrayOutputStream()
      while (ok && !ended && off + 12 <= b.length) {
        val len = be32(b, off)
        if (len > b.length.toLong - off - 12) ok = false
        else {
          val crc = new java.util.zip.CRC32
          crc.update(b, off + 4, 4 + len.toInt)
          if (crc.getValue != be32(b, off + 8 + len.toInt)) ok = false
          else if (ascii(b, off + 4, "IHDR")) {
            if (len != 13L) ok = false
            else {
              width = be32(b, off + 8).toInt
              height = be32(b, off + 12).toInt
              val depthType = (b(off + 16) & 0xff, b(off + 17) & 0xff,
                b(off + 18) & 0xff, b(off + 19) & 0xff, b(off + 20) & 0xff)
              headerSeen = true
              if (depthType != ((8, 2, 0, 0, 0)) || width <= 0 || height <= 0)
                ok = false
            }
          } else if (ascii(b, off + 4, "IDAT")) idat.write(b, off + 8, len.toInt)
          else if (ascii(b, off + 4, "IEND")) ended = true
          if (ok) off += 12 + len.toInt
        }
      }
      if (!ok || !headerSeen || !ended || idat.size == 0) return None
      // Size math in Long BEFORE any allocation: width >= 2^30 overflows an
      // Int stride negative, which made the old Int.MaxValue check pass and
      // new Array throw NegativeArraySizeException — violating the
      // never-throws contract. The 64 MiB cap also rejects dimension bombs
      // (a tiny CRC-valid payload declaring multi-GB dims would otherwise
      // allocate before the inflate could fail).
      val strideL = 3L * width
      // division-form bound: height * (stride+1) can overflow even Long at
      // Int.MaxValue dims, so never form the product before checking
      if (strideL + 1L > (1L << 26) ||
        height.toLong > (1L << 26) / (strideL + 1L)) return None
      val rawLenL = height.toLong * (strideL + 1L)
      val stride = strideL.toInt
      val raw = new Array[Byte](rawLenL.toInt)
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat.toByteArray)
      try {
        var got = 0
        var stalled = false
        while (got < raw.length && !inf.finished() && !stalled) {
          val n = inf.inflate(raw, got, raw.length - got)
          if (n == 0 && (inf.needsInput() || inf.needsDictionary())) stalled = true
          got += n
        }
        if (got < raw.length) return None // truncated pixel stream
      } catch {
        case _: java.util.zip.DataFormatException => return None
      } finally inf.end()
      val rgb = new Array[Byte](height * stride)
      var y = 0
      while (y < height) {
        val ft = raw(y * (stride + 1)) & 0xff
        if (ft > 4) return None
        val src = y * (stride + 1) + 1
        val dst = y * stride
        var i = 0
        while (i < stride) {
          val x = raw(src + i) & 0xff
          val a = if (i >= 3) rgb(dst + i - 3) & 0xff else 0
          val up = if (y > 0) rgb(dst - stride + i) & 0xff else 0
          val ul = if (y > 0 && i >= 3) rgb(dst - stride + i - 3) & 0xff else 0
          val v = ft match {
            case 0 => x
            case 1 => x + a
            case 2 => x + up
            case 3 => x + ((a + up) >> 1)
            case _ => x + paeth(a, up, ul)
          }
          rgb(dst + i) = v.toByte
          i += 1
        }
        y += 1
      }
      Some(BmpPixels(width, height, rgb))
    }

    /** Valid 24-bit BMP (BITMAPINFOHEADER) of black pixels, rows padded
      * to 4-byte boundaries per spec. */
    def encodeBmp(width: Int, height: Int): Array[Byte] = {
      val rowSize = ((width * 3 + 3) / 4) * 4
      val dataSize = rowSize * height
      val fileSize = 54 + dataSize
      val h = java.nio.ByteBuffer.allocate(54)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      h.put('B'.toByte).put('M'.toByte).putInt(fileSize).putInt(0).putInt(54)
      h.putInt(40).putInt(width).putInt(height)
        .putShort(1).putShort(24).putInt(0).putInt(dataSize)
        .putInt(2835).putInt(2835).putInt(0).putInt(0)
      h.array() ++ new Array[Byte](dataSize)
    }

    /** Deterministic per-pixel arithmetic pattern in IMAGE coordinates
      * (top-down y, channels c = 0/1/2 for R/G/B): the planted-fixture
      * pixel content whose resampled averages a SQL oracle can predict
      * exactly. All terms nonnegative, result in [0, 255]. */
    def patternValue(id: Long, x: Int, y: Int, c: Int): Int =
      (((id % 251) + x * 3 + y * 5 + c * 11) % 256).toInt

    /** Valid 24-bit BMP carrying [[patternValue]] pixels — same header as
      * [[encodeBmp]], but the pixel data exercises the REAL layout rules a
      * decoder must invert: rows stored bottom-up, channels stored BGR,
      * rows padded to 4-byte boundaries. */
    def encodeBmpPattern(id: Long, width: Int, height: Int): Array[Byte] = {
      val black = encodeBmp(width, height)
      val rowSize = ((width * 3 + 3) / 4) * 4
      var y = 0
      while (y < height) {
        // image row y lands at file row (height-1-y); file bytes are B,G,R
        val rowOff = 54 + (height - 1 - y) * rowSize
        var x = 0
        while (x < width) {
          val off = rowOff + x * 3
          black(off) = patternValue(id, x, y, 2).toByte
          black(off + 1) = patternValue(id, x, y, 1).toByte
          black(off + 2) = patternValue(id, x, y, 0).toByte
          x += 1
        }
        y += 1
      }
      black
    }

    /** Decoded BMP pixel grid: top-down rows, RGB triplets (image order —
      * the bottom-up/BGR/padded file layout already inverted). */
    case class BmpPixels(width: Int, height: Int, rgb: Array[Byte])

    /** Real 24-bit BMP decode: BITMAPINFOHEADER, uncompressed, positive
      * (bottom-up) height — the exact shape [[encodeBmp]] emits. Returns
      * None for anything else (other containers, top-down or compressed
      * BMPs), never throws on foreign bytes. */
    def decodeBmpPixels(b: Array[Byte]): Option[BmpPixels] = {
      if (b.length < 54 || !ascii(b, 0, "BM")) return None
      val dataOff = le32(b, 10).toInt
      val hdrSize = le32(b, 14)
      val width = le32(b, 18).toInt
      val height = le32(b, 22).toInt
      val bpp = le16(b, 28)
      val compression = le32(b, 30)
      if (hdrSize != 40 || bpp != 24 || compression != 0L) return None
      if (width <= 0 || height <= 0) return None
      // Size math in Long BEFORE any allocation — same guard class as
      // decodePngPixels: width in [~2^29.4, 2^31) overflows width*3
      // negative, the negative rowSize*height then slips past the bounds
      // check and new Array[Byte](width*height*3) throws
      // NegativeArraySizeException from a ~54-byte crafted header,
      // violating the never-throws contract (decodeImageAuto tries THIS
      // decoder first on every blob). The 64 MiB decoded-size cap also
      // rejects dimension bombs whose declared pixel data the buffer
      // could never back.
      val rowSizeL = (3L * width + 3L) / 4L * 4L
      if (rowSizeL > (1L << 26) ||
        height.toLong > (1L << 26) / rowSizeL) return None
      val rowSize = rowSizeL.toInt
      if (dataOff < 54 || dataOff.toLong + rowSizeL * height > b.length)
        return None
      val rgb = new Array[Byte](width * height * 3)
      var y = 0
      while (y < height) {
        val rowOff = dataOff + (height - 1 - y) * rowSize
        var x = 0
        while (x < width) {
          val src = rowOff + x * 3
          val dst = (y * width + x) * 3
          rgb(dst) = b(src + 2)     // R
          rgb(dst + 1) = b(src + 1) // G
          rgb(dst + 2) = b(src)     // B
          x += 1
        }
        y += 1
      }
      Some(BmpPixels(width, height, rgb))
    }

    /** Deterministic 16-bit PCM sample pattern in (id, sample index) —
      * the audio analogue of [[patternValue]]: a sawtooth whose every
      * value a SQL oracle re-derives exactly. All terms nonnegative before
      * the centering subtraction; range [-2048, 2048], so squares and
      * sums stay integer-exact in 64 bits. */
    def sampleValue(id: Long, i: Int): Int =
      (((id % 251) + i.toLong * 131L) % 4097L - 2048L).toInt

    /** Decoded PCM stream: header fields + the 16-bit samples in file
      * order (multi-channel audio stays interleaved — deinterleaving is
      * the caller's choice, same as planar-vs-packed in real codecs). */
    case class WavSamples(sampleRate: Int, channels: Int, samples: Array[Short])

    /** Real 16-bit PCM sample decode: the same RIFF chunk WALK as the
      * header parse (INFO/LIST chunks before "fmt " are legal, truncated
      * declared sizes stop the walk), then little-endian i16 extraction
      * from the data chunk. Claims only integer PCM (format 1) at 16 bits
      * — anything else returns None, never throws on foreign bytes. */
    def decodeWavSamples(b: Array[Byte]): Option[WavSamples] = {
      if (b.length < 12 || !ascii(b, 0, "RIFF") || !ascii(b, 8, "WAVE")) return None
      var off = 12
      var rate = 0; var chans = 0; var bits = 0; var fmt = -1
      var dataOff = -1; var dataSize = -1L
      var ok = true
      while (ok && off + 8 <= b.length && (rate == 0 || dataOff < 0)) {
        val size = le32(b, off + 4)
        // same malformed-fmt guard as parseWav: a declared size < 16 would
        // read the format/rate/bits fields out of the following chunk
        if (ascii(b, off, "fmt ") && size >= 16 && off + 24 <= b.length) {
          fmt = le16(b, off + 8)
          chans = le16(b, off + 10)
          rate = le32(b, off + 12).toInt
          bits = le16(b, off + 22)
        } else if (ascii(b, off, "data")) { dataOff = off + 8; dataSize = size }
        if (size > b.length.toLong - off - 8) ok = false
        else off += 8 + size.toInt + (size.toInt & 1)
      }
      if (rate == 0 || dataOff < 0 || fmt != 1 || bits != 16 || chans <= 0) None
      else {
        // clamp to the bytes actually present: a truncated data chunk
        // (declared size past the buffer — the walk stops on it, but the
        // offsets read above still count) must decode the real samples,
        // not index past the array
        val n = math.min(dataSize / 2, ((b.length - dataOff) / 2).toLong).toInt
        val out = new Array[Short](n)
        var i = 0
        while (i < n) {
          out(i) = ((b(dataOff + 2 * i) & 0xff) | (b(dataOff + 2 * i + 1) << 8)).toShort
          i += 1
        }
        Some(WavSamples(rate, chans, out))
      }
    }

    /** Valid 16-bit PCM WAV of silence. */
    def encodeWav(sampleRate: Int, channels: Int, nSamples: Long): Array[Byte] = {
      val blockAlign = channels * 2
      val dataSize = (nSamples * blockAlign).toInt
      val h = java.nio.ByteBuffer.allocate(44)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      h.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
        .put("WAVE".getBytes("US-ASCII"))
      h.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort).putInt(sampleRate)
        .putInt(sampleRate * blockAlign).putShort(blockAlign.toShort).putShort(16)
      h.put("data".getBytes("US-ASCII")).putInt(dataSize)
      h.array() ++ new Array[Byte](dataSize)
    }

    /** Valid mono 16-bit PCM WAV carrying [[sampleValue]] samples — same
      * header as [[encodeWav]], payload exercising the real layout rule a
      * decoder must invert (little-endian i16). */
    def encodeWavPattern(id: Long, sampleRate: Int, nSamples: Int): Array[Byte] = {
      val out = encodeWav(sampleRate, 1, nSamples.toLong)
      var i = 0
      while (i < nSamples) {
        val v = sampleValue(id, i)
        out(44 + 2 * i) = (v & 0xff).toByte
        out(44 + 2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      out
    }
  }

  /** Decode a media Dataset partition-at-a-time: REAL header parse
    * ([[HeaderCodec]]) for PNG/BMP/WAV; unsupported containers sniff as
    * "unknown" with zeroed metadata. One decoder per partition (setup
    * amortized), rows streamed — never materialize a partition in memory. */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val sum = r.payload.foldLeft(0L)((a, b) => a * 31 + (b & 0xff))
        val p = HeaderCodec.parse(r.payload)
          .getOrElse(HeaderCodec.Parsed("unknown", 0, 0, 0, 0, 0L))
        MediaFeatures(r.media_id, r.kind, p.format, r.payload.length.toLong,
          p.width, p.height, p.sampleRate, p.channels, p.nSamples, sum)
      }
    }
  }

  /** Frame sampling for video-kind payloads: every `stride`-th chunk of the
    * payload becomes one "frame" row (the real operator emits decoded
    * frames; the chunking/explode shape is identical). */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int): DataFrame = {
    import media.sparkSession.implicits._
    media
      .filter(_.kind == "video")
      .flatMap { r =>
        r.payload.grouped(stride).zipWithIndex.collect {
          case (chunk, i) if i % 2 == 0 => (r.media_id, i, chunk.length)
        }
      }
      .toDF("media_id", "frame_idx", "frame_bytes")
  }

  /** Windowed audio features for one frame of `frame` samples: all
    * integer-exact (Long sums, int peaks) so a SQL oracle replays them
    * bit-for-bit — no float drift across engines. */
  case class AudioFrameFeatures(
      media_id: Long, frame_idx: Int, n: Int,
      energy: Long, sum_abs: Long, peak: Int, zero_cross: Long)

  /** Audio feature extraction: REAL PCM sample decode
    * ([[HeaderCodec.decodeWavSamples]] — RIFF chunk walk, little-endian
    * i16) then fixed-size frame windows over the sample stream, each
    * reduced to energy (sum of squares), sum of |s|, peak |s|, and the
    * zero-crossing count (sign flips between ADJACENT samples within the
    * frame; the first sample of a frame never pairs across the boundary,
    * so frames are independently computable — the property that lets a
    * SQL oracle group by `i div frame` and that keeps any future
    * frame-parallel split embarrassingly parallel). Multi-channel audio
    * is processed in file (interleaved) order; deinterleave upstream for
    * per-channel features. Non-PCM16 payloads are dropped (codec-registry
    * shape: this decoder claims 16-bit integer PCM). One typed
    * mapPartitions — per-partition decoder amortization, rows streamed,
    * output bounded by nSamples/frame rows per payload. */
  def audioFrameFeatures(media: Dataset[MediaRecord], frame: Int)
      : Dataset[AudioFrameFeatures] = {
    require(frame >= 1)
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        HeaderCodec.decodeWavSamples(r.payload).iterator.flatMap { w =>
          val s = w.samples
          (0 until s.length by frame).iterator.map { start =>
            val end = math.min(start + frame, s.length)
            var energy = 0L; var sumAbs = 0L; var peak = 0; var zc = 0L
            var i = start
            while (i < end) {
              val v = s(i).toInt
              val a = math.abs(v)
              energy += v.toLong * v
              sumAbs += a
              if (a > peak) peak = a
              if (i > start && ((s(i - 1) < 0) != (v < 0))) zc += 1
              i += 1
            }
            AudioFrameFeatures(r.media_id, start / frame, end - start,
              energy, sumAbs, peak, zc)
          }
        }
      }
    }
  }

  /** Resized media row: payload downsampled to the target cell count. */
  case class ResizedMedia(
      media_id: Long, kind: String, width: Int, height: Int,
      payload: Array[Byte])

  /** Resize stage: every payload reduced to a `targetW x targetH` byte
    * grid by strided selection — the STUB standing in for a real
    * interpolating resampler, with the real pipeline shape: one typed
    * mapPartitions stage, per-partition setup amortization, bounded output
    * size regardless of input payload size (the property that makes the
    * downstream shuffle predictable at 100 TB). */
  def resize(media: Dataset[MediaRecord], targetW: Int, targetH: Int)
      : Dataset[ResizedMedia] = {
    import media.sparkSession.implicits._
    val cells = targetW * targetH
    media.mapPartitions { it =>
      // real impl: allocate the resampler once per partition here
      it.map { r =>
        val n = r.payload.length
        val out =
          if (n == 0) Array.emptyByteArray
          else Array.tabulate(cells)(i => r.payload((i.toLong * n / cells).toInt))
        ResizedMedia(r.media_id, r.kind, targetW, targetH, out)
      }
    }
  }

  /** REAL resample: decode the BMP pixel grid ([[HeaderCodec.decodeBmpPixels]]
    * — bottom-up rows, BGR, padding all inverted) and box-filter
    * (area-average) it to `targetW x targetH` RGB, the standard mipmap
    * downsample. Target cell (i, j) averages the source box
    * `[i*w/tw, max(i*w/tw+1, (i+1)*w/tw)) x [j*h/th, max(.., (j+1)*h/th))`
    * — integer arithmetic throughout (Long sums, truncating division), so
    * a SQL oracle replays it bit-exactly; the max() keeps every box
    * nonempty when upsampling (cells then repeat source pixels). Payload:
    * `tw*th*3` bytes, top-down RGB — bounded output per row regardless of
    * input dims, the property that keeps the downstream shuffle
    * predictable at 100 TB. Non-BMP payloads are dropped (the codec
    * registry shape: each decoder claims its container; this one claims
    * BMP). Runs as one typed mapPartitions — per-partition decoder
    * amortization, rows streamed. */
  def resizeBmpArea(media: Dataset[MediaRecord], targetW: Int, targetH: Int)
      : Dataset[ResizedMedia] =
    resizeArea(media, targetW, targetH, HeaderCodec.decodeBmpPixels)

  /** Container-agnostic REAL resample: the same box filter fed by the
    * pixel-decoder REGISTRY (BMP first by magic, then PNG — each decoder
    * claims its container and returns None on foreign bytes, so the
    * orElse chain is a sniff, not a retry loop). This is the entry point
    * a mixed media table uses; [[resizeBmpArea]] stays as the
    * single-container registration. */
  def resizeImageArea(media: Dataset[MediaRecord], targetW: Int, targetH: Int)
      : Dataset[ResizedMedia] =
    resizeArea(media, targetW, targetH,
      b => HeaderCodec.decodeBmpPixels(b).orElse(HeaderCodec.decodePngPixels(b)))

  private def resizeArea(
      media: Dataset[MediaRecord], targetW: Int, targetH: Int,
      decode: Array[Byte] => Option[HeaderCodec.BmpPixels])
      : Dataset[ResizedMedia] = {
    require(targetW >= 1 && targetH >= 1)
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        decode(r.payload).map { p =>
          val out = new Array[Byte](targetW * targetH * 3)
          var j = 0
          while (j < targetH) {
            val y0 = j * p.height / targetH
            val y1 = math.max(y0 + 1, (j + 1) * p.height / targetH)
            var i = 0
            while (i < targetW) {
              val x0 = i * p.width / targetW
              val x1 = math.max(x0 + 1, (i + 1) * p.width / targetW)
              var c = 0
              while (c < 3) {
                var sum = 0L
                var y = y0
                while (y < y1) {
                  var x = x0
                  while (x < x1) {
                    sum += p.rgb((y * p.width + x) * 3 + c) & 0xff
                    x += 1
                  }
                  y += 1
                }
                out((j * targetW + i) * 3 + c) =
                  (sum / ((x1 - x0).toLong * (y1 - y0))).toByte
                c += 1
              }
              i += 1
            }
            j += 1
          }
          ResizedMedia(r.media_id, r.kind, targetW, targetH, out)
        }
      }
    }
  }

  /** Fixture for [[resizeBmpArea]]: every document becomes one patterned
    * BMP (dims arithmetic in (doc_id, n_chars) like [[plantedMedia]],
    * pixels arithmetic in (doc_id, x, y, c) via
    * [[HeaderCodec.patternValue]]) so a DuckDB oracle predicts the decoded
    * AND resampled bytes while the engine round-trips real BMP layout. */
  def plantedPatternBmp(docs: DataFrame): Dataset[MediaRecord] =
    planted(docs) { (id, nc) =>
      MediaRecord(id, "image",
        HeaderCodec.encodeBmpPattern(id, (id % 64 + 1).toInt, (nc % 64 + 1).toInt))
    }

  /** Fixture for the PNG pixel path: every document becomes one patterned
    * PNG (same (doc_id, n_chars) dims arithmetic and [[HeaderCodec
    * .patternValue]] pixels as [[plantedPatternBmp]], but the payload
    * round-trips the PNG layout: zlib-deflated IDAT and all five row
    * filters). The q_mm_resize_real oracle therefore applies verbatim —
    * same pattern, different container. */
  def plantedPatternPng(docs: DataFrame): Dataset[MediaRecord] =
    planted(docs) { (id, nc) =>
      MediaRecord(id, "image",
        HeaderCodec.encodePngPattern(id, (id % 64 + 1).toInt, (nc % 64 + 1).toInt))
    }

  /** Fixture for [[audioFrameFeatures]]: every document becomes one mono
    * 16-bit PCM WAV (sample count arithmetic in n_chars, samples
    * arithmetic in (doc_id, i) via [[HeaderCodec.sampleValue]]) so a
    * DuckDB oracle predicts every decoded frame feature while the engine
    * round-trips real RIFF/PCM bytes. */
  def plantedPatternWav(docs: DataFrame): Dataset[MediaRecord] =
    planted(docs) { (id, nc) =>
      MediaRecord(id, "audio",
        HeaderCodec.encodeWavPattern(id, 8000, (nc % 500 + 32).toInt))
    }

  /** MIXED patterned fixture (the realistic multimodal table shape: one
    * binary column, several container formats): even doc_ids become
    * patterned BMPs, odd ones patterned WAVs — both with planted
    * arithmetic content, so one SQL oracle predicts every branch of a
    * composed decode→feature plan. */
  def plantedPatternMedia(docs: DataFrame): Dataset[MediaRecord] =
    planted(docs) { (id, nc) =>
      if (id % 2 == 0)
        MediaRecord(id, "image",
          HeaderCodec.encodeBmpPattern(id, (id % 64 + 1).toInt, (nc % 64 + 1).toInt))
      else
        MediaRecord(id, "audio",
          HeaderCodec.encodeWavPattern(id, 8000, (nc % 500 + 32).toInt))
    }

  /** Wrap a text table as media records (UTF-8 bytes) — the fixture path
    * used by queries/tests, since the corpus has no true binary column. */
  def fromDocuments(docs: DataFrame, kind: String = "image"): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      lit(kind).as("kind"),
      encode(col("text"), "UTF-8").as("payload"))

  /** Fixture with REAL format payloads: each document becomes a valid
    * PNG / BMP / WAV (doc_id mod 3) whose header fields are pure arithmetic
    * in (doc_id, n_chars) — so a DuckDB oracle predicts the decoded
    * metadata while the engine actually round-trips spec-conformant bytes
    * through [[HeaderCodec]]. Dims are capped (<=64) to bound payload size;
    * encoding runs distributed in a typed map, one buffer per row. */
  def plantedMedia(docs: DataFrame): Dataset[MediaRecord] =
    planted(docs) { (id, nc) =>
      (id % 3) match {
        case 0 => MediaRecord(id, "image",
          HeaderCodec.encodePng((id % 64 + 1).toInt, (nc % 64 + 1).toInt))
        case 1 => MediaRecord(id, "image",
          HeaderCodec.encodeBmp((id % 64 + 1).toInt, (nc % 64 + 1).toInt))
        case _ => MediaRecord(id, "audio",
          HeaderCodec.encodeWav(8000 + (id % 8000).toInt,
            1 + (id % 2).toInt, nc % 1000 + 1))
      }
    }

  /** The frame of every planted fixture: one record per document, encoded
    * by `encode` from (doc_id, n_chars) alone, in a typed map — so the
    * bytes are pure arithmetic an oracle can replay. */
  private def planted(docs: DataFrame)(encode: (Long, Long) => MediaRecord)
      : Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .map { case (id, nc) => encode(id, nc) }
  }
}
