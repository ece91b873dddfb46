package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.io.Bytes.be32

/** PNG as COMPRESSED image whose pixels are bit-exact: PNG's
  * DEFLATE + per-row filtering is lossless, so a decode returns
  * exactly the encoder's samples — the image rung of the
  * bit-exact-compressed triad (GIF-LZW for video frames in [[Gif]],
  * FLAC Rice/LPC for audio in [[Flac]]). Everything here derives from
  * the published PNG specification (ISO/IEC 15948): the 8-byte
  * signature, length/type/data/CRC-32 chunk grammar, IHDR shape
  * fields, PLTE palette, consecutive IDAT zlib stream, the five
  * scanline filters (None/Sub/Up/Average/Paeth), and the three text
  * chunk families (tEXt latin-1, zTXt deflate-compressed latin-1,
  * iTXt UTF-8). Inflate/deflate is `java.util.zip` — the JVM's public
  * zlib binding; decode output is independent of which deflate
  * implementation wrote the stream.
  *
  * Text chunks matter at 100 TB: generated-image provenance rides in
  * them (Stable-Diffusion-style tools write their prompt/parameters
  * as a `parameters`/`Software` text chunk), so [[pngTextChunks]] is
  * a first-class curation signal — filter a web-scraped image corpus
  * for synthetic content WITHOUT decoding a single pixel.
  *
  * Honesty contract: the metadata walk verifies every chunk CRC and
  * refuses broken grammar (`parsed = false`); the decode path
  * additionally refuses shapes it would have to approximate —
  * non-8-bit depths, Adam7 interlace, a type-3 image without PLTE or
  * with an out-of-palette index, an inflated stream whose length is
  * not exactly `height * (1 + width*bpp)` — rather than fabricate
  * pixels (`decoded = false`). Alpha samples (types 4/6) are carried
  * but IGNORED by the luma fold: a standalone PNG composites against
  * nothing, so Σ(r+g+b) over the stored color samples is exact and
  * well-defined (documented, spec-pinned against ImageIO's raster).
  *
  * Design for 100 TB: [[pngMetaScan]] walks length fields + CRCs only
  * (no inflate); text extraction inflates only zTXt/iTXt payloads
  * (bounded by `maxTextBytes`); the pixel decode inflates one image
  * at a time inside `mapPartitions` with the output size known and
  * bounded up front (`maxPixelBytes` refuses before allocating).
  */
object Png {

  private val Signature: Array[Byte] =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  /** Header-only PNG metadata: IHDR shape, chunk census, IDAT byte
    * total, text-chunk count — every chunk's CRC-32 verified, no
    * inflate. `parsed = false` rows (bad signature, truncation, CRC
    * mismatch, malformed IHDR, missing IEND) carry zeros.
    */
  case class PngMeta(id: Long, width: Int, height: Int, bitDepth: Int,
      colorType: Int, interlaced: Boolean, chunks: Long,
      idatBytes: Long, textChunks: Long, parsed: Boolean)

  /** One text chunk: `kind` is `text` (tEXt), `ztxt` (zTXt inflated)
    * or `itxt` (iTXt, inflated when its compression flag is set).
    */
  case class PngText(id: Long, keyword: String, text: String,
      kind: String)

  /** Decoded-pixel row: exact integer Σ(r+g+b) over all pixels plus
    * the per-pixel (r+g+b) extremes — the [[Gif]] luma definition for
    * a single frame. `decoded = false` rows carry zeros.
    */
  case class PngPixels(id: Long, width: Int, height: Int,
      colorType: Int, lumaTotal: Long, pxMax: Int, pxMin: Int,
      decoded: Boolean)

  def parsePngMeta(df: DataFrame, idCol: String,
      binCol: String): Dataset[PngMeta] = {
    implicit val enc = Encoders.product[PngMeta]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          parsePng(r.getAs[Array[Byte]](1)) match {
            case Some(p) => PngMeta(id, p.width, p.height, p.bitDepth,
              p.colorType, p.interlaced, p.chunks, p.idatBytes,
              p.texts.length.toLong, parsed = true)
            case None => PngMeta(id, 0, 0, 0, 0, interlaced = false,
              0L, 0L, 0L, parsed = false)
          }
        }
    }
  }

  /** Metadata projection — id + the [[PngMeta]] fields as columns. */
  def pngMetaScan(df: DataFrame, idCol: String,
      binCol: String): DataFrame =
    parsePngMeta(df, idCol, binCol).toDF().select(col("id"),
      col("width").cast("long").as("width"),
      col("height").cast("long").as("height"),
      col("bitDepth").cast("long").as("bit_depth"),
      col("colorType").cast("long").as("color_type"),
      col("interlaced"), col("chunks"),
      col("idatBytes").as("idat_bytes"),
      col("textChunks").as("text_chunks"), col("parsed"))

  /** Explode every text chunk (tEXt/zTXt/iTXt) of every payload —
    * the provenance scan. Rows only for parseable PNGs; a payload
    * with no text chunks emits nothing. zTXt/iTXt inflation is
    * bounded by `maxTextBytes` (an over-cap text refuses the CHUNK —
    * emits nothing for it — never truncates).
    */
  /** Local-bytes form of [[pngTextChunks]] — (keyword, text, kind)
    * rows for one payload (the unified image-comment scan's png arm).
    */
  private[graft] def textChunksOf(b: Array[Byte],
      maxTextBytes: Int): Seq[(String, String, String)] =
    parsePng(b) match {
      case Some(p) => p.texts.flatMap(t =>
        decodeText(p.bytes, t, maxTextBytes))
      case None => Nil
    }

  def pngTextChunks(df: DataFrame, idCol: String, binCol: String,
      maxTextBytes: Int = 1 << 20): DataFrame = {
    require(maxTextBytes > 0, "maxTextBytes must be positive")
    implicit val enc = Encoders.product[PngText]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          parsePng(r.getAs[Array[Byte]](1)) match {
            case Some(p) => p.texts.flatMap(t =>
              decodeText(p.bytes, t, maxTextBytes).map {
                case (k, v, kind) => PngText(id, k, v, kind)
              })
            case None => Nil
          }
        }
    }.toDF().select(col("id"), col("keyword"), col("text"),
      col("kind"))
  }

  /** Decode → exact integer pixel stats (the [[Gif.gifStats]] shape
    * for a single-frame container). Only rows whose pixels REALLY
    * decoded; refused shapes are `decoded = false` and filtered by
    * the caller or kept for the honesty contract.
    */
  def decodePixels(df: DataFrame, idCol: String, binCol: String,
      maxPixelBytes: Int = 1 << 26): Dataset[PngPixels] = {
    require(maxPixelBytes > 0, "maxPixelBytes must be positive")
    implicit val enc = Encoders.product[PngPixels]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          decodeStats(id, r.getAs[Array[Byte]](1), maxPixelBytes)
        }
    }
  }

  /** Stats projection over decodable payloads. */
  def pngStats(df: DataFrame, idCol: String, binCol: String,
      maxPixelBytes: Int = 1 << 26): DataFrame =
    decodePixels(df, idCol, binCol, maxPixelBytes).toDF()
      .filter(col("decoded"))
      .select(col("id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("colorType").cast("long").as("color_type"),
        col("lumaTotal").as("luma_total"),
        col("pxMax").cast("long").as("px_max"),
        col("pxMin").cast("long").as("px_min"))

  /** Decoded PNG pixels as a REAL standalone canonical BMP
    * ([[Multimodal.buildBmp]]) — the image-family bridge through the
    * HAND decoder (dHash, grids, tiles, the image near-dup index all
    * consume the result with zero PNG-specific code), bypassing
    * ImageIO entirely on the hot path. Refused shapes emit
    * `decoded = false` with empty bytes.
    */
  case class PngFrame(id: Long, width: Int, height: Int,
      bmp: Array[Byte], decoded: Boolean)

  def pngFrameImages(df: DataFrame, idCol: String, binCol: String,
      maxPixelBytes: Int = 1 << 26): DataFrame = {
    require(maxPixelBytes > 0, "maxPixelBytes must be positive")
    implicit val enc = Encoders.product[PngFrame]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          decodeRgb(r.getAs[Array[Byte]](1), maxPixelBytes) match {
            case Some((w, h, rgb)) =>
              val bgr = new Array[Byte](3 * w * h)
              var p = 0
              while (p < w * h) {
                bgr(3 * p) = rgb(3 * p + 2)
                bgr(3 * p + 1) = rgb(3 * p + 1)
                bgr(3 * p + 2) = rgb(3 * p)
                p += 1
              }
              PngFrame(id, w, h, Multimodal.buildBmp(w, h, bgr),
                decoded = true)
            case None =>
              PngFrame(id, 0, 0, Array.emptyByteArray, decoded = false)
          }
        }
    }.toDF()
  }

  // ---- imperative internals (the mapPartitions payload walkers) ------

  private[graft] final case class TextRec(kind: Int, off: Int, len: Int)

  private[graft] final case class ParsedPng(width: Int, height: Int,
      bitDepth: Int, colorType: Int, interlaced: Boolean, chunks: Long,
      idatBytes: Long, idat: Vector[(Int, Int)], plteOff: Int,
      plteLen: Int, texts: Vector[TextRec], exifOff: Int,
      exifLen: Int, bytes: Array[Byte])

  /** Structural walk: signature, then the chunk stream — every
    * chunk's CRC-32 verified (over type + data, the published
    * definition), IHDR validated, PLTE/IDAT/text offsets recorded,
    * IEND required, IDAT chunks required consecutive (the spec's
    * ordering rule — an interleaved stream is broken grammar). No
    * inflate happens here. None on any violation.
    */
  private[graft] def parsePng(bytes: Array[Byte]): Option[ParsedPng] = {
    if (bytes == null || bytes.length < 8 + 25) return None
    var i = 0
    while (i < 8) {
      if (bytes(i) != Signature(i)) return None
      i += 1
    }
    val crc = new java.util.zip.CRC32()
    var pos = 8L
    var width = 0; var height = 0; var bitDepth = 0; var colorType = 0
    var interlaced = false
    var sawIhdr = false; var sawIend = false
    var idatBytes = 0L
    var idatDone = false // set once a non-IDAT follows the first IDAT
    val idat = Vector.newBuilder[(Int, Int)]
    var sawIdat = false
    var plteOff = -1; var plteLen = 0
    var exifOff = -1; var exifLen = 0
    val texts = Vector.newBuilder[TextRec]
    var chunks = 0L
    while (!sawIend) {
      if (pos + 12 > bytes.length) return None
      val len = be32(bytes, pos.toInt)
      if (len > Int.MaxValue - 12 || pos + 12 + len > bytes.length)
        return None
      val typeOff = (pos + 4).toInt
      val dataOff = (pos + 8).toInt
      crc.reset()
      crc.update(bytes, typeOff, 4 + len.toInt)
      if (crc.getValue != be32(bytes, dataOff + len.toInt)) return None
      val ctype = new String(bytes, typeOff, 4, "US-ASCII")
      chunks += 1
      ctype match {
        case "IHDR" =>
          if (sawIhdr || chunks != 1L || len != 13L) return None
          width = be32(bytes, dataOff).toInt
          height = be32(bytes, dataOff + 4).toInt
          if (width <= 0 || height <= 0) return None
          bitDepth = bytes(dataOff + 8) & 0xFF
          colorType = bytes(dataOff + 9) & 0xFF
          if (!Set(0, 2, 3, 4, 6).contains(colorType)) return None
          if ((bytes(dataOff + 10) & 0xFF) != 0) return None // compression
          if ((bytes(dataOff + 11) & 0xFF) != 0) return None // filter
          val il = bytes(dataOff + 12) & 0xFF
          if (il > 1) return None
          interlaced = il == 1
          sawIhdr = true
        case "PLTE" =>
          if (!sawIhdr || plteOff >= 0 || len % 3 != 0 || len == 0L ||
            len > 768L) return None
          plteOff = dataOff; plteLen = len.toInt
        case "IDAT" =>
          if (!sawIhdr || idatDone) return None // must be consecutive
          sawIdat = true
          idat += ((dataOff, len.toInt))
          idatBytes += len
        case "IEND" =>
          if (len != 0L) return None
          sawIend = true
        case "tEXt" => texts += TextRec(0, dataOff, len.toInt)
        case "zTXt" => texts += TextRec(1, dataOff, len.toInt)
        case "iTXt" => texts += TextRec(2, dataOff, len.toInt)
        case "eXIf" => // the standardized EXIF chunk: raw TIFF blob
          if (exifOff < 0) { exifOff = dataOff; exifLen = len.toInt }
        case _ => // ancillary chunk: CRC held, content skipped
      }
      if (ctype != "IDAT" && sawIdat) idatDone = true
      if (!sawIhdr) return None // first chunk must be IHDR
      pos += 12 + len
    }
    if (idatBytes == 0L) return None
    Some(ParsedPng(width, height, bitDepth, colorType, interlaced,
      chunks, idatBytes, idat.result(), plteOff, plteLen,
      texts.result(), exifOff, exifLen, bytes))
  }

  /** Inflate a bounded deflate/zlib payload to EXACTLY `expected`
    * bytes (when `expected >= 0`) or to at most `cap` bytes. None on
    * corrupt streams, short output, or output exceeding the bound.
    */
  private def inflateExact(bytes: Array[Byte], chunks: Seq[(Int, Int)],
      expected: Int, cap: Int): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater()
    try {
      val bound = if (expected >= 0) expected else cap
      val out = new Array[Byte](bound)
      var outPos = 0
      val it = chunks.iterator
      while (!inf.finished()) {
        if (inf.needsInput()) {
          if (!it.hasNext) return None // truncated stream
          val (o, l) = it.next()
          inf.setInput(bytes, o, l)
        }
        val n =
          try inf.inflate(out, outPos, bound - outPos)
          catch { case _: java.util.zip.DataFormatException => return None }
        if (inf.needsDictionary()) return None // FDICT: not PNG zlib
        outPos += n
        if (n == 0 && !inf.finished() && inf.needsInput() && !it.hasNext)
          return None
        if (outPos == bound && !inf.finished()) {
          // drain check: any further real output overflows the bound
          val probe = new Array[Byte](1)
          val extra =
            try inf.inflate(probe)
            catch { case _: java.util.zip.DataFormatException => return None }
          if (extra > 0) return None
          if (!inf.finished() && inf.needsInput() && !it.hasNext)
            return None
        }
      }
      if (expected >= 0 && outPos != expected) None
      else Some(if (outPos == out.length) out
      else java.util.Arrays.copyOf(out, outPos))
    } finally inf.end()
  }

  /** One text chunk → (keyword, text, kind). Malformed chunks (no
    * NUL separator, bad compression method/flag, corrupt deflate,
    * over-cap inflate) emit nothing — never throw, never truncate.
    */
  private def decodeText(bytes: Array[Byte], t: TextRec,
      maxTextBytes: Int): Option[(String, String, String)] = {
    val end = t.off + t.len
    var nul = t.off
    while (nul < end && bytes(nul) != 0) nul += 1
    if (nul >= end || nul == t.off || nul - t.off > 79) return None
    val keyword = new String(bytes, t.off, nul - t.off, "ISO-8859-1")
    t.kind match {
      case 0 => // tEXt: keyword NUL text (latin-1, no terminator)
        Some((keyword,
          new String(bytes, nul + 1, end - nul - 1, "ISO-8859-1"),
          "text"))
      case 1 => // zTXt: keyword NUL method(0) deflate(text)
        if (nul + 2 > end || bytes(nul + 1) != 0) return None
        inflateExact(bytes, Seq((nul + 2, end - nul - 2)), -1,
          maxTextBytes).map(raw =>
          (keyword, new String(raw, "ISO-8859-1"), "ztxt"))
      case _ => // iTXt: keyword NUL flag method lang NUL trkw NUL text
        if (nul + 3 > end) return None
        val flag = bytes(nul + 1) & 0xFF
        val method = bytes(nul + 2) & 0xFF
        if (flag > 1 || method != 0) return None
        var p = nul + 3
        while (p < end && bytes(p) != 0) p += 1 // language tag
        if (p >= end) return None
        p += 1
        while (p < end && bytes(p) != 0) p += 1 // translated keyword
        if (p >= end) return None
        p += 1
        if (flag == 0)
          Some((keyword, new String(bytes, p, end - p, "UTF-8"), "itxt"))
        else inflateExact(bytes, Seq((p, end - p)), -1, maxTextBytes)
          .map(raw => (keyword, new String(raw, "UTF-8"), "itxt"))
    }
  }

  /** Samples per pixel for a color type the decode path supports. */
  private def channelsOf(colorType: Int): Int = colorType match {
    case 0 => 1 // gray
    case 2 => 3 // rgb
    case 3 => 1 // palette index
    case 4 => 2 // gray + alpha
    case 6 => 4 // rgba
    case _ => 0
  }

  /** Paeth predictor — the published closed form. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Full decode to packed RGB bytes (3 per pixel, row-major
    * top-down): inflate the consecutive IDAT stream to exactly
    * `height * (1 + width*bpp)`, unfilter every scanline
    * (None/Sub/Up/Average/Paeth), expand palette/gray/alpha shapes to
    * RGB. None for every refused shape (the honesty contract above).
    */
  private[graft] def decodeRgb(bytes: Array[Byte],
      maxPixelBytes: Int): Option[(Int, Int, Array[Byte])] =
    decodeRgbCt(bytes, maxPixelBytes).map {
      case (w, h, _, rgb) => (w, h, rgb)
    }

  private def decodeRgbCt(bytes: Array[Byte],
      maxPixelBytes: Int): Option[(Int, Int, Int, Array[Byte])] = {
    val p = parsePng(bytes).getOrElse(return None)
    if (p.bitDepth != 8 || p.interlaced) return None
    if (p.colorType == 3 && p.plteOff < 0) return None
    if (3L * p.width * p.height > maxPixelBytes) return None
    decodeFrameRgb(bytes, p.idat, p.width, p.height, p.colorType,
      p.plteOff, p.plteLen).map(rgb =>
      (p.width, p.height, p.colorType, rgb))
  }

  /** One frame's data chunks → packed RGB: inflate to exactly
    * `height * (1 + width*bpp)`, unfilter, expand — the shared core
    * of the still decode and the APNG per-frame decode (each APNG
    * frame's fdAT concatenation is an INDEPENDENT zlib stream).
    */
  private def decodeFrameRgb(bytes: Array[Byte],
      chunks: Seq[(Int, Int)], w: Int, h: Int, colorType: Int,
      plteOff: Int, plteLen: Int): Option[Array[Byte]] = {
    val ch = channelsOf(colorType)
    if (ch == 0) return None
    val stride = 1L + w.toLong * ch
    if (h * stride > Int.MaxValue.toLong) return None
    val raw = inflateExact(bytes, chunks, (h * stride).toInt,
      (h * stride).toInt).getOrElse(return None)
    // unfilter in place: raw(y*stride) is the filter byte
    val st = stride.toInt
    var y = 0
    while (y < h) {
      val rowOff = y * st + 1
      val prevOff = rowOff - st
      val f = raw(y * st) & 0xFF
      if (f > 4) return None
      var x = 0
      while (x < st - 1) {
        val a = if (x >= ch) raw(rowOff + x - ch) & 0xFF else 0
        val b = if (y > 0) raw(prevOff + x) & 0xFF else 0
        val c = if (y > 0 && x >= ch) raw(prevOff + x - ch) & 0xFF else 0
        val v = raw(rowOff + x) & 0xFF
        val recon = f match {
          case 0 => v
          case 1 => v + a
          case 2 => v + b
          case 3 => v + ((a + b) >> 1)
          case _ => v + paeth(a, b, c)
        }
        raw(rowOff + x) = (recon & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    // expand to RGB
    val rgb = new Array[Byte](3 * w * h)
    val nPal = plteLen / 3
    var pi = 0
    y = 0
    while (y < h) {
      val rowOff = y * st + 1
      var x = 0
      while (x < w) {
        val o = rowOff + x * ch
        colorType match {
          case 0 =>
            val v = raw(o); rgb(pi) = v; rgb(pi + 1) = v; rgb(pi + 2) = v
          case 2 =>
            rgb(pi) = raw(o); rgb(pi + 1) = raw(o + 1)
            rgb(pi + 2) = raw(o + 2)
          case 3 =>
            val ix = raw(o) & 0xFF
            if (ix >= nPal) return None
            rgb(pi) = bytes(plteOff + 3 * ix)
            rgb(pi + 1) = bytes(plteOff + 3 * ix + 1)
            rgb(pi + 2) = bytes(plteOff + 3 * ix + 2)
          case 4 =>
            val v = raw(o); rgb(pi) = v; rgb(pi + 1) = v; rgb(pi + 2) = v
          case _ =>
            rgb(pi) = raw(o); rgb(pi + 1) = raw(o + 1)
            rgb(pi + 2) = raw(o + 2)
        }
        pi += 3
        x += 1
      }
      y += 1
    }
    Some(rgb)
  }

  private def decodeStats(id: Long, bytes: Array[Byte],
      maxPixelBytes: Int): PngPixels =
    decodeRgbCt(bytes, maxPixelBytes) match {
      case Some((w, h, ct, rgb)) =>
        var total = 0L
        var mx = 0; var mn = Int.MaxValue
        var p = 0
        while (p < w * h) {
          val s = (rgb(3 * p) & 0xFF) + (rgb(3 * p + 1) & 0xFF) +
            (rgb(3 * p + 2) & 0xFF)
          total += s
          if (s > mx) mx = s
          if (s < mn) mn = s
          p += 1
        }
        PngPixels(id, w, h, ct, total, mx, mn, decoded = true)
      case None =>
        PngPixels(id, 0, 0, 0, 0L, 0, 0, decoded = false)
    }

  // ---- encoder (round-trip twin; also the fixture/smoke builder) -----

  /** Build a PNG: IHDR + optional PLTE + one filtered, deflated IDAT
    * + optional text chunks + IEND, all CRCs real. `samples` is the
    * raw per-pixel sample stream for `colorType` (1/3/1/2/4 bytes per
    * pixel for types 0/2/3/4/6), row-major top-down. `filterOf(y)`
    * picks each row's filter (0–4) — the ENCODER applies it exactly
    * (the spec's forward transform), so every decode-side unfilter
    * branch is exercised by real streams. `texts` are
    * (keyword, text, kind) with kind in {text, ztxt, itxt, itxtz}.
    */
  def buildPng(width: Int, height: Int, colorType: Int,
      samples: Array[Byte], palette: Array[Int] = Array.emptyIntArray,
      filterOf: Int => Int = _ => 0,
      texts: Seq[(String, String, String)] = Nil,
      exif: Array[Byte] = null): Array[Byte] = {
    require(width > 0 && height > 0, "width/height must be positive")
    val ch = channelsOf(colorType)
    require(ch > 0, s"unsupported colorType $colorType")
    require(samples.length == width * height * ch,
      s"samples must be ${width * height * ch} bytes, " +
        s"got ${samples.length}")
    if (colorType == 3) {
      require(palette.nonEmpty && palette.length <= 256,
        "type 3 needs a palette of 1..256 entries")
      require(samples.forall(i => (i & 0xFF) < palette.length),
        "palette index out of range")
    }
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Signature)
    val crc = new java.util.zip.CRC32()
    def chunk(ctype: String, data: Array[Byte]): Unit = {
      val len = data.length
      bos.write((len >> 24) & 0xFF); bos.write((len >> 16) & 0xFF)
      bos.write((len >> 8) & 0xFF); bos.write(len & 0xFF)
      val tb = ctype.getBytes("US-ASCII")
      bos.write(tb)
      bos.write(data)
      crc.reset(); crc.update(tb); crc.update(data)
      val c = crc.getValue
      bos.write(((c >> 24) & 0xFF).toInt); bos.write(((c >> 16) & 0xFF).toInt)
      bos.write(((c >> 8) & 0xFF).toInt); bos.write((c & 0xFF).toInt)
    }
    chunk("IHDR", {
      val d = new Array[Byte](13)
      def w32(o: Int, v: Int): Unit = {
        d(o) = ((v >> 24) & 0xFF).toByte; d(o + 1) = ((v >> 16) & 0xFF).toByte
        d(o + 2) = ((v >> 8) & 0xFF).toByte; d(o + 3) = (v & 0xFF).toByte
      }
      w32(0, width); w32(4, height)
      d(8) = 8; d(9) = colorType.toByte; d(10) = 0; d(11) = 0; d(12) = 0
      d
    })
    if (colorType == 3)
      chunk("PLTE", palette.flatMap(rgb => Array(
        ((rgb >> 16) & 0xFF).toByte, ((rgb >> 8) & 0xFF).toByte,
        (rgb & 0xFF).toByte)))
    // filter + deflate the scanlines
    val st = width * ch
    val raw = new Array[Byte](height * (1 + st))
    var y = 0
    while (y < height) {
      val f = filterOf(y)
      require(f >= 0 && f <= 4, s"filter $f out of range")
      raw(y * (1 + st)) = f.toByte
      var x = 0
      while (x < st) {
        val cur = samples(y * st + x) & 0xFF
        val a = if (x >= ch) samples(y * st + x - ch) & 0xFF else 0
        val b = if (y > 0) samples((y - 1) * st + x) & 0xFF else 0
        val c = if (y > 0 && x >= ch) samples((y - 1) * st + x - ch) & 0xFF
          else 0
        val out = f match {
          case 0 => cur
          case 1 => cur - a
          case 2 => cur - b
          case 3 => cur - ((a + b) >> 1)
          case _ => cur - paeth(a, b, c)
        }
        raw(y * (1 + st) + 1 + x) = (out & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    chunk("IDAT", deflate(raw))
    texts.foreach { case (k, v, kind) =>
      val kb = k.getBytes("ISO-8859-1")
      kind match {
        case "text" =>
          val vb = v.getBytes("ISO-8859-1")
          val d = new Array[Byte](kb.length + 1 + vb.length)
          System.arraycopy(kb, 0, d, 0, kb.length)
          System.arraycopy(vb, 0, d, kb.length + 1, vb.length)
          chunk("tEXt", d)
        case "ztxt" =>
          val vz = deflate(v.getBytes("ISO-8859-1"))
          val d = new Array[Byte](kb.length + 2 + vz.length)
          System.arraycopy(kb, 0, d, 0, kb.length)
          d(kb.length + 1) = 0
          System.arraycopy(vz, 0, d, kb.length + 2, vz.length)
          chunk("zTXt", d)
        case "itxt" | "itxtz" =>
          val compressed = kind == "itxtz"
          val vb =
            if (compressed) deflate(v.getBytes("UTF-8"))
            else v.getBytes("UTF-8")
          val d = new Array[Byte](kb.length + 5 + vb.length)
          System.arraycopy(kb, 0, d, 0, kb.length)
          d(kb.length + 1) = (if (compressed) 1 else 0).toByte
          d(kb.length + 2) = 0 // method
          // empty language tag NUL + empty translated keyword NUL
          System.arraycopy(vb, 0, d, kb.length + 5, vb.length)
          chunk("iTXt", d)
        case other =>
          throw new IllegalArgumentException(s"text kind $other")
      }
    }
    if (exif != null) chunk("eXIf", exif)
    chunk("IEND", Array.emptyByteArray)
    bos.toByteArray
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  // ---- APNG: animated PNG as another bit-exact compressed-video rung

  /** One animation frame: fcTL geometry/timing + the byte ranges of
    * its data (IDAT ranges for a frame-0 default image, fdAT ranges
    * past their 4-byte sequence numbers otherwise). Each frame's
    * concatenated data is an INDEPENDENT zlib stream — unsampled
    * frames are never inflated.
    */
  private[graft] final case class ApngFrame(width: Int, height: Int,
      x: Int, y: Int, delayNum: Int, delayDen: Int, disposeOp: Int,
      blendOp: Int, chunks: Vector[(Int, Int)])

  private[graft] final case class ParsedApng(width: Int, height: Int,
      bitDepth: Int, colorType: Int, interlaced: Boolean,
      plteOff: Int, plteLen: Int, frames: Vector[ApngFrame],
      bytes: Array[Byte])

  /** The APNG walk (the published acTL/fcTL/fdAT grammar on top of
    * the PNG chunk stream): CRCs verified like [[parsePng]], acTL
    * required before the first IDAT, sequence numbers strictly
    * consecutive from 0, fcTL-before-IDAT makes the default image
    * frame 0, declared frame count must match. None for still PNGs
    * (no acTL — they belong to the image family, not the video one)
    * and for any grammar violation.
    */
  private[graft] def parseApng(bytes: Array[Byte]): Option[ParsedApng] = {
    if (bytes == null || bytes.length < 8 + 25) return None
    var i = 0
    while (i < 8) {
      if (bytes(i) != Signature(i)) return None
      i += 1
    }
    val crc = new java.util.zip.CRC32()
    var pos = 8L
    var width = 0; var height = 0; var bitDepth = 0; var colorType = 0
    var interlaced = false
    var sawIhdr = false; var sawIend = false
    var plteOff = -1; var plteLen = 0
    var numFrames = -1L
    var nextSeq = 0L
    var sawIdat = false
    var idatDone = false
    var idatIsFrame0 = false
    var cur: ApngFrame = null // open frame accumulating data chunks
    var curChunks = Vector.empty[(Int, Int)]
    val frames = Vector.newBuilder[ApngFrame]
    var chunks = 0L
    def closeFrame(): Boolean = {
      if (cur != null) {
        if (curChunks.isEmpty) return false // fcTL with no data
        frames += cur.copy(chunks = curChunks)
        cur = null
        curChunks = Vector.empty
      }
      true
    }
    while (!sawIend) {
      if (pos + 12 > bytes.length) return None
      val len = be32(bytes, pos.toInt)
      if (len > Int.MaxValue - 12 || pos + 12 + len > bytes.length)
        return None
      val typeOff = (pos + 4).toInt
      val dataOff = (pos + 8).toInt
      crc.reset()
      crc.update(bytes, typeOff, 4 + len.toInt)
      if (crc.getValue != be32(bytes, dataOff + len.toInt)) return None
      val ctype = new String(bytes, typeOff, 4, "US-ASCII")
      chunks += 1
      ctype match {
        case "IHDR" =>
          if (sawIhdr || chunks != 1L || len != 13L) return None
          width = be32(bytes, dataOff).toInt
          height = be32(bytes, dataOff + 4).toInt
          if (width <= 0 || height <= 0) return None
          bitDepth = bytes(dataOff + 8) & 0xFF
          colorType = bytes(dataOff + 9) & 0xFF
          if (!Set(0, 2, 3, 4, 6).contains(colorType)) return None
          if ((bytes(dataOff + 10) & 0xFF) != 0) return None
          if ((bytes(dataOff + 11) & 0xFF) != 0) return None
          val il = bytes(dataOff + 12) & 0xFF
          if (il > 1) return None
          interlaced = il == 1
          sawIhdr = true
        case "PLTE" =>
          if (!sawIhdr || plteOff >= 0 || len % 3 != 0 || len == 0L ||
            len > 768L) return None
          plteOff = dataOff; plteLen = len.toInt
        case "acTL" =>
          if (!sawIhdr || sawIdat || numFrames >= 0L || len != 8L)
            return None
          numFrames = be32(bytes, dataOff)
          if (numFrames <= 0L) return None
        case "fcTL" =>
          if (!sawIhdr || len != 26L) return None
          if (be32(bytes, dataOff) != nextSeq) return None // sequence
          nextSeq += 1
          if (!closeFrame()) return None
          cur = ApngFrame(
            be32(bytes, dataOff + 4).toInt, be32(bytes, dataOff + 8).toInt,
            be32(bytes, dataOff + 12).toInt, be32(bytes, dataOff + 16).toInt,
            ((bytes(dataOff + 20) & 0xFF) << 8) |
              (bytes(dataOff + 21) & 0xFF),
            ((bytes(dataOff + 22) & 0xFF) << 8) |
              (bytes(dataOff + 23) & 0xFF),
            bytes(dataOff + 24) & 0xFF, bytes(dataOff + 25) & 0xFF,
            Vector.empty)
          if (cur.width <= 0 || cur.height <= 0) return None
          if (!sawIdat) idatIsFrame0 = true
        case "IDAT" =>
          if (!sawIhdr || idatDone) return None // consecutive rule
          sawIdat = true
          if (idatIsFrame0) {
            // the lone pre-IDAT fcTL (seq 0) claims the IDAT data
            if (cur == null || nextSeq != 1L) return None
            curChunks :+= ((dataOff, len.toInt))
          }
        case "fdAT" =>
          if (cur == null || len < 4L || !sawIdat) return None
          if (be32(bytes, dataOff) != nextSeq) return None
          nextSeq += 1
          curChunks :+= ((dataOff + 4, len.toInt - 4))
        case "IEND" =>
          if (len != 0L) return None
          sawIend = true
        case _ => // ancillary: CRC held, content skipped
      }
      if (!sawIhdr) return None
      if (ctype != "IDAT" && sawIdat) idatDone = true
      pos += 12 + len
    }
    if (!sawIdat || numFrames < 0L) return None
    if (!closeFrame()) return None
    val fs = frames.result()
    if (fs.isEmpty || fs.length.toLong != numFrames) return None
    Some(ParsedApng(width, height, bitDepth, colorType, interlaced,
      plteOff, plteLen, fs, bytes))
  }

  /** Sampled per-frame luma of an APNG — [[Gif.decodeLuma]] for the
    * APNG container, emitting the SAME [[Video.VideoLuma]] shape so
    * the whole video family (fingerprints, stats, near-dup, hunts)
    * consumes APNG payloads with zero new downstream code. The
    * honesty contract is [[Gif]]'s: only full-logical-screen
    * replacement frames decode — offset/partial rects, non-NONE
    * dispose ops, OVER blending, interlace, and non-8-bit depths all
    * composite against prior frames or approximate, so they refuse.
    * Duration is Σ floor(1000·num/den) with den = 0 meaning 100 (the
    * published default). Unsampled frames' zlib streams are never
    * inflated.
    */
  private[graft] def decodeAnimLuma(id: Long, bytes: Array[Byte],
      nSamples: Int, maxFrameBytes: Int): Option[Video.VideoLuma] = {
    val a = parseApng(bytes).getOrElse(return None)
    if (a.bitDepth != 8 || a.interlaced) return None
    if (a.colorType == 3 && a.plteOff < 0) return None
    if (3L * a.width * a.height > maxFrameBytes) return None
    a.frames.foreach { f =>
      if (f.x != 0 || f.y != 0 || f.width != a.width ||
        f.height != a.height || f.disposeOp != 0 || f.blendOp != 0)
        return None
    }
    var durationMs = 0L
    a.frames.foreach { f =>
      val den = if (f.delayDen == 0) 100 else f.delayDen
      durationMs += 1000L * f.delayNum / den
    }
    val n = a.frames.length.toLong
    val idx = Video.sampleIndices(n, nSamples)
    val sums = new Array[Long](nSamples)
    var next = 0
    var fi = 0L
    while (fi < n && next < nSamples) {
      if (idx(next) == fi) {
        val rgb = decodeFrameRgb(bytes, a.frames(fi.toInt).chunks,
          a.width, a.height, a.colorType, a.plteOff, a.plteLen)
          .getOrElse(return None)
        var s = 0L
        var p = 0
        while (p < rgb.length) { s += rgb(p) & 0xFF; p += 1 }
        while (next < nSamples && idx(next) == fi) {
          sums(next) = s; next += 1
        }
      }
      fi += 1
    }
    if (next < nSamples) return None
    Some(Video.VideoLuma(id, a.width, a.height, n, durationMs,
      idx.toSeq, sums.toSeq, decoded = true))
  }

  /** Decode → exact integer stats — [[Gif.gifStats]] for APNG. */
  def apngStats(df: DataFrame, idCol: String, binCol: String,
      nSamples: Int = 65, maxFrameBytes: Int = 1 << 24): DataFrame = {
    require(nSamples > 0, "nSamples must be positive")
    require(maxFrameBytes > 0, "maxFrameBytes must be positive")
    implicit val enc = Encoders.product[Video.VideoLuma]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          decodeAnimLuma(r.getLong(0), r.getAs[Array[Byte]](1),
            nSamples, maxFrameBytes) match {
            case Some(v) => v
            case None => Video.VideoLuma(r.getLong(0), 0, 0, 0L, 0L,
              Nil, Nil, decoded = false)
          }
        }
    }.toDF().filter(col("decoded"))
      .select(col("id"), col("width"), col("height"),
        col("nFrames").as("n_frames"),
        col("durationMs").as("duration_ms"),
        aggregate(col("lumaSums"), lit(0L), (a, x) => a + x)
          .as("luma_total"),
        array_max(col("lumaSums")).as("luma_peak"),
        array_min(col("lumaSums")).as("luma_min"))
  }

  /** Build an APNG: acTL + per-frame fcTL (+ IDAT for frame 0, fdAT
    * with real sequence numbers after), every frame's samples
    * independently filtered (`filterOf(frame)(row)`) and deflated;
    * frame data split across two fdAT chunks when it fits, so the
    * concat path is exercised by every fixture. `frames(f)` is the
    * raw sample stream of frame f for `colorType`.
    */
  def buildApng(width: Int, height: Int, colorType: Int,
      frames: Seq[Array[Byte]],
      palette: Array[Int] = Array.emptyIntArray,
      delayNum: Int = 4, delayDen: Int = 100,
      filterOf: Int => Int => Int = _ => _ => 0): Array[Byte] = {
    require(frames.nonEmpty, "at least one frame")
    require(delayNum >= 0 && delayNum <= 0xFFFF &&
      delayDen >= 0 && delayDen <= 0xFFFF, "delay must be u16")
    val ch = channelsOf(colorType)
    require(ch > 0, s"unsupported colorType $colorType")
    frames.foreach(f => require(f.length == width * height * ch,
      s"each frame must be ${width * height * ch} bytes"))
    if (colorType == 3) {
      require(palette.nonEmpty && palette.length <= 256, "palette")
      frames.foreach(f => require(
        f.forall(i => (i & 0xFF) < palette.length), "index range"))
    }
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Signature)
    val crc = new java.util.zip.CRC32()
    def chunk(ctype: String, data: Array[Byte]): Unit = {
      val len = data.length
      bos.write((len >> 24) & 0xFF); bos.write((len >> 16) & 0xFF)
      bos.write((len >> 8) & 0xFF); bos.write(len & 0xFF)
      val tb = ctype.getBytes("US-ASCII")
      bos.write(tb)
      bos.write(data)
      crc.reset(); crc.update(tb); crc.update(data)
      val c = crc.getValue
      bos.write(((c >> 24) & 0xFF).toInt); bos.write(((c >> 16) & 0xFF).toInt)
      bos.write(((c >> 8) & 0xFF).toInt); bos.write((c & 0xFF).toInt)
    }
    def w32(d: Array[Byte], o: Int, v: Long): Unit = {
      d(o) = ((v >> 24) & 0xFF).toByte; d(o + 1) = ((v >> 16) & 0xFF).toByte
      d(o + 2) = ((v >> 8) & 0xFF).toByte; d(o + 3) = (v & 0xFF).toByte
    }
    val ih = new Array[Byte](13)
    w32(ih, 0, width); w32(ih, 4, height)
    ih(8) = 8; ih(9) = colorType.toByte
    chunk("IHDR", ih)
    val ac = new Array[Byte](8)
    w32(ac, 0, frames.length.toLong); w32(ac, 4, 0L) // loop forever
    chunk("acTL", ac)
    if (colorType == 3)
      chunk("PLTE", palette.flatMap(rgb => Array(
        ((rgb >> 16) & 0xFF).toByte, ((rgb >> 8) & 0xFF).toByte,
        (rgb & 0xFF).toByte)))
    var seq = 0L
    val st = width * ch
    def filtered(f: Int): Array[Byte] = {
      val samples = frames(f)
      val raw = new Array[Byte](height * (1 + st))
      var y = 0
      while (y < height) {
        val fl = filterOf(f)(y)
        require(fl >= 0 && fl <= 4, s"filter $fl out of range")
        raw(y * (1 + st)) = fl.toByte
        var x = 0
        while (x < st) {
          val curV = samples(y * st + x) & 0xFF
          val a = if (x >= ch) samples(y * st + x - ch) & 0xFF else 0
          val b = if (y > 0) samples((y - 1) * st + x) & 0xFF else 0
          val c = if (y > 0 && x >= ch)
            samples((y - 1) * st + x - ch) & 0xFF else 0
          val out = fl match {
            case 0 => curV
            case 1 => curV - a
            case 2 => curV - b
            case 3 => curV - ((a + b) >> 1)
            case _ => curV - paeth(a, b, c)
          }
          raw(y * (1 + st) + 1 + x) = (out & 0xFF).toByte
          x += 1
        }
        y += 1
      }
      deflate(raw)
    }
    frames.indices.foreach { f =>
      val fc = new Array[Byte](26)
      w32(fc, 0, seq); seq += 1
      w32(fc, 4, width); w32(fc, 8, height)
      w32(fc, 12, 0L); w32(fc, 16, 0L)
      fc(20) = ((delayNum >> 8) & 0xFF).toByte
      fc(21) = (delayNum & 0xFF).toByte
      fc(22) = ((delayDen >> 8) & 0xFF).toByte
      fc(23) = (delayDen & 0xFF).toByte
      chunk("fcTL", fc)
      val z = filtered(f)
      if (f == 0) chunk("IDAT", z)
      else {
        // split across two fdAT chunks to exercise the concat path
        val half = math.max(1, z.length / 2)
        Seq(z.take(half), z.drop(half)).filter(_.nonEmpty)
          .foreach { part =>
            val d = new Array[Byte](4 + part.length)
            w32(d, 0, seq); seq += 1
            System.arraycopy(part, 0, d, 4, part.length)
            chunk("fdAT", d)
          }
      }
    }
    chunk("IEND", Array.emptyByteArray)
    bos.toByteArray
  }
}
