package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.io.Bytes.{be32, tag}

/** MP3 (MPEG-1/2/2.5 Layer III) frame-header metadata — pure integer
  * closed form from the published frame grammar: 11-bit sync word,
  * version/layer bits, the bitrate and sample-rate index tables,
  * padding bit, channel mode, and the Xing/Info VBR header's frame
  * count. DECODE stays out of scope — an exact closed-form MP3 decode
  * (hybrid filterbank + Huffman) is not realistically
  * oracle-replicable, and fabricating samples is the contract
  * violation the audio family refuses; this walk serves the 100 TB
  * metadata-filter path (duration, bitrate shape, channel layout)
  * reading 4 bytes per frame hop.
  *
  * Honesty contract: `parsed = true` requires the byte stream after
  * an optional ID3v2 tag to be EXACTLY consecutive valid Layer III
  * frames to EOF, all agreeing on version and sample rate (the only
  * layout a closed-form duration is honest for); truncation mid-
  * frame, garbage, free-format bitrate (index 0), reserved indices,
  * and Layer I/II all refuse. `vbr` reports whether per-frame
  * bitrates vary; `xingFrames` is the VBR header's declared count
  * (−1 when absent) — reported alongside the WALKED count, never in
  * place of it.
  */
object Mp3 {

  /** kbps by [versionGroup][bitrateIndex] for Layer III: group 0 =
    * MPEG-1, group 1 = MPEG-2/2.5 (the published tables; index 0 is
    * free-format, index 15 reserved — both refused).
    */
  private val BitrateKbps: Array[Array[Int]] = Array(
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
      320),
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
      160))

  /** Hz by [versionBits][rateIndex] (versionBits: 0 = MPEG-2.5,
    * 2 = MPEG-2, 3 = MPEG-1).
    */
  private val SampleRates: Map[Int, Array[Int]] = Map(
    3 -> Array(44100, 48000, 32000),
    2 -> Array(22050, 24000, 16000),
    0 -> Array(11025, 12000, 8000))

  case class Mp3Meta(id: Long, version: String, sampleRate: Int,
      channels: Int, frames: Long, bitrateKbps: Int, vbr: Boolean,
      xingFrames: Long, durationMs: Long, parsed: Boolean)

  def parseMp3Header(df: DataFrame, idCol: String,
      binCol: String): Dataset[Mp3Meta] = {
    implicit val enc = Encoders.product[Mp3Meta]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          parseMp3(r.getAs[Array[Byte]](1)) match {
            case Some(m) => m.copy(id = id)
            case None => Mp3Meta(id, "", 0, 0, 0L, 0, vbr = false,
              -1L, 0L, parsed = false)
          }
        }
    }
  }

  /** Metadata projection — id + the [[Mp3Meta]] fields as columns. */
  def mp3MetaScan(df: DataFrame, idCol: String,
      binCol: String): DataFrame =
    parseMp3Header(df, idCol, binCol).toDF().select(col("id"),
      col("version"), col("sampleRate").as("sample_rate"),
      col("channels"), col("frames"),
      col("bitrateKbps").as("bitrate_kbps"), col("vbr"),
      col("xingFrames").as("xing_frames"),
      col("durationMs").as("duration_ms"), col("parsed"))

  /** One ID3v2 text frame of payload `id` — `frameId` is the 4-char
    * frame name (TIT2 title, TPE1 artist, TALB album, …), `text` its
    * decoded value.
    */
  case class Id3Frame(id: Long, frameId: String, text: String)

  /** Extract ID3v2.3/2.4 TEXT frames (the `T***` family) as one row
    * per frame — the document-metadata side of an audio corpus
    * (title/artist/album land next to the payload for text-analysis
    * joins). Supported per the published tag grammar: syncsafe (v2.4)
    * and plain (v2.3) frame sizes, encodings 0 (ISO-8859-1),
    * 1 (UTF-16 with BOM), 2 (UTF-16BE) and 3 (UTF-8), padding stop,
    * extended-header skip. Payloads without a tag (or with the
    * unsynchronisation bit, which this walk honestly does not
    * reverse) emit NO rows.
    */
  def id3TextFrames(df: DataFrame, idCol: String,
      binCol: String): Dataset[Id3Frame] = {
    implicit val enc = Encoders.product[Id3Frame]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          parseId3Text(r.getAs[Array[Byte]](1)).map { case (f, t) =>
            Id3Frame(id, f, t)
          }
        }
    }
  }

  /** The ID3v2 text-frame walk — empty on anything malformed. */
  private[graft] def parseId3Text(
      bytes: Array[Byte]): Seq[(String, String)] = {
    if (bytes == null || bytes.length < 10 || bytes(0) != 'I'.toByte ||
      bytes(1) != 'D'.toByte || bytes(2) != '3'.toByte) return Nil
    val major = bytes(3) & 0xFF
    if (major != 3 && major != 4) return Nil
    val flags = bytes(5) & 0xFF
    if ((flags & 0x80) != 0) return Nil // unsynchronised: not reversed
    def syncsafe(o: Int): Int =
      ((bytes(o) & 0x7F) << 21) | ((bytes(o + 1) & 0x7F) << 14) |
        ((bytes(o + 2) & 0x7F) << 7) | (bytes(o + 3) & 0x7F)
    val tagEnd = math.min(bytes.length, 10 + syncsafe(6))
    var pos = 10
    if ((flags & 0x40) != 0) { // extended header: skip by its size
      if (pos + 4 > tagEnd) return Nil
      val ehSize = if (major == 4) syncsafe(pos) else be32(bytes, pos).toInt
      // Long arithmetic: a hostile be32 near 2^31 must not wrap the
      // cursor negative and slip past the bounds check
      val skip = if (major == 4) ehSize.toLong else 4L + ehSize
      if (ehSize < 0 || pos + skip > tagEnd) return Nil
      pos = (pos + skip).toInt
    }
    val out = Seq.newBuilder[(String, String)]
    while (pos + 10 <= tagEnd && bytes(pos) != 0) {
      val frameId = new String(bytes, pos, 4, "US-ASCII")
      val fSize = if (major == 4) syncsafe(pos + 4) else be32(bytes, pos + 4).toInt
      // Long bound: fSize near 2^31 would wrap `pos + 10 + fSize`
      // negative in Int and bypass the check
      if (fSize < 0 || 10L + fSize > tagEnd.toLong - pos)
        return out.result()
      if (frameId.startsWith("T") && frameId != "TXXX" && fSize >= 1) {
        val enc = bytes(pos + 10) & 0xFF
        val body = pos + 11
        val len = fSize - 1
        val charset = enc match {
          case 0 => "ISO-8859-1"
          case 1 => "UTF-16" // BOM-led
          case 2 => "UTF-16BE"
          case 3 => "UTF-8"
          case _ => null
        }
        if (charset != null) {
          val raw = new String(bytes, body, len, charset)
          // strip the terminator (and v2.4 multi-value separators keep
          // only the first value — the common single-value form)
          val t = raw.indexOf('\u0000') match {
            case -1 => raw
            case i => raw.substring(0, i)
          }
          out += ((frameId, t))
        }
      }
      pos += 10 + fSize
    }
    out.result()
  }

  // ---- imperative internals (the mapPartitions payload walker) -------

  /** Samples per frame for Layer III: 1152 (MPEG-1) / 576 (2, 2.5). */
  // ---- ID3v1: the 128-byte trailer tag --------------------------------

  /** One ID3v1/v1.1 trailer: fixed 128 bytes at EOF starting `TAG` —
    * title/artist/album 30 bytes each, year 4, comment 30 (v1.1:
    * 28 + NUL + track byte), genre index. Strings are ISO-8859-1
    * with NUL/space padding trimmed. `track` is −1 for plain v1.
    * `present = false` rows (no trailer) carry empties.
    */
  case class Id3v1(id: Long, title: String, artist: String,
      album: String, year: String, comment: String, track: Int,
      genre: Int, present: Boolean)

  def id3v1Scan(df: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    implicit val enc = Encoders.product[Id3v1]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          parseId3v1(r.getAs[Array[Byte]](1)) match {
            case Some(t) => t.copy(id = id)
            case None => Id3v1(id, "", "", "", "", "", -1, 0,
              present = false)
          }
        }
    }.toDF().select(col("id"), col("title"), col("artist"),
      col("album"), col("year"), col("comment"), col("track"),
      col("genre"), col("present"))
  }

  private[graft] def parseId3v1(b: Array[Byte]): Option[Id3v1] = {
    if (b == null || b.length < 128) return None
    val o = b.length - 128
    if (b(o) != 'T' || b(o + 1) != 'A' || b(o + 2) != 'G') return None
    def str(off: Int, len: Int): String = {
      var end = off + len
      while (end > off && (b(end - 1) == 0 || b(end - 1) == ' '))
        end -= 1
      new String(b, off, end - off, "ISO-8859-1")
    }
    // v1.1: comment byte 28 is NUL and byte 29 is the track number
    val isV11 = b(o + 125) == 0 && b(o + 126) != 0
    Some(Id3v1(0L, str(o + 3, 30), str(o + 33, 30), str(o + 63, 30),
      str(o + 93, 4),
      if (isV11) str(o + 97, 28) else str(o + 97, 30),
      if (isV11) b(o + 126) & 0xFF else -1,
      b(o + 127) & 0xFF, present = true))
  }

  /** Append an ID3v1/v1.1 trailer to a payload — the encode twin of
    * [[parseId3v1]] (fixture/smoke builder). `track >= 0` writes the
    * v1.1 form.
    */
  def withId3v1(payload: Array[Byte], title: String, artist: String,
      album: String, year: String, comment: String, track: Int = -1,
      genre: Int = 0): Array[Byte] = {
    require(genre >= 0 && genre <= 255, "genre is one byte")
    require(track <= 255, "track is one byte")
    val tag = new Array[Byte](128)
    tag(0) = 'T'; tag(1) = 'A'; tag(2) = 'G'
    def put(s: String, off: Int, len: Int): Unit = {
      val bs = s.getBytes("ISO-8859-1")
      require(bs.length <= len, s"'$s' over $len bytes")
      System.arraycopy(bs, 0, tag, off, bs.length)
    }
    put(title, 3, 30); put(artist, 33, 30); put(album, 63, 30)
    put(year, 93, 4)
    if (track >= 0) {
      require(track > 0, "v1.1 track 0 is indistinguishable from v1")
      put(comment, 97, 28)
      tag(126) = track.toByte
    } else put(comment, 97, 30)
    tag(127) = genre.toByte
    val out = new Array[Byte](payload.length + 128)
    System.arraycopy(payload, 0, out, 0, payload.length)
    System.arraycopy(tag, 0, out, payload.length, 128)
    out
  }

  private def samplesPerFrame(versionBits: Int): Int =
    if (versionBits == 3) 1152 else 576

  /** One frame header at `o`: (versionBits, rateIdx, kbps, channels,
    * frameBytes) — None unless it is a valid Layer III header with a
    * real bitrate and sample rate.
    */
  private def frameHeader(b: Array[Byte],
      o: Int): Option[(Int, Int, Int, Int, Int)] = {
    if (o + 4 > b.length) return None
    if ((b(o) & 0xFF) != 0xFF || (b(o + 1) & 0xE0) != 0xE0) return None
    val versionBits = (b(o + 1) >> 3) & 0x03
    val layerBits = (b(o + 1) >> 1) & 0x03
    if (versionBits == 1 || layerBits != 1) return None // L III only
    val bitrateIdx = (b(o + 2) >> 4) & 0x0F
    val rateIdx = (b(o + 2) >> 2) & 0x03
    if (bitrateIdx == 0 || bitrateIdx == 15 || rateIdx == 3) return None
    val kbps = BitrateKbps(if (versionBits == 3) 0 else 1)(bitrateIdx)
    val rate = SampleRates(versionBits)(rateIdx)
    val padding = (b(o + 2) >> 1) & 0x01
    val mode = (b(o + 3) >> 6) & 0x03
    val channels = if (mode == 3) 1 else 2
    // Layer III frame size: spf/8 · bitrate / rate + padding
    val frameBytes =
      samplesPerFrame(versionBits) / 8 * (kbps * 1000) / rate + padding
    Some((versionBits, rateIdx, kbps, channels, frameBytes))
  }

  private[graft] def parseMp3(bytes: Array[Byte]): Option[Mp3Meta] = {
    if (bytes == null || bytes.length < 4) return None
    var pos = 0
    // optional ID3v2 tag: "ID3", 2 version bytes, flags, syncsafe size
    if (bytes.length >= 10 && bytes(0) == 'I'.toByte &&
      bytes(1) == 'D'.toByte && bytes(2) == '3'.toByte) {
      if ((bytes(5) & 0x10) != 0) return None // footer: unsupported
      val size = ((bytes(6) & 0x7F) << 21) | ((bytes(7) & 0x7F) << 14) |
        ((bytes(8) & 0x7F) << 7) | (bytes(9) & 0x7F)
      pos = 10 + size
      if (pos >= bytes.length) return None
    }
    var frames = 0L
    var versionBits = -1
    var rateIdx = -1
    var channels = 0
    var firstKbps = 0
    var vbr = false
    var xingFrames = -1L
    while (pos < bytes.length) {
      val (vb, ri, kbps, ch, fb) =
        frameHeader(bytes, pos).getOrElse(return None)
      if (frames == 0L) {
        versionBits = vb; rateIdx = ri; channels = ch; firstKbps = kbps
        // Xing/Info VBR header sits after the side info: MPEG-1
        // mono 17 / stereo 32 bytes, MPEG-2/2.5 mono 9 / stereo 17
        val side =
          if (vb == 3) { if (ch == 1) 17 else 32 }
          else { if (ch == 1) 9 else 17 }
        val x = pos + 4 + side
        if (x + 8 <= bytes.length && x + 8 <= pos + fb) {
          val xing = tag(bytes, x)
          if (xing == "Xing" || xing == "Info") {
            if ((be32(bytes, x + 4) & 1) != 0 && x + 12 <= bytes.length &&
              x + 12 <= pos + fb)
              xingFrames = be32(bytes, x + 8)
          }
        }
      } else {
        // a closed-form duration needs one version + rate throughout
        if (vb != versionBits || ri != rateIdx) return None
        if (kbps != firstKbps) vbr = true
      }
      if (pos + fb > bytes.length) return None // truncated frame
      frames += 1
      pos += fb
    }
    if (frames == 0L) return None
    val rate = SampleRates(versionBits)(rateIdx)
    val spf = samplesPerFrame(versionBits)
    val version = versionBits match {
      case 3 => "1"
      case 2 => "2"
      case _ => "2.5"
    }
    Some(Mp3Meta(0L, version, rate, channels, frames,
      if (vbr) 0 else firstKbps, vbr, xingFrames,
      frames * spf * 1000L / rate, parsed = true))
  }

  /** The path-level stream form of [[parseMp3]]: the same forward
    * walk — optional ID3v2 skip, Layer III frame hops with the
    * version/rate drift refusals, the frame-0 Xing/Info sniff —
    * consumed off an `InputStream` with ONE frame buffered only for
    * frame 0 (a Layer III frame is ≤ ~1.5 KB) and every later frame
    * SKIPPED by its declared stride, so a multi-hour podcast rip
    * costs O(1) memory. On any byte array `b`,
    * `parseMp3Stream(new ByteArrayInputStream(b))` equals
    * `parseMp3(b)` (spec-pinned, including dribbling reads): EOF
    * mid-tag, mid-header, or mid-frame refuses exactly where the
    * buffered walk's bounds checks do.
    */
  private[graft] def parseMp3Stream(
      in: java.io.InputStream): Option[Mp3Meta] = {
    val hdr = new Array[Byte](10)
    def readUpTo(buf: Array[Byte], off: Int, n: Int): Int = {
      var got = 0
      var r = 0
      while (got < n && r >= 0) {
        r = in.read(buf, off + got, n - got)
        if (r > 0) got += r
      }
      got
    }
    def skipFully(n0: Long): Boolean = {
      var left = n0
      while (left > 0L) {
        val s = in.skip(left)
        if (s > 0L) left -= s
        else if (in.read() < 0) return false
        else left -= 1
      }
      true
    }
    // optional ID3v2 tag — mirror parseMp3's gate exactly: a stream
    // shorter than the 10-byte tag header refuses (its bytes cannot
    // be a frame header either), a footer flag refuses, EOF inside
    // or exactly at the end of the tag refuses
    var have = readUpTo(hdr, 0, 4)
    if (have < 4) return None
    if (hdr(0) == 'I'.toByte && hdr(1) == 'D'.toByte &&
      hdr(2) == '3'.toByte) {
      if (readUpTo(hdr, 4, 6) < 6) return None
      if ((hdr(5) & 0x10) != 0) return None // footer: unsupported
      val size = ((hdr(6) & 0x7F) << 21) | ((hdr(7) & 0x7F) << 14) |
        ((hdr(8) & 0x7F) << 7) | (hdr(9) & 0x7F)
      if (!skipFully(size.toLong)) return None
      have = 0
    }
    var frames = 0L
    var versionBits = -1
    var rateIdx = -1
    var channels = 0
    var firstKbps = 0
    var vbr = false
    var xingFrames = -1L
    var eof = false
    while (!eof) {
      if (have < 4) {
        val got = readUpTo(hdr, have, 4 - have)
        if (got == 0 && have == 0 && frames > 0) eof = true
        else if (have + got < 4) return None // torn header (or empty)
      }
      if (!eof) {
        have = 0
        val (vb, ri, kbps, ch, fb) =
          frameHeader(hdr, 0).getOrElse(return None)
        if (frames == 0L) {
          versionBits = vb; rateIdx = ri; channels = ch
          firstKbps = kbps
          // frame 0 is buffered whole for the Xing/Info sniff — the
          // one frame this walk ever materializes
          val frame0 = new Array[Byte](fb)
          System.arraycopy(hdr, 0, frame0, 0, math.min(4, fb))
          if (fb > 4 && readUpTo(frame0, 4, fb - 4) < fb - 4)
            return None // truncated first frame
          val side =
            if (vb == 3) { if (ch == 1) 17 else 32 }
            else { if (ch == 1) 9 else 17 }
          val x = 4 + side
          if (x + 8 <= fb) {
            val xing = tag(frame0, x)
            if (xing == "Xing" || xing == "Info") {
              if ((be32(frame0, x + 4) & 1) != 0 && x + 12 <= fb)
                xingFrames = be32(frame0, x + 8)
            }
          }
        } else {
          if (vb != versionBits || ri != rateIdx) return None
          if (kbps != firstKbps) vbr = true
          if (!skipFully(fb - 4L)) return None // truncated frame
        }
        frames += 1
      }
    }
    if (frames == 0L) return None
    val rate = SampleRates(versionBits)(rateIdx)
    val spf = samplesPerFrame(versionBits)
    val version = versionBits match {
      case 3 => "1"
      case 2 => "2"
      case _ => "2.5"
    }
    Some(Mp3Meta(0L, version, rate, channels, frames,
      if (vbr) 0 else firstKbps, vbr, xingFrames,
      frames * spf * 1000L / rate, parsed = true))
  }

  // ---- encoder (round-trip twin; also the fixture builder) -----------

  /** Build a valid Layer III frame stream: `nFrames` frames of the
    * exact table-derived size (header + filler payload), optionally
    * behind an ID3v2 tag and with a Xing frame-count header in frame
    * 0\. `versionBits` 3 = MPEG-1, 2 = MPEG-2, 0 = MPEG-2.5;
    * `bitrateIdxs` gives frame f's bitrate index (a varying list IS
    * a VBR stream). The encode twin of [[parseMp3Header]] — the
    * payload bits are opaque filler (this library never claims to
    * decode MP3 audio).
    */
  def buildMp3(versionBits: Int, rateIdx: Int, bitrateIdxs: Seq[Int],
      mono: Boolean, id3Bytes: Int = 0, xingFrames: Long = -1L,
      id3Frames: Seq[(String, String)] = Nil,
      id3Major: Int = 4): Array[Byte] = {
    require(Set(0, 2, 3)(versionBits), "versionBits must be 0|2|3")
    require(rateIdx >= 0 && rateIdx <= 2, "rateIdx must be 0..2")
    require(bitrateIdxs.nonEmpty &&
      bitrateIdxs.forall(i => i >= 1 && i <= 14),
      "bitrate indices must be 1..14")
    require(id3Major == 3 || id3Major == 4, "id3Major must be 3|4")
    require(id3Frames.forall(_._1.length == 4),
      "frame ids must be 4 chars")
    val bos = new java.io.ByteArrayOutputStream()
    if (id3Bytes > 0 || id3Frames.nonEmpty) {
      // UTF-8 text frames under v2.4, ISO-8859-1 under v2.3 (its
      // spec predates UTF-8 frame encoding), then id3Bytes of padding
      val body = new java.io.ByteArrayOutputStream()
      id3Frames.foreach { case (fid, text) =>
        val (encByte, data) =
          if (id3Major == 4) (3, text.getBytes("UTF-8"))
          else (0, text.getBytes("ISO-8859-1"))
        val fSize = 1 + data.length
        body.write(fid.getBytes("US-ASCII"))
        if (id3Major == 4) {
          body.write((fSize >> 21) & 0x7F); body.write((fSize >> 14) & 0x7F)
          body.write((fSize >> 7) & 0x7F); body.write(fSize & 0x7F)
        } else {
          body.write((fSize >> 24) & 0xFF); body.write((fSize >> 16) & 0xFF)
          body.write((fSize >> 8) & 0xFF); body.write(fSize & 0xFF)
        }
        body.write(0); body.write(0) // frame flags
        body.write(encByte)
        body.write(data, 0, data.length)
      }
      (0 until id3Bytes).foreach(_ => body.write(0)) // padding
      val tag = body.toByteArray
      bos.write("ID3".getBytes("US-ASCII"))
      bos.write(id3Major); bos.write(0); bos.write(0)
      bos.write((tag.length >> 21) & 0x7F)
      bos.write((tag.length >> 14) & 0x7F)
      bos.write((tag.length >> 7) & 0x7F); bos.write(tag.length & 0x7F)
      bos.write(tag, 0, tag.length)
    }
    val rate = SampleRates(versionBits)(rateIdx)
    bitrateIdxs.zipWithIndex.foreach { case (bi, f) =>
      val kbps = BitrateKbps(if (versionBits == 3) 0 else 1)(bi)
      val padding = 0
      val frameBytes =
        samplesPerFrame(versionBits) / 8 * (kbps * 1000) / rate + padding
      val frame = new Array[Byte](frameBytes)
      // deterministic filler first; structural fields stamp over it
      var i = 4
      while (i < frameBytes) {
        frame(i) = ((f * 31 + i * 7) % 97).toByte
        i += 1
      }
      frame(0) = 0xFF.toByte
      frame(1) = (0xE0 | (versionBits << 3) | (1 << 1) | 1).toByte
      frame(2) = ((bi << 4) | (rateIdx << 2) | (padding << 1)).toByte
      frame(3) = (if (mono) 0xC0 else 0x00).toByte
      if (f == 0 && xingFrames >= 0L) {
        val side =
          if (versionBits == 3) { if (mono) 17 else 32 }
          else { if (mono) 9 else 17 }
        val x = 4 + side
        require(x + 12 <= frameBytes, "frame too small for Xing")
        "Xing".getBytes("US-ASCII").copyToArray(frame, x)
        frame(x + 4) = 0; frame(x + 5) = 0; frame(x + 6) = 0
        frame(x + 7) = 1 // flags: FRAMES
        frame(x + 8) = ((xingFrames >> 24) & 0xFF).toByte
        frame(x + 9) = ((xingFrames >> 16) & 0xFF).toByte
        frame(x + 10) = ((xingFrames >> 8) & 0xFF).toByte
        frame(x + 11) = (xingFrames & 0xFF).toByte
      } else if (f == 0) {
        // keep accidental 'Xing'/'Info' filler out of the tag window
        val side =
          if (versionBits == 3) { if (mono) 17 else 32 }
          else { if (mono) 9 else 17 }
        val x = 4 + side
        if (x + 4 <= frameBytes) frame(x) = 0
      }
      bos.write(frame, 0, frameBytes)
    }
    bos.toByteArray
  }
}
