package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.io.Bytes.{be16, be32, be64, tag}
import graft.io.RandomAccess

/** MP4 / ISO-BMFF (ISO/IEC 14496-12) container metadata — the
  * real-world video container: virtually every video a large corpus
  * ingests is MP4, so the metadata-filter path (duration, dimensions,
  * codec, track shape) must read it even though the payload codecs
  * (H.264/HEVC/AAC) stay honestly undecodable here (no native codec
  * libs — fabricating pixel/sample statistics from undecoded streams
  * is the failure mode the whole multimodal family refuses).
  *
  * Reference scope: the reference service carries uploads as opaque
  * blobs; this module is the training-data-pipeline extension the
  * brief names ("typed metadata" over opaque binary columns) applied
  * to the dominant container. Everything here derives from the
  * published ISO base-media box grammar: length-prefixed big-endian
  * boxes (`size`(u32) `type`(4CC), `size == 1` → 64-bit largesize,
  * `size == 0` → to end of file), `ftyp` brand, `moov` carrying
  * `mvhd` (version 0: 32-bit times; version 1: 64-bit) and one
  * `trak` per stream (`tkhd`/`mdia`/`mdhd`/`hdlr`/`minf`/`stbl`),
  * with the codec fourcc and visual/audio sample description in
  * `stsd` and the sample count in `stsz`/`stz2`-style tables.
  *
  * Design for 100 TB — the same contract as [[Video.parseAviHeader]]:
  *  - header-only: the walk reads box HEADERS and the few fixed-size
  *    leaf boxes it projects; `mdat` content (the overwhelming bulk
  *    of any real payload) is skipped by its declared size and its
  *    bytes are never touched.
  *  - prefix-boundable: faststart files (moov before mdat — the
  *    layout every streaming encoder emits) parse from a small
  *    persisted prefix column; header structure beyond the prefix is
  *    `parsed = false`, never fabricated fields.
  *  - honest: garbage, truncation mid-box, insane dimensions, and
  *    zero timescales all come back `parsed = false` with zeroed
  *    fields. The walk never throws on hostile bytes (Long cursors —
  *    a ~2³² declared size ends the walk instead of wrapping).
  */
object Mp4 {

  /** Header-only MP4 metadata. `durationMs` is exact floor millis
    * (`duration · 1000 / timescale`). Video fields come from the
    * FIRST `vide`-handler track (codec = its `stsd` entry fourcc,
    * dimensions = the sample-entry u16s, `videoFrames` = its `stsz`
    * sample count); audio fields from the first `soun` track
    * (`audioRate` is the integer part of the 16.16 sample rate).
    * Absent tracks leave empty-string codecs and zeroed fields —
    * `tracks` counts every `trak` box either way.
    */
  case class Mp4Meta(id: Long, majorBrand: String, timescale: Long,
      duration: Long, durationMs: Long, tracks: Int,
      videoCodec: String, width: Int, height: Int, videoFrames: Long,
      audioCodec: String, audioChannels: Int, audioRate: Int,
      parsed: Boolean)

  def parseMp4Header(df: DataFrame, idCol: String,
      binCol: String): Dataset[Mp4Meta] = {
    implicit val enc = Encoders.product[Mp4Meta]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          toMeta(r.getLong(0), parseMp4(r.getAs[Array[Byte]](1)))
        }
    }
  }

  /** [[parseMp4Header]] over only the first `prefixBytes` of each
    * payload — the 100 TB metadata-filter path
    * ([[Video.parseAviHeaderPrefix]] for ISO-BMFF): persist the
    * prefix as its own narrow column at ingest and duration/
    * dimension/codec filters never touch the media data. Faststart
    * layouts (moov first) parse whole; a moov that sits beyond the
    * prefix (mdat-first archival layouts) is honestly
    * `parsed = false` — never fabricated fields.
    */
  def parseMp4HeaderPrefix(df: DataFrame, idCol: String,
      binCol: String, prefixBytes: Int = 64 * 1024): Dataset[Mp4Meta] = {
    require(prefixBytes >= 16,
      s"prefixBytes must cover the ftyp box header, got $prefixBytes")
    implicit val enc = Encoders.product[Mp4Meta]
    df.select(col(idCol).cast("long"),
      substring(col(binCol), 1, prefixBytes).as("__mp4_prefix"),
      length(col(binCol)).cast("long").as("__mp4_len")).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          toMeta(r.getLong(0),
            parseMp4(r.getAs[Array[Byte]](1), r.getLong(2)))
        }
    }
  }

  /** [[parseMp4Header]] over a PERSISTED prefix column — the storage
    * form of the 100 TB metadata-filter path
    * ([[Video.parseAviHeaderPrefixCols]] for ISO-BMFF): persist
    * `substring(bin, 1, prefixBytes)` plus the TRUE payload length as
    * narrow columns at ingest, and duration/dimension/codec filters
    * run without the parquet reader ever materializing `mdat`. Same
    * honesty contract as [[parseMp4HeaderPrefix]].
    */
  def parseMp4HeaderPrefixCols(df: DataFrame, idCol: String,
      prefixCol: String, totalLenCol: String): Dataset[Mp4Meta] = {
    implicit val enc = Encoders.product[Mp4Meta]
    df.select(col(idCol).cast("long"), col(prefixCol),
      col(totalLenCol).cast("long")).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          toMeta(r.getLong(0),
            parseMp4(r.getAs[Array[Byte]](1), r.getLong(2)))
        }
    }
  }

  /** Metadata projection over an MP4-bearing DataFrame: id + the
    * [[Mp4Meta]] fields as columns. `prefixBytes > 0` routes through
    * the prefix parser.
    */
  def mp4MetaScan(df: DataFrame, idCol: String, binCol: String,
      prefixBytes: Int = 0): DataFrame = {
    val ds = if (prefixBytes > 0)
      parseMp4HeaderPrefix(df, idCol, binCol, prefixBytes)
    else parseMp4Header(df, idCol, binCol)
    ds.toDF().select(col("id"),
      col("majorBrand").as("major_brand"),
      col("timescale"), col("duration"),
      col("durationMs").as("duration_ms"),
      col("tracks"),
      col("videoCodec").as("video_codec"),
      col("width"), col("height"),
      col("videoFrames").as("video_frames"),
      col("audioCodec").as("audio_codec"),
      col("audioChannels").as("audio_channels"),
      col("audioRate").as("audio_rate"),
      col("parsed"))
  }

  // ---- imperative internals (the mapPartitions payload walker) -------

  private[graft] final case class ParsedMp4(majorBrand: String,
      timescale: Long, duration: Long, tracks: Int, videoCodec: String,
      width: Int, height: Int, videoFrames: Long, audioCodec: String,
      audioChannels: Int, audioRate: Int)

  private def toMeta(id: Long, p: Option[ParsedMp4]): Mp4Meta =
    p match {
      case Some(m) => Mp4Meta(id, m.majorBrand, m.timescale,
        m.duration, m.duration * 1000L / m.timescale, m.tracks,
        m.videoCodec, m.width, m.height, m.videoFrames, m.audioCodec,
        m.audioChannels, m.audioRate, parsed = true)
      case None => Mp4Meta(id, "", 0L, 0L, 0L, 0, "", 0, 0, 0L, "", 0,
        0, parsed = false)
    }

  /** One box header at `pos`: (payloadStart, boxEnd) — None when the
    * header itself (including a 64-bit largesize) doesn't fit the
    * available bytes, or the declared size is malformed (smaller than
    * its own header, or negative). `limit` is the containing box's
    * end; `avail` is how many bytes are actually present (the prefix
    * honesty bound). A box end may exceed `avail` — CALLERS decide
    * whether the content must be present (leaf reads) or can be
    * skipped (mdat).
    */
  private def boxAt(b: Array[Byte], pos: Long, limit: Long,
      avail: Long): Option[(String, Long, Long)] = {
    if (pos + 8 > limit || pos + 8 > avail) return None
    val sz32 = be32(b, pos.toInt)
    val typ = tag(b, pos.toInt + 4)
    if (sz32 == 1L) { // 64-bit largesize follows the type
      if (pos + 16 > limit || pos + 16 > avail) return None
      val sz = be64(b, pos.toInt + 8)
      if (sz < 16L) return None
      Some((typ, pos + 16, pos + sz))
    } else if (sz32 == 0L) { // box extends to the end of the file
      Some((typ, pos + 8, limit))
    } else {
      if (sz32 < 8L) return None
      Some((typ, pos + 8, pos + sz32))
    }
  }

  /** The mutable moov-walk state — ONE accumulator class behind both
    * the column walk ([[parseMp4]]) and the path-level seek walk
    * ([[graft.sources.Mp4ShardSource]]), the [[graft.operators.MpegTs]]
    * `TsAcc` sharing pattern: the subtree grammar, first-track-wins
    * rules, and sanity gates live in exactly one place so the two
    * paths cannot drift. Multiple `moov` boxes (degenerate but legal
    * to the walk) accumulate across calls exactly like the original
    * single-buffer closure did.
    */
  private[graft] final class MoovAcc {
    var timescale = 0L
    var duration = -1L
    var tracks = 0
    var videoCodec = ""
    var width = 0
    var height = 0
    var videoFrames = 0L
    var audioCodec = ""
    var audioChannels = 0
    var audioRate = 0

    /** The end-of-walk contract gates (present-and-sane timescale /
      * duration / dimensions) — shared verbatim by both paths.
      */
    def result(majorBrand: String): Option[ParsedMp4] =
      if (timescale <= 0L || !durSane(duration) ||
        !dimsSane(width, height)) None
      else Some(ParsedMp4(majorBrand, timescale, duration, tracks,
        videoCodec, width, height, videoFrames, audioCodec,
        audioChannels, audioRate))
  }

  /** The ISO-BMFF walk. `trueLen < 0` means `bytes` IS the whole
    * payload; otherwise `bytes` is a prefix of a `trueLen`-byte
    * payload. Identification requires a leading `ftyp` (the standard
    * sniff). Every structural read is bounds-checked against the
    * bytes PRESENT — header structure beyond a prefix fails the parse
    * honestly; only `mdat`/`free`/`skip` CONTENT may lie beyond
    * (skipped by declared size).
    */
  private[graft] def parseMp4(bytes: Array[Byte],
      trueLen: Long = -1L): Option[ParsedMp4] = {
    if (bytes == null || bytes.length < 16) return None
    val total = if (trueLen < 0) bytes.length.toLong else trueLen
    val avail = bytes.length.toLong
    // leading ftyp (identification + brand)
    val (t0, ftypBody, ftypEnd) =
      boxAt(bytes, 0L, total, avail).getOrElse(return None)
    if (t0 != "ftyp" || ftypBody + 8 > avail || ftypEnd > total)
      return None
    val majorBrand = tag(bytes, ftypBody.toInt)

    val acc = new MoovAcc
    var sawMoov = false

    // top-level walk: moov structure must be PRESENT; mdat/free/skip
    // content is skipped by declared size (may lie beyond a prefix)
    var pos = ftypEnd
    while (pos + 8 <= total) {
      boxAt(bytes, pos, total, avail) match {
        case Some((typ, body, boxEnd)) =>
          if (typ == "moov") {
            if (boxEnd > avail) return None // header beyond prefix
            if (!walkMoovBuf(acc, bytes, body, boxEnd, avail))
              return None
            sawMoov = true
          }
          pos = boxEnd
        case None =>
          // a top-level header beyond the prefix: honest only if the
          // moov was already seen (trailing mdat in a prefix parse)
          return if (sawMoov && pos + 8 > avail && pos + 8 <= total)
            acc.result(majorBrand)
          else None
      }
    }
    if (!sawMoov) None else acc.result(majorBrand)
  }

  /** The moov-subtree walk over an in-memory range — the shared state
    * machine behind [[parseMp4]] (column / prefix path, real buffer
    * offsets) and [[graft.sources.Mp4ShardSource]] (seek path, the
    * moov body read alone into a fresh buffer). Returns false on
    * malformed / beyond-`avail` structure; metadata accumulates into
    * `acc` under the first-`vide`/first-`soun`-track-wins rules.
    */
  private[graft] def walkMoovBuf(acc: MoovAcc, bytes: Array[Byte],
      moovBody: Long, moovEnd: Long, avail: Long): Boolean = {

    /** Child walk of a container box — returns false on malformed /
      * beyond-prefix structure (the whole parse then fails).
      */
    def walkChildren(start: Long, end: Long,
        onChild: (String, Long, Long) => Boolean): Boolean = {
      var pos = start
      while (pos + 8 <= end) {
        boxAt(bytes, pos, end, avail) match {
          case Some((typ, body, boxEnd)) =>
            if (boxEnd > end) return false // child overruns parent
            if (!onChild(typ, body, boxEnd)) return false
            pos = boxEnd
          case None => return false
        }
      }
      true
    }

    /** stbl of one trak: stsd first entry (codec fourcc + the
      * visual/audio sample fields) and the stsz sample count.
      */
    def walkStbl(start: Long, end: Long, handler: String): Boolean =
      walkChildren(start, end, (typ, body, boxEnd) => typ match {
        case "stsd" =>
          // FullBox(4) + entry_count(4), then the first sample entry:
          // size(4) format(4) reserved(6) data_ref_index(2).
          // The entry_count read is bounded by the BOX too — without
          // the boxEnd bound a degenerate 8-byte stsd would read the
          // next box's bytes in the column path but refuse in the
          // seek path's moov-only buffer, breaking path equality
          if (body + 8 > avail || body + 8 > boxEnd) false
          else if (be32(bytes, body.toInt + 4) < 1) true
          else {
            val e = body + 8
            if (e + 16 > avail || e + 16 > boxEnd) false
            else {
              val fmt = tag(bytes, e.toInt + 4)
              if (handler == "vide") {
                // VisualSampleEntry: pre_defined(2) reserved(2)
                // pre_defined(12) → width u16 @+32, height u16 @+34
                if (e + 36 > avail || e + 36 > boxEnd) false
                else {
                  if (acc.videoCodec.isEmpty) {
                    acc.videoCodec = fmt
                    acc.width = be16(bytes, e.toInt + 32)
                    acc.height = be16(bytes, e.toInt + 34)
                  }
                  true
                }
              } else if (handler == "soun") {
                // AudioSampleEntry: reserved(8) → channelcount u16
                // @+24, samplesize u16 @+26, pre_defined(2)
                // reserved(2), samplerate u32 16.16 @+32
                if (e + 36 > avail || e + 36 > boxEnd) false
                else {
                  if (acc.audioCodec.isEmpty) {
                    acc.audioCodec = fmt
                    acc.audioChannels = be16(bytes, e.toInt + 24)
                    acc.audioRate =
                      (be32(bytes, e.toInt + 32) >> 16).toInt
                  }
                  true
                }
              } else true
            }
          }
        case "stsz" =>
          // FullBox(4) + sample_size(4) + sample_count(4)
          if (body + 12 > avail || body + 12 > boxEnd) false
          else {
            if (handler == "vide" && acc.videoFrames == 0L)
              acc.videoFrames = be32(bytes, body.toInt + 8)
            true
          }
        case _ => true // stts/stsc/stco/co64/… — layout, not metadata
      })

    def walkTrak(start: Long, end: Long): Boolean = {
      var handler = ""
      // pass 1: find the hdlr (it can follow minf in box order)
      val ok1 = walkChildren(start, end, (typ, body, boxEnd) =>
        typ match {
          case "mdia" =>
            walkChildren(body, boxEnd, (t2, b2, e2) => t2 match {
              case "hdlr" =>
                // FullBox(4) + pre_defined(4) + handler_type(4CC)
                if (b2 + 12 > avail || b2 + 12 > e2) false
                else { handler = tag(bytes, b2.toInt + 8); true }
              case _ => true
            })
          case _ => true
        })
      // pass 2: descend mdia → minf → stbl under the known handler
      ok1 && walkChildren(start, end, (typ, body, boxEnd) =>
        typ match {
          case "mdia" =>
            walkChildren(body, boxEnd, (t2, b2, e2) => t2 match {
              case "minf" =>
                walkChildren(b2, e2, (t3, b3, e3) => t3 match {
                  case "stbl" => walkStbl(b3, e3, handler)
                  case _ => true
                })
              case _ => true
            })
          case _ => true
        })
    }

    walkChildren(moovBody, moovEnd, (typ, body, boxEnd) => typ match {
      case "mvhd" =>
        if (body + 4 > avail) false
        else if ((bytes(body.toInt) & 0xFF) == 1) {
          // 64-bit creation/modification, u32 timescale, u64 duration
          if (body + 32 > avail || body + 32 > boxEnd) false
          else {
            acc.timescale = be32(bytes, body.toInt + 20)
            acc.duration = be64(bytes, body.toInt + 24)
            true
          }
        } else {
          if (body + 24 > avail || body + 24 > boxEnd) false
          else {
            acc.timescale = be32(bytes, body.toInt + 12)
            acc.duration = be32(bytes, body.toInt + 16)
            true
          }
        }
      case "trak" =>
        acc.tracks += 1
        walkTrak(body, boxEnd)
      case _ => true
    })
  }

  private def dimsSane(w: Int, h: Int): Boolean =
    (w == 0 && h == 0) || (w > 0 && h > 0 && w <= 32768 && h <= 32768)

  // ---- the path-level seek walk (Mp4ShardSource's engine) -----------

  /** [[parseMp4]]'s seek twin over a [[RandomAccess]] (the open file
    * in `sources.Mp4ShardSource` and the media census). ISO-BMFF is an
    * INDEXED grammar: the `moov` metadata tree commonly TRAILS a
    * multi-GiB `mdat`, so the honest streamed form of an on-disk
    * `.mp4` is a SEEKING walk: the same top-level grammar (leading
    * `ftyp`, declared-size box hopping, a trailing box may declare
    * past EOF) reading 8/16-byte box headers at their file offsets,
    * and the SAME [[walkMoovBuf]] state machine over the `moov` body
    * read ALONE into memory — on a conforming file the result is
    * byte-identical to the column walk over the whole payload, while
    * residency is O(box headers + moov), never the `mdat`.
    * `maxMoovBytes` bounds the one materialized structure (a real
    * moov is KBs–MBs; past the cap the file refuses honestly rather
    * than buffering unbounded — the [[Zip.walkZip]] `maxCdBytes`
    * principle).
    */
  private[graft] def parseMp4Seek(r: RandomAccess,
      maxMoovBytes: Int = 1 << 28): Option[ParsedMp4] = {
    val len = r.length
    if (len < 16L) return None
    val hdr = new Array[Byte](16)
    // [[boxAt]] at file scale: whole file addressable (avail = len)
    def boxAtSeek(pos: Long): Option[(String, Long, Long)] = {
      if (pos + 8 > len) return None
      r.readFully(pos, hdr, 0, 8)
      val sz32 = be32(hdr, 0)
      val typ = tag(hdr, 4)
      if (sz32 == 1L) { // 64-bit largesize follows the type
        if (pos + 16 > len) return None
        r.readFully(pos + 8, hdr, 8, 8)
        val sz = be64(hdr, 8)
        if (sz < 16L) None else Some((typ, pos + 16, pos + sz))
      } else if (sz32 == 0L) { // box extends to the end of the file
        Some((typ, pos + 8, len))
      } else {
        if (sz32 < 8L) None else Some((typ, pos + 8, pos + sz32))
      }
    }
    val (t0, ftypBody, ftypEnd) = boxAtSeek(0L).getOrElse(return None)
    if (t0 != "ftyp" || ftypBody + 8 > len || ftypEnd > len)
      return None
    r.readFully(ftypBody, hdr, 0, 4)
    val majorBrand = tag(hdr, 0)
    val acc = new MoovAcc
    var sawMoov = false
    var pos = ftypEnd
    while (pos + 8 <= len) {
      boxAtSeek(pos) match {
        case Some((typ, body, boxEnd)) =>
          if (typ == "moov") {
            if (boxEnd > len) return None // moov overruns the file
            val moovSize = boxEnd - body
            if (moovSize > maxMoovBytes) return None // bounded, honest
            val buf = new Array[Byte](moovSize.toInt)
            r.readFully(body, buf, 0, moovSize.toInt)
            if (!walkMoovBuf(acc, buf, 0L, moovSize, moovSize))
              return None
            sawMoov = true
          }
          // any other box (mdat above all) is hopped by declared
          // size — never read; a trailing box declaring past EOF
          // exits the loop exactly like the column walk
          pos = boxEnd
        case None => return None
      }
    }
    if (!sawMoov) None else acc.result(majorBrand)
  }

  // ---- soundtrack extraction (the MP4 side of the audio bridge) ------

  /** All children of one container range as (type, bodyStart, boxEnd)
    * — None on any malformed/truncated child (the walk never guesses
    * past bad structure).
    */
  private def childRanges(b: Array[Byte], start: Long,
      end: Long): Option[Vector[(String, Long, Long)]] = {
    val out = Vector.newBuilder[(String, Long, Long)]
    var pos = start
    while (pos + 8 <= end) {
      boxAt(b, pos, end, b.length.toLong) match {
        case Some((typ, body, boxEnd)) =>
          if (boxEnd > end || boxEnd > b.length) return None
          out += ((typ, body, boxEnd))
          pos = boxEnd
        case None => return None
      }
    }
    Some(out.result())
  }

  /** The MP4 soundtrack walk — the ISO-BMFF twin of the AVI `NNwb`
    * concat ([[Video]]'s `audioTrackWav`): locate the FIRST `soun`
    * trak, require an uncompressed-PCM sample entry, then concatenate
    * its samples in `stsc`/`stsz`/`stco`(/`co64`) table order behind
    * a canonical 44-byte WAV header. Byte-level — the only transforms
    * are the closed-form byte maps WAV's canonical layout demands
    * (big-endian 16-bit pairs swap; 8-bit stays the unsigned byte).
    *
    * Supported sample entries (everything else — `mp4a`/AAC and
    * friends — refuses honestly; fabricating samples from an
    * undecoded stream is the contract violation this family refuses):
    *  - `sowt` v0: little-endian signed 16-bit PCM (verbatim copy)
    *  - `twos` v0: big-endian signed 16-bit PCM (pair swap)
    *  - `raw ` v0: unsigned 8-bit PCM (verbatim copy)
    *  - `lpcm` v2: integer signed 16-bit, either endianness (the
    *    QuickTime version-2 description; float / non-integer /
    *    other widths refuse)
    *
    * `maxAudioBytes` bounds per-payload memory; past it the row
    * fails honestly — NEVER truncates (a silently-shortened signal
    * would skew every downstream fingerprint). Returns
    * (wavFormat=1, channels, rate, bits, wavBytes).
    */
  private[graft] def mp4AudioTrackWav(bytes: Array[Byte],
      maxAudioBytes: Int): Option[(Int, Int, Int, Int, Array[Byte])] = {
    if (bytes == null || bytes.length < 16) return None
    val total = bytes.length.toLong
    val top = childRanges(bytes, 0L, total).getOrElse(return None)
    if (top.isEmpty || top.head._1 != "ftyp") return None
    val (_, moovBody, moovEnd) =
      top.find(_._1 == "moov").getOrElse(return None)
    val moovKids =
      childRanges(bytes, moovBody, moovEnd).getOrElse(return None)

    // first soun trak's stbl children
    var stbl: Vector[(String, Long, Long)] = null
    val trakIt = moovKids.iterator.filter(_._1 == "trak")
    while (stbl == null && trakIt.hasNext) {
      val (_, tb, te) = trakIt.next()
      for {
        kids <- childRanges(bytes, tb, te)
        (_, mb, me) <- kids.find(_._1 == "mdia")
        mKids <- childRanges(bytes, mb, me)
        (_, hb, he) <- mKids.find(_._1 == "hdlr")
        if hb + 12 <= he && tag(bytes, hb.toInt + 8) == "soun"
        (_, nb, ne) <- mKids.find(_._1 == "minf")
        nKids <- childRanges(bytes, nb, ne)
        (_, sb, se) <- nKids.find(_._1 == "stbl")
        sKids <- childRanges(bytes, sb, se)
      } stbl = sKids
    }
    if (stbl == null) return None

    def full(name: String): Option[(Long, Long)] =
      stbl.find(_._1 == name).collect {
        case (_, b, e) if b + 4 <= e => (b + 4, e) // past version+flags
      }

    // ---- stsd: the first sample entry must be a supported PCM form
    val (sdB, sdE) = full("stsd").getOrElse(return None)
    if (sdB + 4 > sdE || be32(bytes, sdB.toInt) < 1L) return None
    val e = sdB + 4 // first sample entry: size(4) format(4) ...
    if (e + 36 > sdE) return None
    val ei = e.toInt
    val fmt = tag(bytes, ei + 4)
    var channels = 0
    var rate = 0
    var bits = 0
    var swapBe = false
    fmt match {
      case "sowt" | "twos" | "raw " =>
        val version = be16(bytes, ei + 16)
        if (version != 0) return None // v1 packet fields: not walked
        channels = be16(bytes, ei + 24)
        val sampleSize = be16(bytes, ei + 26)
        rate = (be32(bytes, ei + 32) >> 16).toInt
        if (fmt == "raw ") {
          if (sampleSize != 8) return None
          bits = 8
        } else {
          if (sampleSize != 16) return None
          bits = 16
          swapBe = fmt == "twos"
        }
      case "lpcm" =>
        // QuickTime version-2 sound description (72-byte struct)
        if (e + 72 > sdE || be16(bytes, ei + 16) != 2) return None
        val rateBits = (be32(bytes, ei + 40) << 32) | be32(bytes, ei + 44)
        val rateD = java.lang.Double.longBitsToDouble(rateBits)
        if (!(rateD > 0 && rateD <= Int.MaxValue &&
          rateD == math.floor(rateD))) return None
        rate = rateD.toInt
        channels = be32(bytes, ei + 48).toInt
        val cBits = be32(bytes, ei + 56)
        val flags = be32(bytes, ei + 60)
        // integer, signed, 16-bit only; bit0 float, bit1 big-endian,
        // bit2 signed-integer (the published LPCM flag bits)
        if (cBits != 16L || (flags & 1L) != 0L ||
          (flags & 4L) == 0L) return None
        bits = 16
        swapBe = (flags & 2L) != 0L
      case _ => return None // compressed codecs refuse honestly
    }
    if (channels < 1 || channels > 64 || rate <= 0) return None

    // ---- stsz: per-sample byte sizes
    val (szB, szE) = full("stsz").getOrElse(return None)
    if (szB + 8 > szE) return None
    val defaultSize = be32(bytes, szB.toInt)
    val sampleCount = be32(bytes, szB.toInt + 4)
    if (sampleCount <= 0L || sampleCount > Int.MaxValue) return None
    val tableOff = szB + 8
    if (defaultSize == 0L && tableOff + 4L * sampleCount > szE)
      return None
    def sampleSizeAt(i: Long): Long =
      if (defaultSize != 0L) defaultSize
      else be32(bytes, (tableOff + 4L * i).toInt)
    var totalBytes = 0L
    var i = 0L
    while (i < sampleCount) {
      val s = sampleSizeAt(i)
      if (s < 0L) return None
      totalBytes += s
      if (totalBytes > maxAudioBytes) return None // refuse, never trim
      i += 1L
    }
    if (totalBytes == 0L) return None

    // ---- stsc: chunk -> samples-per-chunk runs
    val (scB, scE) = full("stsc").getOrElse(return None)
    if (scB + 4 > scE) return None
    val scN = be32(bytes, scB.toInt)
    if (scN <= 0L || scB + 4 + 12L * scN > scE) return None
    val runs = new Array[Long](2 * scN.toInt) // (firstChunk, spc)*
    var prevFirst = 0L
    var k = 0
    while (k < scN.toInt) {
      val o = (scB + 4 + 12L * k).toInt
      val first = be32(bytes, o)
      val spc = be32(bytes, o + 4)
      if (first <= prevFirst || spc <= 0L ||
        be32(bytes, o + 8) != 1L) return None // one sample description
      if (k == 0 && first != 1L) return None
      runs(2 * k) = first; runs(2 * k + 1) = spc
      prevFirst = first
      k += 1
    }

    // ---- stco / co64: chunk offsets
    val (coName, coWidth) =
      if (stbl.exists(_._1 == "stco")) ("stco", 4L) else ("co64", 8L)
    val (coB, coE) = full(coName).getOrElse(return None)
    if (coB + 4 > coE) return None
    val nChunks = be32(bytes, coB.toInt)
    if (nChunks <= 0L || coB + 4 + coWidth * nChunks > coE) return None
    def chunkOffset(c: Long): Long = { // c is 0-based
      val o = (coB + 4 + coWidth * c).toInt
      if (coWidth == 4L) be32(bytes, o) else be64(bytes, o)
    }

    // ---- concat samples in table order behind the canonical header
    val n = totalBytes.toInt
    val out = new Array[Byte](44 + n)
    var w = 44
    var sample = 0L
    var run = 0
    var chunk = 0L
    while (sample < sampleCount && chunk < nChunks) {
      while (run + 1 < scN.toInt && runs(2 * (run + 1)) <= chunk + 1L)
        run += 1
      val spc = runs(2 * run + 1)
      var off = chunkOffset(chunk)
      var j = 0L
      while (j < spc && sample < sampleCount) {
        val s = sampleSizeAt(sample)
        if (off < 0L || off + s > total) return None // truncated sample
        System.arraycopy(bytes, off.toInt, out, w, s.toInt)
        w += s.toInt
        off += s
        j += 1L
        sample += 1L
      }
      chunk += 1L
    }
    if (sample < sampleCount) return None // tables declare more data

    if (swapBe) { // big-endian pairs -> WAV's little-endian layout
      var o = 44
      while (o + 1 < out.length) {
        val t = out(o); out(o) = out(o + 1); out(o + 1) = t
        o += 2
      }
    }
    def w32(o: Int, v: Long): Unit = {
      out(o) = (v & 0xFF).toByte
      out(o + 1) = ((v >> 8) & 0xFF).toByte
      out(o + 2) = ((v >> 16) & 0xFF).toByte
      out(o + 3) = ((v >> 24) & 0xFF).toByte
    }
    def w16o(o: Int, v: Int): Unit = {
      out(o) = (v & 0xFF).toByte
      out(o + 1) = ((v >> 8) & 0xFF).toByte
    }
    def tag4o(o: Int, s: String): Unit = {
      var t = 0
      while (t < 4) { out(o + t) = s.charAt(t).toByte; t += 1 }
    }
    val blockAlign = channels * bits / 8
    tag4o(0, "RIFF"); w32(4, 36L + n); tag4o(8, "WAVE")
    tag4o(12, "fmt "); w32(16, 16L)
    w16o(20, 1); w16o(22, channels)
    w32(24, rate.toLong); w32(28, rate.toLong * blockAlign)
    w16o(32, blockAlign); w16o(34, bits)
    tag4o(36, "data"); w32(40, n.toLong)
    Some((1, channels, rate, bits, out))
  }

  /** A hostile version-1 mvhd duration above Long.MaxValue/1000 would
    * overflow `duration * 1000 / timescale` into a negative
    * duration_ms — a fabricated field; refuse it like insane dims.
    */
  private def durSane(d: Long): Boolean =
    d >= 0L && d <= Long.MaxValue / 1000L

  // ---- encoder (round-trip twin; also the fixture/smoke builder) -----

  /** Build a minimal valid faststart MP4 (`ftyp` + `moov` + `mdat`):
    * one video track (codec fourcc + dimensions + `nFrames` declared
    * fixed-size samples) and optionally one audio track. The decode
    * twin of [[parseMp4Header]] — specs pin the round trip; payload
    * sample bytes in `mdat` are opaque filler (this library never
    * claims to decode H.264/AAC). `use64Bit = true` writes version-1
    * mvhd/tkhd/mdhd (64-bit times) AND a largesize `mdat` — the
    * co64-era form big archival files carry.
    */
  def buildMp4(timescale: Long, duration: Long, width: Int,
      height: Int, videoCodec: String = "avc1", nFrames: Long = 0L,
      audioCodec: String = "", audioChannels: Int = 0,
      audioRate: Int = 0, mdatBytes: Int = 64,
      use64Bit: Boolean = false,
      videoExtra: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    require(timescale > 0 && duration >= 0, "timescale/duration")
    require(videoCodec.isEmpty || videoCodec.length == 4,
      "videoCodec must be empty (audio-only / M4A) or a 4CC")
    require(audioCodec.isEmpty || audioCodec.length == 4,
      "audioCodec must be empty or a 4CC")
    require(videoCodec.nonEmpty || audioCodec.nonEmpty,
      "at least one track")
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = {
      bos.write((v >> 8) & 0xFF); bos.write(v & 0xFF)
    }
    def w32(v: Long): Unit = {
      bos.write(((v >> 24) & 0xFF).toInt)
      bos.write(((v >> 16) & 0xFF).toInt)
      bos.write(((v >> 8) & 0xFF).toInt); bos.write((v & 0xFF).toInt)
    }
    def w64(v: Long): Unit = { w32(v >>> 32); w32(v & 0xFFFFFFFFL) }
    def tag4(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    def box(typ: String)(body: => Unit): Unit = {
      val sizeAt = bos.size()
      w32(0L); tag4(typ)
      body
      val out = bos.toByteArray // patch the size in place
      val sz = out.length - sizeAt
      bos.reset()
      bos.write(out, 0, sizeAt)
      w32(sz.toLong); bos.write(out, sizeAt + 4, sz - 4)
    }
    def fullBox(typ: String, version: Int)(body: => Unit): Unit =
      box(typ) { bos.write(version); bos.write(0); w16(0); body }

    box("ftyp") { tag4("isom"); w32(512L); tag4("isom"); tag4("iso2") }
    val v = if (use64Bit) 1 else 0
    def times(n: Int): Unit =
      (0 until n).foreach(_ => if (v == 1) w64(0L) else w32(0L))
    box("moov") {
      fullBox("mvhd", v) {
        times(2) // creation, modification
        w32(timescale)
        if (v == 1) w64(duration) else w32(duration)
        w32(0x00010000L); w16(0x0100); w16(0) // rate, volume, reserved
        w32(0L); w32(0L) // reserved
        Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L,
          0x40000000L).foreach(w32) // identity matrix
        (0 until 6).foreach(_ => w32(0L)) // pre_defined
        w32(3L) // next_track_ID
      }
      def trak(trackId: Long, handler: String, name: String,
          stsd: => Unit, sampleCount: Long): Unit = box("trak") {
        fullBox("tkhd", v) {
          times(2)
          w32(trackId); w32(0L)
          if (v == 1) w64(duration) else w32(duration)
          w32(0L); w32(0L); w16(0); w16(0); w16(0); w16(0)
          Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L,
            0x40000000L).foreach(w32)
          if (handler == "vide") {
            w32(width.toLong << 16); w32(height.toLong << 16)
          } else { w32(0L); w32(0L) }
        }
        box("mdia") {
          fullBox("mdhd", v) {
            times(2)
            w32(timescale)
            if (v == 1) w64(duration) else w32(duration)
            w16(0x55C4); w16(0) // language 'und', pre_defined
          }
          fullBox("hdlr", 0) {
            w32(0L); tag4(handler); w32(0L); w32(0L); w32(0L)
            bos.write(name.getBytes("US-ASCII")); bos.write(0)
          }
          box("minf") {
            box("stbl") {
              fullBox("stsd", 0) { w32(1L); stsd }
              fullBox("stts", 0) { w32(1L); w32(sampleCount); w32(1L) }
              fullBox("stsc", 0) { w32(0L) }
              fullBox("stsz", 0) { w32(16L); w32(sampleCount) }
              fullBox("stco", 0) { w32(0L) }
            }
          }
        }
      }
      if (videoCodec.nonEmpty)
        trak(1L, "vide", "VideoHandler", {
          box(videoCodec) {
            (0 until 6).foreach(_ => bos.write(0)); w16(1) // data_ref
            w16(0); w16(0); w32(0L); w32(0L); w32(0L) // pre/reserved
            w16(width); w16(height)
            w32(0x00480000L); w32(0x00480000L) // 72 dpi
            w32(0L); w16(1) // reserved, frame_count
            (0 until 32).foreach(_ => bos.write(0)) // compressorname
            w16(24); w16(0xFFFF) // depth, pre_defined(-1)
            bos.write(videoExtra) // e.g. an avcC config child box
          }
        }, nFrames)
      if (audioCodec.nonEmpty)
        trak(2L, "soun", "SoundHandler", {
          box(audioCodec) {
            (0 until 6).foreach(_ => bos.write(0)); w16(1)
            w32(0L); w32(0L) // reserved
            w16(audioChannels); w16(16); w16(0); w16(0)
            w32(audioRate.toLong << 16)
          }
        }, 0L)
    }
    if (use64Bit) { // largesize mdat — the co64-era 64-bit form
      w32(1L); tag4("mdat"); w64(16L + mdatBytes)
      (0 until mdatBytes).foreach(i => bos.write(i & 0xFF))
    } else {
      w32(8L + mdatBytes); tag4("mdat")
      (0 until mdatBytes).foreach(i => bos.write(i & 0xFF))
    }
    bos.toByteArray
  }

  /** Rewrite a complete faststart payload ([[buildMp4]]'s layout)
    * into the trailing-`moov` archival layout: top-level boxes
    * reordered so every `moov` follows everything else. Metadata-
    * equivalent for this family's walks (the fixtures' `stco` tables
    * are empty, so no chunk offset goes stale) — the fixture builder
    * for the non-faststart arm of [[parseMp4Seek]]'s contract.
    */
  def toTrailingMoov(bytes: Array[Byte]): Array[Byte] = {
    val total = bytes.length.toLong
    val out = new java.io.ByteArrayOutputStream(bytes.length)
    val moovs = new java.io.ByteArrayOutputStream()
    var pos = 0L
    while (pos + 8 <= total) {
      // a size-0 (extends-to-EOF) box would still claim "to EOF"
      // AFTER the moov is appended behind it, hiding the relocated
      // metadata from every walk — refuse rather than corrupt
      require(be32(bytes, pos.toInt) != 0L,
        s"box at $pos uses the to-EOF size-0 form; relocating a moov " +
          "behind it would make the moov unreachable")
      val (typ, _, boxEnd) = boxAt(bytes, pos, total, total)
        .getOrElse(throw new IllegalArgumentException(
          s"malformed box at $pos"))
      require(boxEnd <= total, s"box at $pos overruns the payload")
      val dst = if (typ == "moov") moovs else out
      dst.write(bytes, pos.toInt, (boxEnd - pos).toInt)
      pos = boxEnd
    }
    require(pos == total, "trailing garbage after the last box")
    moovs.writeTo(out)
    out.toByteArray
  }

  /** Build an MP4 carrying a REAL uncompressed-PCM sound track — the
    * encode twin of [[mp4AudioTrackWav]] (and the fixture builder for
    * its oracle row). `samples` is the interleaved sample stream
    * (signed 16-bit values for `sowt`/`twos`/`lpcm`, unsigned 0..255
    * bytes for `raw `); the builder serializes it in the CODEC's byte
    * order into an mdat laid out as `chunkSamples` chunks (each entry
    * = audio frames in that chunk), preceded by `gapBytes` of filler
    * per chunk so the chunk-offset walk is exercised on
    * NON-contiguous layouts. mdat-first (offsets known while
    * writing), moov last with real `stsd`/`stts`/`stsc`/`stsz`/
    * `stco`(/`co64`) tables. `perSampleStsz` writes the per-sample
    * size table form instead of the constant default;
    * `use64BitOffsets` writes `co64`; `withVideoTrack` adds a
    * declared-only `avc1` track in front (the common
    * movie-with-soundtrack shape).
    */
  def buildMp4Pcm(timescale: Long, duration: Long, codec: String,
      channels: Int, rate: Int, samples: Array[Int],
      chunkSamples: Seq[Int], gapBytes: Int = 0,
      use64BitOffsets: Boolean = false, perSampleStsz: Boolean = false,
      lpcmBigEndian: Boolean = false,
      withVideoTrack: Boolean = false): Array[Byte] = {
    require(Set("sowt", "twos", "raw ", "lpcm")(codec), s"codec $codec")
    require(channels >= 1 && rate > 0, "channels/rate")
    require(chunkSamples.nonEmpty && chunkSamples.forall(_ > 0),
      "chunkSamples must be positive")
    require(samples.length == chunkSamples.sum * channels,
      s"samples ${samples.length} != frames ${chunkSamples.sum} x " +
        s"$channels channels")
    val bits = if (codec == "raw ") 8 else 16
    val blockAlign = channels * bits / 8
    val bigEndian = codec == "twos" || (codec == "lpcm" && lpcmBigEndian)
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = {
      bos.write((v >> 8) & 0xFF); bos.write(v & 0xFF)
    }
    def w32(v: Long): Unit = {
      bos.write(((v >> 24) & 0xFF).toInt)
      bos.write(((v >> 16) & 0xFF).toInt)
      bos.write(((v >> 8) & 0xFF).toInt); bos.write((v & 0xFF).toInt)
    }
    def w64(v: Long): Unit = { w32(v >>> 32); w32(v & 0xFFFFFFFFL) }
    def tag4(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    def box(typ: String)(body: => Unit): Unit = {
      val sizeAt = bos.size()
      w32(0L); tag4(typ)
      body
      val out = bos.toByteArray
      val sz = out.length - sizeAt
      bos.reset()
      bos.write(out, 0, sizeAt)
      w32(sz.toLong); bos.write(out, sizeAt + 4, sz - 4)
    }
    def fullBox(typ: String, version: Int)(body: => Unit): Unit =
      box(typ) { bos.write(version); bos.write(0); w16(0); body }

    box("ftyp") { tag4("isom"); w32(512L); tag4("isom"); tag4("iso2") }

    // mdat FIRST: chunk offsets are absolute file positions
    val offsets = new Array[Long](chunkSamples.length)
    box("mdat") {
      var s = 0
      chunkSamples.zipWithIndex.foreach { case (frames, c) =>
        (0 until gapBytes).foreach(g => bos.write((g * 13 + c) & 0xFF))
        offsets(c) = bos.size().toLong
        (0 until frames * channels).foreach { _ =>
          val v = samples(s); s += 1
          if (bits == 8) bos.write(v & 0xFF)
          else if (bigEndian) { bos.write((v >> 8) & 0xFF); bos.write(v & 0xFF) }
          else { bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF) }
        }
      }
    }

    val nFrames = chunkSamples.sum.toLong
    box("moov") {
      fullBox("mvhd", 0) {
        w32(0L); w32(0L) // creation, modification
        w32(timescale); w32(duration)
        w32(0x00010000L); w16(0x0100); w16(0)
        w32(0L); w32(0L)
        Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L,
          0x40000000L).foreach(w32)
        (0 until 6).foreach(_ => w32(0L))
        w32(3L)
      }
      def trakBox(trackId: Long, handler: String, name: String,
          w: Int, h: Int, stsd: => Unit, stblTables: => Unit): Unit =
        box("trak") {
          fullBox("tkhd", 0) {
            w32(0L); w32(0L); w32(trackId); w32(0L); w32(duration)
            w32(0L); w32(0L); w16(0); w16(0); w16(0); w16(0)
            Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L,
              0x40000000L).foreach(w32)
            if (handler == "vide") {
              w32(w.toLong << 16); w32(h.toLong << 16)
            } else { w32(0L); w32(0L) }
          }
          box("mdia") {
            fullBox("mdhd", 0) {
              w32(0L); w32(0L); w32(timescale); w32(duration)
              w16(0x55C4); w16(0)
            }
            fullBox("hdlr", 0) {
              w32(0L); tag4(handler); w32(0L); w32(0L); w32(0L)
              bos.write(name.getBytes("US-ASCII")); bos.write(0)
            }
            box("minf") { box("stbl") {
              fullBox("stsd", 0) { w32(1L); stsd }
              stblTables
            } }
          }
        }
      if (withVideoTrack)
        trakBox(1L, "vide", "VideoHandler", 16, 16, {
          box("avc1") {
            (0 until 6).foreach(_ => bos.write(0)); w16(1)
            w16(0); w16(0); w32(0L); w32(0L); w32(0L)
            w16(16); w16(16)
            w32(0x00480000L); w32(0x00480000L)
            w32(0L); w16(1)
            (0 until 32).foreach(_ => bos.write(0))
            w16(24); w16(0xFFFF)
          }
        }, {
          fullBox("stts", 0) { w32(0L) }
          fullBox("stsc", 0) { w32(0L) }
          fullBox("stsz", 0) { w32(16L); w32(0L) }
          fullBox("stco", 0) { w32(0L) }
        })
      trakBox(if (withVideoTrack) 2L else 1L, "soun", "SoundHandler",
        0, 0, {
          if (codec == "lpcm") box("lpcm") { // QuickTime v2 description
            (0 until 6).foreach(_ => bos.write(0)); w16(1) // data_ref
            w16(2); w16(0); w32(0L) // version 2, revision, vendor
            w16(3); w16(16); w16(0xFFFE); w16(0) // always3/16/-2/0
            w32(0x00010000L); w32(72L) // always65536, sizeOfStructOnly
            w64(java.lang.Double.doubleToLongBits(rate.toDouble))
            w32(channels.toLong); w32(0x7F000000L)
            w32(16L) // constBitsPerChannel
            // flags: bit2 signed-int, bit1 big-endian, bit3 packed
            w32((if (lpcmBigEndian) 0xEL else 0xCL))
            w32(blockAlign.toLong); w32(1L)
          } else box(codec) { // v0 AudioSampleEntry
            (0 until 6).foreach(_ => bos.write(0)); w16(1)
            w32(0L); w32(0L) // version 0 + revision, vendor
            w16(channels); w16(bits); w16(0); w16(0)
            w32(rate.toLong << 16)
          }
        }, {
          fullBox("stts", 0) { w32(1L); w32(nFrames); w32(1L) }
          fullBox("stsc", 0) {
            // compress consecutive equal samples-per-chunk into runs
            val runs = chunkSamples.zipWithIndex.filter { case (v, i) =>
              i == 0 || chunkSamples(i - 1) != v }
            w32(runs.length.toLong)
            runs.foreach { case (v, i) =>
              w32(i + 1L); w32(v.toLong); w32(1L) }
          }
          fullBox("stsz", 0) {
            if (perSampleStsz) {
              w32(0L); w32(nFrames)
              (0L until nFrames).foreach(_ => w32(blockAlign.toLong))
            } else { w32(blockAlign.toLong); w32(nFrames) }
          }
          if (use64BitOffsets) fullBox("co64", 0) {
            w32(offsets.length.toLong); offsets.foreach(w64)
          } else fullBox("stco", 0) {
            w32(offsets.length.toLong); offsets.foreach(w32)
          }
        })
    }
    bos.toByteArray
  }

  // ---- H.264 SPS (the authoritative dims behind avc1 tracks) ---------

  /** SPS-derived facts for the first `avc1`/`avc3` video track. The
    * `stsd` width/height u16s are DECLARED values a muxer wrote; the
    * SPS inside the `avcC` config is what a DECODER obeys (macroblock
    * grid minus the frame crop), so a lying `stsd` is detectable —
    * `dimsMatch` is the honesty flag. `parsed = false` rows carry a
    * `reason`: not ISO-BMFF, no avc track, or a malformed
    * config/SPS — never guessed fields.
    */
  case class H264Sps(id: Long, stsdWidth: Int, stsdHeight: Int,
      profileIdc: Int, levelIdc: Int, spsWidth: Int, spsHeight: Int,
      dimsMatch: Boolean, reason: String, parsed: Boolean)

  def h264SpsScan(df: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    implicit val enc = Encoders.product[H264Sps]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          h264SpsInfo(r.getAs[Array[Byte]](1)) match {
            case Right(m) => m.copy(id = id)
            case Left(reason) => H264Sps(id, 0, 0, 0, 0, 0, 0,
              dimsMatch = false, reason, parsed = false)
          }
        }
    }.toDF().select(col("id"),
      col("stsdWidth").as("stsd_width"),
      col("stsdHeight").as("stsd_height"),
      col("profileIdc").as("profile_idc"),
      col("levelIdc").as("level_idc"),
      col("spsWidth").as("sps_width"),
      col("spsHeight").as("sps_height"),
      col("dimsMatch").as("dims_match"),
      col("reason"), col("parsed"))
  }

  /** Locate the first video sample entry whose format is in `fmts`:
    * (stsd width, stsd height, the entry's child boxes). Shared by
    * the H.264 and H.265 SPS scans.
    */
  private def firstVideoEntry(bytes: Array[Byte], fmts: Set[String],
      missing: String)
      : Either[String, (Int, Int, Vector[(String, Long, Long)])] = {
    if (parseMp4(bytes).isEmpty) return Left("not iso-bmff")
    val avail = bytes.length.toLong

    def children(start: Long, end: Long)
        : Option[Vector[(String, Long, Long)]] = {
      val out = Vector.newBuilder[(String, Long, Long)]
      var pos = start
      while (pos + 8 <= end) {
        boxAt(bytes, pos, end, avail) match {
          case Some((typ, body, boxEnd)) =>
            if (boxEnd > end) return None
            if (typ != "mdat" && typ != "free" && typ != "skip" &&
              boxEnd > avail) return None
            out += ((typ, body, boxEnd))
            pos = boxEnd
          case None => return None
        }
      }
      Some(out.result())
    }

    val top = children(0L, bytes.length.toLong)
      .getOrElse(return Left("malformed boxes"))
    val moov = top.find(_._1 == "moov").getOrElse(return Left("no moov"))
    val traks = children(moov._2, moov._3)
      .getOrElse(return Left("malformed moov")).filter(_._1 == "trak")
    traks.foreach { trak =>
      val tc = children(trak._2, trak._3)
        .getOrElse(return Left("malformed trak"))
      tc.filter(_._1 == "mdia").foreach { mdia =>
        val mc = children(mdia._2, mdia._3)
          .getOrElse(return Left("malformed mdia"))
        val isVide = mc.exists { case (t, b, e) =>
          t == "hdlr" && b + 12 <= avail && b + 12 <= e &&
            tag(bytes, b.toInt + 8) == "vide"
        }
        if (isVide) mc.filter(_._1 == "minf").foreach { minf =>
          children(minf._2, minf._3).toVector.flatten
            .filter(_._1 == "stbl").foreach { stbl =>
              children(stbl._2, stbl._3).toVector.flatten
                .filter(_._1 == "stsd").foreach { stsd =>
                  // FullBox(4) + entry_count(4) + first entry
                  val e = stsd._2 + 8
                  if (e + 16 > avail) return Left("truncated stsd")
                  val entryEnd = e + be32(bytes, e.toInt)
                  if (entryEnd > stsd._3 || entryEnd > avail)
                    return Left("truncated sample entry")
                  val fmt = tag(bytes, e.toInt + 4)
                  if (fmts.contains(fmt)) {
                    if (e + 86 > entryEnd)
                      return Left("short visual entry")
                    val sw = be16(bytes, e.toInt + 32)
                    val sh = be16(bytes, e.toInt + 34)
                    val kids = children(e + 86, entryEnd)
                      .getOrElse(return Left("malformed entry boxes"))
                    return Right((sw, sh, kids))
                  }
                }
            }
        }
      }
    }
    Left(missing)
  }

  /** Locate the first avc sample entry's `avcC` box and parse its
    * first SPS.
    */
  private def h264SpsInfo(bytes: Array[Byte])
      : Either[String, H264Sps] =
    firstVideoEntry(bytes, Set("avc1", "avc3"), "no avc track")
      .flatMap { case (sw, sh, kids) =>
        val avcC = kids.find(_._1 == "avcC")
          .getOrElse(return Left("no avcC"))
        parseAvcC(bytes, avcC._2, avcC._3).flatMap { sps =>
          parseSps(sps).map { case (pr, lv, w, h) =>
            H264Sps(0L, sw, sh, pr, lv, w, h,
              dimsMatch = sw == w && sh == h, "", parsed = true)
          }
        }
      }

  /** AVCDecoderConfigurationRecord: version 1, profile/compat/level,
    * then the SPS list — returns the FIRST SPS NAL.
    */
  private def parseAvcC(b: Array[Byte], start: Long,
      end: Long): Either[String, Array[Byte]] = {
    if (start + 6 > end) return Left("truncated avcC")
    val o = start.toInt
    if ((b(o) & 0xFF) != 1) return Left("avcC version")
    val numSps = b(o + 5) & 0x1F
    if (numSps < 1) return Left("avcC without sps")
    if (start + 8 > end) return Left("truncated avcC")
    val spsLen = be16(b, o + 6)
    if (start + 8 + spsLen > end) return Left("truncated sps")
    val sps = new Array[Byte](spsLen)
    System.arraycopy(b, o + 8, sps, 0, spsLen)
    Right(sps)
  }

  private final class RbspEof extends RuntimeException

  /** Exp-Golomb bit reader over an RBSP (emulation-prevention bytes
    * already stripped).
    */
  private final class BitReader(rbsp: Array[Byte]) {
    private var bit = 0
    def u(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val byteIx = bit >> 3
        if (byteIx >= rbsp.length) throw new RbspEof
        v = (v << 1) | ((rbsp(byteIx) >> (7 - (bit & 7))) & 1)
        bit += 1
        i += 1
      }
      v
    }
    def ue(): Int = {
      var zeros = 0
      while (u(1) == 0) {
        zeros += 1
        if (zeros > 31) throw new RbspEof // hostile golomb
      }
      if (zeros == 0) 0 else ((1 << zeros) - 1) + u(zeros)
    }
    def se(): Int = {
      val k = ue()
      if (k % 2 == 0) -(k / 2) else (k + 1) / 2
    }
  }

  /** Parse one SPS NAL (ITU-T H.264 §7.3.2.1.1): profile, level, and
    * the crop-derived frame dimensions a decoder actually outputs.
    */
  private[graft] def parseSps(nal: Array[Byte])
      : Either[String, (Int, Int, Int, Int)] = {
    if (nal.length < 4) return Left("sps too short")
    if ((nal(0) & 0x1F) != 7) return Left("not an sps nal")
    // strip emulation prevention: 00 00 03 -> 00 00
    val rbsp = {
      val out = new java.io.ByteArrayOutputStream()
      var zeros = 0
      var i = 1
      while (i < nal.length) {
        val v = nal(i) & 0xFF
        if (zeros >= 2 && v == 3) zeros = 0 // skip the 0x03
        else {
          out.write(v)
          zeros = if (v == 0) zeros + 1 else 0
        }
        i += 1
      }
      out.toByteArray
    }
    try {
      val r = new BitReader(rbsp)
      val profile = r.u(8)
      r.u(8) // constraint flags + reserved
      val level = r.u(8)
      r.ue() // seq_parameter_set_id
      var chromaFormat = 1 // implied 4:2:0 for the pre-FRExt profiles
      var separateColour = 0
      if (Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139,
        134, 135).contains(profile)) {
        chromaFormat = r.ue()
        if (chromaFormat == 3) separateColour = r.u(1)
        r.ue(); r.ue() // bit depths
        r.u(1) // qpprime_y_zero_transform_bypass
        if (r.u(1) == 1) { // seq_scaling_matrix_present
          val lists = if (chromaFormat == 3) 12 else 8
          var i = 0
          while (i < lists) {
            if (r.u(1) == 1) { // scaling list present
              val size = if (i < 6) 16 else 64
              var lastScale = 8; var nextScale = 8
              var j = 0
              while (j < size) {
                if (nextScale != 0) {
                  val delta = r.se()
                  nextScale = (lastScale + delta + 256) % 256
                }
                if (nextScale != 0) lastScale = nextScale
                j += 1
              }
            }
            i += 1
          }
        }
      }
      r.ue() // log2_max_frame_num_minus4
      val pocType = r.ue()
      if (pocType == 0) r.ue()
      else if (pocType == 1) {
        r.u(1); r.se(); r.se()
        val n = r.ue()
        var i = 0
        while (i < n) { r.se(); i += 1 }
      }
      r.ue() // max_num_ref_frames
      r.u(1) // gaps_in_frame_num_value_allowed
      val widthMbs = r.ue() + 1
      val heightUnits = r.ue() + 1
      val frameMbsOnly = r.u(1)
      if (frameMbsOnly == 0) r.u(1) // mb_adaptive_frame_field
      r.u(1) // direct_8x8_inference
      var cl = 0; var cr = 0; var ct = 0; var cb = 0
      if (r.u(1) == 1) { // frame_cropping
        cl = r.ue(); cr = r.ue(); ct = r.ue(); cb = r.ue()
      }
      // crop units (§7.4.2.1.1): ChromaArrayType 0 -> 1 / (2 - fmof);
      // else SubWidthC / SubHeightC x (2 - fmof)
      val chromaArrayType = if (separateColour == 1) 0 else chromaFormat
      val (cux, cuy) = chromaArrayType match {
        case 0 => (1, 2 - frameMbsOnly)
        case 1 => (2, 2 * (2 - frameMbsOnly))
        case 2 => (2, 1 * (2 - frameMbsOnly))
        case 3 => (1, 1 * (2 - frameMbsOnly))
        case _ => return Left("bad chroma_format_idc")
      }
      val w = widthMbs * 16 - cux * (cl + cr)
      val h = (2 - frameMbsOnly) * heightUnits * 16 - cuy * (ct + cb)
      if (w <= 0 || h <= 0) return Left("crop exceeds frame")
      Right((profile, level, w, h))
    } catch { case _: RbspEof => Left("truncated sps") }
  }

  // ---- SPS/avcC encoders (round-trip twins; fixture builders) --------

  /** Exp-Golomb bit writer; emits the RBSP with a stop bit. */
  private final class BitWriter {
    private val bits = scala.collection.mutable.ArrayBuffer[Int]()
    def u(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bits += ((v >> i) & 1); i -= 1 }
    }
    def ue(v: Int): Unit = {
      val code = v + 1
      val len = 32 - Integer.numberOfLeadingZeros(code)
      u(0, len - 1)
      u(code, len)
    }
    def se(v: Int): Unit = ue(if (v <= 0) -2 * v else 2 * v - 1)
    def toRbsp: Array[Byte] = {
      u(1, 1) // rbsp_stop_one_bit
      while (bits.length % 8 != 0) u(0, 1)
      val out = new Array[Byte](bits.length / 8)
      var i = 0
      while (i < bits.length) {
        if (bits(i) == 1) out(i / 8) =
          (out(i / 8) | (1 << (7 - (i % 8)))).toByte
        i += 1
      }
      out
    }
  }

  /** Build a REAL SPS NAL for the given decoder-output dims —
    * `spsWidth`/`spsHeight` need not be macroblock multiples (the
    * remainder becomes the frame crop, like every real encoder).
    * Baseline (66) or a FRExt profile (e.g. 100, which writes the
    * chroma-format block). Emulation-prevention bytes inserted.
    */
  def buildSps(spsWidth: Int, spsHeight: Int, profileIdc: Int = 66,
      levelIdc: Int = 30, spsId: Int = 0): Array[Byte] = {
    require(spsWidth > 0 && spsHeight > 0, "dims")
    require(spsWidth % 2 == 0 && spsHeight % 2 == 0,
      "4:2:0 crops move in 2-pixel units")
    val w = new BitWriter
    w.u(profileIdc, 8)
    w.u(0, 8) // constraint flags
    w.u(levelIdc, 8)
    w.ue(spsId)
    if (Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139,
      134, 135).contains(profileIdc)) {
      w.ue(1) // chroma_format_idc 4:2:0
      w.ue(0); w.ue(0) // bit depths
      w.u(0, 1) // qpprime
      w.u(0, 1) // no scaling matrix
    }
    w.ue(0) // log2_max_frame_num_minus4
    w.ue(0) // pic_order_cnt_type 0
    w.ue(0) // log2_max_pic_order_cnt_lsb_minus4
    w.ue(1) // max_num_ref_frames
    w.u(0, 1) // gaps
    val mbsW = (spsWidth + 15) / 16
    val mapH = (spsHeight + 15) / 16
    w.ue(mbsW - 1)
    w.ue(mapH - 1)
    w.u(1, 1) // frame_mbs_only
    w.u(1, 1) // direct_8x8_inference
    val cropR = (mbsW * 16 - spsWidth) / 2
    val cropB = (mapH * 16 - spsHeight) / 2
    if (cropR > 0 || cropB > 0) {
      w.u(1, 1)
      w.ue(0); w.ue(cropR); w.ue(0); w.ue(cropB)
    } else w.u(0, 1)
    w.u(0, 1) // vui_parameters_present
    val rbsp = w.toRbsp
    // NAL: header 0x67 (ref idc 3, type 7) + emulation prevention
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x67)
    var zeros = 0
    rbsp.foreach { b =>
      val v = b & 0xFF
      if (zeros >= 2 && v <= 3) { out.write(3); zeros = 0 }
      out.write(v)
      zeros = if (v == 0) zeros + 1 else 0
    }
    out.toByteArray
  }

  /** The `avcC` child box wrapping one SPS (profile/level echoed from
    * the SPS bytes, as real muxers do) — pass as [[buildMp4]]'s
    * `videoExtra`.
    */
  def buildAvcC(sps: Array[Byte]): Array[Byte] = {
    require(sps.length >= 4 && (sps(0) & 0x1F) == 7, "not an sps")
    val bos = new java.io.ByteArrayOutputStream()
    val payload = new java.io.ByteArrayOutputStream()
    payload.write(1) // configurationVersion
    payload.write(sps(1)); payload.write(sps(2)); payload.write(sps(3))
    payload.write(0xFF) // reserved + lengthSizeMinusOne 3
    payload.write(0xE1) // reserved + 1 sps
    payload.write((sps.length >> 8) & 0xFF)
    payload.write(sps.length & 0xFF)
    payload.write(sps)
    payload.write(0) // 0 pps (fixture: decoders need one, walks don't)
    val body = payload.toByteArray
    val sz = body.length + 8
    bos.write((sz >> 24) & 0xFF); bos.write((sz >> 16) & 0xFF)
    bos.write((sz >> 8) & 0xFF); bos.write(sz & 0xFF)
    bos.write("avcC".getBytes("US-ASCII"))
    bos.write(body)
    bos.toByteArray
  }

  // ---- H.265/HEVC SPS (the hvc1/hev1 counterpart) ---------------------

  /** SPS-derived facts for the first `hvc1`/`hev1` track — the H.265
    * counterpart of [[H264Sps]]: profile space/tier/profile/level
    * from the profile_tier_level block, luma dimensions minus the
    * conformance window (what a decoder outputs), `dimsMatch` against
    * the `stsd` claim.
    */
  case class H265Sps(id: Long, stsdWidth: Int, stsdHeight: Int,
      profileIdc: Int, tier: Int, levelIdc: Int, spsWidth: Int,
      spsHeight: Int, dimsMatch: Boolean, reason: String,
      parsed: Boolean)

  def h265SpsScan(df: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    implicit val enc = Encoders.product[H265Sps]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          h265SpsInfo(r.getAs[Array[Byte]](1)) match {
            case Right(m) => m.copy(id = id)
            case Left(reason) => H265Sps(id, 0, 0, 0, 0, 0, 0, 0,
              dimsMatch = false, reason, parsed = false)
          }
        }
    }.toDF().select(col("id"),
      col("stsdWidth").as("stsd_width"),
      col("stsdHeight").as("stsd_height"),
      col("profileIdc").as("profile_idc"),
      col("tier"),
      col("levelIdc").as("level_idc"),
      col("spsWidth").as("sps_width"),
      col("spsHeight").as("sps_height"),
      col("dimsMatch").as("dims_match"),
      col("reason"), col("parsed"))
  }

  private def h265SpsInfo(bytes: Array[Byte])
      : Either[String, H265Sps] =
    firstVideoEntry(bytes, Set("hvc1", "hev1"), "no hevc track")
      .flatMap { case (sw, sh, kids) =>
        val hvcC = kids.find(_._1 == "hvcC")
          .getOrElse(return Left("no hvcC"))
        parseHvcC(bytes, hvcC._2, hvcC._3).flatMap { sps =>
          parseHevcSps(sps).map { case (pr, tier, lv, w, h) =>
            H265Sps(0L, sw, sh, pr, tier, lv, w, h,
              dimsMatch = sw == w && sh == h, "", parsed = true)
          }
        }
      }

  /** HEVCDecoderConfigurationRecord (ISO/IEC 14496-15 §8.3.3.1):
    * 22 fixed bytes, then NAL arrays — return the first NAL of the
    * SPS array (type 33).
    */
  private def parseHvcC(b: Array[Byte], start: Long,
      end: Long): Either[String, Array[Byte]] = {
    if (start + 23 > end) return Left("truncated hvcC")
    val o = start.toInt
    if ((b(o) & 0xFF) != 1) return Left("hvcC version")
    val nArrays = b(o + 22) & 0xFF
    var p = o + 23
    var a = 0
    while (a < nArrays) {
      if (p + 3 > end) return Left("truncated hvcC arrays")
      val nalType = b(p) & 0x3F
      val nNalus = be16(b, p + 1)
      p += 3
      var u = 0
      while (u < nNalus) {
        if (p + 2 > end) return Left("truncated hvcC nalu")
        val len = be16(b, p)
        if (p + 2 + len > end) return Left("truncated hvcC nalu")
        if (nalType == 33 && u == 0) {
          val sps = new Array[Byte](len)
          System.arraycopy(b, p + 2, sps, 0, len)
          return Right(sps)
        }
        p += 2 + len
        u += 1
      }
      a += 1
    }
    Left("hvcC without sps")
  }

  /** Parse one H.265 SPS NAL (ITU-T H.265 §7.3.2.2.1): profile
    * space-checked profile_tier_level, then luma dims minus the
    * conformance window — (profile, tier, level, width, height).
    */
  private[graft] def parseHevcSps(nal: Array[Byte])
      : Either[String, (Int, Int, Int, Int, Int)] = {
    if (nal.length < 4) return Left("sps too short")
    if (((nal(0) >> 1) & 0x3F) != 33) return Left("not an hevc sps nal")
    // strip emulation prevention after the 2-byte NAL header
    val rbsp = {
      val out = new java.io.ByteArrayOutputStream()
      var zeros = 0
      var i = 2
      while (i < nal.length) {
        val v = nal(i) & 0xFF
        if (zeros >= 2 && v == 3) zeros = 0
        else {
          out.write(v)
          zeros = if (v == 0) zeros + 1 else 0
        }
        i += 1
      }
      out.toByteArray
    }
    try {
      val r = new BitReader(rbsp)
      r.u(4) // sps_video_parameter_set_id
      val maxSubLayersMinus1 = r.u(3)
      r.u(1) // sps_temporal_id_nesting_flag
      // profile_tier_level: general 96 bits
      r.u(2) // general_profile_space
      val tier = r.u(1)
      val profile = r.u(5)
      r.u(32) // general_profile_compatibility_flags
      r.u(24); r.u(24) // constraint flags + reserved (48 bits)
      val level = r.u(8)
      // sub-layer presence flags + per-sub-layer blocks
      val profPresent = new Array[Int](maxSubLayersMinus1)
      val lvlPresent = new Array[Int](maxSubLayersMinus1)
      var i = 0
      while (i < maxSubLayersMinus1) {
        profPresent(i) = r.u(1); lvlPresent(i) = r.u(1)
        i += 1
      }
      if (maxSubLayersMinus1 > 0) {
        var j = maxSubLayersMinus1
        while (j < 8) { r.u(2); j += 1 } // reserved_zero_2bits
      }
      i = 0
      while (i < maxSubLayersMinus1) {
        if (profPresent(i) == 1) { r.u(24); r.u(24); r.u(24); r.u(16) } // 88 bits
        if (lvlPresent(i) == 1) r.u(8)
        i += 1
      }
      r.ue() // sps_seq_parameter_set_id
      val chromaFormat = r.ue()
      if (chromaFormat == 3) r.u(1) // separate_colour_plane_flag
      val picW = r.ue()
      val picH = r.ue()
      var cl = 0; var cr = 0; var ct = 0; var cb = 0
      if (r.u(1) == 1) { // conformance_window_flag
        cl = r.ue(); cr = r.ue(); ct = r.ue(); cb = r.ue()
      }
      val (subW, subH) = chromaFormat match {
        case 0 => (1, 1)
        case 1 => (2, 2)
        case 2 => (2, 1)
        case 3 => (1, 1)
        case _ => return Left("bad chroma_format_idc")
      }
      val w = picW - subW * (cl + cr)
      val h = picH - subH * (ct + cb)
      if (w <= 0 || h <= 0) return Left("window exceeds frame")
      Right((profile, tier, level, w, h))
    } catch { case _: RbspEof => Left("truncated sps") }
  }

  /** Build a REAL H.265 SPS NAL for the given decoder-output dims —
    * the remainder above a multiple of 8 luma samples becomes the
    * conformance window, like every real encoder. 4:2:0 (window
    * offsets move in 2-sample units → even dims required).
    */
  def buildHevcSps(spsWidth: Int, spsHeight: Int, profileIdc: Int = 1,
      tier: Int = 0, levelIdc: Int = 120): Array[Byte] = {
    require(spsWidth > 0 && spsHeight > 0, "dims")
    require(spsWidth % 2 == 0 && spsHeight % 2 == 0,
      "4:2:0 window offsets move in 2-sample units")
    val w = new BitWriter
    w.u(0, 4) // vps id
    w.u(0, 3) // max_sub_layers_minus1
    w.u(1, 1) // temporal_id_nesting
    // profile_tier_level (general, 96 bits)
    w.u(0, 2); w.u(tier, 1); w.u(profileIdc, 5)
    w.u(1 << (31 - profileIdc), 32) // compatibility flag for profile
    w.u(1, 1); w.u(0, 1); w.u(1, 1); w.u(1, 1) // prog/int/nonpacked/frameonly
    w.u(0, 24); w.u(0, 20) // reserved 44 bits
    w.u(levelIdc, 8)
    w.ue(0) // sps id
    w.ue(1) // chroma_format_idc 4:2:0
    val picW = (spsWidth + 7) / 8 * 8
    val picH = (spsHeight + 7) / 8 * 8
    w.ue(picW)
    w.ue(picH)
    val offR = (picW - spsWidth) / 2
    val offB = (picH - spsHeight) / 2
    if (offR > 0 || offB > 0) {
      w.u(1, 1)
      w.ue(0); w.ue(offR); w.ue(0); w.ue(offB)
    } else w.u(0, 1)
    w.ue(0); w.ue(0) // bit depths
    val rbsp = w.toRbsp
    val out = new java.io.ByteArrayOutputStream()
    out.write(33 << 1); out.write(1) // NAL header: SPS, tid+1 = 1
    var zeros = 0
    rbsp.foreach { b =>
      val v = b & 0xFF
      if (zeros >= 2 && v <= 3) { out.write(3); zeros = 0 }
      out.write(v)
      zeros = if (v == 0) zeros + 1 else 0
    }
    out.toByteArray
  }

  /** The `hvcC` child box wrapping one SPS (profile/tier/level echoed
    * from the SPS the way real muxers do) — pass as [[buildMp4]]'s
    * `videoExtra` with `videoCodec = "hvc1"`.
    */
  def buildHvcC(sps: Array[Byte]): Array[Byte] = {
    require(sps.length >= 4 && ((sps(0) >> 1) & 0x3F) == 33,
      "not an hevc sps")
    val payload = new java.io.ByteArrayOutputStream()
    payload.write(1) // configurationVersion
    // general_profile_space/tier/profile from the SPS PTL: the PTL
    // starts at rbsp bit 8 (after vps id + layers + nesting)
    payload.write(sps(3) & 0xFF) // close-enough echo for a fixture
    (0 until 4).foreach(_ => payload.write(0)) // compat flags
    (0 until 6).foreach(_ => payload.write(0)) // constraint flags
    payload.write(0x78) // general_level_idc echo (fixture)
    payload.write(0xF0); payload.write(0) // min_spatial_segmentation
    payload.write(0xFC) // parallelismType
    payload.write(0xFD) // chromaFormat 1
    payload.write(0xF8); payload.write(0xF8) // bit depths
    payload.write(0); payload.write(0) // avgFrameRate
    payload.write(0x03) // lengthSizeMinusOne 3
    payload.write(1) // numOfArrays
    payload.write(0x20 | 33) // array_completeness=0, NAL type 33
    payload.write(0); payload.write(1) // numNalus
    payload.write((sps.length >> 8) & 0xFF)
    payload.write(sps.length & 0xFF)
    payload.write(sps)
    val body = payload.toByteArray
    val bos = new java.io.ByteArrayOutputStream()
    val sz = body.length + 8
    bos.write((sz >> 24) & 0xFF); bos.write((sz >> 16) & 0xFF)
    bos.write((sz >> 8) & 0xFF); bos.write(sz & 0xFF)
    bos.write("hvcC".getBytes("US-ASCII"))
    bos.write(body)
    bos.toByteArray
  }

  // ---- MP4 timed text (tx3g) — the subtitle rung of ISO-BMFF -------

  /** One timed-text cue out of a tx3g track. */
  case class Mp4Cue(id: Long, cueIndex: Long, startMs: Long,
      endMs: Long, text: String)

  /** Extract the first `text`/`sbtl` track's tx3g cues: sample
    * payloads are a u16 text length + UTF-8 bytes (trailing modifier
    * boxes ignored), timing is the `stts` delta table under the
    * track's own `mdhd` timescale — the MP4 rung of the subtitle
    * family (SRT/VTT/ASS/Matroska S_TEXT are the others), so every
    * transcript-side operator consumes MP4 captions with zero new
    * code. Zero-length samples are the published "no subtitle on
    * screen" gaps — skipped, not emitted. Files without a text track
    * emit nothing; structural lies (text length past the sample,
    * tables past the payload, over-cap text) refuse the whole file.
    */
  def mp4SubtitleCues(df: DataFrame, idCol: String, binCol: String,
      maxTextBytes: Int = 1 << 24): DataFrame = {
    require(maxTextBytes > 0, "maxTextBytes must be positive")
    implicit val enc = Encoders.product[Mp4Cue]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          parseTx3g(r.getAs[Array[Byte]](1), maxTextBytes) match {
            case Some(cues) => cues.zipWithIndex.map {
              case ((s0, e0, t), i) => Mp4Cue(id, i.toLong, s0, e0, t)
            }
            case None => Nil
          }
        }
    }.toDF().select(col("id"), col("cueIndex").as("cue_index"),
      col("startMs").as("start_ms"), col("endMs").as("end_ms"),
      col("text"))
  }

  private[graft] def parseTx3g(bytes: Array[Byte],
      maxTextBytes: Int): Option[Vector[(Long, Long, String)]] = {
    if (bytes == null || bytes.length < 16) return None
    val total = bytes.length.toLong
    val top = childRanges(bytes, 0L, total).getOrElse(return None)
    if (top.isEmpty || top.head._1 != "ftyp") return None
    val (_, moovBody, moovEnd) =
      top.find(_._1 == "moov").getOrElse(return None)
    val moovKids =
      childRanges(bytes, moovBody, moovEnd).getOrElse(return None)

    // first text/sbtl trak: its mdhd timescale + stbl children
    var stbl: Vector[(String, Long, Long)] = null
    var timescale = 0L
    val trakIt = moovKids.iterator.filter(_._1 == "trak")
    while (stbl == null && trakIt.hasNext) {
      val (_, tb, te) = trakIt.next()
      for {
        kids <- childRanges(bytes, tb, te)
        (_, mb, me) <- kids.find(_._1 == "mdia")
        mKids <- childRanges(bytes, mb, me)
        (_, hb, he) <- mKids.find(_._1 == "hdlr")
        if hb + 12 <= he && {
          val h = tag(bytes, hb.toInt + 8)
          h == "text" || h == "sbtl"
        }
        (_, dB, dE) <- mKids.find(_._1 == "mdhd")
        if dB + 4 <= dE
        (_, nb, ne) <- mKids.find(_._1 == "minf")
        nKids <- childRanges(bytes, nb, ne)
        (_, sb, se) <- nKids.find(_._1 == "stbl")
        sKids <- childRanges(bytes, sb, se)
      } {
        val v = bytes(dB.toInt) & 0xFF
        val tsOff = if (v == 1) dB + 20 else dB + 12
        if (tsOff + 4 <= dE) {
          timescale = be32(bytes, tsOff.toInt)
          stbl = sKids
        }
      }
    }
    if (stbl == null || timescale <= 0L) return None

    def full(name: String): Option[(Long, Long)] =
      stbl.find(_._1 == name).collect {
        case (_, b, e) if b + 4 <= e => (b + 4, e)
      }

    // stsd: first entry must be tx3g
    val (sdB, sdE) = full("stsd").getOrElse(return None)
    if (sdB + 4 > sdE || be32(bytes, sdB.toInt) < 1L) return None
    if (sdB + 12 > sdE) return None
    if (tag(bytes, sdB.toInt + 8) != "tx3g") return None

    // stsz sizes
    val (szB, szE) = full("stsz").getOrElse(return None)
    if (szB + 8 > szE) return None
    val defaultSize = be32(bytes, szB.toInt)
    val sampleCount = be32(bytes, szB.toInt + 4)
    if (sampleCount <= 0L || sampleCount > (1L << 20)) return None
    val tableOff = szB + 8
    if (defaultSize == 0L && tableOff + 4L * sampleCount > szE)
      return None
    def sampleSizeAt(i: Long): Long =
      if (defaultSize != 0L) defaultSize
      else be32(bytes, (tableOff + 4L * i).toInt)

    // stts: per-sample durations (run-length)
    val (ttB, ttE) = full("stts").getOrElse(return None)
    if (ttB + 4 > ttE) return None
    val ttN = be32(bytes, ttB.toInt)
    if (ttN <= 0L || ttB + 4 + 8L * ttN > ttE) return None
    val durations = new Array[Long](sampleCount.toInt)
    var di = 0
    var k = 0
    while (k < ttN.toInt) {
      val o = (ttB + 4 + 8L * k).toInt
      val cnt = be32(bytes, o)
      val delta = be32(bytes, o + 4)
      if (cnt < 0L || delta < 0L) return None
      var c = 0L
      while (c < cnt) {
        if (di >= durations.length) return None // stts over-declares
        durations(di) = delta
        di += 1
        c += 1L
      }
      k += 1
    }
    if (di != durations.length) return None // stts under-declares

    // stsc runs + chunk offsets (same grammar as the audio walk)
    val (scB, scE) = full("stsc").getOrElse(return None)
    if (scB + 4 > scE) return None
    val scN = be32(bytes, scB.toInt)
    if (scN <= 0L || scB + 4 + 12L * scN > scE) return None
    val runs = new Array[Long](2 * scN.toInt)
    var prevFirst = 0L
    k = 0
    while (k < scN.toInt) {
      val o = (scB + 4 + 12L * k).toInt
      val first = be32(bytes, o)
      val spc = be32(bytes, o + 4)
      if (first <= prevFirst || spc <= 0L ||
        be32(bytes, o + 8) != 1L) return None
      if (k == 0 && first != 1L) return None
      runs(2 * k) = first; runs(2 * k + 1) = spc
      prevFirst = first
      k += 1
    }
    val (coName, coWidth) =
      if (stbl.exists(_._1 == "stco")) ("stco", 4L) else ("co64", 8L)
    val (coB, coE) = full(coName).getOrElse(return None)
    if (coB + 4 > coE) return None
    val nChunks = be32(bytes, coB.toInt)
    if (nChunks <= 0L || coB + 4 + coWidth * nChunks > coE) return None
    def chunkOffset(c: Long): Long = {
      val o = (coB + 4 + coWidth * c).toInt
      if (coWidth == 4L) be32(bytes, o) else be64(bytes, o)
    }

    // walk samples in chunk order, decode tx3g payloads, accumulate
    // cue times in SAMPLE order (tables are sample-ordered)
    val out = Vector.newBuilder[(Long, Long, String)]
    var tTicks = 0L
    var textTotal = 0L
    var sample = 0L
    var run = 0
    var chunk = 0L
    while (sample < sampleCount && chunk < nChunks) {
      while (run + 1 < scN.toInt && runs(2 * (run + 1)) <= chunk + 1L)
        run += 1
      val spc = runs(2 * run + 1)
      var off = chunkOffset(chunk)
      var j = 0L
      while (j < spc && sample < sampleCount) {
        val sz = sampleSizeAt(sample)
        if (sz < 2L || off < 0L || off + sz > total) return None
        val tlen = be16(bytes, off.toInt)
        if (2L + tlen > sz) return None // text past its sample
        textTotal += tlen
        if (textTotal > maxTextBytes) return None // refuse, not trim
        val delta = durations(sample.toInt)
        if (tlen > 0) {
          val text = new String(bytes, off.toInt + 2, tlen, "UTF-8")
          out += ((tTicks * 1000L / timescale,
            (tTicks + delta) * 1000L / timescale, text))
        } // tlen == 0: the published no-subtitle gap sample
        tTicks += delta
        off += sz
        j += 1L
        sample += 1L
      }
      chunk += 1L
    }
    if (sample < sampleCount) return None
    Some(out.result())
  }

  /** Build an MP4 with a tx3g timed-text track — the encode twin of
    * [[mp4SubtitleCues]]. `samples` are (durationTicks, text) pairs
    * in timeline order; empty text writes the published gap sample.
    * mdat-first so chunk offsets are real; `chunkSamples` splits the
    * samples into chunks to exercise the stsc walk.
    */
  def buildMp4Tx3g(timescale: Long, samples: Seq[(Long, String)],
      chunkSamples: Seq[Int] = Nil,
      handler: String = "sbtl"): Array[Byte] = {
    require(timescale > 0, "timescale")
    require(samples.nonEmpty, "at least one sample")
    require(handler == "sbtl" || handler == "text", "handler")
    val chunks =
      if (chunkSamples.isEmpty) Seq(samples.length)
      else chunkSamples
    require(chunks.sum == samples.length && chunks.forall(_ > 0),
      "chunkSamples must partition the samples")
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = {
      bos.write((v >> 8) & 0xFF); bos.write(v & 0xFF)
    }
    def w32(v: Long): Unit = {
      bos.write(((v >> 24) & 0xFF).toInt)
      bos.write(((v >> 16) & 0xFF).toInt)
      bos.write(((v >> 8) & 0xFF).toInt); bos.write((v & 0xFF).toInt)
    }
    def tag4(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    def box(typ: String)(body: => Unit): Unit = {
      val sizeAt = bos.size()
      w32(0L); tag4(typ)
      body
      val outB = bos.toByteArray
      val sz = outB.length - sizeAt
      bos.reset()
      bos.write(outB, 0, sizeAt)
      w32(sz.toLong); bos.write(outB, sizeAt + 4, sz - 4)
    }
    def fullBox(typ: String, version: Int)(body: => Unit): Unit =
      box(typ) { bos.write(version); bos.write(0); w16(0); body }

    box("ftyp") { tag4("isom"); w32(512L); tag4("isom"); tag4("iso2") }

    // mdat FIRST: per-sample u16 length + UTF-8 text
    val sampleBytes = samples.map { case (_, t) =>
      val tb = t.getBytes("UTF-8")
      require(tb.length <= 0xFFFF, "text over the u16 length field")
      val b = new Array[Byte](2 + tb.length)
      b(0) = ((tb.length >> 8) & 0xFF).toByte
      b(1) = (tb.length & 0xFF).toByte
      System.arraycopy(tb, 0, b, 2, tb.length)
      b
    }
    val offsets = new Array[Long](chunks.length)
    box("mdat") {
      var s0 = 0
      chunks.zipWithIndex.foreach { case (n, c) =>
        offsets(c) = bos.size().toLong
        (0 until n).foreach { _ =>
          bos.write(sampleBytes(s0)); s0 += 1
        }
      }
    }

    val duration = samples.map(_._1).sum
    box("moov") {
      fullBox("mvhd", 0) {
        w32(0L); w32(0L)
        w32(timescale); w32(duration)
        w32(0x00010000L); w16(0x0100); w16(0)
        w32(0L); w32(0L)
        Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L,
          0x40000000L).foreach(w32)
        (0 until 6).foreach(_ => w32(0L))
        w32(2L)
      }
      box("trak") {
        fullBox("tkhd", 0) {
          w32(0L); w32(0L); w32(1L); w32(0L); w32(duration)
          w32(0L); w32(0L); w16(0); w16(0); w16(0); w16(0)
          Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L,
            0x40000000L).foreach(w32)
          w32(0L); w32(0L)
        }
        box("mdia") {
          fullBox("mdhd", 0) {
            w32(0L); w32(0L)
            w32(timescale); w32(duration)
            w16(0x55C4); w16(0)
          }
          fullBox("hdlr", 0) {
            w32(0L); tag4(handler); w32(0L); w32(0L); w32(0L)
            bos.write("SubtitleHandler".getBytes("US-ASCII"))
            bos.write(0)
          }
          box("minf") {
            box("stbl") {
              fullBox("stsd", 0) {
                w32(1L)
                box("tx3g") {
                  (0 until 6).foreach(_ => bos.write(0)); w16(1)
                  w32(0L) // displayFlags
                  bos.write(1); bos.write(-1) // justification
                  w32(0L) // background color
                  w32(0L); w32(0L) // default text box
                  w32(0L); w16(0); w16(0) // style record head
                  w32(0L) // style record tail
                }
              }
              fullBox("stts", 0) {
                // run-length encode equal consecutive durations
                val rle = scala.collection.mutable
                  .ArrayBuffer[(Long, Long)]()
                samples.foreach { case (d, _) =>
                  if (rle.nonEmpty && rle.last._2 == d)
                    rle(rle.length - 1) = (rle.last._1 + 1, d)
                  else rle += ((1L, d))
                }
                w32(rle.length.toLong)
                rle.foreach { case (cnt, d) => w32(cnt); w32(d) }
              }
              fullBox("stsc", 0) {
                // one run per distinct chunk size change
                val entries = scala.collection.mutable
                  .ArrayBuffer[(Long, Long)]()
                chunks.zipWithIndex.foreach { case (n, c) =>
                  if (entries.isEmpty || entries.last._2 != n.toLong)
                    entries += ((c + 1L, n.toLong))
                }
                w32(entries.length.toLong)
                entries.foreach { case (first, spc) =>
                  w32(first); w32(spc); w32(1L)
                }
              }
              fullBox("stsz", 0) {
                w32(0L); w32(samples.length.toLong)
                sampleBytes.foreach(b => w32(b.length.toLong))
              }
              fullBox("stco", 0) {
                w32(chunks.length.toLong)
                offsets.foreach(w32)
              }
            }
          }
        }
      }
    }
    bos.toByteArray
  }

  // ---- iTunes-style metadata (moov/udta/meta/ilst) -------------------

  /** Text tags out of the ilst atom — where M4A/MP4 audio carries
    * title/artist/album (the `©nam` family): each ilst child wraps a
    * `data` box whose type indicator 1 means UTF-8 text. Binary
    * items (artwork, trkn) are skipped — this reads TEXT metadata,
    * not payloads. Empty on files without the atom chain; malformed
    * boxes refuse (empty result) per the metadata-scan convention.
    */
  private[graft] def parseIlst(
      bytes: Array[Byte]): Seq[(String, String)] = {
    if (bytes == null || bytes.length < 16) return Nil
    val total = bytes.length.toLong
    val walk = for {
      top <- childRanges(bytes, 0L, total)
      if top.nonEmpty && top.head._1 == "ftyp"
      (_, mb, me) <- top.find(_._1 == "moov")
      mKids <- childRanges(bytes, mb, me)
      (_, ub, ue) <- mKids.find(_._1 == "udta")
      uKids <- childRanges(bytes, ub, ue)
      (_, tb, te) <- uKids.find(_._1 == "meta")
      if tb + 4 <= te // meta is a FullBox
      tKids <- childRanges(bytes, tb + 4, te)
      (_, ib, ie) <- tKids.find(_._1 == "ilst")
      items <- childRanges(bytes, ib, ie)
    } yield items
    walk match {
      case None => Nil
      case Some(items) =>
        val out = Seq.newBuilder[(String, String)]
        items.foreach { case (name, b0, e0) =>
          childRanges(bytes, b0, e0) match {
            case None => return Nil // malformed item: refuse all
            case Some(kids) => kids.find(_._1 == "data").foreach {
              case (_, db, de) =>
                // data: type(4) locale(4) payload
                if (db + 8 > de) return Nil
                if (be32(bytes, db.toInt) == 1L) { // UTF-8 text
                  val len = (de - db - 8).toInt
                  out += ((name,
                    new String(bytes, db.toInt + 8, len, "UTF-8")))
                }
            }
          }
        }
        out.result()
    }
  }

  /** Append a udta/meta/ilst chain carrying UTF-8 text tags to a
    * built MP4 — the encode twin of [[parseIlst]]. Rewrites the moov
    * box size in place.
    */
  def withIlstTags(mp4: Array[Byte],
      tags: Seq[(String, String)]): Array[Byte] = {
    require(tags.nonEmpty, "no tags")
    // locate the moov box at top level
    var pos = 0
    var moovAt = -1
    var moovEnd = -1
    while (moovAt < 0 && pos + 8 <= mp4.length) {
      val sz = be32(mp4, pos)
      require(sz >= 8L, "largesize/to-end boxes before moov unsupported")
      val typ = tag(mp4, pos + 4)
      if (typ == "moov") { moovAt = pos; moovEnd = pos + sz.toInt }
      else pos += sz.toInt
    }
    require(moovAt >= 0, "no moov box")
    val bos = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bos.write(((v >> 24) & 0xFF).toInt)
      bos.write(((v >> 16) & 0xFF).toInt)
      bos.write(((v >> 8) & 0xFF).toInt); bos.write((v & 0xFF).toInt)
    }
    def tag4(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    def box(typ: String)(body: => Unit): Unit = {
      val at = bos.size()
      w32(0L); tag4(typ)
      body
      val outB = bos.toByteArray
      val sz = outB.length - at
      bos.reset(); bos.write(outB, 0, at)
      w32(sz.toLong); bos.write(outB, at + 4, sz - 4)
    }
    box("udta") {
      box("meta") {
        w32(0L) // FullBox version/flags
        box("hdlr") {
          w32(0L); w32(0L); tag4("mdir"); tag4("appl")
          w32(0L); w32(0L); bos.write(0)
        }
        box("ilst") {
          tags.foreach { case (name, value) =>
            require(name.length == 4, s"ilst item '$name' not a 4CC")
            box(name) {
              box("data") {
                w32(1L) // type indicator: UTF-8 text
                w32(0L) // locale
                bos.write(value.getBytes("UTF-8"))
              }
            }
          }
        }
      }
    }
    val udta = bos.toByteArray
    val out = new Array[Byte](mp4.length + udta.length)
    System.arraycopy(mp4, 0, out, 0, moovEnd)
    System.arraycopy(udta, 0, out, moovEnd, udta.length)
    System.arraycopy(mp4, moovEnd, out, moovEnd + udta.length,
      mp4.length - moovEnd)
    // grow the moov size to cover the appended udta
    val newSz = be32(mp4, moovAt) + udta.length
    out(moovAt) = ((newSz >> 24) & 0xFF).toByte
    out(moovAt + 1) = ((newSz >> 16) & 0xFF).toByte
    out(moovAt + 2) = ((newSz >> 8) & 0xFF).toByte
    out(moovAt + 3) = (newSz & 0xFF).toByte
    out
  }
}
