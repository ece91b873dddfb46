package graft.sources

import java.io.BufferedInputStream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Audio, Gif, Media, Mp4, MpegTs}

/** One on-disk media file's cross-container metadata. Fields mirror
  * [[graft.operators.Media.MediaMeta]] with the path as identity,
  * plus `route` — which honest walk answered (`prefix` / `seek` /
  * `stream`, or `""` for an unknown container).
  */
final case class MediaShardMeta(shard_path: String, file_bytes: Long,
    container: String, duration_ms: Long, width: Int, height: Int,
    video_codec: String, audio_codec: String, audio_rate: Int,
    route: String, parsed: Boolean)

/** The unified PATH-LEVEL media census — the real crawl-landing
  * shape at 100 TB: one directory holding `.mp4`, `.ts`, `.webm`,
  * `.mp3`, `.gif`, `.wav`, `.flac`, `.ogg`, … side by side. The
  * column census ([[Media.mediaMetaScan]]) dispatches binary COLUMN
  * values by magic; this source applies the same dispatch
  * ([[Media.routeOf]] — magic checks and order shared with the
  * column walk) to FILES, routing each to the CHEAPEST walk that is
  * still honest for its grammar:
  *
  *  - **prefix** (AVI, WAV, AIFF, FLAC, AVIF/HEIF, WebM/Matroska):
  *    metadata leads the file — the ESCALATING bounded header read
  *    [[graft.io.RandomAccess.parsePrefix]] (64 KB first, the
  *    `maxHeaderBytes` cap only when the small prefix honestly
  *    refuses; spec-pinned on a forced-escalation fixture), parsed
  *    with the true file length through [[Media.mediaMetaPrefix]]
  *    (the column prefix path's exact dispatch). Residency O(prefix)
  *    whatever the file size; I/O O(64 KB) for the common
  *    front-loaded file.
  *  - **seek** (MP4/ISO-BMFF): indexed grammar, moov may trail the
  *    mdat — [[Mp4.parseMp4Seek]] hops box headers and reads only
  *    the moov ([[Mp4ShardSource]]'s engine). Residency
  *    O(headers + moov).
  *  - **stream** (MPEG-TS, ADTS, MP3, Ogg, GIF): chained grammars —
  *    the forward packet walk through [[MpegTs.parseTsStream]]
  *    ([[MpegTsShardSource]]'s engine), the ADTS frame-header hop
  *    through [[MpegTs.parseAdtsStream]], the MP3 frame hop through
  *    [[graft.operators.Mp3.parseMp3Stream]], the Ogg page hop
  *    through [[Audio.parseOggStream]] (EVERY page's CRC still
  *    verified — a tail seek could not keep that contract, a
  *    forward hop can, with one ≤ 64 KB page resident), or the GIF
  *    block hop through [[Gif.parseGifStream]]. Residency one
  *    packet / frame header / page / sub-block (plus TS's capped
  *    SPS buffer and MP3's one buffered first frame for the Xing
  *    sniff).
  *
  * Every known family routes to a bounded-residency walk — the
  * census never buffers a whole file, whatever lands in the
  * directory.
  *
  * Unknown containers are `parsed = false` with an empty route —
  * never guessed. On every parsed file the metadata fields equal the
  * column census's ([[Media.mediaMetaScan]]) for the same bytes: the
  * prefix arm runs the column prefix dispatch, the seek/stream arms
  * share their state machines AND field mappings
  * ([[Media.mp4ToMedia]] / [[Media.tsToMedia]]) with the column
  * dispatch, and the full arm IS the column dispatch.
  */
object MediaShardSource {

  /** Census row for every file matched by `path` (file, glob, or
    * directory). Parallelism comes from many files, sliced one per
    * task by [[StreamUtil.scanFiles]].
    */
  def metaScan(spark: SparkSession, path: String,
      maxHeaderBytes: Int = 8 << 20,
      maxMoovBytes: Int = 1 << 28,
      maxEsScanBytes: Int = 1 << 18): Dataset[MediaShardMeta] = {
    import spark.implicits._
    require(maxHeaderBytes >= 512, "maxHeaderBytes must cover a sniff")
    require(maxMoovBytes > 0 && maxEsScanBytes > 0,
      "caps must be positive")
    StreamUtil.scanPath(spark, path)(_.stream) { (f, stream) =>
      val ra = f.randomAccess
      val sniff = ra.head(512)
      val route = Media.routeOf(sniff, f.length)
      val meta: Option[Media.MediaMeta] = route match {
        case "prefix" =>
          ra.parsePrefix(maxHeaderBytes)(Media.mediaMetaPrefix(_, f.length))
        case "seek" =>
          Mp4.parseMp4Seek(ra, maxMoovBytes).map(Media.mp4ToMedia)
        case "stream" =>
          stream.seek(0L)
          val buffered = new BufferedInputStream(stream, 1 << 16)
          // five chained grammars stream: TS (packet walk), Ogg
          // (page hop), GIF (block hop), ADTS and MP3
          // (frame-header hops) — disambiguated by the same
          // magics the route decision used
          def sniffIs(s: String): Boolean =
            s.indices.forall(i => sniff(i) == s.charAt(i).toByte)
          // GIF8 before the TS sync check: 'G' IS 0x47, the TS
          // sync byte — routeOf puts the GIF magic first too
          if (sniffIs("GIF8"))
            Gif.parseGifStream(buffered).map(g =>
              Media.gifToMedia(g.width, g.height, g.totalDelayCs))
          else if ((sniff(0) & 0xFF) == 0x47)
            MpegTs.parseTsStream(buffered, maxEsScanBytes)
              .map(Media.tsToMedia)
          else if (sniffIs("OggS"))
            Audio.parseOggStream(buffered).map {
              case (codec, ch, rate, granule) =>
                Media.oggToMedia(codec, ch, rate, granule)
            }
          else if ((sniff(0) & 0xFF) == 0xFF &&
            (sniff(1) & 0xF0) == 0xF0 && (sniff(1) & 0x06) == 0)
            MpegTs.parseAdtsStream(buffered)
              .map(Media.adtsToMedia)
          else
            graft.operators.Mp3.parseMp3Stream(buffered)
              .map(Media.mp3ToMedia)
        case _ => None // unknown container
      }
      Iterator.single(meta match {
        case Some(m) => MediaShardMeta(f.path, f.length, m.container,
          m.durationMs, m.width, m.height, m.videoCodec,
          m.audioCodec, m.audioRate, route, parsed = true)
        case None => MediaShardMeta(f.path, f.length, "", 0L, 0, 0, "",
          "", 0, route, parsed = false)
      })
    }
  }

  /** [[metaScan]] projected to the column operator's
    * [[Media.mediaMetaScan]] shape (path-keyed, plus `route`) — the
    * drop-in the path/column equality contract is stated over.
    */
  def metaScanDF(spark: SparkSession, path: String,
      maxHeaderBytes: Int = 8 << 20,
      maxMoovBytes: Int = 1 << 28,
      maxEsScanBytes: Int = 1 << 18): DataFrame =
    metaScan(spark, path, maxHeaderBytes, maxMoovBytes,
      maxEsScanBytes).toDF()
      .select(col("shard_path"), col("file_bytes"), col("container"),
        col("duration_ms"), col("width"), col("height"),
        col("video_codec"), col("audio_codec"), col("audio_rate"),
        col("route"), col("parsed"))
}
