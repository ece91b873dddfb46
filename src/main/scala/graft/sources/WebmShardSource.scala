package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.Webm

/** One on-disk Matroska/WebM file's header metadata. Fields mirror
  * [[graft.operators.Webm.WebmMeta]] with the shard path as identity.
  */
final case class WebmShardMeta(shard_path: String, file_bytes: Long,
    doc_type: String, timescale_ns: Long, duration_ms: Long,
    tracks: Int, video_codec: String, width: Int, height: Int,
    audio_codec: String, audio_channels: Int, audio_rate: Int,
    parsed: Boolean)

/** Path-level STREAMING Matroska/WebM metadata source — the 100 TB
  * shape for a directory of large `.webm`/`.mkv` files. The column
  * operator ([[Webm.webmMetaScan]]) needs each payload as a binary
  * column — a whole multi-GiB recording in executor memory. Here file
  * *paths* distribute as a `Dataset[String]` and each task reads only
  * a BOUNDED HEADER PREFIX (`maxHeaderBytes`) off a Hadoop
  * `FSDataInputStream` — every conforming muxer writes the EBML
  * header, `Info`, and `Tracks` ahead of the first cluster, so the
  * prefix answers the whole metadata filter while residency stays
  * O(prefix) whatever the file size (the [[TarShardSource]] /
  * [[GeoJsonZipSource]] bounded-memory principle).
  *
  * The walk is [[Webm.parseWebm]] on the prefix with the TRUE file
  * length — the SAME state machine, honesty refusals, and
  * prefix-boundable contract as the column operator's prefix path
  * ([[Webm.parseWebmHeaderPrefix]]), so the two paths cannot drift:
  * on any file whose metadata sits inside the prefix the row is
  * byte-identical to the column scan's. A cluster-first streamed
  * capture whose `Info`/`Tracks` trail beyond the prefix refuses
  * (`parsed = false`) — never a guessed field; raise `maxHeaderBytes`
  * or route the file to the column operator.
  */
object WebmShardSource {

  /** Header metadata for every file matched by `path` (file, glob,
    * or directory). Parallelism comes from many files, sliced one per
    * task by [[StreamUtil.scanFiles]] — the header read per file is
    * the escalating bounded prefix read
    * ([[graft.io.RandomAccess.parsePrefix]]: a faststart recording
    * answers from the first 64 KB, only a header past that pays the
    * full capped read), so a directory of N recordings costs N prefix
    * reads, not N full scans.
    */
  def metaScan(spark: SparkSession, path: String,
      maxHeaderBytes: Int = 8 << 20): Dataset[WebmShardMeta] = {
    import spark.implicits._
    require(maxHeaderBytes >= 8, "maxHeaderBytes must cover a header")
    StreamUtil.scanPath(spark, path)(_.stream) { (f, _) =>
      val meta = f.randomAccess.parsePrefix(maxHeaderBytes)(
        Webm.parseWebm(_, f.length))
      Iterator.single(meta match {
        case Some(m) => WebmShardMeta(f.path, f.length, m.docType,
          m.timescaleNs, m.durationMs, m.tracks, m.videoCodec,
          m.width, m.height, m.audioCodec, m.audioChannels,
          m.audioRate, parsed = true)
        case None => WebmShardMeta(f.path, f.length, "", 0L, 0L, 0, "",
          0, 0, "", 0, 0, parsed = false)
      })
    }
  }

  /** [[metaScan]] projected to the column operator's
    * [[Webm.webmMetaScan]] shape (path-keyed instead of id-keyed) —
    * the drop-in the stream/column byte-equality contract is stated
    * over.
    */
  def metaScanDF(spark: SparkSession, path: String,
      maxHeaderBytes: Int = 8 << 20): DataFrame =
    metaScan(spark, path, maxHeaderBytes).toDF()
      .select(col("shard_path"), col("file_bytes"), col("doc_type"),
        col("timescale_ns"), col("duration_ms"),
        col("tracks"), col("video_codec"), col("width"),
        col("height"), col("audio_codec"), col("audio_channels"),
        col("audio_rate"), col("parsed"))
}
