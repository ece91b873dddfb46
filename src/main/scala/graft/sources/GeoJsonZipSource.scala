package graft.sources

import java.io.{ByteArrayInputStream, InputStream}
import java.util.zip.ZipInputStream

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.functions.GeoFunctions
import graft.model.Layer

/** One parsed record out of a dataset ZIP.
  *
  * `kind` is either `"feature"` (one GeoJSON feature, compact JSON in
  * `feature`) or `"header"` (exactly one per .geojson entry, after all of
  * its features; root-level scalar header keys as a JSON object in
  * `header` — the reference's single-pass header capture, including keys
  * that appear AFTER the `features` array).
  *
  * A feature record also carries its stats keys (`geometry_type`,
  * `anchor_lon`, `anchor_lat`; see `GeoFunctions.statsKeys`), read from
  * the tree the parse already built, so stats never re-parse `feature`.
  * They are null on header records.
  */
final case class ParsedRecord(
    zip_path: String,
    entry_path: String,
    entry_seq: Int, // 0-based position of the entry within its archive
    layer: String,
    kind: String,
    feature: String,
    header: String,
    geometry_type: String,
    anchor_lon: Option[Double],
    anchor_lat: Option[Double]
)

/** ZIP + GeoJSON source (reference S2–S7).
  *
  * The reference streams a ZIP from blob storage, walks entries serially,
  * and token-streams each `.geojson` so the file is never materialized
  * (`src/service/extract-load-service.ts:210-234,298-318`). Re-expressed
  * for Spark: archive *paths* are distributed as a `Dataset[String]`, and
  * each task opens a Hadoop `FSDataInputStream` and walks a lazy
  * ZipInputStream/Jackson-streaming iterator — the archive is NEVER
  * materialized in memory, so a 50 GB ZIP costs the same executor memory
  * as a 5 MB one (one feature tree at a time).
  *
  * Parallelism: the resolved path list is sliced straight into
  * `min(archives, defaultParallelism)` partitions (`parallelize`: no
  * shuffle, no extra job), so each task streams one archive while
  * archives ≤ cores. The unit of work is the archive, matching the
  * reference's job-per-ZIP model; a single ZIP is one task, since a
  * streamed ZIP has no central directory to split on.
  *
  * With `transform = true` the per-feature geometry rewrite (P7) is FUSED
  * into the parse loop: the feature tree Jackson just built is rewritten
  * in place and serialized once, instead of serialize → re-parse in a UDF
  * downstream (which would double the dominant CPU cost at scale).
  *
  * Entry filter parity: `.geojson` suffix, skip `__MACOSX/`
  * (`extract-load-service.ts:303`). Header capture parity
  * (`:139-178`): only root-level STRING and NUMBER scalars; string
  * values equal to `"FeatureCollection"` are skipped (that is how `type`
  * is excluded); booleans/nulls/objects/arrays are not captured; the
  * `features` key itself is never captured.
  */
object GeoJsonZipSource {

  private val jsonFactory = new JsonFactory()
  @transient private lazy val mapper = new ObjectMapper()

  def isGeoJsonEntry(path: String): Boolean =
    path.endsWith(".geojson") && !path.contains("__MACOSX/")

  /** Archive files named by a path, glob or directory, in resolution
    * order (the order [[read]] gives them to tasks).
    */
  def archives(spark: SparkSession, path: String): Seq[String] =
    StreamUtil.resolveFiles(spark, path)

  /** Read one or more ZIP archives (path, glob, or directory) into a
    * DataFrame of ParsedRecord, streaming each archive from the
    * filesystem — no whole-file materialization.
    */
  def read(spark: SparkSession, path: String,
      transform: Boolean = false): Dataset[ParsedRecord] =
    read(spark, archives(spark, path), transform)

  /** Read already-resolved archive files (parallelism: see the object doc). */
  def read(spark: SparkSession, files: Seq[String],
      transform: Boolean): Dataset[ParsedRecord] = {
    import spark.implicits._
    val hconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val parallelism =
      math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(spark.sparkContext.parallelize(files, parallelism))
      .flatMap { p =>
        val fsPath = new Path(p)
        val fs = fsPath.getFileSystem(hconf.value)
        val in = fs.open(fsPath)
        val zin = new ZipInputStream(in)
        // Failure backstop: close at task end. The happy path closes
        // eagerly below — a task that iterates many archives must not
        // hold every file descriptor until the task finishes.
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => zin.close()))
        closeOnExhaustion(expandZipStream(p, zin, transform), zin)
      }
  }

  /** Expand a (path, content) DataFrame of already-materialized ZIP blobs
    * (e.g. a `binaryFile` scan or binary column) into ParsedRecords.
    */
  def expand(zips: DataFrame, transform: Boolean = false): Dataset[ParsedRecord] = {
    val spark = zips.sparkSession
    import spark.implicits._
    zips
      .select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (zipPath, content) =>
        expandZipStream(zipPath,
          new ZipInputStream(new ByteArrayInputStream(content)), transform)
      }
  }

  /** Expand in-memory ZIP bytes (tests / small fixtures). */
  def expandZip(zipPath: String, content: Array[Byte],
      transform: Boolean = false): Iterator[ParsedRecord] =
    expandZipStream(zipPath,
      new ZipInputStream(new ByteArrayInputStream(content)), transform)

  /** Lazily walk a ZIP stream: for each `.geojson` entry, stream its
    * features and finish with one header record. Entries are walked
    * serially (a streamed ZIP admits nothing else — same constraint the
    * reference documents at `extract-load-service.ts:305-307`).
    */
  def expandZipStream(zipPath: String, zin: ZipInputStream,
      transform: Boolean): Iterator[ParsedRecord] = {
    val entryIt = Iterator
      .continually(zin.getNextEntry)
      .takeWhile(_ != null)
      .filter(e => !e.isDirectory && isGeoJsonEntry(e.getName))
      .zipWithIndex
      .map { case (e, i) => entryRecords(zipPath, e.getName, i, zin, transform) }
    entryIt.flatten
  }

  /** Single-pass parse of one FeatureCollection stream: emits each element
    * of the root `features` array as a compact-JSON "feature" record, then
    * one trailing "header" record with the captured root scalars.
    * Only one feature tree is in memory at a time.
    */
  def entryRecords(zipPath: String, entryPath: String, entrySeq: Int,
      in: InputStream, transform: Boolean = false): Iterator[ParsedRecord] = {
    val layer = Layer.route(entryPath).name
    val parser = jsonFactory.createParser(new NonClosingInputStream(in))
    val header = mapper.createObjectNode()

    new Iterator[ParsedRecord] {
      private var nextRec: ParsedRecord = null
      private var done = false
      private var headerEmitted = false
      private var inFeatures = false
      private var rootStarted = false

      private def capture(key: String): Unit = {
        // reference: stringValue skipped when value == "FeatureCollection";
        // numberValue captured for any key except `features`
        parser.currentToken() match {
          case JsonToken.VALUE_STRING =>
            val v = parser.getText
            if (key != "features" && v != "FeatureCollection")
              header.put(key, v)
          case JsonToken.VALUE_NUMBER_INT =>
            if (key != "features") header.put(key, parser.getLongValue)
          case JsonToken.VALUE_NUMBER_FLOAT =>
            if (key != "features") header.put(key, parser.getDoubleValue)
          case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
            parser.skipChildren() // non-scalar root values are not captured
          case _ => // true/false/null: not captured (reference parity)
        }
      }

      private def advance(): Unit = {
        nextRec = null
        while (nextRec == null) {
          if (inFeatures) {
            val t = parser.nextToken()
            if (t == JsonToken.END_ARRAY || t == null) { inFeatures = false }
            else {
              var node = mapper.readTree[com.fasterxml.jackson.databind.JsonNode](parser)
              if (transform) node = GeoFunctions.processGeometryNode(node, layer)
              val keys = GeoFunctions.statsKeys(node)
              nextRec = ParsedRecord(zipPath, entryPath, entrySeq, layer,
                "feature", mapper.writeValueAsString(node), null,
                keys.geometryType, keys.lon, keys.lat)
            }
          } else {
            val t = parser.nextToken()
            if (t == null) {
              if (!headerEmitted) {
                headerEmitted = true
                nextRec = ParsedRecord(zipPath, entryPath, entrySeq, layer,
                  "header", null, mapper.writeValueAsString(header), null, None, None)
              } else return
            } else if (!rootStarted) {
              // tolerate any root shape; only objects produce fields
              rootStarted = true
              if (t != JsonToken.START_OBJECT) { parser.skipChildren() }
            } else if (t == JsonToken.FIELD_NAME) {
              val key = parser.currentName()
              parser.nextToken()
              if (key == "features" && parser.currentToken() == JsonToken.START_ARRAY)
                inFeatures = true
              else capture(key)
            } else if (t == JsonToken.END_OBJECT) {
              // fall through; next nextToken() returns null → header record
            }
          }
        }
      }

      override def hasNext: Boolean = {
        if (nextRec == null && !done) {
          advance()
          if (nextRec == null) done = true
        }
        nextRec != null
      }
      override def next(): ParsedRecord = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextRec
        nextRec = null
        r
      }
    }
  }

  private def closeOnExhaustion[T](it: Iterator[T],
      closeable: java.io.Closeable): Iterator[T] =
    StreamUtil.closeOnExhaustion(it, closeable)

  /** Jackson closes the stream it parses by default; the ZipInputStream
    * must survive to serve the next entry.
    */
  private final class NonClosingInputStream(in: InputStream) extends java.io.FilterInputStream(in) {
    override def close(): Unit = () // leave the underlying zip stream open
  }
}
