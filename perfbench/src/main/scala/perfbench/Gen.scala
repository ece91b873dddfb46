package perfbench

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

/** Seeded OSW archive generator. The program under test only ever sees the
  * ZIP files and request JSONs written here; every expectation the checker
  * uses is a closed form kept next to the bytes that produced it.
  */
object Gen {

  /** Layer name (as the engine routes it) → content table. */
  val tableOf: Map[String, String] = Map(
    "nodes" -> "node", "edges" -> "edge", "points" -> "extension_point",
    "lines" -> "extension_line", "polygons" -> "extension_polygon",
    "zones" -> "zone", "extension" -> "extension")

  /** One entry of an archive: its path, layer, share of the features and
    * geometry kinds it draws from.
    */
  final case class EntrySpec(path: String, layer: String, share: Double,
      geoms: Seq[String])

  /** An OSW export: nodes and edges dominate, small extension layers, one
    * extension file. Entry order is local-header order.
    */
  val oswExport: Seq[EntrySpec] = Seq(
    EntrySpec("export/city.nodes.geojson", "nodes", 0.50, Seq("Point")),
    EntrySpec("export/city.edges.geojson", "edges", 0.40, Seq("LineString")),
    EntrySpec("export/city.points.geojson", "points", 0.02, Seq("Point")),
    EntrySpec("export/city.lines.geojson", "lines", 0.02, Seq("LineString")),
    EntrySpec("export/city.polygons.geojson", "polygons", 0.02,
      Seq("Polygon", "MultiPolygon")),
    EntrySpec("export/city.zones.geojson", "zones", 0.02,
      Seq("Polygon", "MultiPolygon")),
    EntrySpec("export/amenities.geojson", "extension", 0.02,
      Seq("Point", "LineString", "Polygon")))

  /** What a correct load of one archive leaves behind. */
  final case class Expected(
      rows: Map[String, Long],                        // content table → rows
      stats: Map[(String, String), StatRow],          // (table, geometry) → row
      datasetInfo: Map[String, Map[String, String]],  // layer → header scalars
      extFiles: Seq[(Int, String, Map[String, String])], // id, name, header
      featureHash: Long) {
    def features: Long = rows.values.sum
  }

  final case class StatRow(count: Long, minLon: Double, maxLon: Double,
      minLat: Double, maxLat: Double) {
    def add(lon: Double, lat: Double): StatRow = StatRow(count + 1,
      math.min(minLon, lon), math.max(maxLon, lon),
      math.min(minLat, lat), math.max(maxLat, lat))
  }
  private def statOf(lon: Double, lat: Double) = StatRow(1, lon, lon, lat, lat)

  final case class Archive(bytes: Array[Byte], expected: Expected)

  /** Fixed entry time (zone-free): the same seed must give byte-identical
    * archives on any host.
    */
  private val EntryTime = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)

  private def putEntry(zos: ZipOutputStream, name: String): Unit = {
    val e = new ZipEntry(name)
    e.setTimeLocal(EntryTime)
    zos.putNextEntry(e)
  }

  /** A coordinate with six decimals. The checker compares parsed doubles,
    * so the expected value is the double this text parses to.
    */
  private final class Num(val text: String) { val value: Double = text.toDouble }

  /** `units` / 10^`decimals` as fixed-point text, without String.format. */
  private def fixed(units: Long, decimals: Int): String = {
    val scale = math.pow(10, decimals).toLong
    val a = math.abs(units)
    val frac = (a % scale).toString
    (if (units < 0) "-" else "") + (a / scale) + "." + ("0" * (decimals - frac.length)) + frac
  }

  /** Build an archive of about `features` features over `entries`. */
  def archive(seed: Long, features: Int, entries: Seq[EntrySpec] = oswExport,
      decoys: Boolean = true): Archive = {
    val rnd = new java.util.Random(seed)
    val buf = new ByteArrayOutputStream(features * 220)
    val zos = new ZipOutputStream(buf)
    zos.setLevel(6)
    val rows = mutable.LinkedHashMap[String, Long]()
    val stats = mutable.LinkedHashMap[(String, String), StatRow]()
    val info = mutable.LinkedHashMap[String, Map[String, String]]()
    val ext = mutable.ArrayBuffer[(Int, String, Map[String, String])]()
    var hash = 0L
    val baseLon = -122400000L + rnd.nextInt(100) * 10000L // micro-degrees
    val baseLat = 47500000L + rnd.nextInt(100) * 10000L

    if (decoys) { // skipped by the entry filter: not .geojson, or __MACOSX
      putEntry(zos, "export/README.txt")
      zos.write("OSW export".getBytes(UTF_8))
      putEntry(zos, "__MACOSX/export/._city.nodes.geojson")
      zos.write("""{"type":"FeatureCollection","features":[]}""".getBytes(UTF_8))
    }
    entries.zipWithIndex.foreach { case (spec, ei) =>
      val n = math.max(1, math.round(features * spec.share).toInt)
      val table = tableOf(spec.layer)
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(new NonClosing(zos), UTF_8), 1 << 16)
      putEntry(zos, spec.path)
      // header scalars before and after `features`; non-scalars and
      // booleans are not captured
      val before = Seq("$schema" -> s"\"https://sidewalks.example/osw/schema/${spec.layer}\"",
        "dataSource" -> """{"name":"generator"}""",
        "region" -> s"\"region-$ei-${rnd.nextInt(1000)}\"",
        "complete" -> "true")
      val after = Seq("dataTimestamp" -> s"\"2024-0${1 + ei % 9}-15T00:00:00Z\"",
        "featureCount" -> n.toString)
      val captured = Map(
        "$schema" -> s"https://sidewalks.example/osw/schema/${spec.layer}",
        "region" -> before(2)._2.stripPrefix("\"").stripSuffix("\""),
        "dataTimestamp" -> after(0)._2.stripPrefix("\"").stripSuffix("\""),
        "featureCount" -> n.toString)
      w.write("{\"type\":\"FeatureCollection\"")
      before.foreach { case (k, v) => w.write(s""","$k":$v""") }
      w.write(",\"features\":[")
      var i = 0
      while (i < n) {
        if (i > 0) w.write(',')
        val id = s"${spec.layer.head}$ei-$i"
        val g = spec.geoms(rnd.nextInt(spec.geoms.size))
        val f = feature(rnd, id, g, spec.layer, baseLon, baseLat)
        w.write(f.json)
        hash += Check.featureKeyHash(f.key)
        val k = (table, g)
        stats(k) = stats.get(k).map(_.add(f.lon, f.lat)).getOrElse(statOf(f.lon, f.lat))
        i += 1
      }
      w.write("]")
      after.foreach { case (k, v) => w.write(s""","$k":$v""") }
      w.write("}")
      w.flush()
      zos.closeEntry()
      rows(table) = rows.getOrElse(table, 0L) + n
      if (spec.layer == "extension") {
        val base = spec.path.substring(spec.path.lastIndexOf('/') + 1)
        ext += ((ext.size + 1, base.substring(0, base.lastIndexOf('.')), captured))
      } else info(spec.layer) = captured
    }
    zos.close()
    Archive(buf.toByteArray,
      Expected(rows.toMap, stats.toMap, info.toMap, ext.toSeq, hash))
  }

  /** An archive with no .geojson entry: its load must end as a typed
    * failure response with no rows left behind.
    */
  def emptyArchive(): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(buf)
    putEntry(zos, "export/README.txt")
    zos.write("no layers here".getBytes(UTF_8))
    putEntry(zos, "__MACOSX/export/._city.nodes.geojson")
    zos.write("""{"type":"FeatureCollection","features":[]}""".getBytes(UTF_8))
    zos.close()
    buf.toByteArray
  }

  final case class Feature(json: String, key: String, lon: Double, lat: Double)

  /** One feature with Z on every position (some zero), plus the canonical
    * key the checker derives from the loaded row.
    */
  private def feature(rnd: java.util.Random, id: String, geom: String,
      layer: String, baseLon: Long, baseLat: Long): Feature = {
    def pos(): (Num, Num, String) = {
      val lon = new Num(fixed(baseLon + rnd.nextInt(200000), 6))
      val lat = new Num(fixed(baseLat + rnd.nextInt(200000), 6))
      val z = if (rnd.nextInt(10) == 0) (if (rnd.nextBoolean()) "0" else "0.0")
        else fixed(10 + rnd.nextInt(3000), 1)
      (lon, lat, z)
    }
    def ring(k: Int): Seq[(Num, Num, String)] = {
      val ps = Seq.fill(k)(pos()); ps :+ ps.head
    }
    def txt(ps: Seq[(Num, Num, String)]) =
      ps.map { case (x, y, z) => s"[${x.text},${y.text},$z]" }.mkString("[", ",", "]")
    def key(ps: Seq[(Num, Num, String)]) =
      ps.map { case (x, y, _) => s"${x.value},${y.value}" }.mkString("[", ";", "]")
    val (coordsTxt, coordsKey, first) = geom match {
      case "Point" =>
        val p = pos(); (s"[${p._1.text},${p._2.text},${p._3}]",
          s"${p._1.value},${p._2.value}", p)
      case "LineString" =>
        val ps = Seq.fill(2 + rnd.nextInt(4))(pos()); (txt(ps), key(ps), ps.head)
      case "Polygon" =>
        val r = ring(3 + rnd.nextInt(3)); (s"[${txt(r)}]", s"[${key(r)}]", r.head)
      case "MultiPolygon" =>
        val a = ring(3); val b = ring(4)
        (s"[[${txt(a)}],[${txt(b)}]]", s"[[${key(a)}];[${key(b)}]]", a.head)
    }
    // an existing elevation property shifts the new key to ext:elevation_1
    val preElev = rnd.nextInt(50) == 0
    val props = new StringBuilder(s""""_id":"$id","highway":"${highways(rnd.nextInt(highways.size))}"""")
    if (preElev) props.append(""","ext:elevation":"survey"""")
    val elevations = mutable.ArrayBuffer[String]()
    if (preElev) elevations += "ext:elevation=survey"
    val z = first._3
    if ((layer == "nodes" || layer == "points") && z.toDouble != 0.0)
      elevations += s"${if (preElev) "ext:elevation_1" else "ext:elevation"}=${z.toDouble}"
    val json = s"""{"type":"Feature","geometry":{"type":"$geom","coordinates":$coordsTxt},"properties":{$props}}"""
    Feature(json, Check.featureKey(id, geom, coordsKey, elevations.toSeq.sorted),
      first._1.value, first._2.value)
  }

  private val highways = Vector("footway", "crossing", "sidewalk", "steps", "path")

  /** Writes through to the zip stream without closing it. */
  private final class NonClosing(out: java.io.OutputStream)
      extends java.io.FilterOutputStream(out) {
    override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
    override def close(): Unit = flush()
  }

  def writeFile(f: File, bytes: Array[Byte]): Unit = {
    f.getParentFile.mkdirs()
    val out = new FileOutputStream(f)
    try out.write(bytes) finally out.close()
  }

  /** A queue request envelope, as the subscription reads it. */
  def requestJson(messageId: String, dataType: String, path: String,
      datasetId: String): String =
    s"""{"messageId":"$messageId","messageType":"workflow-extract-load","data":{"data_type":"$dataType","file_upload_path":"$path","tdei_dataset_id":"$datasetId","user_id":"bench-user"}}"""

  // ---- operator-mix corpus ----------------------------------------------

  private val words = Vector("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "batch", "window", "spark", "order", "data",
    "column", "join", "small", "line", "customer", "query", "merge", "big",
    "stream", "filter", "sort", "the", "a", "of", "and")
  private val langs = Vector("en", "es", "zh", "de", "fr")

  /** Rows of the `documents` table: (doc_id, text, lang, source, n_chars). */
  def documents(seed: Long, n: Int): Seq[(Long, String, String, String, Long)] = {
    val rnd = new java.util.Random(seed)
    (0 until n).map { i =>
      val text = Seq.fill(20 + rnd.nextInt(60))(words(rnd.nextInt(words.size))).mkString(" ")
      (i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }
  }

  /** Rows of the `embeddings` table: (vec_id, 64 floats, label). */
  def embeddings(seed: Long, n: Int): Seq[(Long, Seq[Float], Int)] = {
    val rnd = new java.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong, Seq.fill(64)((rnd.nextGaussian() * 0.1).toFloat), rnd.nextInt(10))
    }
  }
}
