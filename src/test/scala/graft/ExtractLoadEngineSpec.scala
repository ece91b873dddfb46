package graft

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.model.{ExtractLoadRequest, Layer, QueueMessage}
import graft.service.ExtractLoadEngine
import graft.sources.GeoJsonZipSource

/** End-to-end pipeline spec: ZIP fixture (clone of the reference's mock
  * archive, `test/common/mock-utils.ts:13-17`) → source → geometry →
  * tables, plus the orchestration edge cases from
  * `test/unit/extract-load-service.test.ts` (zero-geojson error, late
  * headers, empty FeatureCollection metadata fallback, idempotent
  * reload, unimplemented data types).
  */
class ExtractLoadEngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fc(features: Seq[String], header: Map[String, String] = Map.empty,
      lateHeader: Map[String, String] = Map.empty): String = {
    val head = header.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val late = lateHeader.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"type":"FeatureCollection"${if (head.nonEmpty) "," + head else ""},
       |"features":[${features.mkString(",")}]${if (late.nonEmpty) "," + late else ""}}""".stripMargin
  }

  private def point(x: Double, y: Double, z: Option[Double], id: String): String =
    s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[$x,$y${z.map("," + _).getOrElse("")}]},"properties":{"_id":"$id"}}"""

  private def zipBytes(entries: (String, String)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entries.foreach { case (name, body) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(body.getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  private def writeZip(bytes: Array[Byte]): String = {
    val f = Files.createTempFile("graft-test", ".zip").toFile
    val out = new FileOutputStream(f); out.write(bytes); out.close()
    f.getAbsolutePath
  }

  private def mkEngine(): ExtractLoadEngine =
    new ExtractLoadEngine(spark,
      Files.createTempDirectory("graft-wh").toString)

  private val canonicalZip = zipBytes(
    "nodes.geojson" -> fc(
      Seq(point(-122.1, 47.6, Some(123.45), "n1"),
          point(-122.2, 47.7, Some(0.0), "n2"),
          point(-122.3, 47.8, None, "n3")),
      header = Map("name" -> "\"node-file\"")),
    "edges.geojson" -> fc(
      Seq("""{"type":"Feature","geometry":{"type":"LineString","coordinates":[[-122.1,47.6,100.0],[-122.2,47.7,200.0]]},"properties":{"_id":"e1"}}"""),
      lateHeader = Map("source" -> "\"test-suite\"", "rev" -> "7")),
    "zones.geojson" -> fc(
      Seq("""{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[0.0,0.0,9.0],[1.0,0.0,9.0],[1.0,1.0,9.0],[0.0,0.0,9.0]]]},"properties":{"_id":"z1"}}""")),
    "__MACOSX/junk.geojson" -> "not json at all",
    "readme.txt" -> "ignore me",
    "curbs.geojson" -> fc(
      Seq(point(1.0, 2.0, Some(5.0), "c1")),
      header = Map("name" -> "\"curb-file\""))
  )

  private def request(path: String, id: String = "ds1") = QueueMessage(
    s"$id|job", "workflow", ExtractLoadRequest("osw", path, id, "user123"))

  test("source: entry filter, routing, features and late headers") {
    import spark.implicits._
    val recs = GeoJsonZipSource.expandZip("z", canonicalZip).toSeq
    assert(recs.map(_.entry_path).distinct ==
      Seq("nodes.geojson", "edges.geojson", "zones.geojson", "curbs.geojson"))
    assert(recs.count(_.kind == "feature") == 6) // 3 nodes + 1 edge + 1 zone + 1 curb
    val edgeHeader = recs.find(r => r.entry_path == "edges.geojson" && r.kind == "header").get
    // late header keys captured; number captured as number; type excluded
    assert(edgeHeader.header == """{"source":"test-suite","rev":7}""")
    assert(recs.find(_.entry_path == "curbs.geojson").get.layer == "extension")
  }

  test("e2e: canonical archive loads all tables with geometry rules applied") {
    val engine = mkEngine()
    val resp = engine.processRequest(request(writeZip(canonicalZip)))
    assert(resp.success, resp.message)
    assert(resp.message == "Data loaded successfully")

    val nodes = engine.warehouse.table("node").collect()
      .map(_.getAs[String]("feature"))
    assert(nodes.length == 3)
    val n1 = nodes.find(_.contains("\"n1\"")).get
    assert(n1.contains(""""coordinates":[-122.1,47.6]"""))
    assert(n1.contains(""""ext:elevation":123.45"""))
    val n2 = nodes.find(_.contains("\"n2\"")).get
    assert(!n2.contains("ext:elevation")) // zero Z skipped

    val edges = engine.warehouse.table("edge").collect()
    assert(edges.length == 1)
    assert(edges(0).getAs[String]("feature")
      .contains("""[[-122.1,47.6],[-122.2,47.7]]"""))

    // extension layer: curbs.geojson → content_extension with ext_file_id
    val ext = engine.warehouse.table("extension").collect()
    assert(ext.length == 1 && ext(0).getAs[Int]("ext_file_id") == 1)
    val extFile = engine.warehouse.table("extension_file").collect()
    assert(extFile.length == 1)
    assert(extFile(0).getAs[String]("name") == "curbs")
    assert(extFile(0).getAs[String]("file_meta") == """{"name":"curb-file"}""")

    // dataset metadata: node_info / event_info / zone_info populated
    val ds = engine.warehouse.table("dataset").collect()(0)
    assert(ds.getAs[String]("node_info") == """{"name":"node-file"}""")
    assert(ds.getAs[String]("event_info") == """{"source":"test-suite","rev":7}""")
    assert(ds.getAs[String]("zone_info") == "{}")
    assert(ds.getAs[String]("ext_point_info") == null)

    // stats
    val stats = engine.warehouse.table("stats").collect()
    val nodeStat = stats.find(_.getAs[String]("layer_table") == "node").get
    assert(nodeStat.getAs[Long]("feature_count") == 3)
    assert(nodeStat.getAs[String]("geometry_type") == "Point")

    // response log
    assert(engine.warehouse.table("response").collect().length == 1)
  }

  test("e2e: reload is idempotent and drops stale layers") {
    val engine = mkEngine()
    assert(engine.processRequest(request(writeZip(canonicalZip))).success)
    assert(engine.processRequest(request(writeZip(canonicalZip))).success)
    assert(engine.warehouse.table("node").count() == 3) // not doubled

    // reload with fewer layers → stale edge rows for ds1 are gone
    val smaller = zipBytes("nodes.geojson" -> fc(Seq(point(1, 2, None, "n9"))))
    assert(engine.processRequest(request(writeZip(smaller))).success)
    assert(engine.warehouse.table("node").count() == 1)
    import org.apache.spark.sql.functions.col
    assert(!engine.warehouse.tableExists("edge") ||
      engine.warehouse.table("edge").filter(col("tdei_dataset_id") === "ds1").count() == 0)
  }

  test("zero .geojson entries → failure response with reference message") {
    val engine = mkEngine()
    val resp = engine.processRequest(
      request(writeZip(zipBytes("readme.txt" -> "x", "__MACOSX/a.geojson" -> "y"))))
    assert(!resp.success)
    assert(resp.message ==
      "Error loading the data : No valid .geojson files found in dataset archive.")
  }

  test("empty FeatureCollection still writes metadata (insert([]) fallback)") {
    val engine = mkEngine()
    val z = zipBytes("points.geojson" -> fc(Seq.empty, header = Map("name" -> "\"empty\"")))
    assert(engine.processRequest(request(writeZip(z))).success)
    val ds = engine.warehouse.table("dataset").collect()(0)
    assert(ds.getAs[String]("ext_point_info") == """{"name":"empty"}""")
    assert(!engine.warehouse.tableExists("extension_point"))
  }

  test("flex/pathways → Method not implemented failure") {
    val engine = mkEngine()
    val resp = engine.processRequest(QueueMessage("m", "w",
      ExtractLoadRequest("flex", "/nope.zip", "ds2", "u")))
    assert(!resp.success && resp.message.contains("Method not implemented."))
    assert(resp.status == 500)
  }

  test("e2e: typed DB failures publish the reference's translated response") {
    // a unique-key violation during the load must flow through the
    // terminal error translation (ErrorMapping.toResponse, the
    // error-handler-middleware parity) and publish the reference's
    // 400/"already exists" form — not a generic 500
    val engine = new ExtractLoadEngine(spark,
      Files.createTempDirectory("graft-wh").toString) {
      override def processOswDataset(msg: QueueMessage): Unit =
        throw new graft.sinks.UniqueKeyDbException("record_id_unique", null)
    }
    val resp = engine.processRequest(request("/ignored.zip"))
    assert(!resp.success)
    assert(resp.status == 400)
    assert(resp.message ==
      "Error loading the data : Input with value 'record_id_unique' already exists.")
    // …and the PUBLISHED row (response table) carries the same typed form
    val row = engine.warehouse.table("response").collect()(0)
    assert(row.getAs[Int]("status") == 400)
    assert(row.getAs[String]("message").contains("already exists"))
    // foreign-key form: 400 with the constraint message
    val engine2 = new ExtractLoadEngine(spark,
      Files.createTempDirectory("graft-wh").toString) {
      override def processOswDataset(msg: QueueMessage): Unit =
        throw new graft.sinks.ForeignKeyDbException("dataset_fk", null)
    }
    val resp2 = engine2.processRequest(request("/ignored.zip"))
    assert(resp2.status == 400 && resp2.message ==
      "Error loading the data : No reference found for the constraint 'dataset_fk' in the system.")
    // a success publishes status 200
    val ok = mkEngine()
    val okResp = ok.processRequest(request(writeZip(canonicalZip)))
    assert(okResp.success && okResp.status == 200)
  }

  test("health ping answers the reference's exact body on a live session") {
    // health-controller.ts:12-21 parity: the probe proves the scheduler
    // still answers and returns the verbatim body
    assert(graft.service.Health.ping(spark) == "I'm healthy !!")
  }

  test("source reads a directory / glob of archives, one task stream each") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-multi")
    Seq("a", "b", "c").foreach { n =>
      val z = zipBytes(s"${n}_nodes.geojson" ->
        fc(Seq(point(1, 2, None, s"$n-id"))))
      val out = new FileOutputStream(dir.resolve(s"$n.zip").toFile)
      out.write(z); out.close()
    }
    // directory form
    val recs = GeoJsonZipSource.read(spark, dir.toString).collect()
    assert(recs.map(_.zip_path).distinct.length == 3)
    assert(recs.count(_.kind == "feature") == 3)
    // glob form
    val globbed = GeoJsonZipSource.read(spark, s"$dir/*.zip").collect()
    assert(globbed.count(_.kind == "header") == 3)
    // missing path → FileNotFoundException (engine turns it into a
    // failure response)
    intercept[java.io.FileNotFoundException] {
      GeoJsonZipSource.read(spark, s"$dir/nothing-*.zip")
    }
  }

  test("last entry per layer wins for dataset metadata") {
    val engine = mkEngine()
    val z = zipBytes(
      "a_nodes.geojson" -> fc(Seq(point(1, 2, None, "a")), header = Map("name" -> "\"first\"")),
      "b_nodes.geojson" -> fc(Seq(point(3, 4, None, "b")), header = Map("name" -> "\"second\"")))
    assert(engine.processRequest(request(writeZip(z))).success)
    val ds = engine.warehouse.table("dataset").collect()(0)
    assert(ds.getAs[String]("node_info") == """{"name":"second"}""")
    assert(engine.warehouse.table("node").count() == 2)
  }

  /** One entry per layer: nodes, edges, points, lines, polygons, zones
    * and an extension file.
    */
  private val sevenLayerZip = zipBytes(
    "nodes.geojson" -> fc(Seq(point(1, 2, Some(3.0), "n1"), point(-1, -2, None, "n2"))),
    "edges.geojson" -> fc(Seq(
      """{"type":"Feature","geometry":{"type":"LineString","coordinates":[[1.0,2.0],[3.0,4.0]]},"properties":{"_id":"e1"}}"""),
      header = Map("name" -> "\"edges\"")),
    "points.geojson" -> fc(Seq(point(5, 6, Some(7.0), "p1"))),
    "lines.geojson" -> fc(Seq(
      """{"type":"Feature","geometry":{"type":"LineString","coordinates":[[0.5,0.5],[1.5,1.5]]},"properties":{"_id":"l1"}}""")),
    "polygons.geojson" -> fc(Seq(
      """{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,0.0]]]},"properties":{"_id":"g1"}}""")),
    "zones.geojson" -> fc(Seq(
      """{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[2.0,2.0],[3.0,2.0],[3.0,3.0],[2.0,2.0]]]},"properties":{"_id":"z1"}}""")),
    "curbs.geojson" -> fc(Seq(point(8, 9, None, "c1"))))

  /** Every `content_<table>/tdei_dataset_id=…` directory under a warehouse root. */
  private def datasetPartitions(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(t => t.isDirectory && t.getName.startsWith("content_"))
      .flatMap(t => Option(t.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("tdei_dataset_id="))
        .map(p => s"${t.getName}/${p.getName}"))
      .sorted

  test("dataset ids with path-special characters: pre-clean finds Spark's escaped partitions") {
    val engine = mkEngine()
    val root = engine.warehouse.root
    assert(engine.processRequest(request(writeZip(canonicalZip), id = "ds:1")).success)
    assert(datasetPartitions(root).contains("content_zone/tdei_dataset_id=ds%3A1"))
    assert(engine.warehouse.partitionExists("zone", "ds:1"))

    // reload without the zones entry: the stale zone layer must go
    val noZones = zipBytes(
      "nodes.geojson" -> fc(Seq(point(1, 2, None, "n9"))),
      "edges.geojson" -> fc(Seq(
        """{"type":"Feature","geometry":{"type":"LineString","coordinates":[[1.0,2.0],[3.0,4.0]]},"properties":{"_id":"e9"}}""")))
    assert(engine.processRequest(request(writeZip(noZones), id = "ds:1")).success)
    assert(!engine.warehouse.partitionExists("zone", "ds:1"))
    assert(!engine.warehouse.partitionExists("extension", "ds:1"))
    assert(engine.warehouse.table("zone").count() == 0)
    val nodes = engine.warehouse.table("node").collect()
    assert(nodes.length == 1 && nodes(0).getAs[String]("tdei_dataset_id") == "ds:1")
    assert(engine.warehouse.table("stats").collect().map(_.getAs[String]("layer_table")).sorted
      .sameElements(Seq("edge", "node")))
  }

  test("staged write: every layer lands under its table, schemas unchanged, staging emptied") {
    val engine = mkEngine()
    val root = engine.warehouse.root
    assert(engine.processRequest(request(writeZip(sevenLayerZip), id = "ds7")).success)
    assert(datasetPartitions(root) == Seq("node", "edge", "extension_point", "extension_line",
      "extension_polygon", "zone", "extension", "dataset", "extension_file", "stats")
      .map(t => s"content_$t/tdei_dataset_id=ds7").sorted)
    val staging = new java.io.File(root, "_staging")
    assert(Option(staging.listFiles()).forall(_.isEmpty), "staging leftovers")
    // each plain table's files hold exactly (feature, requested_by)
    Seq("node", "edge", "extension_point", "extension_line", "extension_polygon", "zone").foreach { t =>
      val files = spark.read.parquet(engine.warehouse.partitionPath(t, "ds7"))
      assert(files.schema.fieldNames.toSeq == Seq("feature", "requested_by"), t)
      assert(files.count() == (if (t == "node") 2 else 1), t)
    }
    assert(spark.read.parquet(engine.warehouse.partitionPath("extension", "ds7"))
      .schema.fieldNames.toSeq == Seq("ext_file_id", "feature", "requested_by"))
    val stats = engine.warehouse.table("stats").collect().map { r =>
      (r.getAs[String]("layer_table"), r.getAs[String]("geometry_type"),
        r.getAs[Long]("feature_count"), r.getAs[Double]("min_lon"), r.getAs[Double]("max_lat"))
    }.toSet
    assert(stats == Set(("node", "Point", 2L, -1.0, 2.0), ("edge", "LineString", 1L, 1.0, 2.0),
      ("extension_point", "Point", 1L, 5.0, 6.0), ("extension_line", "LineString", 1L, 0.5, 0.5),
      ("extension_polygon", "Polygon", 1L, 0.0, 0.0), ("zone", "Polygon", 1L, 2.0, 2.0),
      ("extension", "Point", 1L, 8.0, 9.0)))

    // the stored-table refresh computes the same stats rows
    def statRows = engine.warehouse.table("stats").collect().map(_.toSeq).toSet
    val fromLoad = statRows
    engine.updateStats("ds7")
    assert(statRows == fromLoad)
  }

  test("a failed feature write leaves no partition, no staging, and a failure response") {
    val engine = mkEngine()
    val root = engine.warehouse.root
    assert(engine.processRequest(request(writeZip(sevenLayerZip), id = "dsf")).success)
    assert(datasetPartitions(root).nonEmpty)
    // an unwritable staging root: a plain file where the directory goes
    val staging = new java.io.File(root, "_staging")
    staging.delete()
    assert(staging.createNewFile())
    val resp = engine.processRequest(request(writeZip(sevenLayerZip), id = "dsf"))
    assert(!resp.success && resp.message.startsWith("Error loading the data :"))
    assert(resp.status == 500)
    assert(datasetPartitions(root).isEmpty, datasetPartitions(root))
    assert(staging.isFile && staging.length == 0, "staging leftovers")
    assert(engine.warehouse.table("response").filter("success = false").count() == 1)
  }

  test("job budget: one 7-layer load submits a fixed number of Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val tagKey = "graft.test.tag"
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tagKey)))
          .foreach(t => jobs.put(e.jobId, t))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, true)
    }
    val sc = spark.sparkContext
    val engine = mkEngine()
    val zip = writeZip(sevenLayerZip)
    // warm-up load, so the counted load plans like a steady-state one
    assert(engine.processRequest(request(zip, id = "warm")).success)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tagKey, "load")
      assert(engine.processRequest(request(zip, id = "budget")).success)
      // a marker job after the load: listener events arrive in order, so
      // once the marker has ended, every job of the load has been seen
      sc.setLocalProperty(tagKey, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000
      def markerEnded = jobs.asScala.exists { case (id, t) => t == "marker" && ended.containsKey(id) }
      while (!markerEnded && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(markerEnded, "listener never saw the marker job")
    } finally {
      sc.setLocalProperty(tagKey, null)
      sc.removeSparkListener(listener)
    }
    // 1 parse aggregation (builds the cache), 1 staged write of the six
    // plain tables, 1 extension write, 2 metadata writes, 1 stats write,
    // 1 response append
    assert(jobs.asScala.count(_._2 == "load") == 7, jobs)
  }

  test("multi-archive load: headers ordered by archive in resolved order, then entry") {
    val dir = Files.createTempDirectory("graft-multi-meta")
    Seq("a", "b").foreach { n =>
      val z = zipBytes(
        "nodes.geojson" -> fc(Seq(point(1, 2, None, s"$n-1")), header = Map("name" -> s"\"$n-nodes\"")),
        "x_nodes.geojson" -> fc(Seq(point(3, 4, None, s"$n-2")), header = Map("name" -> s"\"$n-x\"")))
      val out = new FileOutputStream(dir.resolve(s"$n.zip").toFile)
      out.write(z); out.close()
    }
    val last = GeoJsonZipSource.archives(spark, dir.toString).last
    val lastName = last.substring(last.lastIndexOf('/') + 1).stripSuffix(".zip")
    val engine = mkEngine()
    assert(engine.processRequest(request(dir.toString)).success)
    val ds = engine.warehouse.table("dataset").collect()(0)
    assert(ds.getAs[String]("node_info") == s"""{"name":"$lastName-x"}""")
    assert(engine.warehouse.table("node").count() == 4)
  }
}
