package perfbench

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Output checks. They run after the timed region and decide which
  * operations count as failed.
  */
object Check {

  /** The harness's JSON reader and writer (Scala maps and sequences too):
    * loaded features, results, spans and check files.
    */
  lazy val mapper: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Canonical form of one loaded feature: id, geometry type, coordinates
    * (every number of every position, so a Z left behind shows) and the
    * `ext:elevation*` properties.
    */
  def featureKey(id: String, geom: String, coords: String,
      elevations: Seq[String]): String =
    s"$id|$geom|$coords|${elevations.mkString(",")}"

  /** 64-bit hash of a canonical key; sums of these are order-independent. */
  def featureKeyHash(key: String): Long =
    (MurmurHash3.stringHash(key, 0x5eed).toLong << 32) ^
      (MurmurHash3.stringHash(key, 0x0bad).toLong & 0xffffffffL)

  private def coordsKey(n: JsonNode): String =
    if (n == null || !n.isArray) String.valueOf(n)
    else if (n.size > 0 && n.elements().asScala.forall(_.isNumber))
      n.elements().asScala.map(_.asDouble.toString).mkString(",")
    else n.elements().asScala.map(coordsKey).mkString("[", ";", "]")

  /** Canonical key of a feature as the engine stored it. */
  def loadedKey(json: String): String = {
    val f = mapper.readTree(json)
    val props = f.path("properties")
    val elevations = props.fieldNames().asScala.filter(_.startsWith("ext:elevation"))
      .map { k =>
        val v = props.get(k)
        s"$k=${if (v.isNumber) v.asDouble.toString else v.asText}"
      }.toSeq.sorted
    featureKey(props.path("_id").asText, f.path("geometry").path("type").asText,
      coordsKey(f.path("geometry").path("coordinates")), elevations)
  }

  /** Header scalars of a stored info column, as strings. */
  def infoMap(json: String): Map[String, String] =
    if (json == null) null
    else mapper.readTree(json).fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap

  /** One request the run sent, and what it should have left behind. */
  final case class Load(messageId: String, datasetId: String,
      expected: Option[Gen.Expected], status: Int, success: Boolean)

  /** Per-(table, dataset) rows and hash sum of every feature table, in
    * one job computed on the executors from the stored JSON.
    */
  private def digests(spark: SparkSession, root: String,
      tables: Seq[String]): Map[(String, String), (Long, Long)] = {
    import spark.implicits._
    val parts = tables.filter(t => new java.io.File(s"$root/content_$t").exists()).map { t =>
      spark.read.parquet(s"$root/content_$t")
        .select(lit(t).as("t"), col("tdei_dataset_id"), col("feature"))
    }
    if (parts.isEmpty) return Map.empty
    parts.reduce(_ unionByName _).as[(String, String, String)]
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap[(String, String), (Long, Long)]()
        it.foreach { case (t, ds, f) =>
          val (n, h) = acc.getOrElse((t, ds), (0L, 0L))
          acc((t, ds)) = (n + 1, h + featureKeyHash(loadedKey(f)))
        }
        acc.iterator
      }.collect()
      .groupMapReduce(_._1)(_._2) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  private def read(spark: SparkSession, path: String): DataFrame =
    if (new java.io.File(path).exists()) spark.read.parquet(path)
    else spark.emptyDataFrame

  /** Check every load against its closed form; returns the failure
    * message of each message id that is wrong.
    */
  def loads(spark: SparkSession, root: String, loads: Seq[Load]): Map[String, String] = {
    val tables = Gen.tableOf.values.toSeq.distinct
    val digest = digests(spark, root, tables)
    val extIds = {
      val p = s"$root/content_extension"
      if (!new java.io.File(p).exists()) Map.empty[(String, Int), Long]
      else spark.read.parquet(p).groupBy("tdei_dataset_id", "ext_file_id").count()
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    }
    def rowsOf(t: String, cols: String*) = {
      val df = read(spark, s"$root/content_$t")
      if (df.columns.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else df.select(cols.map(col): _*).collect()
    }
    val stats = rowsOf("stats", "tdei_dataset_id", "layer_table", "geometry_type",
      "feature_count", "min_lon", "max_lon", "min_lat", "max_lat")
      .groupBy(_.getString(0))
    val metaCols = Seq("node_info", "event_info", "ext_point_info", "ext_line_info",
      "ext_polygon_info", "zone_info")
    val metaLayers = Seq("nodes", "edges", "points", "lines", "polygons", "zones")
    val datasets = rowsOf("dataset", ("tdei_dataset_id" +: metaCols): _*)
      .groupBy(_.getString(0))
    val extFiles = rowsOf("extension_file", "tdei_dataset_id", "id", "name",
      "file_meta", "requested_by").groupBy(_.getString(0))
    val responses = rowsOf("response", "messageId", "success", "status")
      .groupBy(_.getString(0))

    loads.flatMap { l =>
      val errs = scala.collection.mutable.ArrayBuffer[String]()
      responses.getOrElse(l.messageId, Array.empty) match {
        case Array(r) =>
          if (r.getBoolean(1) != l.success || r.getInt(2) != l.status)
            errs += s"response success=${r.getBoolean(1)} status=${r.getInt(2)}"
        case rs => errs += s"${rs.length} response rows"
      }
      val e = l.expected
      tables.foreach { t =>
        val got = digest.get((t, l.datasetId))
        val want = e.flatMap(_.rows.get(t))
        if (got.map(_._1) != want) errs += s"$t rows ${got.map(_._1)} != $want"
      }
      val hash = tables.flatMap(t => digest.get((t, l.datasetId))).map(_._2).sum
      if (hash != e.map(_.featureHash).getOrElse(0L)) errs += "feature hash differs"
      val gotStats = stats.getOrElse(l.datasetId, Array.empty).map { r =>
        (r.getString(1), r.getString(2)) -> Gen.StatRow(r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7))
      }.toMap
      if (gotStats != e.map(_.stats).getOrElse(Map.empty)) errs += "stats rows differ"
      val gotInfo = datasets.getOrElse(l.datasetId, Array.empty).map { r =>
        metaLayers.zipWithIndex.flatMap { case (layer, i) =>
          Option(r.getString(i + 1)).map(j => layer -> infoMap(j)) }.toMap
      }.toSeq
      if (gotInfo != e.map(x => Seq(x.datasetInfo)).getOrElse(Nil)) errs += "dataset row differs"
      val gotExt = extFiles.getOrElse(l.datasetId, Array.empty)
        .map(r => (r.getInt(1), r.getString(2), infoMap(r.getString(3)))).sortBy(_._1).toSeq
      if (gotExt != e.map(_.extFiles).getOrElse(Nil)) errs += "extension_file rows differ"
      val gotExtIds = extIds.collect { case ((ds, id), n) if ds == l.datasetId => id -> n }
      val wantExtIds = e.flatMap(_.rows.get("extension")).map(n => Map(1 -> n)).getOrElse(Map.empty)
      if (gotExtIds != wantExtIds) errs += "extension ext_file_id differs"
      if (errs.isEmpty) None else Some(l.messageId -> errs.mkString("; "))
    }.toMap
  }
}
