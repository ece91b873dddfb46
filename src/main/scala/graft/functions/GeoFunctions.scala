package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** Geometry transforms of the extract-load pipeline.
  *
  * GeoJSON `coordinates` nest 1–4 levels deep depending on the geometry
  * class (Point → MultiPolygon), so no single Spark SQL type models them;
  * we carry features as JSON strings and rewrite the tree with Jackson on
  * the executors. Semantics are an exact re-expression of the reference:
  *  - stripZ: `src/service/extract-load-service.ts:556-569`
  *  - stripZAndExtractElevation: `:577-604` (first Z found, depth-first)
  *  - countExistingElevationProperties: `:543-549`
  *  - processGeometryElevation: `:613-654` (zero-Z skipped; property name
  *    `ext:elevation`, then `ext:elevation_N` where N = count of existing
  *    `ext:elevation*` keys; errors swallowed → feature unchanged)
  *
  * Built-in higher-order functions (`transform`) cannot recurse to a
  * variable depth, hence the custom functions. They are pure
  * String→String, stateless, and codegen-adjacent (a single Scala UDF
  * call inside whole-stage codegen); the Jackson parse dominates cost.
  */
object GeoFunctions extends Serializable {

  // ObjectMapper is thread-safe after configuration; one per JVM/executor.
  @transient private lazy val mapper = new ObjectMapper()

  private def isNum(n: JsonNode): Boolean = n != null && n.isNumber

  /** A "coordinate position" is an array whose first two elements are
    * numbers — anything longer keeps only [x, y], exactly like the
    * reference (even `[1, 2, [3, 4]]` → `[1, 2]`).
    */
  private def isPosition(arr: ArrayNode): Boolean =
    arr.size >= 2 && isNum(arr.get(0)) && isNum(arr.get(1))

  /** Recursively rewrite `[x, y, z, …] → [x, y]` at any nesting depth.
    * Non-arrays pass through unchanged. Original number nodes are reused
    * so values round-trip exactly (no double re-formatting).
    */
  def stripZ(node: JsonNode): JsonNode = {
    if (node == null || !node.isArray) return node
    val arr = node.asInstanceOf[ArrayNode]
    if (isPosition(arr)) {
      val out = mapper.createArrayNode()
      out.add(arr.get(0)); out.add(arr.get(1)); out
    } else {
      val out = mapper.createArrayNode()
      var i = 0
      while (i < arr.size) { out.add(stripZ(arr.get(i))); i += 1 }
      out
    }
  }

  /** Single-pass strip + extraction of the FIRST Z found depth-first.
    * Returns the stripped tree and the original Z node (kept as a node to
    * preserve int-vs-decimal rendering when written back into properties).
    */
  def stripZExtractElevation(node: JsonNode): (JsonNode, Option[JsonNode]) = {
    if (node == null || !node.isArray) return (node, None)
    val arr = node.asInstanceOf[ArrayNode]
    if (isPosition(arr)) {
      val out = mapper.createArrayNode()
      out.add(arr.get(0)); out.add(arr.get(1))
      val elev =
        if (arr.size >= 3 && isNum(arr.get(2))) Some(arr.get(2)) else None
      (out, elev)
    } else {
      var found: Option[JsonNode] = None
      val out = mapper.createArrayNode()
      var i = 0
      while (i < arr.size) {
        val (s, e) = stripZExtractElevation(arr.get(i))
        if (found.isEmpty && e.isDefined) found = e
        out.add(s)
        i += 1
      }
      (out, found)
    }
  }

  /** Count property keys starting with `ext:elevation`. */
  def countExistingElevationProps(props: JsonNode): Int = {
    if (props == null || !props.isObject) return 0
    var c = 0
    val it = props.fieldNames()
    while (it.hasNext) if (it.next().startsWith("ext:elevation")) c += 1
    c
  }

  /** JS-truthiness of a JSON value — the reference's passthrough guard is
    * `!feature.geometry || !feature.geometry.coordinates`.
    */
  private def truthy(n: JsonNode): Boolean =
    n != null && !n.isNull && !n.isMissingNode &&
      !(n.isNumber && n.asDouble == 0.0) &&
      !(n.isTextual && n.asText.isEmpty) &&
      !(n.isBoolean && !n.asBoolean)

  /** Per-feature transform (P7). For nodes/points: strip Z and, if the
    * first-found elevation is non-null and non-zero, add it to properties
    * under `ext:elevation[_N]`. For all other layers: strip Z only.
    * Missing/falsy geometry or coordinates → passthrough; any processing
    * error → feature returned unchanged.
    */
  def processGeometry(featureJson: String, layer: String): String = {
    if (featureJson == null) return null
    try {
      val root = mapper.readTree(featureJson)
      if (!root.isObject) return featureJson // keep original bytes
      mapper.writeValueAsString(processGeometryNode(root, layer))
    } catch {
      case _: Exception => featureJson // reference swallows errors (:649-652)
    }
  }

  /** Tree-level core of P7 — lets the ZIP source fuse the transform into
    * its parse loop (the feature is already a JsonNode there; parsing the
    * serialized string again would double the dominant CPU cost at scale).
    * Mutates and returns `root` when applicable; returns `root` unchanged
    * for passthrough cases. A `null` return means "not an object" (caller
    * keeps its original representation).
    */
  def processGeometryNode(root: JsonNode, layer: String): JsonNode = {
    if (root == null || !root.isObject) return root
    try {
      val feature = root.asInstanceOf[ObjectNode]
      val geometry = feature.get("geometry")
      if (!truthy(geometry) || !geometry.isObject) return root
      val coordinates = geometry.get("coordinates")
      if (!truthy(coordinates)) return root

      val geomObj = geometry.asInstanceOf[ObjectNode]
      val isNodeOrPoint = layer == "nodes" || layer == "points"
      if (isNodeOrPoint) {
        // Compute the FULL rewrite before the first mutation: the
        // reference's error path keeps the original feature (:649-652),
        // so an exception must never leave a half-rewritten tree. The
        // sets below are plain pointer writes — they cannot throw.
        val (stripped, elevOpt) = stripZExtractElevation(coordinates)
        val elevToSet = elevOpt.filter(_.asDouble != 0.0)
        val propName = elevToSet.map { _ =>
          val existing = countExistingElevationProps(feature.get("properties"))
          if (existing == 0) "ext:elevation" else s"ext:elevation_$existing"
        }
        geomObj.set[JsonNode]("coordinates", stripped)
        elevToSet.foreach { elev =>
          val props = feature.get("properties") match {
            case o: ObjectNode => o
            case _ =>
              val o = mapper.createObjectNode()
              feature.set[JsonNode]("properties", o)
              o
          }
          props.set[JsonNode](propName.get, elev)
        }
      } else {
        val stripped = stripZ(coordinates) // before the mutation, same reason
        geomObj.set[JsonNode]("coordinates", stripped)
      }
      root
    } catch {
      case _: Exception => root // reference swallows errors (:649-652)
    }
  }

  /** Stats keys of one feature (A3): its `geometry.type` and its anchor
    * position, the first (lon, lat) pair of `geometry.coordinates` at any
    * nesting depth.
    */
  final case class StatsKeys(geometryType: String, lon: Option[Double], lat: Option[Double])

  private val NoKeys = StatsKeys(null, None, None)

  /** Stats keys of a feature tree, equal to what `get_json_object` plus a
    * leading-number match yield over the feature's SERIALIZED form, so a
    * stats row does not depend on where it is computed:
    *  - `geometry.type`: a string is its text, any other non-null value
    *    its compact JSON; missing or null → null;
    *  - anchor: descend through leading arrays to the first element of the
    *    innermost one; lon is that element if it is a number, lat the
    *    element right after it if lon is set and it is a number (`[lon]`
    *    → lat null). Empty or leading-empty arrays, non-number first
    *    elements and non-array coordinates → both null. A non-finite
    *    double serializes as a JSON string, so it counts as no number.
    *  - coordinates given as a JSON string are scanned as text, the way
    *    the serialized form of any other value would be.
    */
  def statsKeys(feature: JsonNode): StatsKeys = {
    val geometry = if (feature != null && feature.isObject) feature.get("geometry") else null
    if (geometry == null || !geometry.isObject) return NoKeys
    val coords = geometry.get("coordinates")
    val (lon, lat) =
      if (coords == null) (None, None)
      else if (coords.isTextual) anchorOfText(coords.textValue)
      else if (coords.isArray) {
        var arr = coords
        while (arr.size > 0 && arr.get(0).isArray) arr = arr.get(0)
        val lon = anchorNumber(arr.get(0))
        (lon, if (lon.isEmpty) None else anchorNumber(arr.get(1)))
      } else (None, None)
    StatsKeys(pathText(geometry.get("type")), lon, lat)
  }

  /** Stats keys of a serialized feature; unparseable JSON has none. */
  def statsKeys(featureJson: String): StatsKeys =
    if (featureJson == null) NoKeys
    else try statsKeys(mapper.readTree(featureJson))
    catch { case _: Exception => NoKeys }

  private def nonFinite(n: JsonNode): Boolean =
    n.isFloatingPointNumber && !java.lang.Double.isFinite(n.asDouble)

  /** `get_json_object` rendering of one value. */
  private def pathText(n: JsonNode): String =
    if (n == null || n.isNull) null
    else if (n.isTextual) n.textValue
    else if (nonFinite(n)) n.asText // written as a JSON string: "Infinity"
    else mapper.writeValueAsString(n)

  private def anchorNumber(n: JsonNode): Option[Double] =
    if (n == null || !n.isNumber || nonFinite(n)) None else Some(n.asDouble)

  /** The leading-number scan over coordinates held as text: one or more
    * `[`, whitespace, a run of number characters (lon); then whitespace,
    * `,`, whitespace and a second run (lat). A run that does not parse as
    * a double is null; lat is read even when lon does not parse.
    */
  private def anchorOfText(s: String): (Option[Double], Option[Double]) = {
    var i = 0
    def skipSpace(): Unit =
      while (i < s.length && " \t\n\u000B\f\r".indexOf(s.charAt(i).toInt) >= 0) i += 1
    def run(): String = {
      val from = i
      while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i).toInt) >= 0) i += 1
      s.substring(from, i)
    }
    def number(t: String): Option[Double] =
      try Some(java.lang.Double.parseDouble(t))
      catch { case _: NumberFormatException => None }
    while (i < s.length && s.charAt(i) == '[') i += 1
    if (i == 0) return (None, None)
    skipSpace()
    val lon = run()
    if (lon.isEmpty) return (None, None)
    skipSpace()
    if (i >= s.length || s.charAt(i) != ',') return (number(lon), None)
    i += 1
    skipSpace()
    val lat = run()
    (number(lon), if (lat.isEmpty) None else number(lat))
  }

  /** Convenience for tests/queries: first Z as a Double (post-strip
    * elevation the reference would record), null if absent.
    */
  def firstElevation(coordsJson: String): java.lang.Double = {
    if (coordsJson == null) return null
    try {
      val (_, e) = stripZExtractElevation(mapper.readTree(coordsJson))
      e.map(n => java.lang.Double.valueOf(n.asDouble)).orNull
    } catch { case _: Exception => null }
  }

  private def stripZJson(coordsJson: String): String = {
    if (coordsJson == null) return null
    try mapper.writeValueAsString(stripZ(mapper.readTree(coordsJson)))
    catch { case _: Exception => coordsJson }
  }

  // ---- Column API -------------------------------------------------------

  val stripZUdf = udf((c: String) => stripZJson(c))
  val processGeometryUdf = udf((f: String, l: String) => processGeometry(f, l))
  val firstElevationUdf = udf((c: String) => firstElevation(c))
  val statsKeysUdf = udf((f: String) => statsKeys(f))

  def strip_z(c: Column): Column = stripZUdf(c)
  def process_geometry(feature: Column, layer: Column): Column =
    processGeometryUdf(feature, layer)
  def first_elevation(coords: Column): Column = firstElevationUdf(coords)
  /** Struct of [[StatsKeys]] (`geometryType`, `lon`, `lat`) of a feature. */
  def stats_keys(feature: Column): Column = statsKeysUdf(feature)

  /** Register SQL-callable names on a session. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("strip_z", (c: String) => stripZJson(c))
    spark.udf.register("process_geometry",
      (f: String, l: String) => processGeometry(f, l))
    spark.udf.register("first_elevation", (c: String) => firstElevation(c))
  }
}
