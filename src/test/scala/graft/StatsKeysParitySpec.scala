package graft

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GeoFunctions
import graft.sources.GeoJsonZipSource

/** The typed stats keys the parse loop emits (`geometry_type`,
  * `anchor_lon`, `anchor_lat`) against the definition stats used before
  * they existed: `get_json_object` and a leading-number regex over the
  * stored feature JSON. That definition lives only here, as the oracle.
  */
class StatsKeysParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Deterministic forAll over a Gen (scalatestplus not available offline). */
  private def forAll[A](g: Gen[A], n: Int)(f: A => Unit): Unit =
    (0 until n).foreach(i => f(g.pureApply(Gen.Parameters.default, Seed(i.toLong))))

  private val M = new ObjectMapper()

  /** The oracle: geometry type and anchor exactly as stats computed them
    * from the serialized feature.
    */
  private def oracle(feature: Column): (Column, Column, Column) = {
    val coords = get_json_object(feature, "$.geometry.coordinates")
    val num = "[-+0-9.eE]+"
    val lon = regexp_extract(coords, s"^\\[+\\s*($num)", 1).try_cast("double")
    val lat = regexp_extract(coords, s"^\\[+\\s*$num\\s*,\\s*($num)", 1).try_cast("double")
    (get_json_object(feature, "$.geometry.type"), lon, lat)
  }

  // ---- generators ----------------------------------------------------------

  private val number: Gen[String] = Gen.frequency(
    4 -> Gen.chooseNum(-180.0, 180.0).map(_.toString),
    2 -> Gen.chooseNum(-1000, 1000).map(_.toString),
    3 -> Gen.oneOf("1e5", "-2.5E-3", "1E+2", "4.2e-7", "1.0E10", "1e400", "-1e400",
      "123456789012345678901234", "-0", "-0.0", "0", "0.0", "5e-324"))

  private val nonNumber: Gen[String] =
    Gen.oneOf("\"a\"", "\"1.5\"", "true", "false", "null", """{"x":1}""")

  /** An innermost array: 0–4 elements, mostly numbers. */
  private val position: Gen[String] = for {
    n <- Gen.frequency(1 -> 0, 2 -> 1, 6 -> 2, 3 -> 3, 1 -> 4)
    xs <- Gen.listOfN(n, Gen.frequency(8 -> number, 1 -> nonNumber))
  } yield xs.mkString("[", ",", "]")

  /** Coordinates nested `depth` deep, sometimes with a leading empty array. */
  private def nested(depth: Int): Gen[String] =
    if (depth <= 1) position
    else for {
      n <- Gen.choose(0, 3)
      xs <- Gen.listOfN(n, nested(depth - 1))
      leadingEmpty <- Gen.frequency(6 -> false, 1 -> true)
    } yield ((if (leadingEmpty) Seq("[]") else Nil) ++ xs).mkString("[", ",", "]")

  /** Coordinates held as a JSON string, scanned as text by the oracle. */
  private val textCoords: Gen[String] = Gen.oneOf("[1, 2]", "[[ 3.5 ,4e2]]", " [1,2]",
    "[a,1]", "[1e5e5, 2]", "[[]]", "[-]", "[1,]", "[1 , -2.5E-3]", "[\t7\n,\r8]",
    "[[[1e400,5]]]", "", "[1.2.3, 4]", "[+5,.5]", "[5]", "[[1],[2,3]]", "abc", "[1,\"2\"]")
    .map(M.writeValueAsString(_))

  private val coordinates: Gen[Option[String]] = Gen.frequency(
    12 -> Gen.choose(1, 4).flatMap(nested).map(Some(_)),
    2 -> textCoords.map(Some(_)),
    1 -> number.map(Some(_)),
    1 -> nonNumber.map(Some(_)),
    1 -> Gen.const(None))

  private val geometryType: Gen[Option[String]] = Gen.frequency(
    8 -> Gen.oneOf("Point", "LineString", "Polygon", "MultiPolygon", "Po\"int", "")
      .map(t => Some(M.writeValueAsString(t))),
    1 -> number.map(Some(_)),
    1 -> Gen.oneOf("true", "null", """{"k":[1,2.5,1e400]}""", """[1,"x"]""").map(Some(_)),
    1 -> Gen.const(None))

  private val geometry: Gen[Option[String]] = Gen.frequency(
    12 -> (for (t <- geometryType; c <- coordinates) yield Some(
      (t.map(v => s""""type":$v""") ++ c.map(v => s""""coordinates":$v""")).mkString("{", ",", "}"))),
    1 -> Gen.const(None),
    1 -> Gen.oneOf("null", "[1,2]", "\"Point\"", "7").map(Some(_)))

  private val feature: Gen[String] = Gen.frequency(
    14 -> (for (g <- geometry; z <- Gen.oneOf("{}", """{"ext:elevation":1}""")) yield
      (Seq(""""type":"Feature"""") ++ g.map(v => s""""geometry":$v""") :+
        s""""properties":$z""").mkString("{", ",", "}")),
    1 -> Gen.oneOf("5", "\"str\"", "[1,2]", "null"))

  private def zipOf(entries: Seq[(String, Seq[String])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entries.foreach { case (name, fs) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(fs.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
        .getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  private def bits(d: Option[Double]): Option[Long] = d.map(java.lang.Double.doubleToRawLongBits)

  test("generators reach every case the keys must agree on") {
    val all = (0 until 400).map(i => feature.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    Seq("1e400", "[]", "\"coordinates\":\"", "\"coordinates\":[[[[", "\"type\":{",
        "\"type\":true", "\"geometry\":null", "\"type\":\"Po\\\"int\"")
      .foreach(s => assert(all.exists(_.contains(s)), s))
  }

  test("property: parse-loop stats keys equal the get_json_object + regex oracle") {
    import spark.implicits._
    forAll(Gen.choose(1, 60).flatMap(n => Gen.listOfN(n, feature)), n = 40) { fs =>
      // nodes get the elevation transform, edges and the extension strip Z
      val recs = GeoJsonZipSource.expandZip("p.zip",
        zipOf(Seq("nodes.geojson" -> fs, "edges.geojson" -> fs, "curbs.geojson" -> fs)),
        transform = true).filter(_.kind == "feature").toSeq
      assert(recs.size == 3 * fs.size)
      val (t, lon, lat) = oracle($"feature")
      val want = recs.map(_.feature).toDF("feature")
        .select(t, lon, lat, GeoFunctions.stats_keys($"feature").as("k"))
        .collect()
      recs.zip(want).foreach { case (r, w) =>
        val wantType = Option(w.getString(0))
        val wantLon = if (w.isNullAt(1)) None else Some(w.getDouble(1))
        val wantLat = if (w.isNullAt(2)) None else Some(w.getDouble(2))
        val clue = s"${r.entry_path}: ${r.feature}"
        assert(Option(r.geometry_type) == wantType, clue)
        assert(bits(r.anchor_lon) == bits(wantLon), clue)
        assert(bits(r.anchor_lat) == bits(wantLat), clue)
        // the stored-table refresh path (UDF over the stored JSON) agrees too
        val k = w.getStruct(3)
        assert(Option(k.getString(0)) == wantType, clue)
        assert(bits(if (k.isNullAt(1)) None else Some(k.getDouble(1))) == bits(wantLon), clue)
        assert(bits(if (k.isNullAt(2)) None else Some(k.getDouble(2))) == bits(wantLat), clue)
      }
    }
  }
}
