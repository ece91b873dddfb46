package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Audio, Mp4, MpegTs, Tar, Webm, Zip}
import graft.sources._

/** The per-file scaffold every path-level source shares: k files
  * (2 ≤ k ≤ defaultParallelism) become one stage of exactly k tasks,
  * with no exchange in the plan, for each of the eight sources.
  */
class SourceScaffoldSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val k = 3

  private def dirOf(name: String, ext: String)(file: Int => Array[Byte]): String = {
    val dir = Files.createTempDirectory(s"scaffold-$name")
    (0 until k).foreach(i => Files.write(dir.resolve(s"f$i$ext"), file(i)))
    dir.toString
  }

  private def geoZip(i: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    zos.putNextEntry(new ZipEntry("nodes.geojson"))
    zos.write((s"""{"type":"FeatureCollection","features":[{"type":"Feature",""" +
      s""""geometry":{"type":"Point","coordinates":[$i,1]},"properties":{}}]}""")
      .getBytes("UTF-8"))
    zos.closeEntry(); zos.close()
    bos.toByteArray
  }

  private def warc(i: Int): Array[Byte] =
    (s"WARC/1.0\r\nWARC-Type: resource\r\nContent-Length: 2\r\n\r\nw$i\r\n\r\n")
      .getBytes("UTF-8")

  /** One file per media route: prefix (WebM), seek (MP4), stream (Ogg). */
  private def mediaFile(i: Int): Array[Byte] = i match {
    case 0 => Webm.buildWebm("webm", 1000000L, 1000.0, width = 64, height = 48)
    case 1 => Mp4.buildMp4(600L, 3000L, 320, 240)
    case _ => Audio.buildOgg("vorbis", 2, 44100, 44100L)
  }

  /** (stage ids → task counts) of the jobs `ds.collect()` submits, and
    * its executed plan.
    */
  private def scanShape(ds: Dataset[_]): (Map[Int, Int], String) = {
    val tagKey = "graft.test.scaffold"
    val stages = new ConcurrentHashMap[Int, Int]()
    val jobs = new ConcurrentHashMap[Int, String]()
    val ended = new ConcurrentHashMap[Int, Boolean]()
    def tag(p: java.util.Properties) = Option(p).flatMap(x => Option(x.getProperty(tagKey)))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tag(e.properties).foreach(t => jobs.put(e.jobId, t))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, true)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tag(e.properties).contains("scan"))
          stages.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tagKey, "scan")
      ds.collect()
      // listener events arrive in order: once the marker job has ended,
      // every stage of the scan has been seen
      sc.setLocalProperty(tagKey, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000
      def markerEnded =
        jobs.asScala.exists { case (id, t) => t == "marker" && ended.containsKey(id) }
      while (!markerEnded && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(markerEnded, "listener never saw the marker job")
    } finally {
      sc.setLocalProperty(tagKey, null)
      sc.removeSparkListener(listener)
    }
    (stages.asScala.toMap, ds.queryExecution.executedPlan.toString)
  }

  private def sources: Seq[(String, () => Dataset[_])] = Seq(
    "GeoJsonZipSource.read" -> { () =>
      GeoJsonZipSource.read(spark, dirOf("geo", ".zip")(geoZip)) },
    "WarcSource.read" -> { () =>
      WarcSource.read(spark, dirOf("warc", ".warc")(warc)) },
    "TarShardSource.members" -> { () =>
      TarShardSource.members(spark, dirOf("tar", ".tar")(i =>
        Tar.buildTar(Seq(s"s$i.txt" -> Array[Byte](i.toByte))))) },
    "ZipShardSource.members" -> { () =>
      ZipShardSource.members(spark, dirOf("zip", ".zip")(i =>
        Zip.buildZip(Seq((s"m$i.bin", Array[Byte](i.toByte), true))))) },
    "Mp4ShardSource.metaScan" -> { () =>
      Mp4ShardSource.metaScan(spark, dirOf("mp4", ".mp4")(i =>
        Mp4.buildMp4(600L, 3000L + i, 320, 240))) },
    "MpegTsShardSource.metaScan" -> { () =>
      MpegTsShardSource.metaScan(spark, dirOf("ts", ".ts")(i =>
        MpegTs.buildTs(320, 240, 66, 30, Seq(0L, 3000L * (i + 1))))) },
    "WebmShardSource.metaScan" -> { () =>
      WebmShardSource.metaScan(spark, dirOf("webm", ".webm")(i =>
        Webm.buildWebm("webm", 1000000L, 1000.0 + i, width = 64, height = 48))) },
    "MediaShardSource.metaScan" -> { () =>
      MediaShardSource.metaScan(spark, dirOf("media", ".bin")(mediaFile)) })

  for ((name, ds) <- sources)
    test(s"$name: $k files scan as one stage of $k tasks, no exchange") {
      val (stages, plan) = scanShape(ds())
      assert(!plan.contains("Exchange"), plan)
      assert(stages.values.toSeq == Seq(k), s"stage → tasks: $stages")
    }
}
