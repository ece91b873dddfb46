package graft

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.model.{ExtractLoadRequest, LoadResponse, QueueMessage}
import graft.service.ExtractLoadEngine
import graft.streaming.QueueSubscription

/** S1 streaming intake: file-drop requests → foreachBatch →
  * processRequest, bounded concurrency, checkpointed at-least-once
  * resume, failure responses for bad requests.
  */
class QueueSubscriptionSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

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

  private def writeZip(): String = {
    val f = Files.createTempFile("graft-sub", ".zip").toFile
    val out = new FileOutputStream(f)
    out.write(zipBytes("nodes.geojson" ->
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[1.0,2.0,3.0]},"properties":{"_id":"n1"}}]}""".stripMargin))
    out.close()
    f.getAbsolutePath
  }

  /** Atomically drop one request JSON into the watched dir (write to a
    * temp name, then move — the file source must never see half a file).
    */
  private def dropRequest(dir: Path, id: String, dataType: String,
      zipPath: String): Unit = {
    val json =
      s"""{"messageId":"$id","messageType":"workflow",
         |"data":{"data_type":"$dataType","file_upload_path":"$zipPath",
         |"tdei_dataset_id":"$id","user_id":"u1"}}""".stripMargin.replace("\n", "")
    val tmp = Files.createTempFile("req", ".json")
    Files.writeString(tmp, json)
    Files.move(tmp, dir.resolve(s"$id.json"))
  }

  private def runAvailable(sub: QueueSubscription): Unit = {
    val q = sub.start(Trigger.AvailableNow())
    q.awaitTermination()
  }

  test("e2e: drop 2 requests -> 2 response rows, tables loaded, failure isolated") {
    val reqDir = Files.createTempDirectory("graft-req")
    val ckDir = Files.createTempDirectory("graft-ck").toString
    val wh = Files.createTempDirectory("graft-wh").toString
    val engine = new ExtractLoadEngine(spark, wh)
    val sub = new QueueSubscription(spark, engine, reqDir.toString, ckDir)

    dropRequest(reqDir, "ds_ok", "osw", writeZip())
    dropRequest(reqDir, "ds_bad", "flex", "/nonexistent.zip")
    runAvailable(sub)

    val resp = engine.warehouse.table("response").collect()
      .map(r => r.getAs[String]("messageId") -> r.getAs[Boolean]("success")).toMap
    assert(resp == Map("ds_ok" -> true, "ds_bad" -> false))
    // the valid load really landed
    assert(engine.warehouse.table("node").count() == 1)
    val failureMsg = engine.warehouse.table("response")
      .filter("success = false").collect()(0).getAs[String]("message")
    assert(failureMsg.startsWith("Error loading the data :"))

    // at-least-once resume: a third request after restart processes
    // exactly the new file (checkpoint excludes the first two)
    dropRequest(reqDir, "ds_ok2", "osw", writeZip())
    runAvailable(sub)
    val all = engine.warehouse.table("response").collect()
    assert(all.length == 3)
    assert(all.count(_.getAs[Boolean]("success")) == 2)
    assert(engine.warehouse.table("node").count() == 2) // ds_ok + ds_ok2
  }

  test("drain: in-flight batch completes with its response row, then the query terminates") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val reqDir = Files.createTempDirectory("graft-req-drain")
    val ckDir = Files.createTempDirectory("graft-ck-drain").toString
    val wh = Files.createTempDirectory("graft-wh-drain").toString
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val engine = new ExtractLoadEngine(spark, wh) {
      override def processRequest(msg: QueueMessage): LoadResponse = {
        entered.countDown()
        release.await(30, TimeUnit.SECONDS)
        super.processRequest(msg)
      }
    }
    val sub = new QueueSubscription(spark, engine, reqDir.toString, ckDir)
    dropRequest(reqDir, "ds_drain", "osw", writeZip())
    val q = sub.start()
    assert(entered.await(30, TimeUnit.SECONDS), "batch never started")

    // Drain from another thread while the batch is mid-processing: it
    // must block until the handler finishes, not interrupt it.
    val drainer = new Thread(() => sub.drain())
    drainer.start()
    Thread.sleep(300)
    assert(q.isActive, "drain interrupted the in-flight batch")

    release.countDown()
    drainer.join(30000)
    assert(!drainer.isAlive, "drain did not return")
    assert(!q.isActive, "query still active after drain")
    assert(q.exception.isEmpty, s"drain surfaced ${q.exception}")
    val resp = engine.warehouse.table("response").collect()
    assert(resp.length == 1 && resp(0).getAs[Boolean]("success"),
      "in-flight batch's response row missing after drain")
  }

  test("concurrency is bounded by maxConcurrentMessages") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val inFlight = new AtomicInteger(0)
    val maxSeen = new AtomicInteger(0)
    val engine = new ExtractLoadEngine(spark, wh) {
      override def processRequest(msg: QueueMessage): LoadResponse = {
        val now = inFlight.incrementAndGet()
        maxSeen.getAndUpdate(m => math.max(m, now))
        try { Thread.sleep(120); LoadResponse(msg.messageId, msg.messageType, "ok", success = true) }
        finally inFlight.decrementAndGet()
      }
    }
    val sub = new QueueSubscription(spark, engine, "/unused", "/unused",
      maxConcurrentMessages = 2)
    val msgs = (1 to 5).map(i => QueueMessage(s"m$i", "wf",
      ExtractLoadRequest("osw", "/x.zip", s"ds$i", "u")))
    sub.processAll(msgs)
    assert(maxSeen.get() == 2, s"max in-flight ${maxSeen.get()}")
  }

  test("two concurrent loads of different datasets each keep exactly their own rows") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    def feature(kind: String, id: String, i: Int): String = kind match {
      case "Point" =>
        s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[$i.5,1.0,2.0]},"properties":{"_id":"$id"}}"""
      case _ =>
        s"""{"type":"Feature","geometry":{"type":"$kind","coordinates":[[$i.0,1.0],[2.0,3.0]]},"properties":{"_id":"$id"}}"""
    }
    def archive(ds: String, layers: Seq[(String, String, Int)]): String = {
      val f = Files.createTempFile(s"graft-$ds", ".zip").toFile
      val out = new FileOutputStream(f)
      out.write(zipBytes(layers.map { case (entry, kind, n) =>
        entry -> (0 until n).map(i => feature(kind, s"$ds-$entry-$i", i))
          .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
      }: _*))
      out.close()
      f.getAbsolutePath
    }
    val a = archive("qa", Seq(("nodes.geojson", "Point", 400), ("edges.geojson", "LineString", 300)))
    val b = archive("qb", Seq(("nodes.geojson", "Point", 250), ("lines.geojson", "LineString", 120),
      ("curbs.geojson", "Point", 50)))
    val wh = Files.createTempDirectory("graft-wh-pair").toString
    // both loads are inside the engine before either starts its work
    val started = new CountDownLatch(2)
    val engine = new ExtractLoadEngine(spark, wh) {
      override def processRequest(msg: QueueMessage): LoadResponse = {
        started.countDown()
        started.await(30, TimeUnit.SECONDS)
        super.processRequest(msg)
      }
    }
    val sub = new QueueSubscription(spark, engine, "/unused", "/unused", maxConcurrentMessages = 2)
    sub.processAll(Seq(
      QueueMessage("qa", "wf", ExtractLoadRequest("osw", a, "qa", "ua")),
      QueueMessage("qb", "wf", ExtractLoadRequest("osw", b, "qb", "ub"))))

    val resp = engine.warehouse.table("response").collect()
      .map(r => r.getAs[String]("messageId") -> r.getAs[Boolean]("success")).toMap
    assert(resp == Map("qa" -> true, "qb" -> true))
    def ids(table: String, ds: String): Set[String] =
      engine.warehouse.table(table).filter(s"tdei_dataset_id = '$ds'").collect()
        .map { r =>
          val f = r.getAs[String]("feature")
          val at = f.indexOf("\"_id\":\"") + 7
          f.substring(at, f.indexOf('"', at))
        }.toSet
    def expected(ds: String, entry: String, n: Int) = (0 until n).map(i => s"$ds-$entry-$i").toSet
    assert(ids("node", "qa") == expected("qa", "nodes.geojson", 400))
    assert(ids("edge", "qa") == expected("qa", "edges.geojson", 300))
    assert(ids("node", "qb") == expected("qb", "nodes.geojson", 250))
    assert(ids("extension_line", "qb") == expected("qb", "lines.geojson", 120))
    assert(ids("extension", "qb") == expected("qb", "curbs.geojson", 50))
    assert(ids("edge", "qb").isEmpty && ids("extension_line", "qa").isEmpty &&
      ids("extension", "qa").isEmpty)
    val stats = engine.warehouse.table("stats").collect().map { r =>
      (r.getAs[String]("tdei_dataset_id"), r.getAs[String]("layer_table")) ->
        r.getAs[Long]("feature_count")
    }.toMap
    assert(stats == Map(("qa", "node") -> 400L, ("qa", "edge") -> 300L, ("qb", "node") -> 250L,
      ("qb", "extension_line") -> 120L, ("qb", "extension") -> 50L))
    val userOf = engine.warehouse.table("node").collect()
      .map(r => r.getAs[String]("tdei_dataset_id") -> r.getAs[String]("requested_by")).toSet
    assert(userOf == Set("qa" -> "ua", "qb" -> "ub"))
    assert(Option(new java.io.File(wh, "_staging").listFiles()).forall(_.isEmpty))
  }
}
