package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.model.{ExtractLoadRequest, LoadResponse, QueueMessage}
import graft.service.ExtractLoadEngine

/** Everything one run needs. */
final case class Ctx(spark: SparkSession, work: File, seed: Long, trace: Boolean,
    listener: ModuleListener)

/** One timed operation: its latency, and the items it moved. */
final case class Op(id: String, startNs: Long, endNs: Long, items: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What the timed region measured. */
final case class Timed(ops: Seq[Op], wallS: Double, cpuS: Double)

/** A workload: set up (repeated, the median is `setup_s`), a timed closed
  * loop, then output checks. `layers` turns the traced half into
  * per-layer metrics.
  */
trait Workload {
  type State
  def setup(ctx: Ctx, rep: Int): State
  /** Runs operations until `seconds` have passed; `tag` keeps ids of the
    * untraced and traced halves apart.
    */
  def run(ctx: Ctx, s: State, seconds: Double, tag: String): Seq[Op]
  /** Checks every operation; returns (attempted, failure messages). */
  def check(ctx: Ctx, s: State, ops: Seq[Op]): (Int, Seq[String])
  def layers(ctx: Ctx, s: State, traced: Seq[Op]): Map[String, Double]
}

/** The engine with a stopwatch and an operation tag around every request,
  * from outside: per-load stage timings of the engine itself are not
  * per-load under concurrency.
  */
final class TimedEngine(spark: SparkSession, root: String)
    extends ExtractLoadEngine(spark, root) {
  val calls = new ConcurrentHashMap[String, (Long, Long)]()
  val stageTimings = new ConcurrentHashMap[String, Map[String, Double]]()
  @volatile var keepStageTimings = false

  override def processRequest(msg: QueueMessage): LoadResponse = {
    val sc = spark.sparkContext
    sc.setLocalProperty(ModuleListener.OpKey, msg.messageId)
    // a streaming batch hands its own call site down to the threads it
    // starts; drop it so each job's call site names the code that ran it
    sc.clearCallSite()
    val t0 = System.nanoTime()
    try {
      val r = Trace.span(msg.messageId, "load")(super.processRequest(msg))
      if (keepStageTimings) stageTimings.put(msg.messageId, lastStageTimings)
      r
    } finally {
      calls.put(msg.messageId, (t0, System.nanoTime()))
      sc.setLocalProperty(ModuleListener.OpKey, null)
      calls.synchronized(calls.notifyAll())
    }
  }

  def awaitAll(ids: Seq[String], timeoutMs: Long): Unit = calls.synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!ids.forall(calls.containsKey)) {
      val left = deadline - System.currentTimeMillis()
      if (left <= 0) throw new java.util.concurrent.TimeoutException(
        s"${ids.count(i => !calls.containsKey(i))} requests unanswered")
      calls.wait(math.min(left, 100L))
    }
  }
}

object Workloads {

  def byName(name: String): Workload = name match {
    case "osw_bulk" => new OswBulk
    case "osw_queue" => new OswQueue
    case "operator_mix" => new OperatorMix
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Listener times are wall-clock milliseconds; spans use nanoTime. */
  private val clockOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000.0
  def epochMs(nanoTime: Long): Double = nanoTime / 1000000.0 + clockOffsetMs

  /** Closed-loop rule: start another operation while the region would end
    * nearer `seconds` with it than without it.
    */
  def more(t0: Long, seconds: Double, last: Option[Double]): Boolean =
    (System.nanoTime() - t0) / 1e9 + last.getOrElse(0.0) / 2 < seconds

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def msg(id: String, dataType: String, path: String, ds: String): QueueMessage =
    QueueMessage(id, "workflow-extract-load",
      ExtractLoadRequest(dataType, path, ds, "bench-user"))

  def fresh(dir: File): File = {
    if (dir.exists()) deleteTree(dir)
    dir.mkdirs(); dir
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Parquet files and bytes under the partitions of the given datasets. */
  def storedFiles(root: String, datasets: Set[String]): (Long, Long) = {
    val parts = Option(new File(root).listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(t => Option(t.listFiles()).toSeq.flatten)
      .filter(p => datasets.exists(d => p.getName == s"tdei_dataset_id=$d"))
    val files = parts.flatMap(p => Option(p.listFiles()).toSeq.flatten)
      .filter(_.getName.endsWith(".parquet"))
    (files.size.toLong, files.map(_.length).sum)
  }

  /** Metrics every traced run reports from the listener. */
  def sparkLayers(l: ModuleListener): Map[String, Double] = l.synchronized {
    val st = l.stages.values
    Map(
      "spark.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> st.map(_.spill).sum.toDouble,
      "spark.jobs" -> l.jobs.size.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.peak_execution_memory_bytes" ->
        (if (st.isEmpty) 0.0 else st.map(_.peakMem).max.toDouble))
  }

  /** Per-load service and sink metrics from the jobs each load submitted. */
  def loadLayers(l: ModuleListener, loads: Seq[Op]): Map[String, Double] = {
    if (loads.isEmpty) return Map.empty
    val per = loads.map { op =>
      val js = l.jobsOf(op.id)
      def kindS(k: String) = js.filter(_.kind == k).map(j => (j.endMs - j.startMs) / 1e3).sum
      val startMs = epochMs(op.startNs)
      val firstJobMs = if (js.isEmpty) epochMs(op.endNs) else js.map(_.startMs).min
      Map(
        "jobs" -> js.size.toDouble,
        "gap" -> (op.seconds - l.busyMs(js) / 1e3),
        "pre_clean" -> math.max(0.0, (firstJobMs - startMs) / 1e3),
        "write" -> kindS("write"),
        "response_append" -> kindS("response_append"),
        "metadata" -> kindS("metadata"),
        "stats" -> kindS("stats"),
        "collect" -> kindS("collect"))
    }
    def mean(k: String) = per.map(_(k)).sum / per.size
    Map(
      "service.jobs_per_load" -> mean("jobs"),
      "service.driver_gap_s" -> mean("gap"),
      // time before the load's first job: routing, pre-clean, path resolution
      "service.pre_clean_s" -> mean("pre_clean"),
      "sinks.write_s" -> mean("write"),
      "sinks.response_append_s" -> mean("response_append"),
      "service.metadata_s" -> mean("metadata"),
      "service.stats_s" -> mean("stats"),
      "service.parse_count_s" -> mean("collect"))
  }

  /** Parse-stage task count and skew (max / median task time) of the
    * stages that built the cached parse.
    */
  def parseTasks(l: ModuleListener, ops: Seq[Op]): Map[String, Double] = {
    // the first job of a load that touches the cache is the one that built it
    val st = ops.flatMap { op =>
      l.jobsOf(op.id).sortBy(_.id).iterator.map(j => l.stagesOf(Seq(j)).filter(_.cached))
        .find(_.nonEmpty).getOrElse(Nil)
    }
    val durs = st.map(s => s.durations.toSeq.map(_.toDouble))
    if (durs.isEmpty || durs.forall(_.isEmpty)) return Map.empty
    Map("sources.parse_tasks" -> st.map(_.tasks).sum.toDouble / ops.size,
      "sources.parse_task_skew" -> Stats.median(durs.filter(_.nonEmpty)
        .map(d => d.max / math.max(1.0, Stats.median(d)))))
  }

  def cacheBytes(l: ModuleListener, loads: Int): Map[String, Double] = l.synchronized {
    Map("service.cache_bytes" ->
      (if (loads == 0) 0.0 else l.cachedBytes.values.sum.toDouble / loads))
  }
}

// ---- osw_bulk ---------------------------------------------------------------

/** One large OSW export loaded message → response, one load per iteration
  * under a fresh dataset id.
  */
final class OswBulk extends Workload {
  import Workloads._
  val Features = 40000
  final case class S(root: String, engine: TimedEngine, zip: File,
      archive: Gen.Archive, warm: Seq[Check.Load]) {
    var reads: Option[ReadProbe] = None
  }
  type State = S

  def setup(ctx: Ctx, rep: Int): S = {
    val dir = fresh(new File(ctx.work, s"bulk-$rep"))
    val archive = Gen.archive(ctx.seed, Features)
    val zip = new File(dir, "export.zip")
    Gen.writeFile(zip, archive.bytes)
    val root = new File(dir, "warehouse").getAbsolutePath
    val engine = new TimedEngine(ctx.spark, root)
    // warm-up: one load of the same archive, so timed loads start warm
    val id = s"warm-$rep"
    engine.processRequest(msg(id, "osw", zip.getAbsolutePath, id))
    S(root, engine, zip, archive,
      Seq(Check.Load(id, id, Some(archive.expected), 200, success = true)))
  }

  def run(ctx: Ctx, s: S, seconds: Double, tag: String): Seq[Op] = {
    val ops = mutable.ArrayBuffer[Op]()
    s.engine.keepStageTimings = ctx.trace
    val t0 = System.nanoTime()
    var i = 0
    while (Workloads.more(t0, seconds, ops.lastOption.map(_.seconds))) {
      val id = s"bulk-$tag-$i"
      s.engine.processRequest(msg(id, "osw", s.zip.getAbsolutePath, id))
      val (a, b) = s.engine.calls.get(id)
      ops += Op(id, a, b, s.archive.expected.features)
      i += 1
    }
    ops.toSeq
  }

  def check(ctx: Ctx, s: S, ops: Seq[Op]): (Int, Seq[String]) = {
    val loads = s.warm ++ ops.map(o =>
      Check.Load(o.id, o.id, Some(s.archive.expected), 200, success = true))
    val bad = Check.loads(ctx.spark, s.root, loads)
    s.reads.foreach(_.writeChecks(new File(ctx.work, "read_check.jsonl")))
    (loads.size, bad.toSeq.map { case (k, v) => s"$k: $v" })
  }

  def layers(ctx: Ctx, s: S, traced: Seq[Op]): Map[String, Double] = {
    val l = ctx.listener
    // the read path over the datasets just loaded (per-layer only)
    val nodes = s.archive.expected.rows.getOrElse("node", 0L)
    val probe = new ReadProbe(s.root, traced.map(o => o.id -> nodes), ctx.seed)
    probe.run(ctx)
    s.reads = Some(probe)
    val stages = traced.flatMap(o => Option(s.engine.stageTimings.get(o.id)))
    def stage(k: String) =
      if (stages.isEmpty) 0.0 else stages.map(_.getOrElse(k, 0.0)).sum / stages.size
    val named = Seq("pre_clean", "parse_count", "write_features", "metadata", "stats")
    val wall = traced.map(_.seconds).sum / math.max(1, traced.size)
    val fromJobs = loadLayers(l, traced)
    val (files, bytes) = storedFiles(s.root, traced.map(_.id).toSet)
    val features = traced.map(_.items).sum
    fromJobs ++ parseTasks(l, traced) ++ cacheBytes(l, traced.size) ++ floors(s) ++
        probe.layers ++ Map(
      "service.pre_clean_s" -> stage("pre_clean"),
      "service.parse_count_s" -> stage("parse_count"),
      "sinks.write_s" -> stage("write_features"),
      "service.metadata_s" -> stage("metadata"),
      "service.stats_s" -> stage("stats"),
      // load wall time the named stages do not cover: response append,
      // routing, header collect and per-layer planning
      "service.residual_s" -> (wall - named.map(stage).sum),
      "sinks.files_per_dataset" -> files.toDouble / math.max(1, traced.size),
      "sinks.bytes_per_feature" -> bytes.toDouble / math.max(1L, features))
  }

  /** Single-thread floors over the same archive: raw inflate, then the
    * source's parse without and with the fused transform.
    */
  private def floors(s: S): Map[String, Double] = {
    import java.util.zip.ZipInputStream
    def zin() = new ZipInputStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(s.zip), 1 << 16))
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val buf = new Array[Byte](1 << 16)
    val inflate = (1 to 3).map(_ => timed {
      val z = zin()
      try {
        var e = z.getNextEntry
        while (e != null) {
          while (z.read(buf) > 0) {}
          e = z.getNextEntry
        }
      } finally z.close()
    }).min
    def parse(transform: Boolean) = timed {
      val z = zin()
      try graft.sources.GeoJsonZipSource.expandZipStream(s.zip.getPath, z, transform).size
      finally z.close()
    }
    // alternate the two parses and keep each one's best of three, so the
    // transform's share is not lost in run-to-run noise
    val (plain, transformed) = (1 to 3).map { _ =>
      (Trace.span("floor", "sources.parse")(parse(transform = false)),
        Trace.span("floor", "functions.transform")(parse(transform = true)))
    }.unzip
    val parseS = plain.min
    val withTransform = transformed.min
    Map("sources.inflate_s" -> inflate, "sources.parse_s" -> parseS,
      "functions.transform_s" -> (withTransform - parseS),
      "sources.floor_features_per_s" -> s.archive.expected.features / withTransform)
  }
}

// ---- osw_queue --------------------------------------------------------------

/** Many small archives through the live queue subscription, two messages
  * in flight, with requests whose correct outcome is a typed failure.
  */
final class OswQueue extends Workload {
  import Workloads._
  /** One round: (features, layers) of each archive, in sending order,
    * largest first so the round's tail is short. Composition and order are
    * fixed so every seed weighs the same per-load costs; the seed draws
    * the archives' content.
    */
  val Round: Seq[(Int, Seq[String])] = Seq(
    4800 -> Seq("nodes", "edges", "points", "lines", "polygons", "zones", "extension"),
    600 -> Seq("nodes"),
    3900 -> Seq("nodes", "edges", "points", "extension"),
    900 -> Seq("edges", "lines"),
    3100 -> Seq("nodes", "edges", "zones"),
    1300 -> Seq("nodes", "zones", "polygons"),
    2400 -> Seq("nodes", "edges"),
    1800 -> Seq("edges", "extension"))
  final case class Item(zip: File, expected: Option[Gen.Expected],
      dataType: String, status: Int, success: Boolean)
  final case class S(root: String, engine: TimedEngine,
      query: org.apache.spark.sql.streaming.StreamingQuery,
      reqDir: File, items: Seq[Item], warm: Seq[Check.Load],
      sent: ConcurrentHashMap[String, (Long, Check.Load)])
  type State = S

  private def entries(layers: Seq[String]): Seq[Gen.EntrySpec] = {
    val es = Gen.oswExport.filter(e => layers.contains(e.layer))
    val total = es.map(_.share).sum
    es.map(e => e.copy(share = e.share / total))
  }

  def setup(ctx: Ctx, rep: Int): S = {
    val dir = fresh(new File(ctx.work, s"queue-$rep"))
    val loads = Round.zipWithIndex.map { case ((n, layers), i) =>
      val a = Gen.archive(ctx.seed * 1000 + i, n, entries(layers), decoys = i % 2 == 0)
      val f = new File(dir, s"archives/a$i.zip")
      Gen.writeFile(f, a.bytes)
      Item(f, Some(a.expected), "osw", 200, success = true)
    }
    val empty = new File(dir, "archives/empty.zip")
    Gen.writeFile(empty, Gen.emptyArchive())
    val failing = Seq(Item(empty, None, "osw", 500, success = false),
      Item(loads.head.zip, None, "flex", 500, success = false))
    val root = new File(dir, "warehouse").getAbsolutePath
    val engine = new TimedEngine(ctx.spark, root)
    // the subscription's query name is fixed: one live query at a time
    ctx.spark.streams.active.foreach(_.stop())
    val reqDir = new File(dir, "requests"); reqDir.mkdirs()
    val sub = new graft.streaming.QueueSubscription(ctx.spark, engine,
      reqDir.getAbsolutePath, new File(dir, "checkpoint").getAbsolutePath)
    val query = sub.start()
    val s = S(root, engine, query, reqDir, loads ++ failing, Nil, new ConcurrentHashMap())
    val warm = send(s, Seq(loads.head, failing.last), s"warm-$rep")
    engine.awaitAll(warm, 120000L)
    s.copy(warm = warm.map(id => s.sent.get(id)._2))
  }

  /** Drops request files (write then rename, so the stream never sees a
    * partial file); returns their message ids.
    */
  private def send(s: S, items: Seq[Item], tag: String): Seq[String] =
    items.zipWithIndex.map { case (it, i) =>
      val id = s"$tag-$i"
      val json = Gen.requestJson(id, it.dataType, it.zip.getAbsolutePath, id)
      val tmp = new File(s.reqDir, s".$id.tmp")
      Files.write(tmp.toPath, json.getBytes(UTF_8))
      s.sent.put(id, (System.nanoTime(),
        Check.Load(id, id, it.expected, it.status, it.success)))
      Files.move(tmp.toPath, new File(s.reqDir, s"$id.json").toPath,
        StandardCopyOption.ATOMIC_MOVE)
      id
    }

  def run(ctx: Ctx, s: S, seconds: Double, tag: String): Seq[Op] = {
    val ops = mutable.ArrayBuffer[Op]()
    val t0 = System.nanoTime()
    var round = 0
    var last: Option[Double] = None
    while (Workloads.more(t0, seconds, last)) {
      val r0 = System.nanoTime()
      val ids = send(s, s.items, s"q-$tag-$round")
      s.engine.awaitAll(ids, 120000L)
      ids.foreach { id =>
        val (a, b) = s.engine.calls.get(id)
        ops += Op(id, a, b, s.sent.get(id)._2.expected.map(_.features).getOrElse(0L))
      }
      last = Some((System.nanoTime() - r0) / 1e9)
      round += 1
    }
    ops.toSeq
  }

  def check(ctx: Ctx, s: S, ops: Seq[Op]): (Int, Seq[String]) = {
    s.query.stop()
    val loads = s.warm ++ ops.map(o => s.sent.get(o.id)._2)
    val bad = Check.loads(ctx.spark, s.root, loads)
    (loads.size, bad.toSeq.map { case (k, v) => s"$k: $v" })
  }

  def layers(ctx: Ctx, s: S, traced: Seq[Op]): Map[String, Double] = {
    val l = ctx.listener
    val loads = traced.filter(_.items > 0)
    // mean number of requests inside processRequest over the traced span
    val span = (traced.map(_.endNs).max - traced.map(_.startNs).min).toDouble
    val inFlight = traced.map(o => (o.endNs - o.startNs).toDouble).sum / span
    val waits = traced.map(o => (o.startNs - s.sent.get(o.id)._1) / 1e9)
    val (files, bytes) = storedFiles(s.root, loads.map(_.id).toSet)
    val fromJobs = loadLayers(l, loads)
    fromJobs ++ parseTasks(l, loads) ++ cacheBytes(l, loads.size) ++ Map(
      "streaming.in_flight_mean" -> inFlight,
      "streaming.dispatch_wait_s" -> Stats.median(waits),
      "sinks.files_per_dataset" -> files.toDouble / math.max(1, loads.size),
      "sinks.bytes_per_feature" -> bytes.toDouble / math.max(1L, loads.map(_.items).sum))
  }
}

// ---- dynamic-query reads ----------------------------------------------------

/** A seeded mix of dynamic queries over datasets an ingest run left in the
  * warehouse. Results are kept for the launcher, which checks them against
  * DuckDB over the same parquet files.
  */
final class ReadProbe(root: String, datasets: Seq[(String, Long)], seed: Long) {
  val queries: IndexedSeq[ReadQuery] = ReadQuery.mix(new java.util.Random(seed), datasets, 40)
  private val results = mutable.ArrayBuffer[(Int, Seq[Seq[Any]], Op, Double, Map[String, Double])]()

  /** Issues every query once, traced: plan (build + physical planning),
    * then execution.
    */
  def run(ctx: Ctx): Unit = {
    val wh = new graft.sinks.Warehouse(ctx.spark, root)
    val sc = ctx.spark.sparkContext
    queries.indices.foreach { qi =>
      val id = s"read-$qi"
      sc.setLocalProperty(ModuleListener.OpKey, id)
      val t0 = System.nanoTime()
      var t1 = 0L
      val (df, rows) = Trace.span(id, "query") {
        val d = Trace.span(id, "query.plan", parent = "query") {
          val q = queries(qi).build(new graft.query.DynamicQuery(wh.table))
          q.queryExecution.executedPlan
          q
        }
        t1 = System.nanoTime()
        (d, Trace.span(id, "query.exec", parent = "query")(d.collect()))
      }
      val t2 = System.nanoTime()
      sc.setLocalProperty(ModuleListener.OpKey, null)
      results += ((qi, rows.map(_.toSeq).toSeq, Op(id, t0, t2, rows.length.toLong),
        (t1 - t0) / 1e9, ReadQuery.scanMetrics(df)))
    }
  }

  def layers: Map[String, Double] = {
    if (results.isEmpty) return Map.empty
    def sum(k: String) = results.map(_._5.getOrElse(k, 0.0)).sum
    val n = results.size.toDouble
    Map(
      "query.plan_s" -> Stats.median(results.map(_._4).toSeq),
      "query.exec_s" -> Stats.median(results.map(r => r._3.seconds - r._4).toSeq),
      "query.files_scanned" -> sum("files") / n,
      "query.bytes_scanned" -> sum("bytes") / n,
      "query.rows_scanned_per_row_returned" ->
        sum("rows") / math.max(1L, results.map(_._3.items).sum))
  }

  /** Writes each query's SQL and rows for the DuckDB comparison. */
  def writeChecks(out: File): Unit = {
    val w = new java.io.PrintWriter(out, "UTF-8")
    try results.foreach { case (qi, rows, _, _, _) =>
      val q = queries(qi)
      w.println(Check.mapper.writeValueAsString(Map("query" -> qi,
        "sql" -> q.duckSql(root), "ordered" -> q.ordered, "rows" -> rows)))
    } finally w.close()
  }
}

// ---- operator_mix -----------------------------------------------------------

/** Oracle-exact operator queries over a fixed corpus; the seed orders the
  * mix. One operation is one pass over the mix (the mix's total time and
  * CPU); each query is still checked and traced on its own. Row counts and
  * hashes were recorded once and confirmed against each query's DuckDB
  * oracle (see `run.py --record-operators`).
  */
final class OperatorMix extends Workload {
  import Workloads._
  final case class S(dir: String, order: Seq[String],
      results: ConcurrentHashMap[String, (Long, Long)],
      queries: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer())
  type State = S

  def setup(ctx: Ctx, rep: Int): S = {
    val dir = fresh(new File(ctx.work, s"ops-$rep"))
    OperatorMix.writeCorpus(ctx.spark, dir, OperatorMix.Docs, OperatorMix.Vectors)
    val tiny = new File(dir, "warm")
    OperatorMix.writeCorpus(ctx.spark, tiny, 60, 40)
    // warm-up: every query once over a tiny copy of the corpus
    OperatorMix.Queries.foreach(q => OperatorMix.runQuery(ctx.spark, tiny.getPath, q))
    val order = scala.util.Random.javaRandomToRandom(new java.util.Random(ctx.seed))
      .shuffle(OperatorMix.Queries)
    S(dir.getPath, order, new ConcurrentHashMap())
  }

  def run(ctx: Ctx, s: S, seconds: Double, tag: String): Seq[Op] = {
    val ops = mutable.ArrayBuffer[Op]()
    val t0 = System.nanoTime()
    var pass = 0
    var last: Option[Double] = None
    // whole passes only, so every run weighs each query the same
    while (pass == 0 || more(t0, seconds, last)) {
      val p0 = System.nanoTime()
      val rowsBefore = s.queries.map(_.items).sum
      s.order.foreach { q =>
        val id = s"op:$q:$tag-$pass"
        ctx.spark.sparkContext.setLocalProperty(ModuleListener.OpKey, id)
        val a = System.nanoTime()
        val rows = Trace.span(id, s"operators.$q")(OperatorMix.runQuery(ctx.spark, s.dir, q))
        val b = System.nanoTime()
        ctx.spark.sparkContext.setLocalProperty(ModuleListener.OpKey, null)
        s.results.put(id, (rows.length.toLong, OperatorMix.rowsHash(rows)))
        s.queries += Op(id, a, b, rows.length.toLong)
      }
      val p1 = System.nanoTime()
      ops += Op(s"pass:$tag-$pass", p0, p1, s.queries.map(_.items).sum - rowsBefore)
      last = Some((p1 - p0) / 1e9)
      pass += 1
    }
    ops.toSeq
  }

  def check(ctx: Ctx, s: S, ops: Seq[Op]): (Int, Seq[String]) = {
    val want = OperatorMix.expected()
    val bad = s.queries.toSeq.flatMap { o =>
      val q = o.id.split(":")(1)
      val got = s.results.get(o.id)
      if (want.get(q).contains(got)) None
      else Some(s"${o.id}: rows/hash $got != ${want.get(q)}")
    }
    (s.queries.size, bad)
  }

  def layers(ctx: Ctx, s: S, traced: Seq[Op]): Map[String, Double] = {
    val l = ctx.listener
    val passes = traced.map(_.id.stripPrefix("pass:")).toSet
    val queries = s.queries.toSeq.filter(o => passes(o.id.split(":")(2)))
    queries.groupBy(_.id.split(":")(1)).flatMap { case (q, os) =>
      val js = os.map(o => o -> l.jobsOf(o.id))
      val st = js.flatMap { case (_, j) => l.stagesOf(j) }
      val n = os.size.toDouble
      Map(
        s"operators.$q.wall_s" -> os.map(_.seconds).sum / n,
        s"operators.$q.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9 / n,
        s"operators.$q.shuffle_bytes" -> st.map(_.shuffleWrite).sum / n,
        s"operators.$q.tasks" -> st.map(_.tasks).sum / n,
        s"operators.$q.driver_gap_s" ->
          js.map { case (o, j) => o.seconds - l.busyMs(j) / 1e3 }.sum / n)
    }
  }
}

object OperatorMix {
  val Queries: Seq[String] = Seq("q_bpe_encode", "q_bpe_train", "q_audio_near_dup_auto",
    "q_audio_vorbis_comment", "q_semantic_dedup_int", "q_pq_int", "q_ivfpq_int")
  /** Corpus size and its fixed generator seed: the recorded hashes hold
    * for exactly this corpus.
    */
  val Docs = 500
  val Vectors = 500
  val CorpusSeed = 42L

  def writeCorpus(spark: SparkSession, dir: File, docs: Int, vectors: Int): Unit = {
    import spark.implicits._
    Gen.documents(CorpusSeed, docs).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Gen.embeddings(CorpusSeed, vectors).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def runQuery(spark: SparkSession, dir: String, q: String): Array[org.apache.spark.sql.Row] =
    graft.SparkEntry.queries(q)(spark, dir).collect()

  /** Order-independent hash of result rows. */
  def rowsHash(rows: Array[org.apache.spark.sql.Row]): Long =
    rows.map(r => Check.featureKeyHash(canon(r))).sum

  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case o => o.toString
  }

  /** Recorded (rows, hash) per query, from `operator_expected.json`
    * (the launcher starts the JVM in the repository root).
    */
  def expected(): Map[String, (Long, Long)] =
    Check.mapper.readTree(new File("perfbench/operator_expected.json")).fields().asScala
      .map(e => e.getKey -> (e.getValue.path("rows").asLong, e.getValue.path("hash").asLong))
      .toMap
}
