package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** In-memory spans recorded around the calls the benchmark makes into the
  * program. Spans of one operation share a trace id; nothing is written
  * until [[dump]].
  */
object Trace {
  final case class Span(trace: String, name: String, parent: String,
      startNs: Long, endNs: Long)

  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](trace: String, name: String, parent: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally spans.add(Span(trace, name, parent, t0, System.nanoTime()))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Writes the spans, then the Spark jobs as spans of their operation. */
  def dump(path: java.io.File, l: ModuleListener): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      all.sortBy(_.startNs).foreach { s =>
        w.println(Check.mapper.writeValueAsString(Map("trace" -> s.trace, "name" -> s.name,
          "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      }
      l.synchronized(l.jobs.values.toSeq).foreach { j =>
        w.println(Check.mapper.writeValueAsString(Map("trace" -> j.op,
          "name" -> s"job.${j.kind}", "site" -> j.site, "job" -> j.id,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs)))
      }
    } finally w.close()
  }
}

/** Spark task and job metrics, attributed to the program's modules by the
  * call site of each job and to the benchmark's operations by the local
  * properties the benchmark sets on the submitting thread.
  */
final class ModuleListener extends SparkListener {

  final case class Job(id: Int, op: String, kind: String, site: String, startMs: Long,
      var endMs: Long = -1L, var stages: Seq[Int] = Nil)
  final class StageAgg {
    var tasks = 0; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var peakMem = 0L
    var cached = false
    val durations = mutable.ArrayBuffer[Long]()
  }

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.HashMap[Int, StageAgg]()
  /** Largest cached size seen per RDD (memory + disk bytes). */
  val cachedBytes = mutable.HashMap[Int, Long]()
  private val blockBytes = mutable.HashMap[RDDBlockId, Long]()

  /** The load step that submitted a job, from the program frames of its
    * call site (innermost first: a write the engine issues is a sink write).
    */
  private def classify(details: String): String = {
    val frames = details.split("\n").map(_.trim).filter(_.startsWith("graft."))
    def has(s: String) = frames.exists(_.contains(s))
    if (has("Warehouse.writeFeatures")) "write"
    else if (has("Warehouse.appendResponses")) "response_append"
    else if (has("ExtractLoadEngine.updateStats")) "stats"
    else if (has("Warehouse.upsertByDataset")) "metadata"
    else if (has("ExtractLoadEngine.processOswDataset")) "collect"
    else "other"
  }

  /** Call site of each SQL execution: jobs that adaptive execution submits
    * from its own threads carry no program frames themselves.
    */
  private val executionSite = mutable.HashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(executionSite(s.executionId) = s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(ModuleListener.OpKey))).getOrElse("")
    val details = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionSite.get(id.toLong))
      .getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))
    val site = details.split("\n").map(_.trim).find(_.startsWith("graft.")).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, op, classify(details), site, e.time, stages = e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    Option(e.taskInfo).foreach(t => a.durations += t.duration)
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
    a.cached = e.stageInfo.rddInfos.exists(_.storageLevel.isValid)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case b: RDDBlockId =>
        val i = e.blockUpdatedInfo
        blockBytes(b) = i.memSize + i.diskSize
        val total = blockBytes.collect { case (k, v) if k.rddId == b.rddId => v }.sum
        cachedBytes(b.rddId) = math.max(cachedBytes.getOrElse(b.rddId, 0L), total)
      case _ =>
    }
  }

  /** Waits until every job seen has ended; a job's task and stage events
    * are delivered before its end.
    */
  def settle(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline && synchronized(jobs.values.exists(_.endMs < 0)))
      Thread.sleep(20)
  }

  def jobsOf(op: String): Seq[Job] = synchronized(jobs.values.filter(_.op == op).toSeq)

  def stagesOf(js: Seq[Job]): Seq[StageAgg] = synchronized(
    js.flatMap(_.stages).distinct.flatMap(stages.get))

  /** Wall time inside `[startMs, endMs]` covered by at least one job. */
  def busyMs(js: Seq[Job]): Long = {
    val iv = js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object ModuleListener {
  /** Local property naming the benchmark operation a job belongs to. */
  val OpKey = "perfbench.op"
}
