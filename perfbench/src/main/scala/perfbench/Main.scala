package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and prints one JSON line:
  * `{"attempted", "failed", "failures", "metrics", "layers"}`.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *   perfbench.Main --self-test <workDir>
  *   perfbench.Main --record-operators <workDir>
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. Only the first runs
    * cold; the traced run reports it, from JVM start, as `setup.cold_s`.
    */
  val SetupReps = 3

  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = graft.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(work, "checkpoints").getAbsolutePath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use after each GC since the last reset, in bytes. Its median
    * tracks the live set (the cached parse included) and, unlike the
    * maximum, does not hinge on when the collector runs.
    */
  object HeapAfterGc {
    private val samples = scala.collection.mutable.ArrayBuffer[Long]()
    private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
            synchronized { samples += used }
          }, null, null)
      case _ =>
    }
    def reset(): Unit = synchronized(samples.clear())
    def median: Double = synchronized(Stats.median(samples.map(_.toDouble).toSeq))
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("--self-test", work) => System.exit(SelfTest.run(new File(work)))
    case Seq("--record-operators", work) => recordOperators(new File(work))
    case Seq(workload, seed, seconds, trace, work) =>
      val out = runWorkload(workload, seed.toLong, seconds.toDouble, trace == "1", new File(work))
      println(out)
    case _ =>
      System.err.println("usage: perfbench.Main <workload> <seed> <seconds> <trace> <workDir>")
      System.exit(2)
  }

  def runWorkload(name: String, seed: Long, seconds: Double, trace: Boolean,
      work: File): String = {
    val w = Workloads.byName(name)
    work.mkdirs()
    HeapAfterGc.install()
    val spark = session(work)
    try {
      val tStart = System.nanoTime()
      def phase(name: String): Unit =
        System.err.println(f"perfbench: $name at ${(System.nanoTime() - tStart) / 1e9}%.1fs")
      val listener = new ModuleListener
      val ctx = Ctx(spark, work, seed, trace, listener)
      // set up several times; the last state is the one measured
      var coldS = 0.0
      val setups = (0 until SetupReps).map { rep =>
        val t0 = System.nanoTime()
        val s = w.setup(ctx, rep)
        // JVM start, session start and the first (cold) set-up
        if (rep == 0) coldS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
        ((System.nanoTime() - t0) / 1e9, s)
      }
      val state = setups.last._2
      phase("set-up done")
      def timed(secs: Double, tag: String) = {
        HeapAfterGc.reset()
        val cpu0 = Workloads.processCpuS()
        val t0 = System.nanoTime()
        val ops = w.run(ctx, state, secs, tag)
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = Workloads.processCpuS() - cpu0
        System.gc() // at least one after-GC sample per region
        Thread.sleep(100) // GC notifications arrive asynchronously
        Timed(ops, wall, cpu) -> HeapAfterGc.median
      }
      val (plain, heap) = timed(if (trace) seconds / 2 else seconds, "u")
      val traced = if (!trace) None else {
        spark.sparkContext.addSparkListener(listener)
        Trace.enabled = true
        try Some(timed(seconds / 2, "t")._1)
        finally { Trace.enabled = false }
      }
      phase("timed regions done; op seconds " +
        plain.ops.map(o => f"${o.seconds}%.2f").mkString(" "))
      val allOps = plain.ops ++ traced.map(_.ops).getOrElse(Nil)
      val layers = traced.map { t =>
        listener.settle(10000L)
        // before w.layers, whose read probe submits jobs of its own
        val sparkTotals = Workloads.sparkLayers(listener)
        val base = Stats.median(plain.ops.map(_.seconds))
        val withTrace = Stats.median(t.ops.map(_.seconds))
        w.layers(ctx, state, t.ops) ++ sparkTotals ++ Map(
          "setup.cold_s" -> coldS,
          "trace.overhead_s" -> (withTrace - base),
          "trace.overhead_ratio" -> (withTrace - base) / base)
      }.getOrElse(Map.empty)
      val (attempted, failures) = w.check(ctx, state, allOps)
      phase("checks done")
      if (trace) Trace.dump(new File(work, "spans.jsonl"), listener)
      val ops = plain.ops
      val metrics = Map(
        "setup_s" -> Stats.median(setups.map(_._1)),
        "ops_per_s" -> ops.size / plain.wallS,
        "op_p50_s" -> Stats.percentile(ops.map(_.seconds), 50),
        "op_p90_s" -> Stats.percentile(ops.map(_.seconds), 90),
        "items_per_s" -> ops.map(_.items).sum / plain.wallS,
        "cpu_s_per_op" -> plain.cpuS / ops.size,
        "heap_after_gc_mb" -> heap / 1048576.0)
      Check.mapper.writeValueAsString(Map("attempted" -> attempted,
        "failed" -> failures.size, "failures" -> failures.take(20), "ops" -> ops.size,
        "metrics" -> metrics, "layers" -> layers))
    } finally spark.stop()
  }

  /** Runs each operator query once over the fixed corpus, writes its rows
    * (ordered as the oracle orders them) and its oracle SQL for the DuckDB
    * comparison, and prints the (rows, hash) that `operator_expected.json`
    * records.
    */
  def recordOperators(work: File): Unit = {
    import org.apache.spark.sql.functions.col
    work.mkdirs()
    val spark = session(work)
    try {
      val data = new File(work, "corpus")
      OperatorMix.writeCorpus(spark, data, OperatorMix.Docs, OperatorMix.Vectors)
      val rec = OperatorMix.Queries.map { q =>
        val rows = OperatorMix.runQuery(spark, data.getPath, q)
        val df = graft.SparkEntry.queries(q)(spark, data.getPath)
        df.orderBy(df.columns.map(c => col(c).asc_nulls_first): _*)
          .coalesce(1).write.mode("overwrite").parquet(s"$work/out/$q")
        q -> Map("rows" -> rows.length.toLong, "hash" -> OperatorMix.rowsHash(rows))
      }.toMap
      val oracle = OperatorMix.Queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
      Check.mapper.writeValue(new File(work, "oracle_sql.json"), oracle)
      println(Check.mapper.writeValueAsString(Map("corpus" -> data.getPath, "recorded" -> rec)))
    } finally spark.stop()
  }
}
