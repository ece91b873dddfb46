package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, when}

/** Tests of the benchmark's own code: generator determinism, checker
  * rejections on planted faults, and the percentile rule.
  */
object SelfTest {

  def run(dir: File): Int = {
    val work = new File(dir, "self-test")
    var failed = 0
    def expect(name: String, ok: => Boolean): Unit = {
      val r = try ok catch { case e: Throwable => System.err.println(e); false }
      println(s"${if (r) "ok  " else "FAIL"} $name")
      if (!r) failed += 1
    }

    // percentile math on a fixed sample
    val xs = (1 to 10).map(_.toDouble)
    expect("median of 1..10 is 5.5", Stats.median(xs) == 5.5)
    expect("p90 of 1..10 is 9.1", math.abs(Stats.percentile(xs, 90) - 9.1) < 1e-12)
    expect("p50 of 4 values interpolates", Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5)
    expect("p100 is the max", Stats.percentile(Seq(3.0, 7.0), 100) == 7.0)
    expect("single sample", Stats.percentile(Seq(0.25), 90) == 0.25)

    // generator determinism
    val a = Gen.archive(7L, 3000)
    expect("same seed gives byte-identical archives",
      java.util.Arrays.equals(a.bytes, Gen.archive(7L, 3000).bytes) &&
        a.expected == Gen.archive(7L, 3000).expected)
    expect("another seed gives other bytes",
      !java.util.Arrays.equals(a.bytes, Gen.archive(8L, 3000).bytes))

    // checker: a correct load passes, planted faults are rejected
    Workloads.fresh(work)
    val spark = Main.session(work)
    try {
      val root = new File(work, "warehouse").getAbsolutePath
      val zip = new File(work, "a.zip")
      Gen.writeFile(zip, a.bytes)
      val engine = new graft.service.ExtractLoadEngine(spark, root)
      def load(id: String) = {
        engine.processRequest(Workloads.msg(id, "osw", zip.getAbsolutePath, id))
        Check.Load(id, id, Some(a.expected), 200, success = true)
      }
      val good = load("good")
      expect("correct load passes", Check.loads(spark, root, Seq(good)).isEmpty)

      val missing = load("missing")
      rewrite(spark, s"$root/content_node/tdei_dataset_id=missing")(df =>
        df.filter(!col("feature").contains("\"_id\":\"n0-1\"")))
      expect("missing feature is rejected",
        Check.loads(spark, root, Seq(missing)).contains("missing"))

      val stats = load("stats")
      rewrite(spark, s"$root/content_stats/tdei_dataset_id=stats")(df =>
        df.withColumn("feature_count", when(col("layer_table") === "edge",
          col("feature_count") + 1).otherwise(col("feature_count"))))
      expect("wrong stats row is rejected",
        Check.loads(spark, root, Seq(stats)).contains("stats"))

      val status = load("status")
      expect("wrong response status is rejected",
        Check.loads(spark, root, Seq(status.copy(status = 500, success = false)))
          .contains("status"))
      expect("other loads stay clean", Check.loads(spark, root, Seq(good)).isEmpty)
    } finally spark.stop()
    println(if (failed == 0) "self-test passed" else s"self-test: $failed failed")
    if (failed == 0) 0 else 1
  }

  /** Replaces a parquet directory with a modified copy of itself. */
  private def rewrite(spark: SparkSession, dir: String)(f: DataFrame => DataFrame): Unit = {
    val tmp = dir + ".rewrite"
    f(spark.read.parquet(dir)).write.mode("overwrite").parquet(tmp)
    Workloads.deleteTree(new File(dir))
    new File(tmp).renameTo(new File(dir))
  }
}
