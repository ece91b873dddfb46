package graft.sources

import java.io.Closeable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}

import graft.io.RandomAccess

/** The one per-file scaffold every path-level source runs on
  * ([[GeoJsonZipSource]], [[WarcSource]], [[TarShardSource]],
  * [[ZipShardSource]], [[Mp4ShardSource]], [[MpegTsShardSource]],
  * [[WebmShardSource]], [[MediaShardSource]]): how a resolved file
  * becomes a Spark task, and how it is opened and closed.
  */
private[sources] object StreamUtil {

  /** One file opened on an executor: its path, the raw Hadoop stream,
    * and — only when asked — its length (one `getFileStatus` call) and
    * a bounds-checked [[RandomAccess]] view of the stream.
    */
  final class OpenFile private[StreamUtil] (val path: String,
      fs: FileSystem, fsPath: Path) {
    val stream: FSDataInputStream = fs.open(fsPath)
    lazy val length: Long = fs.getFileStatus(fsPath).getLen
    def randomAccess: RandomAccess = RandomAccess.hadoop(stream, length, path)
  }

  /** Scan `files`, one file at a time, into one Dataset.
    *
    * Parallelism: the file list is sliced straight into
    * `min(files, defaultParallelism)` partitions (`parallelize`: no
    * shuffle, no extra job), so each task reads one file while
    * files ≤ cores. The unit of work is the file; one file is one
    * task's serial walk.
    *
    * On the executor each file is opened, `wrap` builds the outermost
    * stream the source reads through (gzip, buffering, a ZIP stream,
    * or the raw stream itself), and `read` turns it into rows. The
    * outermost stream is closed as soon as the rows run out — a task
    * that walks many files must not hold every descriptor until it
    * ends — and again, idempotently, when the task completes, the
    * backstop for a failed or abandoned read.
    */
  def scanFiles[S <: Closeable, T: Encoder](spark: SparkSession,
      files: Seq[String])(wrap: OpenFile => S)(
      read: (OpenFile, S) => Iterator[T]): Dataset[T] = {
    val hconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val slices = math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(spark.sparkContext.parallelize(files, slices))(Encoders.STRING)
      .flatMap { p =>
        val fsPath = new Path(p)
        val file = new OpenFile(p, fsPath.getFileSystem(hconf.value), fsPath)
        val outer =
          try wrap(file)
          catch { case e: Throwable => file.stream.close(); throw e }
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => outer.close()))
        closeOnExhaustion(read(file, outer), outer)
      }
  }

  /** [[scanFiles]] over every file a path, glob or directory names. */
  def scanPath[S <: Closeable, T: Encoder](spark: SparkSession,
      path: String)(wrap: OpenFile => S)(
      read: (OpenFile, S) => Iterator[T]): Dataset[T] =
    scanFiles(spark, resolveFiles(spark, path))(wrap)(read)

  /** Close `closeable` as soon as the iterator reports exhaustion
    * (idempotent — the task-completion backstop may close again).
    */
  def closeOnExhaustion[T](it: Iterator[T],
      closeable: Closeable): Iterator[T] = new Iterator[T] {
    private var closed = false
    override def hasNext: Boolean = {
      val h = it.hasNext
      if (!h && !closed) { closed = true; closeable.close() }
      h
    }
    override def next(): T = it.next()
  }

  /** Driver-side resolution of a path/glob/directory into files —
    * one driver RPC per load; the per-file bytes stay on executors.
    * A directory is listed one level deep.
    */
  def resolveFiles(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(p)) match {
      case None | Some(Array()) =>
        throw new java.io.FileNotFoundException(path)
      case Some(arr) => arr.toSeq
    }
    matched.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.filter(_.isFile)
      else Seq(st)
    }.map(_.getPath.toString)
  }
}

/** Hadoop Configuration is not Serializable; ship it to tasks via its
  * own writable form (same trick Spark's internal wrapper uses).
  */
private[sources] final class SerializableHadoopConf(
    @transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject(); value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
