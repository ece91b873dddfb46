package graft.io

import org.apache.hadoop.fs.PositionedReadable

import graft.operators.MalformedShardException

/** Positioned reads over one file or byte array of known length — the
  * carrier of every seeking walk ([[graft.operators.Zip.walkZip]],
  * [[graft.operators.Mp4.parseMp4Seek]]) and of the bounded header
  * prefix reads. A column operator wraps its payload
  * ([[RandomAccess.apply]]); a path-level source wraps an open Hadoop
  * stream ([[RandomAccess.hadoop]]); both run the same walk.
  */
trait RandomAccess {

  def length: Long

  /** What a failed read names: the file path, or a generic label. */
  def name: String = "<bytes>"

  /** Copy `n` bytes at absolute `at` into `buf(off ...)`. Only called
    * with a range inside [0, length).
    */
  protected def readAt(at: Long, buf: Array[Byte], off: Int, n: Int): Unit

  /** Read exactly `n` bytes at absolute `at`. A range outside
    * [0, length) throws [[MalformedShardException]]: a length field
    * pointing past the end is a malformed file, never a short read.
    */
  final def readFully(at: Long, buf: Array[Byte], off: Int, n: Int): Unit = {
    if (at < 0L || n < 0 || at > length - n)
      throw new MalformedShardException(
        s"$name: read of $n bytes at $at past the end ($length bytes)")
    readAt(at, buf, off, n)
  }

  /** The first `min(length, n)` bytes. */
  final def head(n: Int): Array[Byte] = {
    val buf = new Array[Byte](math.min(length, n.toLong).toInt)
    readFully(0L, buf, 0, buf.length)
    buf
  }

  /** Parse a header prefix of at most `cap` bytes, reading 64 KiB
    * first and the full `cap` only when that smaller prefix refuses.
    * Front-loaded metadata (FLAC's STREAMINFO, WAV/AIFF format chunks,
    * AVI's hdrl, Matroska's Info) answers from the first read, so a
    * directory of a million small-header files costs 64 KiB per file,
    * not `cap`. A small-prefix success means every field the parser
    * used sat inside 64 KiB; only a non-standard layout (a duplicate
    * fmt chunk, a fact chunk after the data) could put field-bearing
    * metadata past a successful prefix.
    */
  final def parsePrefix[T](cap: Int)(parse: Array[Byte] => Option[T]): Option[T] = {
    val small = head(math.min(cap, 64 << 10))
    val first = parse(small)
    if (first.isDefined || small.length >= math.min(length, cap.toLong)) first
    else parse(head(cap))
  }
}

object RandomAccess {

  /** Random access over an in-memory payload. */
  def apply(b: Array[Byte]): RandomAccess = new RandomAccess {
    def length: Long = b.length.toLong
    protected def readAt(at: Long, buf: Array[Byte], off: Int, n: Int): Unit =
      System.arraycopy(b, at.toInt, buf, off, n)
  }

  /** Random access over an open Hadoop stream of `fileLength` bytes;
    * failed reads name `path`.
    */
  def hadoop(in: PositionedReadable, fileLength: Long,
      path: String): RandomAccess = new RandomAccess {
    def length: Long = fileLength
    override def name: String = path
    protected def readAt(at: Long, buf: Array[Byte], off: Int, n: Int): Unit =
      in.readFully(at, buf, off, n)
  }
}
