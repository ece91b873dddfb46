package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Bytes, RandomAccess}
import graft.operators.MalformedShardException

/** The shared byte readers against `java.nio.ByteBuffer` in the matching
  * byte order, and the bounds contract of both [[RandomAccess]] carriers.
  */
class BytesSpec extends AnyFunSuite {

  /** Deterministic forAll over a Gen (scalatestplus not available offline). */
  private def forAll[A](g: Gen[A], n: Int = 500)(f: A => Unit): Unit =
    (0 until n).foreach(i => f(g.pureApply(Gen.Parameters.default, Seed(i.toLong))))

  /** A random array and an offset with at least 8 bytes after it. */
  private val arrayAndOffset: Gen[(Array[Byte], Int)] = for {
    n <- Gen.choose(8, 64)
    b <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
    o <- Gen.choose(0, n - 8)
  } yield (b.toArray, o)

  private def buf(b: Array[Byte], order: ByteOrder) = ByteBuffer.wrap(b).order(order)

  test("every reader equals ByteBuffer in the matching byte order") {
    forAll(arrayAndOffset) { case (b, o) =>
      val le = buf(b, ByteOrder.LITTLE_ENDIAN)
      val be = buf(b, ByteOrder.BIG_ENDIAN)
      assert(Bytes.le16(b, o) == (le.getShort(o) & 0xFFFF))
      assert(Bytes.le32(b, o) == (le.getInt(o) & 0xFFFFFFFFL))
      assert(Bytes.le64(b, o) == le.getLong(o))
      assert(Bytes.be16(b, o) == (be.getShort(o) & 0xFFFF))
      assert(Bytes.be32(b, o) == (be.getInt(o) & 0xFFFFFFFFL))
      assert(Bytes.be64(b, o) == be.getLong(o))
      assert(Bytes.u16(b, o, little = true) == Bytes.le16(b, o))
      assert(Bytes.u16(b, o, little = false) == Bytes.be16(b, o))
      assert(Bytes.u32(b, o, little = true) == Bytes.le32(b, o))
      assert(Bytes.u32(b, o, little = false) == Bytes.be32(b, o))
      val t = Bytes.tag(b, o)
      assert(t.length == 4)
      assert(t.indices.forall(i => t.charAt(i) == (b(o + i) & 0xFF).toChar))
    }
  }

  test("array RandomAccess: in-bounds reads copy, reads past either end throw") {
    forAll(arrayAndOffset) { case (b, o) =>
      val ra = RandomAccess(b)
      val out = new Array[Byte](8)
      ra.readFully(o.toLong, out, 0, 8)
      assert(out.toSeq == b.slice(o, o + 8).toSeq)
      intercept[MalformedShardException](ra.readFully(b.length - 4L, out, 0, 8))
      intercept[MalformedShardException](ra.readFully(-1L, out, 0, 1))
    }
  }

  test("Hadoop RandomAccess: a read past the end of the file throws " +
      "MalformedShardException naming the file") {
    val f = Files.createTempFile("random-access", ".bin")
    Files.write(f, Array.tabulate[Byte](100)(_.toByte))
    val p = new Path(f.toString)
    val in = p.getFileSystem(new Configuration()).open(p)
    try {
      val ra = RandomAccess.hadoop(in, 100L, f.toString)
      val out = new Array[Byte](10)
      ra.readFully(90L, out, 0, 10)
      assert(out.toSeq == (90 until 100).map(_.toByte))
      val e = intercept[MalformedShardException](ra.readFully(95L, out, 0, 10))
      assert(e.getMessage.startsWith(f.toString))
      assert(ra.head(1 << 20).length == 100)
    } finally in.close()
  }

  test("parsePrefix reads 64 KiB first and the cap only when that refuses") {
    val b = Array.tabulate[Byte](200 << 10)(i => (i % 251).toByte)
    val seen = scala.collection.mutable.ArrayBuffer[Int]()
    val ra = RandomAccess(b)
    assert(ra.parsePrefix(128 << 10) { p => seen += p.length; Some(p.length) } ==
      Some(64 << 10))
    seen.clear()
    assert(ra.parsePrefix(128 << 10) { p => seen += p.length; None } == None)
    assert(seen.toSeq == Seq(64 << 10, 128 << 10))
    seen.clear()
    // a file no longer than the small prefix is never read twice
    RandomAccess(b.take(1000)).parsePrefix(128 << 10) { p => seen += p.length; None }
    assert(seen.toSeq == Seq(1000))
  }
}
