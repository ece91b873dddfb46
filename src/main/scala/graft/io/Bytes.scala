package graft.io

import java.nio.charset.StandardCharsets

/** Fixed-width unsigned integer reads at a byte offset — the one set of
  * readers every container parser shares. Values are unsigned: 16-bit
  * reads return an `Int` in [0, 65535], 32-bit reads a `Long` in
  * [0, 2^32), 64-bit reads the raw two's-complement `Long`. Callers
  * bounds-check; an offset past the array throws as array indexing
  * does.
  */
object Bytes {

  def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)

  def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8) |
      ((b(o + 2) & 0xFFL) << 16) | ((b(o + 3) & 0xFFL) << 24)

  def le64(b: Array[Byte], o: Int): Long =
    le32(b, o) | (le32(b, o + 4) << 32)

  def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)

  def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
      ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)

  def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o) << 32) | be32(b, o + 4)

  /** 16-bit read in the byte order a TIFF/EXIF header names
    * (`II` little, `MM` big).
    */
  def u16(b: Array[Byte], o: Int, little: Boolean): Int =
    if (little) le16(b, o) else be16(b, o)

  def u32(b: Array[Byte], o: Int, little: Boolean): Long =
    if (little) le32(b, o) else be32(b, o)

  /** A 4-byte chunk/box tag (`RIFF`, `moov`, …) as a string. Decoded
    * as ISO-8859-1, which keeps every byte: ASCII tags read as
    * themselves, and iTunes `ilst` names keep their leading 0xA9 ('©').
    */
  def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, StandardCharsets.ISO_8859_1)
}
