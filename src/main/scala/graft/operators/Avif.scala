package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.io.Bytes.{be16, be32, be64, tag}

/** AVIF/HEIF still images — the ISO-BMFF image family (ISO/IEC
  * 23008-12 over the 14496-12 box grammar) that modern crawls
  * increasingly carry. Dimensions do NOT live in a track: they are
  * item PROPERTIES — `meta` → `iprp` → `ipco` holds the property
  * boxes (`ispe` spatial extent, `irot` rotation, `imir` mirror,
  * `av1C`/`hvcC` coding config) and `ipma` associates them with
  * items; `pitm` names the PRIMARY item. A file routinely carries
  * several items (thumbnail, alpha, grid tiles), each with its own
  * `ispe` — reading "the first ispe" lies about the image, so this
  * walk resolves the primary item's OWN associations.
  *
  * Honesty contract: a missing `pitm`, a primary item with no `ipma`
  * entry, an association index outside `ipco`, a missing or duplicate
  * `ispe` among the primary item's properties, or any truncated box
  * refuses the parse — never a guessed dimension. `irot`/`imir` are
  * read, and the DISPLAYED dimensions swap width/height on 90°/270°
  * rotations the way every conforming renderer must.
  *
  * Scale: header-only, bounds-checked, prefix-friendly (the `meta`
  * box leads the file in practice; `mdat` is skipped by declared
  * size) — the same metadata-filter shape as the other nine container
  * walks in [[Media]].
  */
object Avif {

  /** Metadata of the PRIMARY item. `width`/`height` are the stored
    * `ispe` extent; `dispWidth`/`dispHeight` apply `irot`.
    */
  case class AvifMeta(id: Long, brand: String, primaryItem: Long,
      width: Long, height: Long, rotation: Int, mirrored: Boolean,
      dispWidth: Long, dispHeight: Long, codec: String, nItems: Long,
      parsed: Boolean)

  def parseAvifHeader(df: DataFrame, idCol: String,
      binCol: String): Dataset[AvifMeta] = {
    implicit val enc = Encoders.product[AvifMeta]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          parseAvif(r.getAs[Array[Byte]](1)) match {
            case Some(m) => m.copy(id = id)
            case None => AvifMeta(id, "", 0L, 0L, 0L, 0, false, 0L,
              0L, "", 0L, parsed = false)
          }
        }
    }
  }

  /** Metadata projection — id + the [[AvifMeta]] fields as columns. */
  def avifMetaScan(df: DataFrame, idCol: String,
      binCol: String): DataFrame =
    parseAvifHeader(df, idCol, binCol).toDF().select(col("id"),
      col("brand"), col("primaryItem").as("primary_item"),
      col("width"), col("height"), col("rotation"), col("mirrored"),
      col("dispWidth").as("disp_width"),
      col("dispHeight").as("disp_height"),
      col("codec"), col("nItems").as("n_items"), col("parsed"))

  /** The brands this walk accepts as still-image ISO-BMFF. */
  private[graft] val imageBrands =
    Set("avif", "avis", "heic", "heix", "mif1")

  /** True when the payload is ISO-BMFF with a still-image brand —
    * [[Media]] uses this to split the `ftyp` dispatch between the
    * movie walk and this one.
    */
  private[graft] def isImageBrand(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 &&
      tag(b, 4) == "ftyp" && imageBrands.contains(tag(b, 8))

  // ---- imperative internals -------------------------------------------

  /** Child box ranges of [start, end): (type, payloadStart,
    * payloadEnd). None on any malformed header — every STRUCTURAL
    * byte must be present (`avail`); only an `mdat` body may lie
    * beyond it (prefix reads).
    */
  private def childRanges(b: Array[Byte], start: Long, end: Long,
      avail: Long): Option[Vector[(String, Long, Long)]] = {
    val out = Vector.newBuilder[(String, Long, Long)]
    var pos = start
    while (pos < end) {
      if (pos + 8 > avail) return None
      val sz32 = be32(b, pos.toInt)
      val typ = tag(b, pos.toInt + 4)
      val (payload, boxEnd) =
        if (sz32 == 1L) {
          if (pos + 16 > avail) return None
          val sz = be64(b, pos.toInt + 8)
          if (sz < 16L) return None
          (pos + 16, pos + sz)
        } else if (sz32 == 0L) (pos + 8, end)
        else {
          if (sz32 < 8L) return None
          (pos + 8, pos + sz32)
        }
      if (boxEnd > end) return None
      // mdat content may exceed the PRESENT bytes (prefix path);
      // anything structural must not
      if (typ != "mdat" && typ != "free" && typ != "skip" &&
        boxEnd > avail) return None
      out += ((typ, payload, boxEnd))
      pos = boxEnd
    }
    Some(out.result())
  }

  /** `trueLen < 0`: bytes is the whole file; else bytes is a prefix
    * of a trueLen-byte file (the metadata-filter path).
    */
  private[graft] def parseAvif(bytes: Array[Byte],
      trueLen: Long = -1L): Option[AvifMeta] = {
    if (!isImageBrand(bytes)) return None
    val avail = bytes.length.toLong
    val limit = if (trueLen < 0L) avail else trueLen
    if (trueLen >= 0L && trueLen < avail) return None // lying prefix
    val brand = tag(bytes, 8)
    val top = childRanges(bytes, 0L, limit, avail).getOrElse(return None)
    if (top.head._1 != "ftyp") return None
    val meta = top.find(_._1 == "meta").getOrElse(return None)
    // meta is a FullBox: 4 bytes version/flags before its children
    if (meta._2 + 4 > avail) return None
    val mc = childRanges(bytes, meta._2 + 4, meta._3, avail)
      .getOrElse(return None)
    // pitm: FullBox; item id u16 (version 0) / u32 (version 1+)
    val pitm = mc.find(_._1 == "pitm").getOrElse(return None)
    if (pitm._2 + 4 > avail) return None
    val pitmVer = bytes(pitm._2.toInt) & 0xFF
    val primary =
      if (pitmVer == 0) {
        if (pitm._2 + 6 > pitm._3) return None
        be16(bytes, pitm._2.toInt + 4).toLong
      } else {
        if (pitm._2 + 8 > pitm._3) return None
        be32(bytes, pitm._2.toInt + 4)
      }
    val iprp = mc.find(_._1 == "iprp").getOrElse(return None)
    val pc = childRanges(bytes, iprp._2, iprp._3, avail)
      .getOrElse(return None)
    val ipco = pc.find(_._1 == "ipco").getOrElse(return None)
    val props = childRanges(bytes, ipco._2, ipco._3, avail)
      .getOrElse(return None)
    val ipma = pc.find(_._1 == "ipma").getOrElse(return None)
    // ipma: FullBox; entry_count u32; per entry item id (u16/u32 by
    // version), association count u8, then 8- or 16-bit associations
    // (1 essential bit + 7/15-bit 1-based ipco index) by flags bit 0
    if (ipma._2 + 8 > ipma._3) return None
    val ipmaVer = bytes(ipma._2.toInt) & 0xFF
    val wide = (be32(bytes, ipma._2.toInt) & 0x1L) != 0L
    val entryCount = be32(bytes, ipma._2.toInt + 4)
    var p = ipma._2 + 8
    var myProps: Vector[Int] = null
    var items = 0L
    var e = 0L
    while (e < entryCount) {
      val itemId =
        if (ipmaVer < 1) {
          if (p + 2 > ipma._3) return None
          val v = be16(bytes, p.toInt).toLong; p += 2; v
        } else {
          if (p + 4 > ipma._3) return None
          val v = be32(bytes, p.toInt); p += 4; v
        }
      if (p + 1 > ipma._3) return None
      val nAssoc = bytes(p.toInt) & 0xFF
      p += 1
      val idxs = Vector.newBuilder[Int]
      var a = 0
      while (a < nAssoc) {
        val idx =
          if (wide) {
            if (p + 2 > ipma._3) return None
            val v = be16(bytes, p.toInt) & 0x7FFF; p += 2; v
          } else {
            if (p + 1 > ipma._3) return None
            val v = bytes(p.toInt) & 0x7F; p += 1; v
          }
        idxs += idx
        a += 1
      }
      items += 1
      if (itemId == primary) {
        if (myProps != null) return None // duplicate ipma entry
        myProps = idxs.result()
      }
      e += 1
    }
    if (p != ipma._3) return None // trailing bytes inside ipma
    if (myProps == null) return None // primary item has no properties
    // resolve the PRIMARY item's properties (1-based into ipco);
    // index 0 means "no property" per spec — skip; out-of-range lies
    var w = -1L; var h = -1L
    var rot = 0; var mir = false
    var codec = ""
    myProps.foreach { idx =>
      if (idx > props.length) return None
      if (idx > 0) {
        val (typ, ps, pe) = props(idx - 1)
        typ match {
          case "ispe" => // FullBox + width u32 + height u32
            if (w >= 0L) return None // duplicate extent: ambiguous
            if (ps + 12 > pe) return None
            w = be32(bytes, ps.toInt + 4)
            h = be32(bytes, ps.toInt + 8)
            if (w <= 0L || h <= 0L) return None
          case "irot" => // plain box, 1 byte, low 2 bits = CCW 90s
            if (ps + 1 > pe) return None
            rot = (bytes(ps.toInt) & 0x3) * 90
          case "imir" => // plain box, 1 byte, bit 0 = axis
            if (ps + 1 > pe) return None
            mir = true
          case "av1C" => codec = "av1"
          case "hvcC" => codec = "hevc"
          case _ => // other properties (colr, pixi, ...) are fine
        }
      }
    }
    if (w < 0L) return None // no spatial extent for the primary item
    val swap = rot == 90 || rot == 270
    Some(AvifMeta(0L, brand, primary, w, h, rot, mir,
      if (swap) h else w, if (swap) w else h, codec, items,
      parsed = true))
  }

  /** One located item: type from `iinf`, primary flag from `pitm`,
    * payload bytes resolved through `iloc` (construction method 0 —
    * absolute file offsets; `idat`/item references refuse honestly).
    */
  case class AvifItemRow(id: Long, itemId: Long, itemType: String,
      isPrimary: Boolean, size: Long, bytes: Array[Byte])

  /** Explode every located item of every AVIF/HEIF payload — the
    * payload-level surface (exact-dup hashing, codec-bytes storage
    * accounting) the metadata scan cannot give. Unparseable files,
    * out-of-bounds extents, non-file-offset construction methods,
    * external data references, or an `iinf`/`iloc` item-set mismatch
    * refuse the WHOLE file (a half-resolved item table silently drops
    * payloads). `maxItemBytes` refuses rather than truncates.
    */
  def avifItemScan(df: DataFrame, idCol: String, binCol: String,
      maxItemBytes: Int = 1 << 26): DataFrame = {
    require(maxItemBytes > 0, "maxItemBytes must be positive")
    implicit val enc = Encoders.product[AvifItemRow]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          parseAvifItems(r.getAs[Array[Byte]](1), maxItemBytes) match {
            case Some(items) => items.map { case (iid, typ, prim, b) =>
              AvifItemRow(id, iid, typ, prim, b.length.toLong, b)
            }
            case None => Nil
          }
        }
    }.toDF().select(col("id"), col("itemId").as("item_id"),
      col("itemType").as("item_type"),
      col("isPrimary").as("is_primary"), col("size"), col("bytes"))
  }

  private[graft] def parseAvifItems(bytes: Array[Byte],
      maxItemBytes: Int)
      : Option[Vector[(Long, String, Boolean, Array[Byte])]] = {
    if (!isImageBrand(bytes)) return None
    val avail = bytes.length.toLong
    val top = childRanges(bytes, 0L, avail, avail).getOrElse(return None)
    val meta = top.find(_._1 == "meta").getOrElse(return None)
    if (meta._2 + 4 > avail) return None
    val mc = childRanges(bytes, meta._2 + 4, meta._3, avail)
      .getOrElse(return None)
    // primary item id (same grammar as parseAvif)
    val pitm = mc.find(_._1 == "pitm").getOrElse(return None)
    if (pitm._2 + 4 > avail) return None
    val primary =
      if ((bytes(pitm._2.toInt) & 0xFF) == 0) {
        if (pitm._2 + 6 > pitm._3) return None
        be16(bytes, pitm._2.toInt + 4).toLong
      } else {
        if (pitm._2 + 8 > pitm._3) return None
        be32(bytes, pitm._2.toInt + 4)
      }
    // iinf: item id -> type
    val iinf = mc.find(_._1 == "iinf").getOrElse(return None)
    if (iinf._2 + 4 > avail) return None
    val iinfVer = bytes(iinf._2.toInt) & 0xFF
    var p = iinf._2 + 4
    val entryCount =
      if (iinfVer == 0) {
        if (p + 2 > iinf._3) return None
        val v = be16(bytes, p.toInt).toLong; p += 2; v
      } else {
        if (p + 4 > iinf._3) return None
        val v = be32(bytes, p.toInt); p += 4; v
      }
    val types = scala.collection.mutable.LinkedHashMap[Long, String]()
    val infes = childRanges(bytes, p, iinf._3, avail)
      .getOrElse(return None)
    if (infes.length.toLong != entryCount) return None
    infes.foreach { case (typ, b0, e0) =>
      if (typ != "infe") return None
      if (b0 + 4 > e0) return None
      val ver = bytes(b0.toInt) & 0xFF
      if (ver != 2 && ver != 3) return None
      var q = b0 + 4
      val itemId =
        if (ver == 2) {
          if (q + 2 > e0) return None
          val v = be16(bytes, q.toInt).toLong; q += 2; v
        } else {
          if (q + 4 > e0) return None
          val v = be32(bytes, q.toInt); q += 4; v
        }
      if (q + 6 > e0) return None
      // protection index (2) + item_type (4cc)
      if (types.contains(itemId)) return None // duplicate id
      types(itemId) = tag(bytes, q.toInt + 2)
    }
    // iloc: item id -> concatenated extents
    val iloc = mc.find(_._1 == "iloc").getOrElse(return None)
    if (iloc._2 + 4 > avail) return None
    val ilocVer = bytes(iloc._2.toInt) & 0xFF
    if (ilocVer > 2) return None
    p = iloc._2 + 4
    if (p + 2 > iloc._3) return None
    val offSize = (bytes(p.toInt) >> 4) & 0xF
    val lenSize = bytes(p.toInt) & 0xF
    val baseSize = (bytes(p.toInt + 1) >> 4) & 0xF
    val idxSize = bytes(p.toInt + 1) & 0xF // v1/v2 extent index size
    if (!Set(0, 4, 8)(offSize) || !Set(0, 4, 8)(lenSize) ||
      !Set(0, 4, 8)(baseSize)) return None
    p += 2
    val itemCount =
      if (ilocVer < 2) {
        if (p + 2 > iloc._3) return None
        val v = be16(bytes, p.toInt).toLong; p += 2; v
      } else {
        if (p + 4 > iloc._3) return None
        val v = be32(bytes, p.toInt); p += 4; v
      }
    def readSized(size: Int): Option[Long] = {
      if (size == 0) return Some(0L)
      if (p + size > iloc._3) return None
      val v = if (size == 4) be32(bytes, p.toInt)
      else be64(bytes, p.toInt)
      p += size
      Some(v)
    }
    val out = Vector.newBuilder[(Long, String, Boolean, Array[Byte])]
    val seenIds = scala.collection.mutable.HashSet.empty[Long]
    var seenPrimary = false
    var i = 0L
    while (i < itemCount) {
      val itemId =
        if (ilocVer < 2) {
          if (p + 2 > iloc._3) return None
          val v = be16(bytes, p.toInt).toLong; p += 2; v
        } else {
          if (p + 4 > iloc._3) return None
          val v = be32(bytes, p.toInt); p += 4; v
        }
      if (ilocVer == 1 || ilocVer == 2) {
        if (p + 2 > iloc._3) return None
        val method = be16(bytes, p.toInt) & 0xF
        p += 2
        if (method != 0) return None // idat/item refs: refuse honestly
      }
      if (p + 2 > iloc._3) return None
      val dataRef = be16(bytes, p.toInt)
      p += 2
      if (dataRef != 0) return None // external file: refuse honestly
      val base = readSized(baseSize).getOrElse(return None)
      if (p + 2 > iloc._3) return None
      val nExtents = be16(bytes, p.toInt)
      p += 2
      if (nExtents < 1) return None
      val buf = new java.io.ByteArrayOutputStream()
      var e = 0
      while (e < nExtents) {
        if ((ilocVer == 1 || ilocVer == 2) && idxSize > 0) {
          if (p + idxSize > iloc._3) return None
          p += idxSize
        }
        val off = readSized(offSize).getOrElse(return None)
        val len = readSized(lenSize).getOrElse(return None)
        // bound each addend BEFORE summing: base+off (and at+len) on two
        // attacker-controlled 64-bit values can wrap Long into a small
        // positive that slips past an after-the-fact range check
        if (base < 0L || off < 0L || len < 0L) return None
        if (base > avail || off > avail - base) return None
        val at = base + off
        if (len > avail - at) return None
        if (buf.size().toLong + len > maxItemBytes) return None
        buf.write(bytes, at.toInt, len.toInt)
        e += 1
      }
      val typ = types.getOrElse(itemId, return None)
      // a duplicated iloc row would emit one payload twice and leave
      // another iinf item unlocated while still matching on COUNT below
      if (!seenIds.add(itemId)) return None
      if (itemId == primary) seenPrimary = true
      out += ((itemId, typ, itemId == primary, buf.toByteArray))
      i += 1
    }
    if (p != iloc._3) return None // trailing bytes inside iloc
    if (types.size.toLong != itemCount) return None // iinf/iloc drift
    if (!seenPrimary) return None // pitm names a phantom item
    Some(out.result())
  }

  // ---- encoder (round-trip twin; also the fixture/smoke builder) -----

  /** One item for [[buildAvif]]: id, ispe extent, rotation in degrees
    * (0/90/180/270; 0 emits no irot), mirror axis (-1 = no imir),
    * coding-config fourcc ("av1C" / "hvcC" / "" for none), the
    * `iinf` item type, and the mdat payload bytes.
    */
  case class AvifItem(itemId: Long, width: Long, height: Long,
      rotation: Int = 0, mirrorAxis: Int = -1, codec: String = "av1C",
      itemType: String = "av01",
      payload: Array[Byte] = Array.emptyByteArray)

  /** Build a minimal conforming AVIF/HEIF: ftyp + meta(hdlr pict,
    * pitm, iprp(ipco + ipma)) + a stub mdat. Properties land in ipco
    * in item order; ipma associates each item with its own.
    */
  def buildAvif(brand: String, items: Seq[AvifItem], primary: Long,
      wideIndexes: Boolean = false, pitmV1: Boolean = false)
      : Array[Byte] = {
    require(items.nonEmpty, "at least one item")
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { bos.write((v >> 8) & 0xFF); bos.write(v & 0xFF) }
    def w32(v: Long): Unit = {
      bos.write(((v >> 24) & 0xFF).toInt); bos.write(((v >> 16) & 0xFF).toInt)
      bos.write(((v >> 8) & 0xFF).toInt); bos.write((v & 0xFF).toInt)
    }
    def tag(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    def box(typ: String)(body: => Unit): Unit = {
      val at = bos.size()
      w32(0L); tag(typ)
      body
      val raw = bos.toByteArray
      val sz = raw.length - at
      raw(at) = ((sz >> 24) & 0xFF).toByte
      raw(at + 1) = ((sz >> 16) & 0xFF).toByte
      raw(at + 2) = ((sz >> 8) & 0xFF).toByte
      raw(at + 3) = (sz & 0xFF).toByte
      bos.reset(); bos.write(raw)
    }
    def fullBox(typ: String, version: Int, flags: Long = 0L)(
        body: => Unit): Unit =
      box(typ) { w32(((version.toLong & 0xFF) << 24) | flags); body }

    box("ftyp") { tag(brand); w32(0L); tag(brand); tag("mif1") }
    // absolute positions of iloc extent-offset fields to patch once
    // the mdat position is known (box-size rewriting never shifts
    // already-written bytes, so positions recorded here are stable)
    val offsetPatches =
      scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    // property list in item order; remember each item's 1-based idxs
    val propIdx = scala.collection.mutable.Map[Long, Vector[Int]]()
    var next = 1
    items.foreach { it =>
      val idxs = Vector.newBuilder[Int]
      idxs += next; next += 1 // ispe
      if (it.rotation != 0) { idxs += next; next += 1 }
      if (it.mirrorAxis >= 0) { idxs += next; next += 1 }
      if (it.codec.nonEmpty) { idxs += next; next += 1 }
      propIdx(it.itemId) = idxs.result()
    }
    fullBox("meta", 0) {
      fullBox("hdlr", 0) { w32(0L); tag("pict"); w32(0L); w32(0L); w32(0L); bos.write(0) }
      fullBox("pitm", if (pitmV1) 1 else 0) {
        if (pitmV1) w32(primary) else w16(primary.toInt)
      }
      box("iprp") {
        box("ipco") {
          items.foreach { it =>
            fullBox("ispe", 0) { w32(it.width); w32(it.height) }
            if (it.rotation != 0)
              box("irot") { bos.write(it.rotation / 90) }
            if (it.mirrorAxis >= 0)
              box("imir") { bos.write(it.mirrorAxis & 1) }
            if (it.codec.nonEmpty)
              box(it.codec) { w32(0x81000C00L) } // stub config bytes
          }
        }
        fullBox("ipma", 0, if (wideIndexes) 1L else 0L) {
          w32(items.length.toLong)
          items.foreach { it =>
            w16(it.itemId.toInt)
            val idxs = propIdx(it.itemId)
            bos.write(idxs.length)
            idxs.foreach { ix =>
              if (wideIndexes) w16(0x8000 | ix) else bos.write(0x80 | ix)
            }
          }
        }
      }
      // iinf: one infe (version 2) per item — type + empty name
      fullBox("iinf", 0) {
        w16(items.length)
        items.foreach { it =>
          fullBox("infe", 2) {
            w16(it.itemId.toInt)
            w16(0) // protection index
            tag(it.itemType)
            bos.write(0) // empty NUL-terminated name
          }
        }
      }
      // iloc: version 0, 4-byte offsets/lengths, no base offset,
      // construction method 0 (absolute file offsets) — the offset
      // fields are patched once the mdat position is known
      fullBox("iloc", 0) {
        bos.write(0x44) // offset_size 4, length_size 4
        bos.write(0x00) // base_offset_size 0, reserved
        w16(items.length)
        items.foreach { it =>
          w16(it.itemId.toInt)
          w16(0) // data_reference_index
          w16(1) // extent_count
          offsetPatches += ((bos.size(), it.itemId))
          w32(0L) // extent_offset (patched)
          w32(it.payload.length.toLong)
        }
      }
    }
    val mdatHeaderAt = bos.size()
    box("mdat") { items.foreach(it => bos.write(it.payload)) }
    val out = bos.toByteArray
    // patch the iloc extent offsets now that the mdat start is known
    var off = mdatHeaderAt + 8
    val offsetOf = scala.collection.mutable.Map[Long, Long]()
    items.foreach { it =>
      offsetOf(it.itemId) = off.toLong
      off += it.payload.length
    }
    offsetPatches.foreach { case (pos, itemId) =>
      val v = offsetOf(itemId)
      out(pos) = ((v >> 24) & 0xFF).toByte
      out(pos + 1) = ((v >> 16) & 0xFF).toByte
      out(pos + 2) = ((v >> 8) & 0xFF).toByte
      out(pos + 3) = (v & 0xFF).toByte
    }
    out
  }
}
