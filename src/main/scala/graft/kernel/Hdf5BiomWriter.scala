package graft.kernel

import scala.collection.mutable.ArrayBuffer

/** Minimal pure-JVM HDF5 writer for BIOM v2.1 — no Spark deps.
  *
  * Emits the simplest valid member of the subset Hdf5Biom reads:
  * superblock v0, symbol-table groups, object header v1, contiguous
  * unfiltered OR single-chunk deflate-filtered datasets, fixed-width
  * strings (no global heap needed), root attributes
  * (format-version=[2,1], shape, nnz). Both CSR orientations are
  * written (sample/matrix and observation/matrix), matching the
  * reference's dual-group output (reference: src/copy_biom.cpp:427-462).
  * Compression follows the reference's COPY FORMAT BIOM semantics
  * (src/copy_biom.cpp:22,105-112,358-363): default gzip level 4,
  * accepted values 'gzip'/'gz'/'none', empty datasets stay unfiltered.
  */
object Hdf5BiomWriter {

  private final class Buf {
    val bytes = new ArrayBuffer[Byte]()
    def pos: Long = bytes.length.toLong
    def u8(v: Int): Unit = bytes += (v & 0xff).toByte
    def u16(v: Int): Unit = { u8(v); u8(v >> 8) }
    def u32(v: Long): Unit = { u16(v.toInt); u16((v >> 16).toInt) }
    def u64(v: Long): Unit = { u32(v & 0xffffffffL); u32(v >>> 32) }
    def raw(b: Array[Byte]): Unit = bytes ++= b
    def str(s: String): Unit = raw(s.getBytes("UTF-8"))
    def zeros(n: Int): Unit = for (_ <- 0 until n) u8(0)
    def pad8(): Unit = while (bytes.length % 8 != 0) u8(0)
    def patch64(at: Long, v: Long): Unit = {
      var x = v
      for (i <- 0 until 8) { bytes(at.toInt + i) = (x & 0xff).toByte; x >>= 8 }
    }
    def result: Array[Byte] = bytes.toArray
  }

  /** One dataset: name + type descriptor + raw little-endian payload. */
  private sealed trait Payload { def elemCount: Long }
  private final case class F64(values: Array[Double]) extends Payload {
    def elemCount: Long = values.length.toLong
  }
  private final case class I64(values: Array[Long]) extends Payload {
    def elemCount: Long = values.length.toLong
  }
  private final case class FixedStr(values: Seq[String], width: Int) extends Payload {
    def elemCount: Long = values.length.toLong
  }

  private def datatypeBody(p: Payload): Array[Byte] = {
    val b = new Buf
    p match {
      case _: F64 =>
        b.u8(0x11); b.u8(0x20); b.u8(0x3f); b.u8(0x00) // float, LE, IEEE flags
        b.u32(8)
        b.u16(0); b.u16(64) // bit offset / precision
        b.u8(52); b.u8(11); b.u8(0); b.u8(52) // exp loc/size, mant loc/size
        b.u32(1023) // exponent bias
      case _: I64 =>
        b.u8(0x10); b.u8(0x08); b.u8(0); b.u8(0) // fixed-point, signed, LE
        b.u32(8)
        b.u16(0); b.u16(64)
      case FixedStr(_, width) =>
        b.u8(0x13); b.u8(0); b.u8(0); b.u8(0) // string, null-padded
        b.u32(width.toLong)
    }
    b.pad8()
    b.result
  }

  private def payloadBytes(p: Payload): Array[Byte] = {
    val b = new Buf
    p match {
      case F64(vs) => vs.foreach(v => b.u64(java.lang.Double.doubleToLongBits(v)))
      case I64(vs) => vs.foreach(b.u64)
      case FixedStr(vs, w) =>
        for (s <- vs) {
          val sb = s.getBytes("UTF-8")
          require(sb.length <= w, s"string '$s' exceeds width $w")
          b.raw(sb); b.zeros(w - sb.length)
        }
    }
    b.result
  }

  /** Write an object header v1 whose messages are pre-rendered
    * (type, body) pairs; returns the header address.
    */
  private def objectHeader(b: Buf, msgs: Seq[(Int, Array[Byte])]): Long = {
    b.pad8()
    val addr = b.pos
    val total = msgs.map(m => 8 + m._2.length).sum
    b.u8(1); b.u8(0)
    b.u16(msgs.length)
    b.u32(1) // ref count
    b.u32(total.toLong)
    b.u32(0) // pad to make messages start at +16
    for ((t, body) <- msgs) {
      b.u16(t); b.u16(body.length); b.u8(0); b.zeros(3)
      b.raw(body)
    }
    addr
  }

  private def dataspace1d(n: Long): Array[Byte] = {
    val b = new Buf
    b.u8(1); b.u8(1); b.u8(0); b.zeros(5)
    b.u64(n)
    b.result
  }

  private def elemSize(p: Payload): Int = p match {
    case _: F64 | _: I64 => 8
    case FixedStr(_, w)  => w
  }

  /** Filter pipeline v1 message: single mandatory deflate filter
    * (id 1) with one client value = compression level (reference:
    * src/copy_biom.cpp:363 setDeflate(4)).
    */
  private def filterPipeline(level: Int): Array[Byte] = {
    val b = new Buf
    b.u8(1); b.u8(1); b.zeros(6) // version, nfilters, reserved
    b.u16(1) // filter id: deflate
    b.u16(0) // name length
    b.u16(0) // flags: mandatory
    b.u16(1) // one client value
    b.u32(level.toLong)
    b.u32(0) // client values padded to an even count
    b.result
  }

  /** Dataset object header; returns (headerAddr, patchAddr). The patch
    * slot is the contiguous data address (uncompressed) or the chunk
    * B-tree address (gzip; pre-set to undefined −1 so empty datasets
    * need no chunks).
    */
  private def datasetHeader(b: Buf, p: Payload, gzipLevel: Option[Int]): (Long, Long) = {
    val layout = new Buf
    val patchRel = gzipLevel match {
      case None =>
        layout.u8(3); layout.u8(1) // v3 contiguous
        val pr = layout.pos
        layout.u64(0) // data address (patched)
        layout.u64(payloadBytes(p).length.toLong)
        pr
      case Some(_) =>
        layout.u8(3); layout.u8(2) // v3 chunked
        layout.u8(2) // dimensionality = rank + 1 (element-size dim)
        val pr = layout.pos
        layout.u64(-1L) // chunk B-tree address (patched; −1 = no chunks)
        layout.u32(math.max(p.elemCount, 1L)) // one chunk spans the dataset
        layout.u32(elemSize(p).toLong)
        pr
    }
    layout.pad8()
    val msgs = Seq(0x1 -> dataspace1d(p.elemCount), 0x3 -> datatypeBody(p)) ++
      gzipLevel.map(lv => 0xB -> filterPipeline(lv)) :+ (0x8 -> layout.result)
    val addr = objectHeader(b, msgs)
    // absolute patch position: messages start at addr+16, each 8-byte
    // message header + body; the layout message is last
    val off = addr + 16 + msgs.init.map(m => 8 + m._2.length).sum + 8 + patchRel
    (addr, off)
  }

  /** Group: local heap + SNOD + btree; children are (name, hdrAddr,
    * optional (btree, heap) scratch for subgroups).
    */
  private def group(b: Buf, children: Seq[(String, Long, Option[(Long, Long)])]): (Long, Long) = {
    // local heap data: names. libhdf5 reserves the heap head — offset 0
    // decodes as the empty string (the B-tree's low key anchor); real
    // names start at offset 8 (ADVICE r2 spec-conformance fix).
    b.pad8()
    val heapData = b.pos
    b.zeros(8)
    val nameOffsets = children.map { case (name, _, _) =>
      val off = b.pos - heapData
      b.str(name); b.u8(0); b.pad8()
      off
    }
    val heapDataSize = b.pos - heapData
    b.pad8()
    val heapHdr = b.pos
    b.str("HEAP"); b.zeros(4)
    // free-list head = 1 (H5HL_FREE_NULL): libhdf5's "no free block"
    // marker — 0 would be decoded as a free block at the heap head.
    b.u64(heapDataSize); b.u64(1); b.u64(heapData)
    // SNOD
    b.pad8()
    val snod = b.pos
    b.str("SNOD"); b.u8(1); b.u8(0); b.u16(children.length)
    for (((_, hdr, scratch), nameOff) <- children.zip(nameOffsets)) {
      b.u64(nameOff); b.u64(hdr)
      b.u32(if (scratch.isDefined) 1L else 0L); b.u32(0)
      scratch match {
        case Some((bt, hp)) => b.u64(bt); b.u64(hp)
        case None           => b.zeros(16)
      }
    }
    // B-tree leaf with the single SNOD child
    b.pad8()
    val btree = b.pos
    b.str("TREE"); b.u8(0); b.u8(0); b.u16(1)
    b.u64(-1L); b.u64(-1L) // siblings undefined
    // Group B-tree keys are heap offsets of names: low key = empty string
    // at heap offset 0, high key = the greatest (last sorted) child name.
    b.u64(0)
    b.u64(snod)
    b.u64(nameOffsets.last)
    (btree, heapHdr)
  }

  private def stabMessage(btree: Long, heap: Long): Array[Byte] = {
    val b = new Buf
    b.u64(btree); b.u64(heap)
    b.result
  }

  private def attr(name: String, p: Payload): Array[Byte] = {
    val b = new Buf
    val dt = datatypeBody(p)
    val ds = dataspace1d(p.elemCount)
    val nameBytes = name.getBytes("UTF-8") :+ 0.toByte
    b.u8(1); b.u8(0)
    b.u16(nameBytes.length)
    b.u16(dt.length); b.u16(ds.length)
    b.raw(nameBytes); b.pad8()
    b.raw(dt) // already 8-aligned
    b.raw(ds); b.pad8()
    b.raw(payloadBytes(p))
    b.pad8()
    b.result
  }

  /** Deflate level for the COPY FORMAT BIOM `compression` option:
    * 'gzip'/'gz' → 4, 'none' → unfiltered; any other name is rejected.
    */
  def deflateLevel(compression: String): Option[Int] = compression.toLowerCase match {
    case "gzip" | "gz" => Some(4) // h5py/BIOM default level, copy_biom.cpp:363
    case "none"        => None
    case other => throw new IllegalArgumentException(
      s"COPY FORMAT BIOM: compression must be 'gzip', 'gz', or 'none' (got '$other')")
  }

  /** Write a BIOM v2.1 HDF5 image from COO rows. `compression` follows
    * the reference's COPY FORMAT BIOM option: 'gzip'/'gz' (default,
    * deflate level 4) or 'none'.
    */
  def write(coo: Seq[(String, String, Double)], id: String = "graft-biom",
      compression: String = "gzip"): Array[Byte] = {
    val gzipLevel = deflateLevel(compression)
    val sampleIds = coo.map(_._1).distinct.sorted
    val obsIds = coo.map(_._2).distinct.sorted
    val sIdx = sampleIds.zipWithIndex.toMap
    val oIdx = obsIds.zipWithIndex.toMap

    def csr(major: Seq[String], idxOfMajor: Map[String, Int],
        idxOfMinor: Map[String, Int],
        key: ((String, String, Double)) => (String, String)) = {
      val byMajor = coo.groupBy(r => key(r)._1)
      val data = ArrayBuffer[Double]()
      val indices = ArrayBuffer[Long]()
      val indptr = ArrayBuffer[Long](0L)
      for (m <- major) {
        val rows = byMajor.getOrElse(m, Seq.empty)
          .sortBy(r => idxOfMinor(key(r)._2))
        for (r <- rows) { data += r._3; indices += idxOfMinor(key(r)._2).toLong }
        indptr += data.length.toLong
      }
      (data.toArray, indices.toArray, indptr.toArray)
    }
    val (sData, sInd, sPtr) = csr(sampleIds, sIdx, oIdx, r => (r._1, r._2))
    val (oData, oInd, oPtr) = csr(obsIds, oIdx, sIdx, r => (r._2, r._1))

    val b = new Buf
    // superblock v0
    b.raw(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    b.u8(0); b.u8(0); b.u8(0); b.u8(0)
    b.u8(0); b.u8(8); b.u8(8); b.u8(0)
    b.u16(4); b.u16(16) // leaf k, internal k
    b.u32(0)
    b.u64(0)   // base address
    b.u64(-1L) // free space
    val eofPatch = b.pos; b.u64(0)
    b.u64(-1L) // driver info
    // root symbol table entry (patched)
    val rootSte = b.pos
    b.u64(0)
    val rootHdrPatch = b.pos; b.u64(0)
    b.u32(1); b.u32(0)
    val rootBtreePatch = b.pos; b.u64(0)
    val rootHeapPatch = b.pos; b.u64(0)
    require(rootSte == 56, s"root STE at $rootSte")

    def strWidth(ss: Seq[String]): Int =
      math.max(1, if (ss.isEmpty) 1 else ss.map(_.getBytes("UTF-8").length).max)

    def writeMatrixGroup(data: Array[Double], ind: Array[Long], ptr: Array[Long]) = {
      val (dH, dP) = datasetHeader(b, F64(data), gzipLevel)
      val (iH, iP) = datasetHeader(b, I64(ind), gzipLevel)
      val (pH, pP) = datasetHeader(b, I64(ptr), gzipLevel)
      val (bt, hp) = group(b, Seq(
        ("data", dH, None), ("indices", iH, None), ("indptr", pH, None)))
      val hdr = objectHeader(b, Seq(0x11 -> stabMessage(bt, hp)))
      ((hdr, bt, hp), Seq((dP, F64(data): Payload), (iP, I64(ind): Payload), (pP, I64(ptr): Payload)))
    }

    def writeBiomGroup(ids: Seq[String], data: Array[Double],
        ind: Array[Long], ptr: Array[Long]) = {
      val idsPayload = FixedStr(ids, strWidth(ids))
      val (idsH, idsP) = datasetHeader(b, idsPayload, gzipLevel)
      val ((mHdr, mBt, mHp), patches) = writeMatrixGroup(data, ind, ptr)
      val (bt, hp) = group(b, Seq(
        ("ids", idsH, None), ("matrix", mHdr, Some((mBt, mHp)))))
      val hdr = objectHeader(b, Seq(0x11 -> stabMessage(bt, hp)))
      ((hdr, bt, hp), (idsP, idsPayload: Payload) +: patches)
    }

    val ((obsHdr, obsBt, obsHp), obsPatches) = writeBiomGroup(obsIds, oData, oInd, oPtr)
    val ((samHdr, samBt, samHp), samPatches) = writeBiomGroup(sampleIds, sData, sInd, sPtr)

    // root group header with BIOM attributes + root btree/heap/SNOD
    val rootHdr = objectHeader(b, Seq(
      0xC -> attr("format-version", I64(Array(2L, 1L))),
      0xC -> attr("shape", I64(Array(obsIds.length.toLong, sampleIds.length.toLong))),
      0xC -> attr("nnz", I64(Array(coo.length.toLong))),
      0xC -> attr("id", FixedStr(Seq(id), strWidth(Seq(id)))),
      0xC -> attr("type", FixedStr(Seq("OTU table"), 9))))
    val (rootBt, rootHp) = group(b, Seq(
      ("observation", obsHdr, Some((obsBt, obsHp))),
      ("sample", samHdr, Some((samBt, samHp)))))

    // dataset payloads at the end; patch layout addresses. gzip mode
    // writes one deflated chunk + a 1-entry chunk B-tree per dataset
    // and patches the B-tree address; empty datasets keep the −1
    // (undefined) address the layout message was written with.
    for ((patchPos, payload) <- obsPatches ++ samPatches) gzipLevel match {
      case None =>
        b.pad8()
        val addr = b.pos
        b.raw(payloadBytes(payload))
        b.patch64(patchPos, addr)
      case Some(level) if payload.elemCount > 0 =>
        val raw = payloadBytes(payload)
        val defl = new java.util.zip.Deflater(level)
        defl.setInput(raw); defl.finish()
        val outBuf = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
        val tmp = new Array[Byte](8192)
        while (!defl.finished()) outBuf.write(tmp, 0, defl.deflate(tmp))
        defl.end()
        val comp = outBuf.toByteArray
        b.pad8()
        val chunkAddr = b.pos
        b.raw(comp)
        b.pad8()
        val btree = b.pos
        b.str("TREE"); b.u8(1); b.u8(0); b.u16(1) // type 1 (chunks), leaf, 1 entry
        b.u64(-1L); b.u64(-1L) // siblings undefined
        // key 0: stored (filtered) size, filter mask, offsets (0, 0)
        b.u32(comp.length.toLong); b.u32(0); b.u64(0); b.u64(0)
        b.u64(chunkAddr)
        // final key: the past-the-end chunk offset
        b.u32(0); b.u32(0); b.u64(payload.elemCount); b.u64(0)
        b.patch64(patchPos, btree)
      case Some(_) => // empty dataset: no chunks, address stays undefined
    }

    b.patch64(rootHdrPatch, rootHdr)
    b.patch64(rootBtreePatch, rootBt)
    b.patch64(rootHeapPatch, rootHp)
    b.patch64(eofPatch, b.pos)
    b.result
  }
}
