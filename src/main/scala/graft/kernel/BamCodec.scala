package graft.kernel

import java.io.{DataInputStream, InputStream}
import java.util.zip.GZIPInputStream

/** BAM binary codec — no Spark dependencies.
  *
  * Covers the subset the reference uses through htslib (reference:
  * src/include/SAMRecord.hpp:216-313, src/SAMReader.cpp): BGZF
  * container (concatenated gzip members — java.util.zip reads them
  * transparently), little-endian BAM record layout, 4-bit packed
  * sequence ("=ACMGRSVTWYHKDBN"), CIGAR op codes MIDNSHP=X, integer
  * (cCsSiI) and Z string tags for the 11 tracked tag columns, 0xFF
  * qual = absent. Produces the same SamRecord as the SAM text parser,
  * with identical position/mate conventions.
  */
object BamCodec {

  final class BamException(msg: String) extends IllegalArgumentException(msg)

  private val SeqChars = "=ACMGRSVTWYHKDBN"
  private val CigarOps = "MIDNSHP=X"

  final class Reader(raw: InputStream, includeSeqQual: Boolean) extends Iterator[SamCodec.SamRecord] {
    private val in = new DataInputStream(new GZIPInputStream(raw, 65536))
    private var refNames: Array[String] = _
    private var nextRec: SamCodec.SamRecord = _
    private var finished = false
    private var records = 0L
    private var block = new Array[Byte](512)

    readHeader()

    private def readLeInt(): Int = Integer.reverseBytes(in.readInt())
    private def readLeShort(): Int = java.lang.Short.reverseBytes(in.readShort()) & 0xffff

    /** Reads the header: magic, `l_text` and text, `n_ref` and each
      * reference's `l_name`, name and `l_ref`. Negative sizes and an
      * `l_name` below 1 (the name's NUL) are rejected, and the names
      * grow only as they arrive, so a corrupt size hits the end of input
      * before it exhausts memory. Every fault is a [[BamException]]
      * naming the field (and the reference, counted from 1).
      */
    private def readHeader(): Unit = {
      def corrupt(what: String) = new BamException(s"BAM header: $what")
      try {
        val magic = new Array[Byte](4)
        in.readFully(magic)
        if (!(magic(0) == 'B' && magic(1) == 'A' && magic(2) == 'M' && magic(3) == 1))
          throw new BamException("Invalid BAM magic")
        val lText = readLeInt()
        if (lText < 0) throw corrupt(s"l_text $lText is negative")
        in.skipNBytes(lText.toLong)
        val nRef = readLeInt()
        if (nRef < 0) throw corrupt(s"n_ref $nRef is negative")
        val names = Array.newBuilder[String]
        for (i <- 1 to nRef) {
          def ref(what: String) = corrupt(s"reference $i: $what")
          val lName = readLeInt()
          if (lName < 1) throw ref(s"l_name $lName is below 1")
          fill(lName, s"l_name $lName", ref)
          readLeInt() // l_ref unused for text reconstruction
          names += new String(block, 0, lName - 1, "UTF-8") // strip trailing NUL
        }
        refNames = names.result()
      } catch {
        case _: java.io.EOFException => throw corrupt("input ends inside the header")
      }
    }

    private def refName(id: Int): String =
      if (id < 0 || id >= refNames.length) "*" else refNames(id)

    /** Reads the next record's `block_size` field and body into `block`;
      * returns the size, or -1 at a clean end of input. The size must be
      * at least 32, the fixed fields (htslib `bam_read1`), and `block`
      * grows only as bytes arrive, so a corrupt size hits the end of
      * input before it exhausts memory. Both faults name the record.
      */
    private def readBlock(): Int = {
      val first = in.read()
      if (first < 0) return -1
      def corrupt(what: String) = new BamException(s"BAM record ${records + 1}: $what")
      var blockSize = first
      for (shift <- 8 to 24 by 8) {
        val byte = in.read()
        if (byte < 0) throw corrupt("input ends inside block_size")
        blockSize |= byte << shift
      }
      if (blockSize < 32) throw corrupt(s"block_size $blockSize is below the 32-byte minimum")
      fill(blockSize, s"block_size $blockSize", corrupt)
      records += 1
      blockSize
    }

    /** Reads `size` bytes into `block`, growing it only as bytes arrive;
      * an early end of input is `corrupt("<field> but input ends after
      * <n> bytes")`.
      */
    private def fill(size: Int, field: String, corrupt: String => BamException): Unit = {
      var got = 0
      while (got < size) {
        if (got == block.length)
          block = java.util.Arrays.copyOf(block, math.min(size.toLong, 2L * got).toInt)
        val n = in.read(block, got, math.min(block.length, size) - got)
        if (n < 0) throw corrupt(s"$field but input ends after $got bytes")
        got += n
      }
    }

    private def parseOne(): SamCodec.SamRecord = {
      val blockSize = readBlock()
      if (blockSize < 0) return null
      val b = java.nio.ByteBuffer.wrap(block, 0, blockSize).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val refId = b.getInt
      val pos0 = b.getInt
      val lReadName = b.get() & 0xff
      val mapq = (b.get() & 0xff).toShort
      b.getShort // bin
      val nCigarOp = b.getShort & 0xffff
      val flags = b.getShort & 0xffff
      val lSeq = b.getInt
      val nextRefId = b.getInt
      val nextPos0 = b.getInt
      val tlen = b.getInt
      val nameBytes = new Array[Byte](lReadName)
      b.get(nameBytes)
      val readId = new String(nameBytes, 0, lReadName - 1, "UTF-8")
      val cigarSb = new StringBuilder
      var refLen = 0L
      for (_ <- 0 until nCigarOp) {
        val enc = b.getInt
        val opLen = enc >>> 4
        val op = CigarOps.charAt(enc & 0xf)
        cigarSb.append(opLen).append(op)
        if (op == 'M' || op == 'D' || op == 'N' || op == '=' || op == 'X') refLen += opLen
      }
      val cigar = if (nCigarOp == 0) "*" else cigarSb.toString
      val seqSb = new StringBuilder(lSeq)
      val seqBytes = new Array[Byte]((lSeq + 1) / 2)
      b.get(seqBytes)
      for (i <- 0 until lSeq) {
        val nib = if (i % 2 == 0) (seqBytes(i / 2) >> 4) & 0xf else seqBytes(i / 2) & 0xf
        seqSb.append(SeqChars.charAt(nib))
      }
      val qualBytes = new Array[Byte](lSeq)
      b.get(qualBytes)
      val qualAbsent = lSeq == 0 || (qualBytes.nonEmpty && (qualBytes(0) & 0xff) == 0xff)

      // tags
      var tagAs, tagXs, tagYs, tagXn, tagXm, tagXo, tagXg, tagNm = Option.empty[Long]
      var tagYt, tagMd, tagSa = Option.empty[String]
      while (b.remaining() > 3) {
        val t1 = b.get().toChar
        val t2 = b.get().toChar
        val typ = b.get().toChar
        val key = s"$t1$t2".toUpperCase
        def readIntVal(): Long = typ match {
          case 'c' => b.get().toLong
          case 'C' => (b.get() & 0xff).toLong
          case 's' => b.getShort.toLong
          case 'S' => (b.getShort & 0xffff).toLong
          case 'i' => b.getInt.toLong
          case 'I' => (b.getInt & 0xffffffffL)
          case _   => 0L
        }
        typ match {
          case 'c' | 'C' | 's' | 'S' | 'i' | 'I' =>
            val v = readIntVal()
            key match {
              case "AS" => tagAs = Some(v); case "XS" => tagXs = Some(v)
              case "YS" => tagYs = Some(v); case "XN" => tagXn = Some(v)
              case "XM" => tagXm = Some(v); case "XO" => tagXo = Some(v)
              case "XG" => tagXg = Some(v); case "NM" => tagNm = Some(v)
              case _    =>
            }
          case 'Z' | 'H' =>
            val sb = new StringBuilder
            var c = b.get()
            while (c != 0) { sb.append(c.toChar); c = b.get() }
            key match {
              case "YT" => tagYt = Some(sb.toString)
              case "MD" => tagMd = Some(sb.toString)
              case "SA" => tagSa = Some(sb.toString)
              case _    =>
            }
          case 'A' => b.get()
          case 'f' => b.getFloat
          case 'B' =>
            val sub = b.get().toChar
            val n = b.getInt
            val width = sub match {
              case 'c' | 'C' => 1; case 's' | 'S' => 2; case 'i' | 'I' | 'f' => 4
              case other     => throw new BamException(s"Unknown B subtype $other")
            }
            b.position(b.position() + n * width)
          case other => throw new BamException(s"Unknown tag type $other")
        }
      }

      val position = if (pos0 >= 0) pos0 + 1L else 0L
      val stopPosition =
        if ((flags & 0x4) != 0) 0L
        else {
          val end0 = if (nCigarOp > 0) pos0 + refLen else pos0 + 1L
          if (end0 >= 0) end0 + 1 else 0L
        }
      val mateRef =
        if (nextRefId < 0) "*"
        else if (nextRefId == refId) "="
        else refName(nextRefId)

      var sequence: Option[String] = None
      var qual: Option[Array[Short]] = None
      if (includeSeqQual) {
        val isUnmapped = (flags & 0x4) != 0
        val isPrimary = (flags & 0x100) == 0 && (flags & 0x800) == 0
        if (lSeq == 0 && (isPrimary || isUnmapped))
          throw new SamCodec.SamParseException(
            s"Primary/unmapped read missing sequence (SEQ='*'): $readId")
        sequence = if (lSeq == 0) None else Some(seqSb.toString)
        qual = if (qualAbsent) None
          else Some(qualBytes.map(q => (q & 0xff).toShort))
      }

      SamCodec.SamRecord(readId, flags, refName(refId), position, stopPosition,
        mapq, cigar, mateRef, if (nextPos0 >= 0) nextPos0 + 1L else 0L, tlen,
        tagAs, tagXs, tagYs, tagXn, tagXm, tagXo, tagXg, tagNm,
        tagYt, tagMd, tagSa, sequence, qual)
    }

    def hasNext: Boolean = {
      if (nextRec == null && !finished) {
        nextRec = parseOne()
        if (nextRec == null) finished = true
      }
      nextRec != null
    }

    def next(): SamCodec.SamRecord = {
      if (!hasNext) throw new NoSuchElementException
      val r = nextRec
      nextRec = null
      r
    }

    def close(): Unit = in.close()
  }
}
