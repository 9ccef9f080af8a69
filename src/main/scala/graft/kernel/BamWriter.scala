package graft.kernel

import java.io.OutputStream
import java.nio.{ByteBuffer, ByteOrder}

/** BAM binary record writer over BGZF — no Spark dependencies.
  * Inverse of BamCodec for the subset the reference writes
  * (reference: src/copy_sam.cpp — SEQ/QUAL always absent ('*'), int
  * tags as 'i', string tags as 'Z', 1-based text positions converted
  * to 0-based binary).
  */
final class BamWriter(out: OutputStream, references: Seq[(String, Long)],
    compressionLevel: Int = -1) {
  private val bgzf = new BgzfWriter(out, compressionLevel)
  private val refIndex: Map[String, Int] =
    references.map(_._1).zipWithIndex.toMap

  writeHeader()

  private def le(n: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(n); b.array()
  }

  private def writeHeader(): Unit = {
    val text = (Seq("@HD\tVN:1.6\tSO:unknown") ++
      references.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l" }).mkString("", "\n", "\n")
    val textBytes = text.getBytes("UTF-8")
    bgzf.write(Array[Byte]('B', 'A', 'M', 1))
    bgzf.write(le(textBytes.length))
    bgzf.write(textBytes)
    bgzf.write(le(references.length))
    for ((name, len) <- references) {
      val nb = name.getBytes("UTF-8")
      bgzf.write(le(nb.length + 1))
      bgzf.write(nb); bgzf.write(Array[Byte](0))
      bgzf.write(le(len.toInt))
    }
  }

  private val CigarOps = "MIDNSHP=X"
  private val ConsumesReference = "MDN=X"

  /** htslib hts_reg2bin(beg, end, 14, 5): the smallest UCSC bin holding
    * the 0-based half-open interval [beg, end).
    */
  private def reg2bin(beg: Int, end: Int): Int = {
    var shift = 14
    var first = 4681 // ((1 << 15) - 1) / 7, the first 16 kbp bin
    while (shift <= 26 && (beg >> shift) != ((end - 1) >> shift)) { shift += 3; first >>= 3 }
    if (shift > 26) 0 else first + (beg >> shift)
  }

  def writeRecord(r: SamCodec.SamRecord): Unit = {
    val nameBytes = r.readId.getBytes("UTF-8")
    var refSpan = 0 // reference bases the CIGAR covers
    // packed (length << 4 | op) words
    val cigarOps: Array[Int] =
      if (r.cigar == "*" || r.cigar.isEmpty) Array.emptyIntArray
      else {
        val runs = Array.newBuilder[Int]
        var n = 0
        for (c <- r.cigar)
          if (c.isDigit) n = n * 10 + (c - '0')
          else {
            val op = CigarOps.indexOf(c)
            if (op < 0) throw new IllegalArgumentException(
              s"COPY BAM: unknown CIGAR operator '$c' in read ${r.readId} (CIGAR ${r.cigar})")
            runs += (n << 4) | op
            if (ConsumesReference.indexOf(c) >= 0) refSpan += n
            n = 0
          }
        runs.result()
      }
    val pos = r.position.toInt - 1 // 1-based text → 0-based binary
    // as htslib bam_set1: an unmapped read, or a CIGAR consuming no
    // reference, spans one base (an unplaced unmapped read gets 4680)
    val span = if ((r.flags & 4) != 0 || refSpan == 0) 1 else refSpan
    def tagBytes: Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      def intTag(k: String, v: Option[Long]): Unit = v.foreach { x =>
        b.write(k(0)); b.write(k(1)); b.write('i')
        b.writeBytes(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
          .putInt(x.toInt).array())
      }
      def strTag(k: String, v: Option[String]): Unit = v.foreach { s =>
        b.write(k(0)); b.write(k(1)); b.write('Z')
        b.writeBytes(s.getBytes("UTF-8")); b.write(0)
      }
      intTag("AS", r.tagAs); intTag("XS", r.tagXs); intTag("YS", r.tagYs)
      intTag("XN", r.tagXn); intTag("XM", r.tagXm); intTag("XO", r.tagXo)
      intTag("XG", r.tagXg); intTag("NM", r.tagNm)
      strTag("YT", r.tagYt); strTag("MD", r.tagMd); strTag("SA", r.tagSa)
      b.toByteArray
    }
    val tags = tagBytes
    val blockSize = 32 + nameBytes.length + 1 + cigarOps.length * 4 + tags.length
    val b = ByteBuffer.allocate(4 + blockSize).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(blockSize)
    b.putInt(refIndex.getOrElse(r.reference, -1))
    b.putInt(pos)
    b.put((nameBytes.length + 1).toByte)
    b.put((r.mapq & 0xff).toByte)
    b.putShort(reg2bin(pos, pos + span).toShort)
    b.putShort(cigarOps.length.toShort)
    b.putShort((r.flags & 0xffff).toShort)
    b.putInt(0) // l_seq = 0 (SEQ always '*' per reference copy_sam)
    val mateRefId = r.mateReference match {
      case "*" => -1
      case "=" => refIndex.getOrElse(r.reference, -1)
      case m   => refIndex.getOrElse(m, -1)
    }
    b.putInt(mateRefId)
    b.putInt(r.matePosition.toInt - 1)
    b.putInt(r.templateLength.toInt)
    b.put(nameBytes); b.put(0.toByte)
    cigarOps.foreach(w => b.putInt(w))
    b.put(tags)
    bgzf.write(b.array())
  }

  def close(): Unit = bgzf.close()
}
