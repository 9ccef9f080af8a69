package graft.kernel

/** SAM text codec — no Spark dependencies.
  *
  * Field semantics ported from the reference's htslib usage
  * (reference: src/include/SAMRecord.hpp:244-360, src/include/
  * read_alignments.hpp:29-77): 1-based `position` (0 when absent),
  * `stop_position` = htslib bam_endpos + 1 and 0 for unmapped reads,
  * mate reference normalized to `=` when equal to RNAME, the 8 integer
  * + 3 string optional tags NULL-when-absent, and the primary/unmapped
  * missing-SEQ error when sequence extraction is requested.
  */
object SamCodec {

  final case class SamRecord(
      readId: String,
      flags: Int,
      reference: String,
      position: Long,
      stopPosition: Long,
      mapq: Short,
      cigar: String,
      mateReference: String,
      matePosition: Long,
      templateLength: Long,
      tagAs: Option[Long], tagXs: Option[Long], tagYs: Option[Long],
      tagXn: Option[Long], tagXm: Option[Long], tagXo: Option[Long],
      tagXg: Option[Long], tagNm: Option[Long],
      tagYt: Option[String], tagMd: Option[String], tagSa: Option[String],
      sequence: Option[String],
      qual: Option[Array[Short]])

  final class SamParseException(msg: String) extends IllegalArgumentException(msg)

  def isHeaderLine(line: String): Boolean = line.nonEmpty && line.charAt(0) == '@'

  /** Reference-consumed length of a CIGAR (M/D/N/=/X ops) — htslib
    * bam_cigar2rlen equivalent. Like htslib's SAM parser it rejects a
    * malformed CIGAR — an op with no length (`M10M`), trailing digits
    * (`10M5`), a length past Long range — with a [[SamParseException]]
    * naming it; a zero length (`0M`) is legal.
    */
  def cigarRefLen(cigar: String): Long = {
    if (cigar.isEmpty || cigar == "*") return 0L
    def bad(why: String) = new SamParseException(s"Invalid CIGAR '$cigar': $why")
    var len = 0L
    var opLen = 0L
    var digits = false
    var i = 0
    while (i < cigar.length) {
      val c = cigar.charAt(i)
      if (c >= '0' && c <= '9') {
        if (opLen > (Long.MaxValue - 9) / 10) throw bad("operation length overflows")
        opLen = opLen * 10 + (c - '0')
        digits = true
      } else {
        if (!digits) throw bad(s"operation $c without length")
        c match {
          case 'M' | 'D' | 'N' | '=' | 'X' =>
            if (len > Long.MaxValue - opLen) throw bad("reference length overflows")
            len += opLen
          case 'I' | 'S' | 'H' | 'P'       => // query-only / clip ops
          case other => throw bad(s"unknown operation $other")
        }
        opLen = 0
        digits = false
      }
      i += 1
    }
    if (digits) throw bad("trailing digits without an operation")
    len
  }

  private def intTag(v: String): Option[Long] = Some(v.toLong)

  /** Parse one alignment line (11 mandatory fields + optional tags). */
  def parseLine(line: String, includeSeqQual: Boolean, qualOffset: Int = 33): SamRecord = {
    val f = line.split("\t", -1)
    if (f.length < 11)
      throw new SamParseException(s"SAM line has ${f.length} fields (need 11): ${line.take(80)}")
    val readId = f(0)
    val flags = f(1).toInt
    val reference = f(2)
    val pos = f(3).toLong // SAM text POS is 1-based already; 0 = absent
    val mapq = f(4).toShort
    val cigar = f(5)
    val rnext = f(6)
    val pnext = f(7).toLong
    val tlen = f(8).toLong
    val seq = f(9)
    val qual = f(10)

    // stop_position: htslib bam_endpos + 1; 0 for unmapped (flag 0x4).
    val pos0 = pos - 1
    val stopPosition =
      if ((flags & 0x4) != 0) 0L
      else {
        val end0 =
          if (cigar != "*" && cigar.nonEmpty) pos0 + cigarRefLen(cigar)
          else pos0 + 1
        if (end0 >= 0) end0 + 1 else 0L
      }

    // mate reference '=' normalization (reference SAMRecord.hpp:267-275)
    val mateRef =
      if (rnext == "*") "*"
      else if (rnext == "=" || (reference != "*" && rnext == reference)) "="
      else rnext

    var tagAs, tagXs, tagYs, tagXn, tagXm, tagXo, tagXg, tagNm = Option.empty[Long]
    var tagYt, tagMd, tagSa = Option.empty[String]
    var i = 11
    while (i < f.length) {
      val t = f(i)
      if (t.length >= 5) {
        val key = t.substring(0, 2).toUpperCase
        val typ = t.charAt(3)
        val value = t.substring(5)
        (key, typ) match {
          case ("AS", 'i') => tagAs = intTag(value)
          case ("XS", 'i') => tagXs = intTag(value)
          case ("YS", 'i') => tagYs = intTag(value)
          case ("XN", 'i') => tagXn = intTag(value)
          case ("XM", 'i') => tagXm = intTag(value)
          case ("XO", 'i') => tagXo = intTag(value)
          case ("XG", 'i') => tagXg = intTag(value)
          case ("NM", 'i') => tagNm = intTag(value)
          case ("YT", _)   => tagYt = Some(value)
          case ("MD", _)   => tagMd = Some(value)
          case ("SA", _)   => tagSa = Some(value)
          case _           => // other tags ignored (reference keeps the same 11)
        }
      }
      i += 1
    }

    var sequence: Option[String] = None
    var qualArr: Option[Array[Short]] = None
    if (includeSeqQual) {
      val isUnmapped = (flags & 0x4) != 0
      val isPrimary = (flags & 0x100) == 0 && (flags & 0x800) == 0
      if (seq == "*" && (isPrimary || isUnmapped))
        throw new SamParseException(
          s"Primary/unmapped read missing sequence (SEQ='*'): $readId")
      sequence = if (seq == "*") None else Some(seq)
      qualArr =
        if (qual == "*") None
        else Some(qual.map(c => (c - qualOffset).toShort).toArray)
    }

    SamRecord(readId, flags, reference, pos, stopPosition, mapq, cigar,
      mateRef, pnext, tlen, tagAs, tagXs, tagYs, tagXn, tagXm, tagXo, tagXg,
      tagNm, tagYt, tagMd, tagSa, sequence, qualArr)
  }

  /** Serialize a record back to a SAM text line. SEQ/QUAL written as `*`
    * (reference copy_sam.cpp:664-671 does the same).
    */
  def toLine(r: SamRecord): String = {
    def tag(k: String, v: Option[Long]): Seq[String] =
      v.map(x => s"$k:i:$x").toSeq
    def stag(k: String, v: Option[String]): Seq[String] =
      v.map(x => s"$k:Z:$x").toSeq
    val mandatory = Seq(
      r.readId, r.flags.toString, r.reference, r.position.toString,
      r.mapq.toString, r.cigar, r.mateReference, r.matePosition.toString,
      r.templateLength.toString, "*", "*")
    val tags = tag("AS", r.tagAs) ++ tag("XS", r.tagXs) ++ tag("YS", r.tagYs) ++
      tag("XN", r.tagXn) ++ tag("XM", r.tagXm) ++ tag("XO", r.tagXo) ++
      tag("XG", r.tagXg) ++ tag("NM", r.tagNm) ++ stag("YT", r.tagYt) ++
      stag("MD", r.tagMd) ++ stag("SA", r.tagSa)
    (mandatory ++ tags).mkString("\t")
  }
}
