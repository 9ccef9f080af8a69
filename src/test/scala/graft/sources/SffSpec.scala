package graft.sources

import graft.{ReferenceFixtures, SparkFixture}
import graft.kernel.SffCodec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Validated against the reference's committed SFF fixtures
  * (reference: the data/sff directory, test/sql/read_sequences_sff
  * .test, test/cpp/test_SFFReader.cpp).
  */
class SffSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private def ref(f: String) = ReferenceFixtures.path(s"data/sff/$f").toString
  private def bytes(f: String) = Files.readAllBytes(Paths.get(ref(f)))

  test("basic_2reads: sequences and raw Phred quals") {
    val reads = SffCodec.parse(bytes("basic_2reads.sff"), "basic_2reads.sff")
    assert(reads.map(_.name) == Vector("READ_1", "READ_2"))
    assert(reads(0).bases == "TCAGATTGCAGG")
    assert(reads(0).quals.toSeq == Seq(30, 30, 25, 35, 40, 38, 36, 30, 28, 25, 20, 15))
    assert(reads(1).bases == "TCAGCCTAAGTC")
    assert(reads(1).quals.toSeq == Seq(35, 35, 30, 40, 38, 33, 30, 28, 35, 30, 25, 20))
  }

  test("trimmed.sff: qual+adapter clip applied; trim=false returns raw") {
    val trimmed = SffCodec.parse(bytes("trimmed.sff"), "trimmed.sff")
    assert(trimmed(0).bases == "TCAGATTGCAGG") // from AATCAGATTGCAGGCC
    assert(trimmed(1).bases == "CAGCCTAAGT")   // from NNTCAGCCTAAGTCNN
    val raw = SffCodec.parse(bytes("trimmed.sff"), "trimmed.sff", trim = false)
    assert(raw(0).bases == "AATCAGATTGCAGGCC")
    assert(raw(1).bases == "NNTCAGCCTAAGTCNN")
  }

  test("overlapping clips → empty sequence under trim") {
    val t = SffCodec.parse(bytes("overlapping_clips.sff"), "overlapping_clips.sff")
    assert(t.exists(_.bases.isEmpty))
    val raw = SffCodec.parse(bytes("overlapping_clips.sff"), "x", trim = false)
    assert(raw.forall(_.bases.nonEmpty))
  }

  test("index block is skipped during sequential read") {
    val t = SffCodec.parse(bytes("with_index.sff"), "with_index.sff")
    assert(t.nonEmpty)
    assert(t.forall(r => r.bases.nonEmpty && r.bases.forall("ACGTN".contains(_))))
  }

  test("adversarial files rejected with specific errors") {
    def err(f: String): String = {
      val b = bytes(f)
      intercept[SffCodec.SffException](SffCodec.parse(b, f)).getMessage
    }
    assert(err("bad_magic.sff").contains("magic"))
    assert(err("bad_version.sff").contains("version"))
    assert(err("bad_seq_len.sff").contains("seq_len"))
    assert(err("bad_clip.sff").contains("clip"))
    assert(err("truncated_header.sff").toLowerCase.contains("truncat") ||
      err("truncated_header.sff").contains("too small"))
    assert(err("truncated_read.sff").contains("truncated"))
    // zero-byte file rejected; the committed empty.sff is a VALID
    // 0-read file and must parse to zero records
    assert(intercept[SffCodec.SffException](
      SffCodec.parse(Array.empty[Byte], "zero")).getMessage.contains("too small"))
    assert(SffCodec.parse(bytes("empty.sff"), "empty.sff").isEmpty)
  }

  test("overclaimed read count handled gracefully") {
    val t = SffCodec.parse(bytes("overclaimed_reads.sff"), "overclaimed_reads.sff")
    assert(t.nonEmpty) // stops at EOF instead of throwing
  }

  test("many_reads + no_clip parse fully") {
    assert(SffCodec.parse(bytes("many_reads.sff"), "many_reads.sff").length > 2)
    val noClip = SffCodec.parse(bytes("no_clip.sff"), "no_clip.sff")
    val noClipRaw = SffCodec.parse(bytes("no_clip.sff"), "x", trim = false)
    assert(noClip.map(_.bases) == noClipRaw.map(_.bases))
  }

  test("sff DataSource: 7-col schema over fixtures") {
    val df = spark.read.format("sff").load(ref("basic_2reads.sff"))
    val rows = df.orderBy("sequence_index").collect()
    assert(df.schema.fieldNames.toSeq == Seq("sequence_index", "read_id", "comment",
      "sequence1", "sequence2", "qual1", "qual2"))
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "READ_1" && rows(0).getString(3) == "TCAGATTGCAGG")
    assert(rows(0).isNullAt(2) && rows(0).isNullAt(4) && rows(0).isNullAt(6))
    assert(rows(0).getSeq[Short](5).take(4) == Seq[Short](30, 30, 25, 35))
    // trim=false option
    val raw = spark.read.format("sff").option("trim", "false")
      .load(ref("trimmed.sff")).orderBy("sequence_index").collect()
    assert(raw(0).getString(3) == "AATCAGATTGCAGGCC")
  }
}
