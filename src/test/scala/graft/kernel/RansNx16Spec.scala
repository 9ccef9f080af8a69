package graft.kernel

import graft.ReferenceFixtures
import org.scalatest.funsuite.AnyFunSuite

/** rANSNx16 decode vs the reference's committed golden vectors
  * (reference: ext/htslib-1.22.1/htscodecs/tests/dat/r4x16/q4.<flags>,
  * produced by `rans4x16pr -o<flags>` from `cut -f1 dat/q4 | tr -d
  * '\n'` per tests/rans4x16.test:10-28). The flag suffixes cover
  * order-0/1 (0,1), X32 (4,5), RLE (64,65), PACK (128,129) and
  * RLE+PACK (192,193).
  */
class RansNx16Spec extends AnyFunSuite {
  private def ref(rel: String) = ReferenceFixtures.path(s"ext/htslib-1.22.1/htscodecs/tests/$rel")

  /** `cut -f1 < dat/<stem> | tr -d '\n'` — the uncompressed golden per
    * tests/rans4x16.test:11. */
  private def expectedFor(stem: String): Array[Byte] = {
    val raw = java.nio.file.Files.readAllBytes(ref(s"dat/$stem"))
    val s = new String(raw, java.nio.charset.StandardCharsets.ISO_8859_1)
    s.split("\n").map(_.takeWhile(_ != '\t')).mkString
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  private def vectors: Seq[java.io.File] =
    ref("dat/r4x16").toFile.listFiles().toSeq.sortBy(_.getName)

  test("golden vectors decode bit-for-bit (every committed source × flag combination)") {
    assert(vectors.nonEmpty)
    val expected = scala.collection.mutable.Map.empty[String, Array[Byte]]
    for (f <- vectors) {
      val stem = f.getName.substring(0, f.getName.lastIndexOf('.'))
      val exp = expected.getOrElseUpdate(stem, expectedFor(stem))
      val comp = java.nio.file.Files.readAllBytes(f.toPath)
      val got = RansNx16.decode(comp)
      assert(got.length == exp.length,
        s"${f.getName}: decoded ${got.length} bytes, expected ${exp.length}")
      assert(java.util.Arrays.equals(got, exp), s"${f.getName}: byte mismatch")
    }
  }

  test("flags coverage sanity: vectors span order-1, X32, STRIPE, RLE, PACK, RLE+PACK") {
    val families = vectors.map(_.getName.split("\\.").last.toInt & ~1).toSet
    for (wanted <- Seq(0, 4, 8, 64, 128, 192))
      assert(families.contains(wanted), s"missing vector family $wanted")
    assert(vectors.exists(_.getName.split("\\.").last.toInt % 2 == 1), "missing order-1 vectors")
  }

  test("CAT and NOSZ paths round-trip (hand-built streams)") {
    // CAT: flags 0x20, uint7 size, raw payload
    val payload = "hello rans".getBytes
    val cat = Array[Byte](0x20, payload.length.toByte) ++ payload
    assert(java.util.Arrays.equals(RansNx16.decode(cat), payload))
    // NOSZ | CAT: size omitted, caller supplies it
    val nosz = Array[Byte](0x30) ++ payload
    assert(java.util.Arrays.equals(RansNx16.decode(nosz, payload.length), payload))
    intercept[RansNx16.RansException](RansNx16.decode(nosz))
  }

  test("STRIPE: reassembles interleaved sub-streams (hand-built from CAT parts)") {
    // data "ABCDEFG" striped N=2 -> "ACEG" + "BDF"
    val s0 = "ACEG".getBytes; val s1 = "BDF".getBytes
    def cat(b: Array[Byte]) = Array[Byte](0x20, b.length.toByte) ++ b
    val c0 = cat(s0); val c1 = cat(s1)
    val stream = Array[Byte](0x08, 7, 2, c0.length.toByte, c1.length.toByte) ++ c0 ++ c1
    assert(new String(RansNx16.decode(stream)) == "ABCDEFG")
  }
}
