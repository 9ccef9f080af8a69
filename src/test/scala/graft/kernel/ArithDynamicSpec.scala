package graft.kernel

import graft.ReferenceFixtures
import org.scalatest.funsuite.AnyFunSuite

/** Arith-dynamic decode vs the reference's committed golden vectors
  * (reference: ext/htslib-1.22.1/htscodecs/tests/dat/arith/q4.<flags>,
  * produced by `arith_dynamic -o<flags>` from `cut -f1 dat/q4 | tr -d
  * '\n'` per tests/arith.test; the u32 source is used verbatim).
  * Flag suffixes cover order-0/1 (0,1), RLE (64,65), PACK (128,129),
  * RLE+PACK (192,193), STRIPE (8,9) and EXT/bz2 (4).
  */
class ArithDynamicSpec extends AnyFunSuite {
  private def ref(rel: String) = ReferenceFixtures.path(s"ext/htslib-1.22.1/htscodecs/tests/$rel")

  private def expectedFor(stem: String): Array[Byte] = {
    val raw = java.nio.file.Files.readAllBytes(ref(s"dat/$stem"))
    if (!stem.startsWith("q")) return raw // u32: raw binary, no field cut
    val s = new String(raw, java.nio.charset.StandardCharsets.ISO_8859_1)
    s.split("\n").map(_.takeWhile(_ != '\t')).mkString
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  private def vectors: Seq[java.io.File] =
    ref("dat/arith").toFile.listFiles().toSeq.sortBy(_.getName)

  test("golden vectors decode bit-for-bit (every committed flag combination)") {
    assert(vectors.nonEmpty)
    val expected = scala.collection.mutable.Map.empty[String, Array[Byte]]
    for (f <- vectors) {
      val stem = f.getName.substring(0, f.getName.lastIndexOf('.'))
      val exp = expected.getOrElseUpdate(stem, expectedFor(stem))
      val comp = java.nio.file.Files.readAllBytes(f.toPath)
      val got = ArithDynamic.decode(comp)
      assert(got.length == exp.length,
        s"${f.getName}: decoded ${got.length} bytes, expected ${exp.length}")
      assert(java.util.Arrays.equals(got, exp), s"${f.getName}: byte mismatch")
    }
  }

  test("flags coverage sanity: vectors span order-1, RLE, PACK and RLE+PACK") {
    val families = vectors.map(_.getName.split("\\.").last.toInt & ~1).toSet
    for (wanted <- Seq(0, 64, 128, 192))
      assert(families.contains(wanted), s"missing vector family $wanted")
    assert(vectors.exists(_.getName.split("\\.").last.toInt % 2 == 1), "missing order-1 vectors")
  }

  test("CAT and NOSZ paths round-trip (hand-built streams)") {
    val payload = "hello arith".getBytes
    val cat = Array[Byte](0x20, payload.length.toByte) ++ payload
    assert(java.util.Arrays.equals(ArithDynamic.decode(cat), payload))
    val nosz = Array[Byte](0x30) ++ payload
    assert(java.util.Arrays.equals(ArithDynamic.decode(nosz, payload.length), payload))
    intercept[ArithDynamic.ArithException](ArithDynamic.decode(nosz))
  }

  test("STRIPE reassembles interleaved sub-streams (hand-built from CAT parts)") {
    // "ABCDEFG" striped N=2 -> "ACEG" + "BDF", each stored as NOSZ|CAT
    val s0 = "ACEG".getBytes
    val s1 = "BDF".getBytes
    val part0 = Array[Byte](0x30) ++ s0
    val part1 = Array[Byte](0x30) ++ s1
    val stream = Array[Byte](0x08, 7, 2, part0.length.toByte, part1.length.toByte) ++
      part0 ++ part1
    assert(new String(ArithDynamic.decode(stream)) == "ABCDEFG")
  }
}
