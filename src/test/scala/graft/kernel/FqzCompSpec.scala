package graft.kernel

import graft.ReferenceFixtures
import org.scalatest.funsuite.AnyFunSuite

/** fqzcomp quality-codec decode vs the reference's committed golden
  * vectors (reference: ext/htslib-1.22.1/htscodecs/tests/dat/fqzcomp/
  * <src>.<strategy> vs `cut -f1 tests/dat/<src>`, produced by
  * `fqzcomp_qual -r -s <strategy>` per tests/fqzcomp.test). Qualities
  * decode to binary phred (ASCII-33); read boundaries come from the
  * decoded per-record lengths, so both the byte stream and the length
  * stream are checked. Sources cover fixed-length (q4/q8/q40+dir,
  * with selectors and the DO_REV path on q40+dir) and variable-length
  * (qvar) reads across four encoder strategies.
  */
class FqzCompSpec extends AnyFunSuite {
  private def ref(rel: String) = ReferenceFixtures.path(s"ext/htslib-1.22.1/htscodecs/tests/dat/$rel")

  private def expectedFor(stem: String): (Array[Byte], Array[Int]) = {
    val raw = java.nio.file.Files.readAllBytes(ref(stem))
    val s = new String(raw, java.nio.charset.StandardCharsets.ISO_8859_1)
    val lines = s.split("\n").map(_.takeWhile(_ != '\t'))
    val quals = lines.flatMap(_.map(c => (c - 33).toByte))
    (quals, lines.map(_.length))
  }

  private def vectors: Seq[java.io.File] =
    ref("fqzcomp").toFile.listFiles().toSeq.sortBy(_.getName)

  test("golden vectors decode bit-for-bit with matching read lengths") {
    assert(vectors.nonEmpty)
    val expected = scala.collection.mutable.Map.empty[String, (Array[Byte], Array[Int])]
    for (f <- vectors) {
      val stem = f.getName.substring(0, f.getName.lastIndexOf('.'))
      val (expQ, expL) = expected.getOrElseUpdate(stem, expectedFor(stem))
      val comp = java.nio.file.Files.readAllBytes(f.toPath)
      val (gotQ, gotL) = FqzComp.decodeWithLengths(comp)
      assert(gotQ.length == expQ.length,
        s"${f.getName}: decoded ${gotQ.length} bytes, expected ${expQ.length}")
      assert(java.util.Arrays.equals(gotQ, expQ), s"${f.getName}: byte mismatch")
      assert(gotL.toSeq == expL.toSeq, s"${f.getName}: read-length mismatch")
    }
  }

  test("source coverage sanity: fixed, variable, selector and strategies 0-3") {
    val stems = vectors.map(_.getName.split("\\.").head).toSet
    for (s <- Seq("q4", "q8", "q40+dir", "qvar")) assert(stems.contains(s), s"missing $s")
    val strats = vectors.map(_.getName.split("\\.").last.toInt).toSet
    assert(strats == Set(0, 1, 2, 3))
  }

  test("block-size disagreement is rejected with a typed error") {
    val comp = java.nio.file.Files.readAllBytes(ref("fqzcomp/q4.0"))
    intercept[ArithDynamic.ArithException](FqzComp.decode(comp, 12345))
  }
}
