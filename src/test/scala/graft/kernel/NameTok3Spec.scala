package graft.kernel

import graft.ReferenceFixtures
import org.scalatest.funsuite.AnyFunSuite

/** tok3 name-codec decode vs the reference's committed golden vectors
  * (reference: ext/htslib-1.22.1/htscodecs/tests/names/tok3/
  * NN.names.<level> vs tests/names/NN.names, produced by
  * `tokenise_name3 -r -<level>` per tests/tok3.test — decode then
  * `tr '\000' '\012'` must reproduce the source file). Levels 1-9 are
  * rANSNx16-coded token streams; 11-19 are the same levels with the
  * adaptive arithmetic coder, so the suite exercises [[ArithDynamic]]
  * inside tok3 as well.
  */
class NameTok3Spec extends AnyFunSuite {
  private def ref(rel: String) = ReferenceFixtures.path(s"ext/htslib-1.22.1/htscodecs/tests/names/$rel")

  private def vectors: Seq[java.io.File] =
    ref("tok3").toFile.listFiles().toSeq.sortBy(_.getName)

  test("golden vectors decode bit-for-bit (every source × level, rANS and arith)") {
    assert(vectors.nonEmpty)
    val expected = scala.collection.mutable.Map.empty[String, Array[Byte]]
    for (f <- vectors) {
      val stem = f.getName.substring(0, f.getName.lastIndexOf('.'))
      val exp = expected.getOrElseUpdate(stem, {
        // newline-separated source names; decoded block is NUL-separated
        val raw = java.nio.file.Files.readAllBytes(ref(stem))
        raw.map(b => if (b == '\n') 0.toByte else b)
      })
      val comp = java.nio.file.Files.readAllBytes(f.toPath)
      val got = NameTok3.decode(comp)
      assert(got.length == exp.length,
        s"${f.getName}: decoded ${got.length} bytes, expected ${exp.length}")
      assert(java.util.Arrays.equals(got, exp), s"${f.getName}: byte mismatch")
    }
  }

  test("level coverage sanity: both entropy coders and ten levels present") {
    val levels = vectors.map(_.getName.split("\\.").last.toInt).toSet
    for (l <- Seq(1, 3, 5, 7, 9, 11, 13, 15, 17, 19))
      assert(levels.contains(l), s"missing level $l")
  }

  test("truncated header is rejected with a typed error") {
    intercept[NameTok3.Tok3Exception](NameTok3.decode(Array[Byte](1, 2, 3)))
  }
}
