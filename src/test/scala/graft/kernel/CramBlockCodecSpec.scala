package graft.kernel

import graft.ReferenceFixtures
import org.scalatest.funsuite.AnyFunSuite

/** CRAM block decompression methods beyond the r6 subset: bzip2 and
  * lzma (commons-compress, real round-trips) and rANSNx16 (decoding
  * the reference's committed golden vector through the block layer).
  * Unsupported methods must keep their typed rejection.
  */
class CramBlockCodecSpec extends AnyFunSuite {
  private def ref(rel: String) = ReferenceFixtures.path(s"ext/htslib-1.22.1/htscodecs/tests/$rel")

  private val payload =
    ("The quick brown fox jumps over the lazy dog. " * 40).getBytes("US-ASCII")

  test("method 2 (bzip2) round-trips through commons-compress") {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(bos)
    z.write(payload); z.close()
    val out = CramCodec.decompressBlock(2, bos.toByteArray, payload.length)
    assert(java.util.Arrays.equals(out, payload))
  }

  test("method 3 (lzma) round-trips through commons-compress + xz") {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new org.apache.commons.compress.compressors.lzma.LZMACompressorOutputStream(bos)
    z.write(payload); z.close()
    val out = CramCodec.decompressBlock(3, bos.toByteArray, payload.length)
    assert(java.util.Arrays.equals(out, payload))
  }

  test("method 5 (rANSNx16) decodes the reference's committed golden vector") {
    val comp = java.nio.file.Files.readAllBytes(ref("dat/r4x16/q4.193")) // PACK+RLE+order-1
    val raw = java.nio.file.Files.readAllBytes(ref("dat/q4"))
    val expected = new String(raw, java.nio.charset.StandardCharsets.ISO_8859_1)
      .split("\n").map(_.takeWhile(_ != '\t')).mkString
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val out = CramCodec.decompressBlock(5, comp, expected.length)
    assert(java.util.Arrays.equals(out, expected))
  }

  test("methods 6/7/8 dispatch to the CRAM 3.1 codec kernels") {
    // method 6: arith golden vector (order-1)
    val arith = java.nio.file.Files.readAllBytes(ref("dat/arith/q4.1"))
    val raw = java.nio.file.Files.readAllBytes(ref("dat/q4"))
    val expected = new String(raw, java.nio.charset.StandardCharsets.ISO_8859_1)
      .split("\n").map(_.takeWhile(_ != '\t')).mkString
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(java.util.Arrays.equals(
      CramCodec.decompressBlock(6, arith, expected.length), expected))
    // method 8: tok3 golden vector -> NUL-separated names block
    val tok = java.nio.file.Files.readAllBytes(ref("names/tok3/01.names.1"))
    val names = java.nio.file.Files.readAllBytes(ref("names/01.names"))
      .map(b => if (b == '\n') 0.toByte else b)
    assert(java.util.Arrays.equals(CramCodec.decompressBlock(8, tok, names.length), names))
    // method 7: fqz golden vector (binary phred = ASCII-33)
    val fqz = java.nio.file.Files.readAllBytes(ref("dat/fqzcomp/q4.0"))
    val phred = expected.map(b => (b - 33).toByte)
    assert(java.util.Arrays.equals(
      CramCodec.decompressBlock(7, fqz, phred.length), phred))
  }

  test("an unknown method keeps a typed rejection") {
    val e = intercept[CramCodec.CramException](
      CramCodec.decompressBlock(9, payload, payload.length))
    assert(e.getMessage.contains("method 9"))
  }
}
