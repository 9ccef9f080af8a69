package graft.kernel

import graft.ReferenceFixtures
import org.scalatest.funsuite.AnyFunSuite

/** Corrupt-input robustness for the CRAM 3.1 codec kernels: a stream
  * truncated at any byte prefix, or with a flipped header byte, must
  * either decode (benign corruption) or raise promptly — never hang,
  * recurse unboundedly, or allocate an executor-killing buffer. At
  * 100 TB one corrupt file must surface as one typed task error, not
  * an OOM-killed executor fleet.
  */
class CodecRobustnessSpec extends AnyFunSuite {

  private def bytes(rel: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(ReferenceFixtures.path(s"ext/htslib-1.22.1/htscodecs/tests/$rel"))

  /** Run decode on a mutated input; any prompt exception is fine. */
  private def survives(body: => Unit): Unit =
    try body
    catch { case _: Exception => () } // typed or bounds error, both prompt

  test("tok3: every truncation prefix of a golden vector fails promptly or decodes") {
    val full = bytes("names/tok3/01.names.1")
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    for (k <- 0 until full.length) {
      survives(NameTok3.decode(java.util.Arrays.copyOf(full, k)))
      assert(System.nanoTime() < deadline, s"tok3 truncation at $k too slow")
    }
  }

  test("arith: every truncation prefix fails promptly or decodes") {
    val full = bytes("dat/arith/q4.193")
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    for (k <- 0 until math.min(full.length, 2000)) {
      survives(ArithDynamic.decode(java.util.Arrays.copyOf(full, k)))
      assert(System.nanoTime() < deadline, s"arith truncation at $k too slow")
    }
  }

  test("fqzcomp: every truncation prefix fails promptly or decodes") {
    val full = bytes("dat/fqzcomp/q4.0")
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    for (k <- 0 until math.min(full.length, 2000)) {
      survives(FqzComp.decode(java.util.Arrays.copyOf(full, k)))
      assert(System.nanoTime() < deadline, s"fqz truncation at $k too slow")
    }
  }

  test("byte flips anywhere in the stream fail promptly or decode") {
    // full header coverage plus samples across the body — a corrupt
    // mid-stream varint once walked the tok3 descriptor cursor
    // backwards (infinite loop); this sweep pins the guard
    val tok = bytes("names/tok3/01.names.1")
    val arith = bytes("dat/arith/q4.0")
    val fqz = bytes("dat/fqzcomp/q4.0")
    def positions(n: Int): Seq[Int] =
      ((0 until 16) ++ (16 until n by math.max(1, n / 64))).filter(_ < n)
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    for (pos <- positions(math.min(tok.length, math.min(arith.length, fqz.length)));
         bit <- Seq(0, 3, 7)) {
      def flipped(a: Array[Byte]): Array[Byte] = {
        val b = a.clone()
        if (pos < b.length) b(pos) = (b(pos) ^ (1 << bit)).toByte
        b
      }
      survives(NameTok3.decode(flipped(tok)))
      survives(ArithDynamic.decode(flipped(arith)))
      survives(FqzComp.decode(flipped(fqz)))
      assert(System.nanoTime() < deadline, s"bit flip at $pos too slow")
    }
  }

  test("implausible sizes are rejected with typed errors, not allocated") {
    // tok3: ulen = 2^30, nreads = 2^29
    val hdr = new Array[Byte](16)
    hdr(3) = 0x40.toByte // ulen LE -> 2^30
    hdr(7) = 0x20.toByte // nreads LE -> 2^29
    intercept[NameTok3.Tok3Exception](NameTok3.decode(hdr))
    // arith: varint osz = 2^29 on an order-0 stream
    val big = Array[Byte](0x00, 0x82.toByte, 0x80.toByte, 0x80.toByte,
      0x80.toByte, 0x00, 0x01, 0x02, 0x03)
    intercept[ArithDynamic.ArithException](ArithDynamic.decode(big))
  }
}
