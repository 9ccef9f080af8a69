package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

class TextKernelSpec extends AnyFunSuite {
  import TextKernel._

  test("r14 splitWsNonEmpty is bit-identical to split(WsPlus).filter(_.nonEmpty)") {
    val cases = Seq(
      "", " ", "  \t\n\f\r ", "a", " a", "a ", " a ",
      "a b", "a  b", "a\tb\nc\rd\fef", "\t\ta  b\t",
      "word", "  leading and trailing  ",
      "unicode éü 😀 mix", "a b", // NBSP is NOT ws
      "ab\u000Bc", // vertical tab IS ws
      "x" * 300 + " " + "y" * 300,
      (1 to 50).map(i => s"tok$i").mkString("  "))
    cases.foreach { s =>
      val legacy = s.split(WsPlus).filter(_.nonEmpty).toSeq
      assert(splitWsNonEmpty(s).toSeq == legacy, s"input=${s.take(40)}")
    }
    // randomized sweep over the full ws class + letters
    val rnd = new scala.util.Random(42)
    val alphabet = "ab \t\n\f\r".toCharArray
    (1 to 500).foreach { _ =>
      val s = Array.fill(rnd.nextInt(40))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(splitWsNonEmpty(s).toSeq ==
        s.split(WsPlus).filter(_.nonEmpty).toSeq, s"input=[$s]")
    }
  }

  test("hash64 is deterministic and spreads") {
    assert(hash64("abc") == hash64("abc"))
    assert(hash64("abc") != hash64("abd"))
    assert(hash64("") == 0xcbf29ce484222325L)
  }

  test("shingleHashes: distinct n-grams, short-input empty") {
    assert(sortedShingleHashes("ab", 5).isEmpty)
    assert(sortedShingleHashes("aaaaaa", 5).length == 1) // "aaaaa" twice, deduped
    assert(sortedShingleHashes("abcdef", 5).length == 2)
  }

  test("minhash similarity approximates Jaccard") {
    val a = "the quick brown fox jumps over the lazy dog and runs far away home"
    val b = "the quick brown fox jumps over the lazy cat and runs far away home"
    val c = "completely different content with nothing shared at all whatsoever here"
    val sa = minhashSignature(sortedShingleHashes(a, 5), 128)
    val sb = minhashSignature(sortedShingleHashes(b, 5), 128)
    val sc = minhashSignature(sortedShingleHashes(c, 5), 128)
    def est(x: Array[Long], y: Array[Long]) =
      x.zip(y).count { case (p, q) => p == q }.toDouble / x.length
    def exact(x: String, y: String) = {
      val (hx, hy) = (sortedShingleHashes(x, 5).toSet, sortedShingleHashes(y, 5).toSet)
      hx.intersect(hy).size.toDouble / hx.union(hy).size
    }
    assert(math.abs(est(sa, sb) - exact(a, b)) < 0.15)
    assert(est(sa, sc) < 0.2)
    assert(est(sa, sa) == 1.0)
  }

  test("md5Hash60 equals the first-15-hex-chars-of-md5 column idiom") {
    val md = java.security.MessageDigest.getInstance("MD5")
    for (s <- Seq("", "a", "0:abcde", "7|123,456", "unicode ☃ snow",
        "😀", "longer string with several words and 1234 digits")) {
      val hex = f"${new java.math.BigInteger(1,
        md.digest(s.getBytes("UTF-8")))}%032x"
      md.reset()
      val expect = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      assert(graft.kernel.TextKernel.md5Hash60(s) == expect, s"for '$s'")
    }
  }

  test("md5Simhash60 matches an independent hex-string re-derivation") {
    // the original column formulation's math, re-implemented through
    // the hex STRING (the kernel reads digest bytes directly)
    def ref(text: String): Long = {
      if (text == null) return 0L
      val toks = text.toLowerCase
        .split("[ \t\n\f\r]+").filter(_.nonEmpty)
      val votes = new Array[Int](60)
      val md = java.security.MessageDigest.getInstance("MD5")
      for (t <- toks) {
        val hex = f"${new java.math.BigInteger(1,
          md.digest(t.getBytes("UTF-8")))}%032x"
        md.reset()
        for (j <- 0 until 60) {
          val d = Integer.parseInt(hex.charAt(15 - j / 4 - 1).toString, 16)
          votes(j) += ((d >> (j % 4)) & 1) * 2 - 1
        }
      }
      (0 until 60).foldLeft(0L)((s, j) =>
        if (votes(j) > 0) s | (1L << j) else s)
    }
    val samples = Seq(null, "", "   ", "one", "one two three One TWO",
      "the quick brown fox", "😀 unicode tökens mixed 123",
      "a a a b", "tab\tsep\nlines")
    for (s <- samples)
      assert(graft.kernel.TextKernel.md5Simhash60(s) == ref(s),
        s"mismatch for ${Option(s).map(_.take(20))}")
  }

  test("simhash: similar token multisets land within small Hamming distance") {
    val a = md5Simhash60("the quick brown fox jumps over the lazy dog tonight")
    val b = md5Simhash60("the quick brown fox jumps over the lazy cat tonight")
    val c = md5Simhash60("entirely unrelated words describing other various topics instead")
    assert(hammingDistance(a, a) == 0)
    assert(hammingDistance(a, b) < hammingDistance(a, c))
    assert(hammingDistance(a, b) <= 16)
  }

  test("winnowing: shared runs share fingerprints, robust to local edit") {
    val base = "spark catalyst optimizer rewrites logical plans into physical plans efficiently"
    val edited = base.replace("rewrites", "rewrote")
    val fa = winnowFingerprints(base, 8, 4).toSet
    val fb = winnowFingerprints(edited, 8, 4).toSet
    val fc = winnowFingerprints("zzz totally disjoint text qqq", 8, 4).toSet
    assert(fa.intersect(fb).size.toDouble / fa.size > 0.5)
    assert(fa.intersect(fc).isEmpty)
    assert(winnowFingerprints("short", 8, 4).isEmpty)
  }

  test("ngramJaccard: hand-computed values, code-point windows, short inputs") {
    // "abcd" 2-grams {ab,bc,cd}; "bcde" 2-grams {bc,cd,de}: |∩|=2, |∪|=4
    assert(ngramJaccard("abcd", "bcde", 2) == 0.5)
    assert(ngramJaccard("abc", "abc", 2) == 1.0)
    assert(ngramJaccard("abc", "xyz", 2) == 0.0)
    // both shorter than n: empty∪empty → 1.0 (matches the SQL CASE)
    assert(ngramJaccard("a", "b", 5) == 1.0)
    // one empty, one not: 0/|B| = 0.0
    assert(ngramJaccard("", "abcdef", 3) == 0.0)
    // astral-plane code points count as ONE character (Spark/DuckDB substr
    // semantics): "😀😀ab" has 3 distinct 2-gram windows over 4 code points
    val s = "😀😀ab"
    assert(ngramJaccard(s, s, 2) == 1.0)
    assert(ngramJaccard(s, "😀😀ax", 2) == 2.0 / 4.0)
  }

  test("jaccardSorted over sortedShingleHashes agrees with ngramJaccard") {
    val docs = Seq("abcd", "bcde", "abc", "xyz", "a", "", "😀😀ab", "😀😀ax",
      "the quick brown fox", "the quick brown fax")
    for (a <- docs; b <- docs; n <- Seq(2, 3, 5)) {
      val hashed = jaccardSorted(sortedShingleHashes(a, n), sortedShingleHashes(b, n))
      assert(hashed == ngramJaccard(a, b, n),
        s"mismatch for ($a, $b, n=$n)")
    }
  }

  test("compactHashes32 + jaccardSortedInt track the 64-bit jaccard") {
    val docs = Seq("abcdefgh", "abcdefgx", "the quick brown fox jumps",
      "the quick brown fax jumps", "zzzz", "")
    for (a <- docs; b <- docs) {
      val j64 = jaccardSorted(sortedShingleHashes(a, 3), sortedShingleHashes(b, 3))
      val j32 = jaccardSortedInt(
        compactHashes32(sortedShingleHashes(a, 3)),
        compactHashes32(sortedShingleHashes(b, 3)))
      // no collisions at this size: exactly equal
      assert(j32 == j64, s"($a, $b)")
    }
    // compaction output is sorted + distinct even when folds collide
    val withDup = Array(0x100000001L, 1L, 5L) // 0x100000001 ^ (>>>32) folds to 0
    val c = compactHashes32(withDup)
    assert(c.sameElements(c.sorted) && c.distinct.length == c.length)
  }

  test("sortedShingleHashes is sorted, distinct, and window-exact") {
    val hs = sortedShingleHashes("abcabc", 3) // windows abc,bca,cab,abc → 3 distinct
    assert(hs.length == 3)
    assert(hs.sameElements(hs.sorted))
    assert(hs.distinct.length == hs.length)
    assert(sortedShingleHashes("ab", 3).isEmpty)
    // hash values are the FNV-64 of the window text (range hashing is
    // allocation-free but must equal the substring hash bit-for-bit)
    assert(hs.contains(hash64("abc")) && hs.contains(hash64("bca")) && hs.contains(hash64("cab")))
  }

  test("repetitionStats: hand-computed signals") {
    val (n, top2, top3, dup5) = repetitionStats("a b a b a")
    assert(n == 5 && top2 == 0.5 && math.abs(top3 - 2.0 / 3) < 1e-12 && dup5 == 0.0)
    assert(repetitionStats("") == ((0L, 0.0, 0.0, 0.0)))
    val spam = repetitionStats(Array.fill(20)("spam").mkString(" "))
    assert(spam._2 == 1.0 && spam._4 == 1.0 - 1.0 / 16)
  }

  test("langId: stopword profiles + CJK detection") {
    assert(langId("the cat sat on the mat and it was happy for a while") == "en")
    assert(langId("el perro corre en la casa y los gatos se van del lugar") == "es")
    assert(langId("der Hund und die Katze sind mit dem Ball im Garten") == "de")
    assert(langId("le chat et les chiens sont dans un jardin du village") == "fr")
    assert(langId("今天天气很好我们去公园散步吧") == "zh")
    assert(langId("xyzzy plugh qwerty") == "und")
    assert(langId("") == "und")
  }

  test("r15 slidingWindowHashes: incremental form equals the joined-string form") {
    // reference: the pre-r15 formulation — hash the space-joined
    // lowercased window string with md5Hash60
    def ref(text: String, l: Int): Array[Long] = {
      if (text == null) return Array.empty
      val ts = TextKernel.tokens(text)
      val n = ts.length - (l - 1)
      if (n <= 0) return Array.empty
      Array.tabulate(n)(i => TextKernel.md5Hash60(ts.slice(i, i + l).mkString(" ")))
    }
    val rnd = new scala.util.Random(7)
    // multi-byte UTF-8, supplementary chars (surrogate pairs), mixed
    // case, empty-ish docs
    val vocab = Vector("alpha", "Beta", "GAMMA", "déjà", "naïve",
      "日本語", "x", "𝒜𝓁𝓅𝒽𝒶", "a-b", "1,2")
    val docs = Seq("", "one", null, "  \t ") ++ (0 until 200).map { _ =>
      (0 until rnd.nextInt(30)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    for (d <- docs; l <- Seq(1, 2, 3, 8))
      assert(TextKernel.slidingWindowHashes(d, l).toSeq ==
        ref(d, l).toSeq, s"l=$l doc=$d")
  }
}
