package graft.ops

import graft.SparkFixture
import graft.kernel.TextKernel
import org.scalatest.funsuite.AnyFunSuite

class DecontaminateSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("wordNgrams: lowercased, whitespace-class-tokenized, distinct, ordered windows") {
    assert(TextKernel.wordNgrams("The quick\tbrown  FOX", 2).toSeq ===
      Seq("the quick", "quick brown", "brown fox"))
    // repeated window appears once
    assert(TextKernel.wordNgrams("a b a b a b", 2).toSeq === Seq("a b", "b a"))
    // fewer tokens than n → no windows
    assert(TextKernel.wordNgrams("only three tokens", 4).isEmpty)
    assert(TextKernel.wordNgrams("", 2).isEmpty)
  }

  test("decontaminate flags planted benchmark leaks, not clean docs") {
    import spark.implicits._
    val benchText = "the capital of france is paris and the capital of italy is rome"
    val corpus = Seq(
      // doc 1: contains the benchmark verbatim inside filler → many hits
      (1L, s"some filler text here $benchText trailing words follow"),
      // doc 2: shares no 8-gram window (different word order)
      (2L, "paris is the capital of france rome is the capital of italy yes indeed"),
      // doc 3: clean
      (3L, "completely unrelated content about distributed query engines and shuffles"),
      // doc 4: exact copy of the benchmark → every window hits
      (4L, benchText)
    ).toDF("doc_id", "text")
    val benchmark = Seq((100L, benchText)).toDF("doc_id", "text")

    val out = Decontaminate.decontaminate(corpus, benchmark, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val benchWindows = TextKernel.wordNgrams(benchText, 8).length
    assert(out(4L) === benchWindows) // verbatim copy leaks every window
    assert(out(1L) === benchWindows) // embedded copy leaks every window too
    assert(!out.contains(2L) && !out.contains(3L))
  }

  test("per-doc-distinct grams: repeated leak in one doc counts once") {
    import spark.implicits._
    val leak = "one two three four five six seven eight"
    val corpus = Seq((1L, s"$leak padding padding $leak")).toDF("doc_id", "text")
    val benchmark = Seq((9L, leak)).toDF("doc_id", "text")
    val out = Decontaminate.decontaminate(corpus, benchmark, "doc_id", "text", n = 8)
      .collect()
    assert(out.length === 1)
    assert(out.head.getLong(1) === 1L) // the 8-gram window counted once
  }

  test("bloom-prefiltered path is row-identical to the exact join") {
    import spark.implicits._
    // 200 corpus docs over a shared vocabulary (dense fingerprint
    // space → bloom false positives likely at fpp=0.2), 20 of which
    // embed benchmark text verbatim
    val benchTexts = (0 until 5).map(i =>
      s"bench q$i alpha beta gamma delta epsilon zeta eta theta")
    val corpus = (0 until 200).map { i =>
      val base = s"doc $i filler ${i % 7} alpha beta gamma delta words words"
      val text = if (i % 10 == 0) s"$base ${benchTexts(i % 5)}" else base
      (i.toLong, text)
    }.toDF("doc_id", "text").repartition(8)
    val benchmark = benchTexts.zipWithIndex
      .map { case (t, i) => (1000L + i, t) }.toDF("doc_id", "text")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val exact = canon(Decontaminate.decontaminate(
      corpus, benchmark, "doc_id", "text", n = 4))
    // high fpp forces the verify join to actually discard bloom noise
    val bloom = canon(Decontaminate.decontaminateBloom(
      corpus, benchmark, "doc_id", "text", n = 4, fpp = 0.2))
    assert(exact.nonEmpty)
    assert(bloom == exact)
  }

  test("exciseTokenRanges: case kept, whitespace canonicalized, edges exact") {
    import graft.kernel.TextKernel.exciseTokenRanges
    val t = "Alpha  beta\tGAMMA delta epsilon"
    // cut tokens 2..3 (beta GAMMA)
    assert(exciseTokenRanges(t, Array(2), Array(3)) == "Alpha delta epsilon")
    // cut everything
    assert(exciseTokenRanges(t, Array(1), Array(5)) == "")
    // no ranges → ORIGINAL text, double spaces and tab untouched
    assert(exciseTokenRanges(t, Array.empty, Array.empty) eq t)
    // two disjoint ranges incl. both boundaries
    assert(exciseTokenRanges(t, Array(1, 5), Array(1, 5)) ==
      "beta GAMMA delta")
  }

  test("decontaminateExcise cuts the planted leak span, keeps clean docs verbatim") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val leak = "one two three four" // the benchmark 4-gram
    val corpus = Seq(
      (1L, s"Intro words here $leak tail words here end"),
      (2L, "totally clean document with  DOUBLE  spaces kept"),
      (3L, s"$leak $leak")) // leak twice, adjacent → one merged span
      .toDF("doc_id", "text")
    val benchmark = Seq((100L, leak)).toDF("doc_id", "text")
    val got = Decontaminate.decontaminateExcise(
        corpus, benchmark, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((1L, 4L, "Intro words here tail words here end")))
    assert(got(2L) ==
      ((0L, 0L, "totally clean document with  DOUBLE  spaces kept")))
    // doc 3: windows at 1..5 all match (the doubled leak contains
    // every 4-gram of "one two three four one two three four"? no —
    // only those whose 4 tokens equal the benchmark's single gram:
    // positions 1 and 5) → merged island 1..8 → fully excised
    assert(got(3L) == ((1L, 8L, "")))
  }

  test("fused excise path is row-identical to the membership-join path") {
    import spark.implicits._
    // a small vocabulary, so windows collide across docs: overlapping
    // and adjacent islands, full-doc excisions; the generated cases
    // add repeated and NULL ids, NULL/empty/short texts, a skewed id
    // and one long document, and every case carries a column
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "Eta", "THETA")
    // three rows under one id, two of them equal: the clean row keeps
    // its tokens on both sides
    val probe = Seq[(Option[Long], String)](Some(1L) -> "a b one two three four c",
      Some(1L) -> "clean text only here", Some(1L) -> "a b one two three four c")
    val cases = Seq(probe, Seq.empty) ++
      GateCases.samples(GateCases.docs(words), 6)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().sortBy(_.toString).toSeq
    var excised = 0
    for ((rows, i) <- cases.zipWithIndex) {
      val corpus = rows.zipWithIndex
        .map { case ((id, t), j) => (id, t, s"lang${j % 3}") }
        .toDF("doc_id", "text", "lang").repartition(3)
      val benchmark = (("one two three four" +: "alpha beta gamma" +:
          rows.zipWithIndex.collect { case ((_, t), j) if j % 4 == 0 => t })
        .map(t => (0L, t))).toDF("doc_id", "text")
      def run(cap: Int) = canon(Decontaminate.decontaminateExciseGated(
        corpus, benchmark, "doc_id", "text", 3, Seq("lang"), cap))
      val fused = run(LocalGate.MaxRows)
      assert(fused == run(0), s"case $i")
      excised += fused.count(_.getLong(1) > 0)
    }
    assert(excised > 0, "fixture must actually excise")
  }
}
