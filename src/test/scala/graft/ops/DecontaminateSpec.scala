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
    // randomized corpus over a small vocabulary so windows collide
    // across docs: overlapping islands, adjacent islands (gap 0 and
    // gap 1), full-doc excisions, short docs, null/empty text, both
    // hash families, and a carried column
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "Eta", "THETA", "iota", "kappa")
    def doc(len: Int) =
      (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val rows = (0L until 300L).map { i =>
      val t =
        if (i % 37 == 0) null
        else if (i % 23 == 0) ""
        else if (i % 11 == 0) doc(2) // shorter than the window
        else doc(4 + rnd.nextInt(40))
      (i, t, s"lang${i % 3}")
    }
    val corpus = rows.toDF("doc_id", "text", "lang").repartition(7)
    val benchmark = rows.filter(r => r._1 % 5 == 0 && r._2 != null)
      .toDF("doc_id", "text", "lang")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)), r.getString(4))).sortBy(_._1).toSeq
    val fused = canon(Decontaminate.decontaminateExcise(
      corpus, benchmark, "doc_id", "text", n = 3, carryCols = Seq("lang")))
    // maxBroadcastFps = 0 forces the above-gate membership-join plan
    val legacy = canon(Decontaminate.decontaminateExcise(
      corpus, benchmark, "doc_id", "text", n = 3,
      maxBroadcastFps = 0L, carryCols = Seq("lang")))
    assert(fused.exists(_._2 > 0), "fixture must actually excise")
    assert(fused == legacy)
  }
}
