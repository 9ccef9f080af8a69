package graft.ops

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

class LmScoreSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  // reference: "a b a b c" -> unigrams a:2 b:2 c:1 (N=5, V=3)
  //            bigrams (a,b):2 (b,a):1 (b,c):1
  private def ref = {
    import spark.implicits._
    Seq((100L, "a b a b c")).toDF("doc_id", "text")
  }

  private def score(text: String): (Long, Double) = {
    import spark.implicits._
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val r = LmScore.scoreStupidBackoff(docs, ref, "doc_id", "text").collect()
    assert(r.length == 1)
    (r(0).getLong(1), r(0).getDouble(2))
  }

  test("seen bigrams score c2/c1(prev)") {
    // "a b c": (a,b) -> 2/2 = 1.0; (b,c) -> 1/2
    val (n, lp) = score("a b c")
    assert(n == 2L)
    assert(math.abs(lp - (math.log10(1.0) + math.log10(0.5)) / 2) < 1e-12)
  }

  test("unseen bigram of seen words backs off to alpha*(c(w)+1)/(N+V)") {
    // "c a": bigram (c,a) unseen; c(a)=2 -> 0.4 * 3/8
    val (n, lp) = score("c a")
    assert(n == 1L)
    assert(math.abs(lp - math.log10(0.4 * 3.0 / 8.0)) < 1e-12)
  }

  test("OOV token takes the add-one floor") {
    // "a zzz": bigram unseen, c(zzz)=0 -> 0.4 * 1/8
    val (_, lp) = score("a zzz")
    assert(math.abs(lp - math.log10(0.4 / 8.0)) < 1e-12)
  }

  test("broadcast-kernel path is equivalent to the join path") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val words = Vector("a", "b", "c", "zz", "the", "x1")
    val docs = (0 until 60).map(i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(12))(words(rnd.nextInt(words.size)))
        .mkString(" "))).toDF("doc_id", "text")
    val model = LmScore.trainStupidBackoff(ref, "text")
    val a = LmScore.scoreWithModel(docs, model, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val b = LmScore.scoreWithBroadcastModel(docs, model, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(a.keySet == b.keySet && a.nonEmpty)
    for ((k, (n, lp)) <- a) {
      assert(b(k)._1 == n)
      assert(math.abs(b(k)._2 - lp) < 1e-12, s"doc $k")
    }
    // and scoreAuto returns the same rows on both sides of its gate, on
    // generated cases: NULL, empty and one-token texts, repeated and
    // NULL ids (rows under one id are scored one by one on both sides),
    // a skewed token and one long document. The model trains on the
    // rows with an even id.
    val repeated = Seq[(Option[Long], String)](Some(1L) -> "a b a b c",
      Some(1L) -> "c a zz", Some(1L) -> "c a zz", None -> "a b", None -> "b c")
    val cases = Seq[Seq[(Option[Long], String)]](Seq.empty,
        Seq(Some(1L) -> "a b c", Some(2L) -> null), repeated) ++
      GateCases.samples(GateCases.docs(words), 5)
    for ((rows, i) <- cases.zipWithIndex) {
      val docs = rows.toDF("doc_id", "text")
      val model = LmScore.trainStupidBackoff(
        docs.filter($"doc_id" % 2 === 0).union(ref), "text")
      def run(cap: Int) = LmScore.scoreAutoGated(docs, model, "doc_id", "text",
          0.4, cap).collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1),
          r.getDouble(2)))
        .sortBy(r => (r._1, r._2, r._3)).toSeq
      val kernel = run(LocalGate.MaxRows)
      val joined = run(0)
      assert(kernel.map(r => (r._1, r._2)) == joined.map(r => (r._1, r._2)),
        s"case $i")
      for ((k, j) <- kernel.zip(joined))
        assert(math.abs(k._3 - j._3) < 1e-12, s"case $i doc ${k._1}")
      if (rows == repeated) assert(kernel.count(_._1 == Some(1L)) == 3 &&
        kernel.count(_._1.isEmpty) == 2, "one row per input row")
    }
  }

  test("broadcast path rejects a model whose bigram tokens miss the unigram table") {
    import spark.implicits._
    val trained = LmScore.trainStupidBackoff(ref, "text")
    // hand-assembled: bigram (a, q) where q has no unigram row
    val model = trained.copy(bigModel = trained.bigModel.union(
      Seq(("a", "q", 1L, 2L)).toDF("prev", "w", "c2", "c1_prev")))
    val docs = Seq((1L, "a q")).toDF("doc_id", "text")
    // the join path still scores the row …
    assert(LmScore.scoreWithModel(docs, model, "doc_id", "text").count() == 1L)
    // … so the kernel path must fail rather than silently score it differently
    val e = intercept[IllegalArgumentException] {
      LmScore.scoreWithBroadcastModel(docs, model, "doc_id", "text")
    }
    assert(e.getMessage.contains("'q' absent from the unigram table"))
    intercept[IllegalArgumentException] {
      LmScore.scoreAuto(docs, model, "doc_id", "text")
    }
  }

  test("documents with < 2 tokens are absent; case folds; alpha honored") {
    import spark.implicits._
    val docs = Seq((1L, "solo"), (2L, ""), (3L, "A B")).toDF("doc_id", "text")
    val r = LmScore.scoreStupidBackoff(docs, ref, "doc_id", "text", alpha = 0.1)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r.keySet == Set(3L)) // "A B" tokenizes to (a,b), a seen bigram
    assert(math.abs(r(3L) - math.log10(1.0)) < 1e-12)
    val oov = LmScore.scoreStupidBackoff(
      Seq((9L, "zz yy")).toDF("doc_id", "text"), ref, "doc_id", "text", alpha = 0.1)
      .collect()(0).getDouble(2)
    assert(math.abs(oov - math.log10(0.1 / 8.0)) < 1e-12)
  }
}
