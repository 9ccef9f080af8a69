package graft.ops

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

class BpeTrainerSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("classic corpus learns the textbook merges with deterministic tie-breaks") {
    import spark.implicits._
    // freqs: low 5, lower 2, newest 6, widest 3 — pair counts put
    // (e,s) and (s,t) tied at 9, then (l,o)/(o,w) tied at 7: each tie
    // resolves by byte order of the pair
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val merges = BpeTrainer.trainMerges(docs, "text", numMerges = 4)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))

    val enc = BpeTrainer.encode(
        Seq((9L, "newest newest low")).toDF("doc_id", "text"),
        "doc_id", "text", merges)
      .as[(Long, Seq[String], Long)].head()
    assert(enc._2 == Seq("n", "e", "w", "est", "n", "e", "w", "est", "low"))
    assert(enc._3 == 9L)
  }

  test("applyMerge is left-to-right and non-overlapping") {
    assert(BpeTrainer.applyMerge(Seq("a", "a", "a"), "a", "a") ==
      Seq("aa", "a"))
    assert(BpeTrainer.applyMerge(Seq("a", "a", "a", "a"), "a", "a") ==
      Seq("aa", "aa"))
    assert(BpeTrainer.applyMerge(Seq("x", "a", "b", "y", "a", "b"), "a", "b") ==
      Seq("x", "ab", "y", "ab"))
  }

  test("pairCounts weighs by word frequency and in-word multiplicity") {
    import spark.implicits._
    val vocab = Seq((Seq("a", "b", "a", "b"), 3L)).toDF("syms", "freq")
    val got = BpeTrainer.pairCounts(vocab)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("a", "b", 6L), ("b", "a", 3L)))
  }

  test("symbols split on Unicode code points, not UTF-16 units") {
    assert(BpeTrainer.symbols("a😀b").toSeq ==
      Seq("a", "😀", "b"))
  }

  test("training stops early when no pairs remain") {
    import spark.implicits._
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(BpeTrainer.trainMerges(docs, "text", numMerges = 3).isEmpty)
  }

  test("local merge loop matches the distributed loop exactly") {
    import spark.implicits._
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++
      Seq.fill(4)("wide") ++ Seq.fill(7)("the") ++ Seq.fill(7)("then") ++
      Seq.fill(2)("\uD83D\uDE00ab \uD83D\uDE00ac") ++ Seq.fill(3)("banana bandana"))
      .mkString(" ")
    val fixed = Seq(Some(1L) -> text, Some(2L) -> text.toUpperCase,
      Some(3L) -> "singleton words here once")
    // generated cases: NULL and empty texts, a skewed word, repeated
    // ids and one long document
    val words = Vector("low", "lower", "newest", "widest", "the", "then",
      "\uD83D\uDE00ab", "banana", "bandana")
    val cases = Seq(fixed, Seq.empty) ++ GateCases.samples(GateCases.docs(words), 3)
    for ((rows, i) <- cases.zipWithIndex) {
      val docs = rows.toDF("doc_id", "text")
      def run(cap: Int) = BpeTrainer.trainMergesAutoGated(docs, "text", 25, 1L, cap)
      val local = run(LocalGate.MaxRows)
      assert(local == run(0), s"case $i")
      assert(rows.isEmpty || local.nonEmpty, s"case $i")
      if (rows == fixed) assert(local == BpeTrainer.trainMerges(docs, "text", 25))
    }
  }

  test("utf8 tie-break: supplementary char orders by code point, not UTF-16") {
    import spark.implicits._
    val bmp = "\uFFFD"          // U+FFFD — UTF-16 max-ish BMP char
    val supp = "\uD800\uDC00"  // U+10000 — sorts BELOW U+FFFD in
                                  // UTF-16 but ABOVE it in UTF-8 bytes
    val docs = Seq((1L, s"$bmp$bmp $supp$supp")).toDF("doc_id", "text")
    val distributed = BpeTrainer.trainMerges(docs, "text", 1)
    val auto = BpeTrainer.trainMergesAuto(docs, "text", 1)
    assert(auto == distributed)
    assert(auto == Seq((bmp, bmp)))
  }

  test("trainMergesAuto minFreq prunes hapax words before training") {
    import spark.implicits._
    val docs = Seq((1L, "aa aa aa zq")).toDF("doc_id", "text")
    // without pruning, (z,q) exists; with minFreq=2 only "aa" remains
    assert(BpeTrainer.trainMergesAuto(docs, "text", 5)
      .contains(("z", "q")))
    assert(BpeTrainer.trainMergesAuto(docs, "text", 5, minFreq = 2L) ==
      Seq(("a", "a")))
  }

  test("trainMergesAuto above the gate falls back to the distributed loop") {
    import spark.implicits._
    val docs = Seq((1L, "low low lower newest")).toDF("doc_id", "text")
    val viaDistributed = BpeTrainer.trainMergesAutoGated(docs, "text", 4, 1L, 0)
    assert(viaDistributed == BpeTrainer.trainMerges(docs, "text", 4))
  }

  test("trainMergesAuto tokenizes the corpus once on the distributed side") {
    import org.apache.spark.sql.functions.{col, udf}
    import spark.implicits._
    // an accumulator inside a UDF over the text counts corpus reads:
    // the gate's probe and the distributed loop share the persisted
    // word counts, so each document is read once
    val reads = spark.sparkContext.longAccumulator("corpus_reads")
    val tick = udf { (t: String) => reads.add(1L); t }
    val raw = Seq((1L, "low low lower newest"), (2L, "widest newest low"),
      (3L, "lower lowest new"))
    val docs = raw.toDF("doc_id", "t").select(col("doc_id"), tick(col("t")).as("text"))
    val merges = BpeTrainer.trainMergesAutoGated(docs, "text", 4, 1L, 0)
    assert(merges == BpeTrainer.trainMerges(raw.toDF("doc_id", "text"), "text", 4))
    assert(reads.value <= raw.size.toLong,
      s"corpus read ${reads.value} times for ${raw.size} documents")
  }

  test("bpeTokenCounts equals the direct per-row encode, incl. empty docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "newest newest low"),
      (2L, "lower widest low low"),
      (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
    val direct = BpeTrainer.encode(docs, "doc_id", "text", merges)
      .select("doc_id", "n_bpe").as[(Long, Long)].collect().toMap
    val viaVocab = BpeTrainer.bpeTokenCounts(docs, "doc_id", "text", merges)
      .as[(Long, Long)].collect().toMap
    assert(viaVocab == direct)
    assert(viaVocab(3L) == 0L && viaVocab(4L) == 0L)
  }

  test("packTokenIds reconstructs the per-bucket stream of encode() exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "newest newest low"),
      (2L, "lower widest low low"),
      (3L, "the newest widest lower"),
      (4L, ""),
      (5L, "low low low newest")).toDF("doc_id", "text")
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
    // independent reference: encode() each doc to symbol strings, map
    // through the UTF-8-ordered symbol table, concatenate in Packing's
    // (md5(id), id) stream order, chunk at the budget
    val encoded = BpeTrainer.encode(docs, "doc_id", "text", merges)
      .as[(Long, Seq[String], Long)].collect()
    val symIds = encoded.flatMap(_._2).distinct
      .sorted(BpeTrainer.utf8Ord).zipWithIndex
      .map { case (s, i) => (s, (i + 1).toLong) }.toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val budget = 5
    val stream = encoded.sortBy(e => (md5hex(e._1.toString), e._1))
      .flatMap(_._2.map(symIds))
    val expected = stream.grouped(budget).zipWithIndex
      .map { case (ids, p) => (p.toLong, ids.toSeq) }.toMap

    val got = BpeTrainer.packTokenIds(docs, "doc_id", "text", merges,
        budget = budget, buckets = 1)
      .as[(Long, Long, Long, Seq[Long])].collect()
    assert(got.map(_._1).forall(_ == 0L)) // one bucket
    assert(got.map(g => g._2 -> g._4).toMap == expected)
    assert(got.forall(g => g._3 == g._4.length))
    // every pack but the bucket's last is exactly full
    val lastPack = got.map(_._2).max
    assert(got.filter(_._2 != lastPack).forall(_._3 == budget))
  }
}
