package graft.ops

import graft.{ReferenceFixtures, SparkFixture}
import graft.kernel.Rype
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Anchors rype semantics to the REFERENCE'S OWN committed fixtures —
  * the .ryxdi parquet index at data/rype/test.ryxdi (k=16, w=8,
  * salt=0x5555555555555555 per its manifest.toml) and the pinned
  * expectations of test/sql/rype_classify.test — the way
  * WoltkaGoldenSpec anchors woltka to real CLI output. This replaces
  * self-derived pins as the source of truth for classification
  * semantics (VERDICT r5, Next #4).
  */
class RypeGoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private def ryxdi(rel: String) = ReferenceFixtures.path(s"data/rype/test.ryxdi/$rel").toString
  private val K = 16
  private val W = 8
  // manifest.toml: salt = "0x5555555555555555" == Rype.DefaultSalt
  private val Salt = 0x5555555555555555L

  /** The committed inverted index, adapted to the classify join shape:
    * (minimizer LONG, bucket_id, bucket_name). Spark reads parquet
    * UINT64 as decimal(20,0) — every committed value is < 2^63, so the
    * cast to long is exact.
    */
  private lazy val referenceIndex = {
    val inv = spark.read.parquet(ryxdi("inverted"))
      .select(col("minimizer").cast("long").as("minimizer"),
        col("bucket_id").cast("long").as("bucket_id"))
    val buckets = spark.read.parquet(ryxdi("buckets.parquet"))
      .select(col("bucket_id").cast("long").as("bucket_id"), col("bucket_name"))
    inv.join(buckets, "bucket_id").select("bucket_id", "bucket_name", "minimizer")
  }

  private def seqsDf(rows: (String, String)*) = {
    import spark.implicits._
    rows.toDF("read_id", "sequence1")
  }

  // test/sql/rype_classify.test:19-23
  private def sequences = seqsDf(
    ("seq1", "ACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGT"),
    ("seq2", "TGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCA"),
    ("seq3", "GGGGCCCCGGGGCCCCGGGGCCCCGGGGCCCCGGGGCCCCGGGGCCCCGGGG"))

  private def classify(df: org.apache.spark.sql.DataFrame, threshold: Double) =
    RypeOps.rypeClassify(referenceIndex, df, K, W, Salt, threshold = threshold)

  test("our index builder reproduces the committed .ryxdi inverted relation exactly") {
    // data/rype/test_refs.fasta: one multi-line record per bucket
    // (concatenated to one sequence each, the FASTA contract).
    val refs = Seq(
      "bucket_alpha" -> ("ACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGT" +
        "GGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCC" +
        "ACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGT" +
        "GGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCC"),
      "bucket_beta" -> ("TGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCA" +
        "AATTAATTAATTAATTAATTAATTAATTAATTAATTAATTAATTAATTAATT" +
        "TGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCA" +
        "AATTAATTAATTAATTAATTAATTAATTAATTAATTAATTAATTAATTAATT"),
      "bucket_gamma" -> ("GGGGCCCCGGGGCCCCGGGGCCCCGGGGCCCCGGGGCCCCGGGGCCCCGGGG" +
        "ATATATATATATATATATATATATATATATATATATATATATATATATATATAT" +
        "GGGGCCCCGGGGCCCCGGGGCCCCGGGGCCCCGGGGCCCCGGGGCCCCGGGG" +
        "ATATATATATATATATATATATATATATATATATATATATATATATATATATAT"))
    val ours = refs.flatMap { case (name, seq) =>
      Rype.minimizerSet(seq, K, W, Salt).map(m => (name, m))
    }.toSet
    val committed = referenceIndex.collect()
      .map(r => (r.getAs[String]("bucket_name"), r.getAs[Long]("minimizer"))).toSet
    assert(ours == committed,
      s"ours-only=${ours -- committed}, committed-only=${committed -- ours}")
  }

  test("bucket hit counts at threshold 0.05 match the reference pin (alpha 3, beta 2, gamma 3)") {
    // test/sql/rype_classify.test:110-118
    val counts = classify(sequences, 0.05)
      .groupBy("bucket_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("bucket_alpha" -> 3L, "bucket_beta" -> 2L, "bucket_gamma" -> 3L))
  }

  test("all scores are within [0, 1]") {
    // test/sql/rype_classify.test:121-126
    val bad = classify(sequences, 0.0)
      .filter(col("score") < 0.0 || col("score") > 1.0).count()
    assert(bad == 0)
  }

  test("threshold 0.99 keeps exactly the 8 perfect-score rows") {
    // test/sql/rype_classify.test:149-153
    assert(classify(sequences, 0.99).count() == 8)
  }

  test("paired-end classification merges mate minimizers (reference pin: 2 hits per bucket)") {
    // test/sql/rype_classify.test:186-200
    import spark.implicits._
    val paired = Seq(
      ("paired1", "ACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGT",
        "GGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCC"),
      ("paired2", "TGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCA",
        "AATTAATTAATTAATTAATTAATTAATTAATTAATTAATTAATTAATTAATT"))
      .toDF("read_id", "sequence1", "sequence2")
    val counts = classify(paired, 0.05)
      .groupBy("bucket_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("bucket_alpha" -> 2L, "bucket_beta" -> 2L, "bucket_gamma" -> 2L))
  }

  // test/sql/rype_classify.test:210-216
  private def variedSequences = seqsDf(
    ("perfect_match", "ACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGT"),
    ("partial_match", "ACGTACGTACGTACGTAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"),
    ("no_match", "ATATCGCGATATCGCGATATCGCGATATCGCGATATCGCGATATCGCGATAT"),
    ("homopolymer", "AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"))

  test("varied sequences: only perfect and partial match at threshold 0") {
    // test/sql/rype_classify.test:222-226
    val reads = classify(variedSequences, 0.0)
      .select("read_id").distinct().collect().map(_.getString(0)).toSet
    assert(reads == Set("perfect_match", "partial_match"))
  }

  test("threshold 0.5 keeps only perfect_match, in all 3 buckets") {
    // test/sql/rype_classify.test:229-235
    val counts = classify(variedSequences, 0.5)
      .groupBy("read_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("perfect_match" -> 3L))
  }

  test("threshold 0.15: partial_match in 2 buckets, perfect_match in 3") {
    // test/sql/rype_classify.test:238-245
    val counts = classify(variedSequences, 0.15)
      .groupBy("read_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("partial_match" -> 2L, "perfect_match" -> 3L))
  }

  test("exactly 3 hits score below 1.0 at threshold 0; non-matching reads emit no rows") {
    // test/sql/rype_classify.test:248-261
    val all = classify(variedSequences, 0.0)
    assert(all.filter(col("score") < 1.0).count() == 3)
    assert(all.filter(col("read_id").isin("no_match", "homopolymer")).count() == 0)
  }
}
