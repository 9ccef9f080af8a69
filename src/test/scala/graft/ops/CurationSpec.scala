package graft.ops

import graft.SparkFixture
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class CurationSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def run(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    Curation.gopherRules(rows.toDF("doc_id", "text", "lang"),
        "doc_id", "text", "lang",
        minTokens = 3, maxTokens = 8, minMeanLen = 2.0, maxMeanLen = 6.0,
        minAlphaFrac = 0.5)
      .collect()
      .map(r => r.getLong(0) -> (r.getBoolean(4),
        Option(r.getString(5)).getOrElse("keep"))).toMap
  }

  test("cascade fires the FIRST failing rule") {
    val out = run(Seq(
      (1L, "the quick brown fox", "en"),                    // all pass
      (2L, "to in", "en"),                                  // too_short
      (3L, "a b c d e f g h i", "en"),                      // too_long (9 > 8)
      (4L, "a the b c", "en"),                              // mean len 1.5 < 2
      (5L, "the 123 456 789", "en"),                        // alpha 1/4 < 0.5
      (6L, "quick brown foxes jump", "en"),                 // no stopword
      (7L, "the quick brown fox", "zh"),                    // lang
      (8L, "", "en")))                                      // 0 tokens: too_short
    assert(out(1L) == ((true, "keep")))
    assert(out(2L) == ((false, "too_short")))
    assert(out(3L) == ((false, "too_long")))
    assert(out(4L) == ((false, "token_len")))
    assert(out(5L) == ((false, "alpha")))
    assert(out(6L) == ((false, "stopwords")))
    assert(out(7L) == ((false, "lang")))
    assert(out(8L) == ((false, "too_short")))
  }

  test("r14 kernel gopherStats equals the legacy HOF-expression form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val stop = Seq("the", "a", "and", "of", "to", "in")
    // adversarial: null, empty, whitespace-only, mixed case, unicode
    // (incl. a supplementary code point — code-point counting, not
    // UTF-16 units), digits, punctuation-adjacent, tabs/CR/vertical
    // tab, a token that is ONLY a stopword, very long token
    val rows = Seq(
      null, "", "   ", "\t\n\f\r", "The Quick BROWN fox",
      "thé café naïve", "abc😀def xyz",
      "123 abc 456", "a", "the", "ALLCAPS", "mIxEd",
      "word, with; punct!", "İstanbul I", // Turkish dotted I edge
      ("long" * 50) + " the", "of of of of").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = rows.toDF("id", "text")
    val mismatches = df.select(col("id"),
        CurationLegacy.gopherStatsExprLegacy(col("text"), stop).as("legacy"),
        // private[ops] access: the kernel struct via gopherReason's
        // building block is not exported; compare through gopherRules'
        // public signals + reason instead for the kernel side
        col("text"))
      .collect()
    // field-wise compare through the public surface: gopherRules (kernel)
    // vs signals recomputed from the legacy struct
    val kernel = Curation.gopherRules(df.withColumn("lang", lit("en")),
        "id", "text", "lang", minTokens = 1, maxTokens = 1000,
        minMeanLen = 0.0, maxMeanLen = 1e9, minAlphaFrac = 0.0,
        stopwords = stop)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          r.getBoolean(4), Option(r.getString(5)))).toMap
    mismatches.foreach { r =>
      val id = r.getLong(0)
      val leg = Option(r.getStruct(1))
      val (kN, kMean, kAlpha, _, _) = kernel(id)
      assert(kN == leg.map(_.getLong(0)),
        s"n_tokens mismatch id=$id text=${r.get(2)}")
      leg.foreach { s =>
        val n = s.getLong(0)
        val expMean = if (n > 0) Some(s.getLong(1).toDouble / n) else None
        val expAlpha = if (n > 0) Some(s.getLong(2).toDouble / n) else None
        assert(kMean == expMean, s"mean_token_len mismatch id=$id")
        assert(kAlpha == expAlpha, s"alpha_frac mismatch id=$id")
      }
    }
    // and the reason cascade end-to-end on the standard thresholds
    val reasonK = Curation.gopherReason(df.withColumn("lang", lit("en")),
        "text", "lang")
      .select(col("id"), col("drop_reason")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val legStats = df.select(col("id"),
      CurationLegacy.gopherStatsExprLegacy(col("text"), stop).as("s")).collect()
      .map(r => r.getLong(0) -> Option(r.getStruct(1))).toMap
    rows.foreach { case (id, _) =>
      val exp = legStats(id) match {
        case None => None // null text: every numeric when() is null -> falls to lang (en allowed) -> NULL
        case Some(s) =>
          val n = s.getLong(0)
          val mean = if (n > 0) Some(s.getLong(1).toDouble / n) else None
          val alpha = if (n > 0) Some(s.getLong(2).toDouble / n) else None
          if (n < 50) Some("too_short")
          else if (n > 100000) Some("too_long")
          else if (mean.exists(m => m < 3.0 || m > 10.0)) Some("token_len")
          else if (alpha.exists(_ < 0.8)) Some("alpha")
          else if (!s.getBoolean(3)) Some("stopwords")
          else None
      }
      assert(reasonK(id) == exp, s"reason mismatch id=$id")
    }
  }

  test("curate pipelines rules -> line dedup -> keep-one") {
    import spark.implicits._
    val body = "the quick brown fox jumps over the lazy dog" // 9 tokens, passes
    val banner = "SHARED COOKIE BANNER the a"
    val docs = Seq(
      (1L, s"$banner\n$body one", "en"),
      (2L, s"$banner\n$body one", "en"),   // exact dup of 1 after cleaning
      (3L, s"$banner\n$body two", "en"),   // distinct after cleaning
      (4L, s"$banner\n$body one", "zh"),   // dropped by lang rule
      (5L, banner, "en"),                  // only the common line: emptied
      (6L, s"$body three", "en"))          // no banner
      .toDF("doc_id", "text", "lang")
    val out = Curation.curate(docs, "doc_id", "text", "lang",
        minTokens = 4, lineMinDocs = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // banner appears in kept docs 1,2,3,5 (>=3) -> removed everywhere
    assert(out.keySet == Set(1L, 3L, 6L))
    assert(out(1L)._2 == 2L) // docs 1+2 collapsed
    assert(out(3L)._2 == 1L)
    assert(out(1L)._1 == (body + " one").length.toLong)
  }

  test("curate output is deterministic and partitioning-independent") {
    import spark.implicits._
    val docs = (0 until 120).map { i =>
      val dup = i % 4 // 4 content classes -> collapsing groups
      (i.toLong, s"the quick brown fox number $dup jumps again", "en")
    }.toDF("doc_id", "text", "lang")
    def run(df: org.apache.spark.sql.DataFrame) =
      Curation.curate(df, "doc_id", "text", "lang", minTokens = 4,
        lineMinDocs = 1000).collect().map(_.toSeq).toSet
    assert(run(docs) == run(docs.repartition(17)) && run(docs).nonEmpty)
  }

  test("adaptiveQuantileCut drops each group's tail at its own cutoff") {
    import spark.implicits._
    val rows = (1 to 100).map(i => (i.toLong, "en", i.toLong)) ++
      (101 to 110).map(i => (i.toLong, "zh", (i * 1000).toLong))
    val out = Curation.adaptiveQuantileCut(
        rows.toDF("doc_id", "lang", "n_chars"), "doc_id", "n_chars", "lang",
        q = 0.1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    val en = out.filter(_._2 == "en")
    val zh = out.filter(_._2 == "zh")
    // exact regime (quantile_disc, rank ceil(q*n)): en p10 = 10th
    // smallest = 10; zh (10 rows) p10 = 1st smallest = 101000
    assert(en.forall(_._3 == 10L) && en.length == 91)
    assert(zh.forall(_._3 == 101000L) && zh.length == 10)
    // an en doc below ITS group cutoff is dropped even though every zh
    // doc (its own group) survives
    assert(!out.exists(_._1 == 5L))
  }

  test("ratio columns are exact single divisions; null when token-less") {
    import spark.implicits._
    val r = Curation.gopherRules(
        Seq((1L, "ab the 12", "en"), (2L, "", "en")).toDF("doc_id", "text", "lang"),
        "doc_id", "text", "lang")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getDouble(2) == 7.0 / 3)   // mean token len
    assert(r(1L).getDouble(3) == 2.0 / 3)   // alpha frac ("12" not alpha)
    assert(r(2L).isNullAt(2) && r(2L).isNullAt(3))
  }

  test("the rule gate composes with a document stream unchanged (map-only)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val query = graft.ops.Curation.gopherRules(
        input.toDF().toDF("doc_id", "text", "lang"),
        "doc_id", "text", "lang", minTokens = 3)
      .writeStream.format("memory").queryName("graft_rules_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "the quick brown fox", "en"), (2L, "to in", "en"))
      query.processAllAvailable()
      val rows = spark.sql(
          "SELECT doc_id, keep, drop_reason FROM graft_rules_stream")
        .collect().map(r => r.getLong(0) ->
          (r.getBoolean(1), Option(r.getString(2)))).toMap
      assert(rows(1L) == ((true, None)))
      assert(rows(2L) == ((false, Some("too_short"))))
    } finally query.stop()
  }
}
