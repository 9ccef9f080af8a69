package graft.ops

import graft.{ReferenceFixtures, SparkFixture}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Anchors align_minimap2 semantics to the expectations the REFERENCE
  * commits in test/sql/align_minimap2.test (cited per test below) —
  * reducing reliance on self-derived pinned-VALUES oracles (VERDICT
  * r5, Next #4). SURVEY §2C scope: semantic parity (mapping targets,
  * positions, CIGAR/tag conventions, parameter handling), not
  * score-exact minimap2 internals.
  */
class Minimap2GoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import AlignOps.Minimap2Params

  // test/sql/align_minimap2.test:10-19
  private def subjects = {
    import spark.implicits._
    Seq(
      ("ref1", "ACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCC"),
      ("ref2", "TGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCAAATTAATTAATTAATTAATTAATTAATTAATTAATTAATTAATTAATTAA"))
      .toDF("read_id", "sequence1")
  }
  private def queries = {
    import spark.implicits._
    Seq(
      ("query1", "ACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGT"),
      ("query2", "TGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCATGCA"))
      .toDF("read_id", "sequence1")
  }

  private def primary(df: DataFrame) = df.orderBy("read_id").collect()

  test("basic alignment: query1→ref1@1, query2→ref2@1, mapq present") {
    // test/sql/align_minimap2.test:22-28
    val rows = primary(AlignOps.alignMinimap2(queries, subjects,
      Minimap2Params(maxSecondary = 0)))
    assert(rows.map(r => (r.getString(0), r.getString(2), r.getLong(3))).toSeq ==
      Seq(("query1", "ref1", 1L), ("query2", "ref2", 1L)))
    assert(rows.forall(_.getShort(5) >= 0))
  }

  test("CIGAR is generated and uses '=' ops in default EQX mode") {
    // test/sql/align_minimap2.test:31-46
    val rows = primary(AlignOps.alignMinimap2(queries, subjects,
      Minimap2Params(maxSecondary = 0)))
    for (r <- rows) {
      val cigar = r.getString(6)
      assert(cigar != "*" && cigar.nonEmpty)
      assert(cigar.contains("="))
    }
  }

  test("alignment score tag is positive; stop_position >= position") {
    // test/sql/align_minimap2.test:49-64
    val rows = primary(AlignOps.alignMinimap2(queries, subjects,
      Minimap2Params(maxSecondary = 0)))
    for (r <- rows) {
      assert(r.getLong(r.fieldIndex("tag_as")) > 0)
      assert(r.getLong(r.fieldIndex("stop_position")) >= r.getLong(r.fieldIndex("position")))
    }
  }

  test("map-ont preset maps the same queries to the same references") {
    // test/sql/align_minimap2.test:67-73
    val rows = primary(AlignOps.alignMinimap2(queries, subjects,
      Minimap2Params(preset = "map-ont", maxSecondary = 0)))
    assert(rows.map(r => (r.getString(0), r.getString(2))).toSeq ==
      Seq(("query1", "ref1"), ("query2", "ref2")))
  }

  test("max_secondary=0 yields at most one alignment against identical subjects") {
    // test/sql/align_minimap2.test:92-109
    import spark.implicits._
    val g = "ACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCC"
    val multi = Seq(("ref1", g), ("ref2", g), ("ref3", g)).toDF("read_id", "sequence1")
    val one = Seq(("q1", "ACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGT"))
      .toDF("read_id", "sequence1")
    assert(AlignOps.alignMinimap2(one, multi, Minimap2Params(maxSecondary = 0)).count() <= 1)
  }

  test("paired subject table is rejected (reference: 'cannot be paired-end')") {
    // test/sql/align_minimap2.test:124-132
    import spark.implicits._
    val paired = Seq(("ref1", "ACGTACGTACGT", "TGCATGCA"))
      .toDF("read_id", "sequence1", "sequence2")
    val e = intercept[IllegalArgumentException] {
      AlignOps.alignMinimap2(queries, paired)
    }
    assert(e.getMessage.contains("paired-end"))
  }

  test("queries with NULL sequence2/qual columns from read_fastx do not break alignment") {
    // test/sql/align_minimap2.test:155-174 — the reference pins that a
    // read_fastx table (whose sequence2/qual1/qual2 are NULL) aligns
    // without error, and that its 12 bp reads produce NO alignments
    // at k=5 under the 'sr' preset.
    import spark.implicits._
    val fastxQueries = spark.read.format("fastx")
      .load(ReferenceFixtures.path("data/fastq/test.fa").toString)
      .select(col("read_id"), col("sequence1"), col("sequence2"))
    val subj = Seq(
      ("ref1", "ACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCC"),
      ("ref2", "TGCATGCATGCATGCATGCATGCATGCATGCATGCATGCAGGCCGGCCGGCCATTAATTAATTAATTAATTAATTAATTAATTAATTAATTAATTAA"))
      .toDF("read_id", "sequence1")
    val out = AlignOps.alignMinimap2(fastxQueries, subj,
      Minimap2Params(maxSecondary = 0, k = 5))
    assert(out.count() == 0)
  }

  test("saved index round-trips: index-based equals table-based alignment") {
    // test/sql/align_minimap2.test:181-217
    val dir = "/tmp/graft_golden_index"
    val status = AlignOps.saveAlignerIndex(subjects, dir, Minimap2Params(k = 5))
      .collect().head
    assert(status.getBoolean(0) && status.getLong(2) == 2L)
    val fromIndex = primary(AlignOps.alignMinimap2FromIndex(queries, dir,
      Minimap2Params(maxSecondary = 0)))
    val fromTable = primary(AlignOps.alignMinimap2(queries, subjects,
      Minimap2Params(maxSecondary = 0, k = 5)))
    assert(fromIndex.map(r => (r.getString(0), r.getString(2), r.getLong(3))).toSeq ==
      fromTable.map(r => (r.getString(0), r.getString(2), r.getLong(3))).toSeq)
    assert(fromIndex.map(r => (r.getString(0), r.getString(2), r.getLong(3))).toSeq ==
      Seq(("query1", "ref1", 1L), ("query2", "ref2", 1L)))
  }

  test("invalid index path errors like the reference") {
    // test/sql/align_minimap2.test:234-250
    val e = intercept[Exception] {
      AlignOps.alignMinimap2FromIndex(queries, "/tmp/graft_no_such_index")
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("index"))
  }
}
