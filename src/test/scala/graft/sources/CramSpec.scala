package graft.sources

import graft.{ReferenceFixtures, SparkFixture}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CRAM decode anchored to the reference's committed htslib fixtures:
  * field-for-field equality with the BAM/SAM twins of the same data,
  * through the same `alignments` source (shared normalization by
  * construction). range.cram is htslib-written (gzip+rANS4x8 blocks,
  * multi-ref slices, absolute positions); the *_java CRAMs are
  * htsjdk-written (delta positions, GAMMA codes, every tag type).
  */
class CramSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  private def ref(f: String) = ReferenceFixtures.path(s"ext/htslib-1.22.1/test/$f").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.drop("filepath").collect().map(_.toString).sorted.toSeq

  test("range.cram equals its BAM twin on all 21 columns + seq/qual") {
    val cram = spark.read.format("alignments")
      .option("include_seq_qual", "true")
      .option("reference_fasta", ref("ce.fa"))
      .load(ref("range.cram"))
    val bam = spark.read.format("alignments")
      .option("include_seq_qual", "true")
      .load(ref("range.bam"))
    val c = rows(cram); val b = rows(bam)
    assert(c.length == 112 && c == b)
  }

  test("htsjdk CRAMs equal their SAM twins (generate_md off — twins predate MD/NM)") {
    for ((cram, sam, fa) <- Seq(
        ("ce#5b_java.cram", "ce#5b.sam", "ce.fa"),
        ("auxf#values_java.cram", "auxf#values.sam", "auxf.fa"),
        ("xx#large_aux_java.cram", "xx#large_aux.sam", "xx.fa"))) {
      val c = rows(spark.read.format("alignments")
        .option("include_seq_qual", "true")
        .option("reference_fasta", ref(fa))
        .option("generate_md", "false")
        .load(ref(cram)))
      val s = rows(spark.read.format("alignments")
        .option("include_seq_qual", "true")
        .load(ref(sam)))
      assert(c.nonEmpty && c == s, s"$cram != $sam")
    }
  }

  test("missing reference_fasta on a reference-requiring CRAM fails with a clear error") {
    val cram = getClass.getResource("/graft/cram31/ce1000_v31.cram").getPath
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("alignments").load(cram).collect()
    }
    assert(e.getMessage.contains("reference_fasta") ||
      Option(e.getCause).exists(_.getMessage.contains("reference_fasta")))
  }

  test("filter pushdown applies to CRAM records too") {
    val df = spark.read.format("alignments")
      .option("reference_fasta", ref("ce.fa"))
      .load(ref("range.cram"))
      .filter(col("reference") === "CHROMOSOME_I" && col("mapq") >= 30)
    val all = spark.read.format("alignments")
      .option("reference_fasta", ref("ce.fa"))
      .load(ref("range.cram")).collect()
    val expected = all.count(r => r.getString(2) == "CHROMOSOME_I" && r.getShort(5) >= 30)
    assert(df.count() == expected && expected > 0)
  }
}
