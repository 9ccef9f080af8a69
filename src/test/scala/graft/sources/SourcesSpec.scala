package graft.sources

import graft.{ReferenceFixtures, SparkFixture}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reader validation against the reference's own committed fixtures
  * and sqllogictest expectations (reference: test/sql/read_fastx
  * .test:24-53, test/sql/read_alignments.test:25-49).
  */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private def fq(f: String) = ReferenceFixtures.path(s"data/fastq/$f").toString
  private def sam(f: String) = ReferenceFixtures.path(s"data/sam/$f").toString

  test("fastx paired read matches reference expectations") {
    val rows = spark.read.format("fastx")
      .option("sequence2", fq("foo.r2.fastq.gz"))
      .load(fq("foo.r1.fastq.gz"))
      .orderBy("sequence_index").collect()
    assert(rows.length == 2)
    val r1 = rows(0)
    assert(r1.getLong(0) == 1L && r1.getString(1) == "foo1"
      && r1.getString(2) == "comment-1" && r1.getString(3) == "ATGC"
      && r1.getString(4) == "TGCAT")
    assert(r1.getSeq[Short](5) == Seq[Short](40, 39, 38, 37))
    assert(r1.getSeq[Short](6) == Seq[Short](36, 35, 34, 33, 32))
    val r2 = rows(1)
    assert(r2.getString(1) == "foo2" && r2.getString(3) == "ATGCT")
  }

  test("fastx single-end: sequence2/qual2 NULL, ids stripped") {
    val rows = spark.read.format("fastx").load(fq("foo.r1.fastq.gz"))
      .orderBy("sequence_index").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "foo1")
    assert(rows(0).isNullAt(4) && rows(0).isNullAt(6))
  }

  test("format 'sam' is an alias of 'alignments' (reference read_sam)") {
    val a = spark.read.format("alignments").load(sam("foo_has_header.sam")).collect().toSeq
    val b = spark.read.format("sam").load(sam("foo_has_header.sam")).collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("fastx FASTA: qual NULL") {
    val rows = spark.read.format("fastx").load(fq("test.fa")).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.isNullAt(5)))
  }

  test("fastx qual_offset: 33 default, 64 shifts, others rejected " +
      "(reference test/sql/read_fastx_qual_offset.test)") {
    val smallA = fq("small_a.fq")
    def quals(opts: Map[String, String]): Map[String, Seq[Short]] = {
      var r = spark.read.format("fastx")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(smallA).collect()
        .map(row => row.getString(1) -> row.getSeq[Short](5)).toMap
    }
    assert(quals(Map.empty) == Map(
      "read_a1" -> Seq[Short](40, 40, 40, 40), "read_a2" -> Seq[Short](39, 39, 39, 39)))
    assert(quals(Map("qual_offset" -> "64")) == Map(
      "read_a1" -> Seq[Short](9, 9, 9, 9), "read_a2" -> Seq[Short](8, 8, 8, 8)))
    val e = intercept[Exception] { quals(Map("qual_offset" -> "100")) }
    def rootMsg(t: Throwable): String =
      (Option(t.getMessage) ++ Option(t.getCause).map(rootMsg)).mkString(" | ")
    assert(rootMsg(e).contains("qual_offset must be 33 or 64"))
  }

  test("fastx paired-id mismatch errors") {
    val (r1, r2) = (fq("foo.r1.fastq.gz"), fq("foo.r2.fastq.mismatched-ids.fastq.gz"))
    val ex = intercept[Exception] {
      spark.read.format("fastx")
        .option("sequence2", r2)
        .load(r1).collect()
    }
    assert(ex.getMessage.contains("foo1/1") || ex.getCause != null)
  }

  test("fastx glob expands sorted and concatenates") {
    val n = spark.read.format("fastx")
      .load(s"${fq("foo.r1.fastq.gz")},${fq("bar.r1.fastq.gz")}").count()
    assert(n == 5) // reference test/sql/read_fastx.test:124-126
  }

  test("multi-path load(a, b) resolves Spark's JSON 'paths' option") {
    val n = spark.read.format("fastx")
      .load(fq("foo.r1.fastq.gz"), fq("bar.r1.fastq.gz")).count()
    assert(n == 5) // same as the comma-list spec
    val biom = ReferenceFixtures.path("data/biom/test.biom").toString
    val b = spark.read.format("biom").load(biom, biom).count()
    assert(b == 30) // same file twice concatenates
  }

  test("fastx sequence_index restarts per file " +
      "(reference test/sql/read_fastx_sequence_index.test)") {
    val idx = spark.read.format("fastx")
      .load(s"${fq("small_a.fq")},${fq("small_b.fq")}")
      .select("sequence_index").collect().map(_.getLong(0))
    assert(idx.length == 4 && idx.min == 1 && idx.max == 2)
    assert(idx.count(_ == 1L) == 2) // both files start at 1
  }

  test("alignments reader matches reference expectations") {
    val rows = spark.read.format("alignments")
      .load(sam("foo_has_header.sam"))
      .select("read_id", "flags", "reference", "position", "mapq", "cigar", "mate_reference")
      .orderBy("read_id", "flags").collect()
    val expected = Seq(
      ("foo-1", 0, "G1234", 2L, 60.toShort, "10M", "*"),
      ("foo-2", 0, "G1234", 2L, 60.toShort, "10M", "*"),
      ("foo-3", 99, "G000144735", 76020L, 1.toShort, "150M", "="),
      ("foo-3", 147, "G000144735", 76146L, 1.toShort, "150M", "="))
    assert(rows.length == 4)
    for ((r, e) <- rows.zip(expected)) {
      assert((r.getString(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getShort(4), r.getString(5), r.getString(6)) == e)
    }
  }

  test("alignments: stop_position = endpos + 1, multi-file count, filepath") {
    val one = spark.read.format("alignments").load(sam("foo_has_header.sam"))
      .filter(col("read_id") === "foo-1").select("stop_position").head()
    assert(one.getLong(0) == 2L + 10L) // pos 2 + 10M ref len
    val n = spark.read.format("alignments")
      .load(s"${sam("foo_has_header.sam")},${sam("foo_has_header_2.sam")}").count()
    assert(n == 8) // reference test/sql/read_alignments.test:36-39
    val fp = spark.read.format("alignments")
      .option("include_filepath", "true")
      .load(s"${sam("foo_has_header.sam")},${sam("foo_has_header_2.sam")}")
      .groupBy("read_id").agg(countDistinct("filepath").as("nf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fp.values.forall(_ == 1L))
    assert(fp.size == 6) // foo-1..3 + bar-1..3 (foo-3/bar-3 have 2 rows each)
  }

  test("alignments: tags NULL when absent, parsed when present") {
    val noTags = spark.read.format("alignments").load(sam("foo_no_tags.sam"))
      .select("tag_as", "tag_nm", "tag_md").collect()
    assert(noTags.forall(r => r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2)))
  }

  test("alignments: unmapped read has stop_position 0") {
    val r = spark.read.format("alignments").load(sam("foo_unmapped_no_seq.sam"))
      .filter((col("flags").bitwiseAND(4)) =!= 0).select("stop_position").collect()
    assert(r.nonEmpty && r.forall(_.getLong(0) == 0L))
  }

  test("BAM binary: .bam file reads identically to its .sam twin") {
    val samDf = spark.read.format("alignments").load(sam("foo_has_header.sam"))
      .orderBy("read_id", "flags")
    val bamDf = spark.read.format("alignments").load(sam("foo_has_header.bam"))
      .orderBy("read_id", "flags")
    assert(samDf.collect().toSeq == bamDf.collect().toSeq)
  }

  test("BAM binary: large positions (reference test/sql/read_alignments.test:92-98)") {
    // note: the .bam and .sam large-position fixtures intentionally
    // hold different positions; the sqllogictest pins the BAM values
    val bam = spark.read.format("alignments").load(sam("foo_large_positions.bam"))
      .select("position", "stop_position").orderBy("position").collect()
    assert(bam.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2147483648L, 2147483748L)))
  }

  test("CRAM outside the supported subset fails loudly (version, not SAM-text parse)") {
    // htslib auto-detects SAM/BAM/CRAM (reference src/SAMReader.cpp:134).
    // Supported CRAM 2.x-4.x is exercised in CramSpec/Cram31Spec; other
    // versions must error with a typed message, never fall through to
    // SAM-text parsing.
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
    val v5 = "/tmp/graft_cram_v5.cram"
    java.nio.file.Files.write(java.nio.file.Paths.get(v5),
      "CRAM".getBytes ++ Array[Byte](5, 0) ++ Array.fill[Byte](20)(0))
    val e1 = intercept[Exception](
      spark.read.format("alignments").load(v5).collect())
    assert(rootMsg(e1).contains("outside the supported subset"))
    // extension-detected non-CRAM content: the magic check must name the file
    val byExt = "/tmp/graft_cram_ext.cram"
    java.nio.file.Files.write(java.nio.file.Paths.get(byExt),
      "@HD\tVN:1.6\n".getBytes)
    val e2 = intercept[Exception](
      spark.read.format("alignments").load(byExt).collect())
    assert(rootMsg(e2).contains("not a CRAM file"))
  }

  test("alignments: projection pushdown reaches the reader") {
    val df = spark.read.format("alignments").load(sam("foo_has_header.sam"))
      .select("read_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(df.collect().length == 4)
    assert(plan.contains("read_id"))
  }

  test("alignments: filter pushdown reaches the reader and results match post-filtering") {
    val path = sam("foo_has_header.sam")
    val unfiltered = spark.read.format("alignments").load(path).collect()

    val df = spark.read.format("alignments").load(path)
      .filter(col("reference") === "G1234" && col("position") >= 2L && col("flags") =!= 99)
    // the scan itself carries the predicates (plan probe) …
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }
    val pushed = scans.collectFirst { case s: FileScan[_] => s.pushedFilters }.getOrElse(Array.empty)
    assert(pushed.nonEmpty, s"no pushed filters on scan: ${df.queryExecution.executedPlan}")
    assert(pushed.flatMap(_.references).toSet == Set("reference", "position", "flags"))
    // … and record-level evaluation matches Spark-side post-filtering
    val expected = unfiltered.filter(r =>
      r.getString(2) == "G1234" && r.getLong(3) >= 2L && r.getInt(1) != 99)
    assert(df.count() == expected.length && expected.nonEmpty)
  }

  test("alignments: pushdown on BAM and IN/startsWith forms") {
    val bam = sam("foo_has_header.bam")
    val all = spark.read.format("alignments").load(bam).collect()
    val inDf = spark.read.format("alignments").load(bam)
      .filter(col("read_id").isin("foo-1", "foo-3") && col("mapq") >= 0)
    val expected = all.count(r => Set("foo-1", "foo-3")(r.getString(0)))
    assert(inDf.count() == expected && expected > 0)
    val sw = spark.read.format("alignments").load(bam)
      .filter(col("read_id").startsWith("foo"))
    assert(sw.count() == all.length)
  }
}
