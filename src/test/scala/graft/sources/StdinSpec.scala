package graft.sources

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayInputStream
import java.nio.file.{Files, Paths}

/** stdin input semantics, mirroring the reference's shell suites
  * (reference: test/shell/read_fastx_stdin.sh, read_alignments_stdin.sh,
  * read_newick_stdin.sh): `-` and `/dev/stdin` both read stdin, the
  * `filepath` column reports `/dev/stdin` for either spelling, stdin
  * cannot appear in a multi-file list or alongside sequence2, and
  * gzipped bytes on stdin are decoded (magic sniff, no extension).
  *
  * Each test injects a fresh System.in and resets the one-shot
  * snapshot; within a real application stdin is consumed exactly once
  * (first plan), which is also the reference's process model.
  */
class StdinSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val fq = "/root/reference/data/fastq"

  private val savedIn = System.in
  private def withStdin[A](bytes: Array[Byte])(f: => A): A = {
    FileSourceCommon.resetStdinSnapshot()
    System.setIn(new ByteArrayInputStream(bytes))
    try f
    finally {
      System.setIn(savedIn)
      FileSourceCommon.resetStdinSnapshot()
    }
  }
  private def fileBytes(p: String): Array[Byte] = Files.readAllBytes(Paths.get(p))

  test("fastx from '-' and '/dev/stdin': records, 1-based index") {
    for (token <- Seq("-", "/dev/stdin")) {
      val rows = withStdin(fileBytes(s"$fq/small_a.fq")) {
        spark.read.format("fastx").load(token)
          .orderBy("sequence_index").collect()
      }
      assert(rows.length == 2, token)
      assert(rows(0).getLong(0) == 1L, token)
      assert(rows(1).getString(1) == "read_a2", token)
    }
  }

  test("filepath column reports /dev/stdin for both spellings") {
    for (token <- Seq("-", "/dev/stdin")) {
      val fp = withStdin(fileBytes(s"$fq/small_a.fq")) {
        spark.read.format("fastx").option("include_filepath", "true")
          .load(token).select("filepath").head().getString(0)
      }
      assert(fp == "/dev/stdin", token)
    }
  }

  test("gzipped bytes on stdin are decoded (magic sniff)") {
    val viaStdin = withStdin(fileBytes(s"$fq/foo.r1.fastq.gz")) {
      spark.read.format("fastx").load("-")
        .orderBy("sequence_index").collect().map(_.getString(1)).toSeq
    }
    val viaFile = spark.read.format("fastx").load(s"$fq/foo.r1.fastq.gz")
      .orderBy("sequence_index").collect().map(_.getString(1)).toSeq
    assert(viaStdin == viaFile && viaStdin.nonEmpty)
  }

  test("stdin in a multi-file list is rejected") {
    def rootMsg(t: Throwable): String =
      (Option(t.getMessage) ++ Option(t.getCause).map(rootMsg)).mkString(" | ")
    val e = intercept[Exception] {
      spark.read.format("fastx").load("/dev/stdin", s"$fq/small_a.fq").collect()
    }
    assert(rootMsg(e).contains("stdin"))
  }

  test("stdin with sequence2 is rejected") {
    def rootMsg(t: Throwable): String =
      (Option(t.getMessage) ++ Option(t.getCause).map(rootMsg)).mkString(" | ")
    val e = intercept[Exception] {
      spark.read.format("fastx")
        .option("sequence2", s"$fq/small_a_r2.fq").load("-").collect()
    }
    assert(rootMsg(e).contains("stdin cannot be used with sequence2"))
  }

  test("alignments from stdin match the file read") {
    val samFile = "/root/reference/data/sam/foo_has_header.sam"
    val viaFile = spark.read.format("alignments").load(samFile)
      .select("read_id", "flags", "reference", "cigar").collect().toSeq
    val viaStdin = withStdin(fileBytes(samFile)) {
      spark.read.format("alignments").load("-")
        .select("read_id", "flags", "reference", "cigar").collect().toSeq
    }
    assert(viaStdin == viaFile && viaFile.nonEmpty)
  }

  test("sam_sequences from stdin: records, and filepath reports /dev/stdin") {
    val sam = "@HD\tVN:1.6\n" +
      "q1\t4\t*\t0\t0\t*\t*\t0\t0\tACGT\tIIII\n" +
      "q2\t4\t*\t0\t0\t*\t*\t0\t0\tGG\t#+\n"
    val rows = withStdin(sam.getBytes("UTF-8")) {
      spark.read.format("sam_sequences").option("include_filepath", "true")
        .load("-").select("sequence_index", "read_id", "sequence1", "filepath").collect()
    }
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq ==
      Seq((1L, "q1", "ACGT", "/dev/stdin"), (2L, "q2", "GG", "/dev/stdin")))
  }

  test("BAM bytes on stdin are detected by magic, not extension") {
    val bamFile = "/root/reference/data/sam/foo_has_header.bam"
    val viaFile = spark.read.format("alignments").load(bamFile)
      .select("read_id", "flags", "reference", "position").collect().toSeq
    val viaStdin = withStdin(fileBytes(bamFile)) {
      spark.read.format("alignments").load("-")
        .select("read_id", "flags", "reference", "position").collect().toSeq
    }
    assert(viaStdin == viaFile && viaFile.nonEmpty)
  }

  test("read_newick from stdin matches the file read") {
    val nwk = "/root/reference/data/newick/simple.nwk"
    val viaFile = graft.ops.NewickOps.readNewick(spark, nwk)
      .select("name", "is_tip").collect().toSeq
    val viaStdin = withStdin(fileBytes(nwk)) {
      graft.ops.NewickOps.readNewick(spark, "-")
        .select("name", "is_tip").collect().toSeq
    }
    assert(viaStdin == viaFile && viaFile.nonEmpty)
  }

  test("sources without reference stdin support reject it") {
    def rootMsg(t: Throwable): String =
      (Option(t.getMessage) ++ Option(t.getCause).map(rootMsg)).mkString(" | ")
    val e = intercept[Exception] {
      spark.read.format("sff").load("-").collect()
    }
    assert(rootMsg(e).contains("stdin"))
  }
}
