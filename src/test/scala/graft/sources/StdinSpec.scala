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
  private lazy val dir = Files.createTempDirectory("graft_stdin")

  /** The two records the reference pins for data/fastq/small_a.fq:
    * 4 bases each, Phred 40 and 39. */
  private val fastq = "@read_a1\nACGT\n+\nIIII\n@read_a2\nTGCA\n+\nHHHH\n".getBytes("US-ASCII")
  private val sam = ("@HD\tVN:1.6\tSO:unsorted\n@SQ\tSN:chrA\tLN:1000\n@SQ\tSN:chrB\tLN:500\n" +
    "q1\t0\tchrA\t2\t60\t10M\t*\t0\t0\tACGTACGTAC\tIIIIIIIIII\n" +
    "q2\t16\tchrA\t50\t30\t4M1I5M\t*\t0\t0\tACGTACGTAC\tIIIIIIIIII\n" +
    "q3\t99\tchrB\t20\t1\t8M\t=\t120\t108\tACGTACGT\tIIIIIIII\n" +
    "q3\t147\tchrB\t120\t1\t8M\t=\t20\t-108\tACGTACGT\tIIIIIIII\n" +
    "q4\t4\t*\t0\t0\t*\t*\t0\t0\tACGT\tIIII\n").getBytes("US-ASCII")

  /** Writes `bytes` to `name` in the spec's temp directory. */
  private def written(name: String, bytes: Array[Byte]): String =
    Files.write(dir.resolve(name), bytes).toString

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
      val rows = withStdin(fastq) {
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
      val fp = withStdin(fastq) {
        spark.read.format("fastx").option("include_filepath", "true")
          .load(token).select("filepath").head().getString(0)
      }
      assert(fp == "/dev/stdin", token)
    }
  }

  test("gzipped bytes on stdin are decoded (magic sniff)") {
    val gz = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.GZIPOutputStream(gz)
    z.write(fastq); z.close()
    val fqGz = written("small_a.fq.gz", gz.toByteArray)
    val viaStdin = withStdin(fileBytes(fqGz)) {
      spark.read.format("fastx").load("-")
        .orderBy("sequence_index").collect().map(_.getString(1)).toSeq
    }
    val viaFile = spark.read.format("fastx").load(fqGz)
      .orderBy("sequence_index").collect().map(_.getString(1)).toSeq
    assert(viaStdin == viaFile && viaStdin.nonEmpty)
  }

  test("stdin in a multi-file list is rejected") {
    def rootMsg(t: Throwable): String =
      (Option(t.getMessage) ++ Option(t.getCause).map(rootMsg)).mkString(" | ")
    val file = written("small_a.fq", fastq)
    val e = intercept[Exception] {
      spark.read.format("fastx").load("/dev/stdin", file).collect()
    }
    assert(rootMsg(e).contains("stdin"))
  }

  test("stdin with sequence2 is rejected") {
    def rootMsg(t: Throwable): String =
      (Option(t.getMessage) ++ Option(t.getCause).map(rootMsg)).mkString(" | ")
    val mate = written("small_a_r2.fq", fastq)
    val e = intercept[Exception] {
      spark.read.format("fastx")
        .option("sequence2", mate).load("-").collect()
    }
    assert(rootMsg(e).contains("stdin cannot be used with sequence2"))
  }

  test("alignments from stdin match the file read") {
    val samFile = written("aln.sam", sam)
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
    val bamFile = dir.resolve("aln.bam").toString
    graft.ops.Writers.copyBam(
      spark.read.format("alignments").load(written("aln.sam", sam)), bamFile)
    val viaFile = spark.read.format("alignments").load(bamFile)
      .select("read_id", "flags", "reference", "position").collect().toSeq
    val viaStdin = withStdin(fileBytes(bamFile)) {
      spark.read.format("alignments").load("-")
        .select("read_id", "flags", "reference", "position").collect().toSeq
    }
    assert(viaStdin == viaFile && viaFile.nonEmpty)
  }

  test("read_newick from stdin matches the file read") {
    val nwk = written("simple.nwk", "((A:0.1,B:0.2)AB:0.3,C:0.4)root;\n".getBytes("US-ASCII"))
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
