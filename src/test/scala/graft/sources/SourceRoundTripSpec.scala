package graft.sources

import graft.SparkFixture
import graft.ops.{BiomOps, Writers}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.catalog.{TableCapability, TableProvider}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every file source read back from files the repo's own writers
  * produce (FASTQ single/paired, FASTA, SAM, BAM, BIOM, WARC), so the
  * batch readers are exercised without external fixtures: schemas per
  * option, each column projected alone, per-file sequence_index,
  * `filepath`, the `sam` alias, alignment filter pushdown, and the
  * META-INF/services registry.
  */
class SourceRoundTripSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private lazy val dir = Files.createTempDirectory("graft_source_rt").toString

  private def df(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private val fastqSchema = StructType(Seq(
    StructField("read_id", StringType), StructField("comment", StringType),
    StructField("sequence1", StringType), StructField("qual1", ArrayType(ShortType))))
  private def q(s: Int*): Seq[Short] = s.map(_.toShort)

  private lazy val fastqA = {
    val p = s"$dir/a.fq"
    Writers.copyFastq(df(fastqSchema,
      Row("a1", "first", "ACGT", q(30, 31, 32, 33)),
      Row("a2", null, "GGCCA", q(10, 20, 30, 40, 41)),
      Row("a3", "third", "T", q(2))), p, includeComment = true)
    p
  }
  private lazy val fastqB = {
    val p = s"$dir/b.fq"
    Writers.copyFastq(df(fastqSchema,
      Row("b1", null, "AAAA", q(40, 40, 40, 40)),
      Row("b2", null, "CC", q(5, 6))), p)
    p
  }
  private lazy val paired = {
    val schema = StructType(fastqSchema.fields ++ Seq(
      StructField("sequence2", StringType), StructField("qual2", ArrayType(ShortType))))
    Writers.copyFastq(df(schema,
      Row("p1", null, "ACGTA", q(30, 30, 30, 30, 30), "TTTT", q(20, 21, 22, 23)),
      Row("p2", null, "GG", q(11, 12), "CCC", q(1, 2, 3))),
      s"$dir/p_{ORIENTATION}.fq")
    (s"$dir/p_R1.fq", s"$dir/p_R2.fq")
  }
  private lazy val fasta = {
    val p = s"$dir/s.fa"
    Writers.copyFasta(df(StructType(fastqSchema.fields.take(3)),
      Row("f1", "desc", "ACGTACGT"), Row("f2", null, "NNAC")), p, includeComment = true)
    p
  }

  private val samSchema = StructType(Seq(
    StructField("read_id", StringType), StructField("flags", IntegerType),
    StructField("reference", StringType), StructField("position", LongType),
    StructField("mapq", ShortType), StructField("cigar", StringType),
    StructField("mate_reference", StringType), StructField("mate_position", LongType),
    StructField("template_length", LongType), StructField("tag_as", LongType),
    StructField("tag_nm", LongType), StructField("tag_md", StringType)))
  private def samRows = Seq(
    Row("r1", 0, "chrA", 100L, 60.toShort, "10M", "*", 0L, 0L, 20L, 1L, "5A4"),
    Row("r2", 16, "chrA", 150L, 30.toShort, "5M2I3M", "*", 0L, 0L, 12L, null, null),
    Row("r3", 0, "chrB", 20L, 10.toShort, "8M", "*", 0L, 0L, null, 0L, "8"),
    Row("r4", 4, "*", 0L, 0.toShort, "*", "*", 0L, 0L, null, null, null),
    Row("r5", 99, "chrA", 300L, 60.toShort, "4M1D6M", "=", 420L, 130L, 7L, 2L, null))
  private lazy val sam = {
    val p = s"$dir/x.sam"
    Writers.copySam(df(samSchema, samRows: _*), p)
    p
  }
  private lazy val bam = {
    val p = s"$dir/x.bam"
    Writers.copyBam(df(samSchema, samRows: _*), p)
    p
  }
  /** copySam writes SEQ/QUAL as `*`; these records carry them. */
  private lazy val samWithSeq = {
    val p = s"$dir/seq.sam"
    Files.write(Paths.get(p), ("@HD\tVN:1.6\n" +
      "s1\t0\tchrA\t5\t60\t4M\t*\t0\t0\tACGT\tII#+\tNM:i:0\n" +
      "s2\t4\t*\t0\t0\t*\t*\t0\t0\tGGC\t*\n").getBytes("UTF-8"))
    p
  }
  private lazy val biom = {
    val p = s"$dir/t.biom"
    BiomOps.copyBiom(df(StructType(Seq(StructField("sample_id", StringType),
      StructField("feature_id", StringType), StructField("value", DoubleType))),
      Row("s1", "f1", 1.0), Row("s1", "f2", 2.5), Row("s2", "f1", 4.0)), p)
    p
  }
  private lazy val warc = {
    val p = s"$dir/w.warc.gz"
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>hi</p>"
    Writers.copyWarc(df(StructType(Seq(StructField("target_uri", StringType),
      StructField("payload", BinaryType), StructField("content_type", StringType),
      StructField("warc_type", StringType))),
      Row("http://a/", http.getBytes("UTF-8"), "application/http; msgtype=response", "response"),
      Row("http://b/", "plain".getBytes("UTF-8"), "text/plain", "resource")), p)
    p
  }

  private def read(format: String, path: String, opts: (String, String)*): DataFrame =
    spark.read.format(format).options(opts.toMap).load(path)

  /** Row values with byte arrays compared by content. */
  private def values(r: Row): Seq[Any] = r.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case v => v
  }

  /** Every column read alone equals that column of the full read. */
  private def assertProjections(full: DataFrame): Unit = {
    val all = full.collect().map(values)
    assert(all.nonEmpty)
    full.columns.zipWithIndex.foreach { case (c, i) =>
      val alone = full.select(c).collect().map(values(_).head)
      assert(alone.toSeq == all.map(_(i)).toSeq, s"column $c read alone")
    }
  }

  private val Providers = Map(
    "fastx" -> "graft.sources.FastxDataSource",
    "alignments" -> "graft.sources.SamDataSource",
    "sam" -> "graft.sources.SamAliasDataSource",
    "sam_sequences" -> "graft.sources.SamSequencesDataSource",
    "sff" -> "graft.sources.SffDataSource",
    "biom" -> "graft.sources.BiomDataSource",
    "warc" -> "graft.sources.WarcDataSource")

  test("META-INF/services registers exactly the seven file sources") {
    val registered = getClass.getClassLoader
      .getResources("META-INF/services/" + classOf[DataSourceRegister].getName).asScala
      .flatMap(u => scala.io.Source.fromURL(u).getLines().map(_.trim))
      .filter(_.startsWith("graft.")).toSeq
    val byName = registered.map { cls =>
      Class.forName(cls).getDeclaredConstructor().newInstance()
        .asInstanceOf[DataSourceRegister].shortName() -> cls
    }
    assert(byName.toMap == Providers && byName.length == 7)
  }

  test("schemas per option and micro-batch capability per format") {
    val seqRead = Seq("sequence_index", "read_id", "comment", "sequence1", "sequence2",
      "qual1", "qual2")
    val samCols = Seq("read_id", "flags", "reference", "position", "stop_position", "mapq",
      "cigar", "mate_reference", "mate_position", "template_length", "tag_as", "tag_xs",
      "tag_ys", "tag_xn", "tag_xm", "tag_xo", "tag_xg", "tag_nm", "tag_yt", "tag_md", "tag_sa")
    val base = Map(
      "fastx" -> seqRead, "alignments" -> samCols, "sam" -> samCols,
      "sam_sequences" -> seqRead, "sff" -> seqRead,
      "biom" -> Seq("sample_id", "feature_id", "value"),
      "warc" -> Seq("record_index", "warc_type", "target_uri", "warc_date", "record_id",
        "content_type", "content_length", "http_status", "http_content_type", "payload"))
    for ((name, cls) <- Providers) {
      val p = Class.forName(cls).getDeclaredConstructor().newInstance().asInstanceOf[TableProvider]
      def cols(opts: (String, String)*): Seq[String] =
        p.inferSchema(new CaseInsensitiveStringMap(opts.toMap.asJava)).fieldNames.toSeq
      assert(cols() == base(name), name)
      assert(cols("include_filepath" -> "true") == base(name) :+ "filepath", name)
      val props = Map("path" -> "unused").asJava
      val caps = p.getTable(p.inferSchema(new CaseInsensitiveStringMap(props)),
        Array.empty, props).capabilities().asScala
      assert(caps == Set(TableCapability.BATCH_READ), name)
    }
    assert(read("alignments", sam, "include_seq_qual" -> "true").columns.toSeq ==
      samCols ++ Seq("sequence", "qual"))
    assert(read("alignments", sam, "include_seq_qual" -> "true",
      "include_filepath" -> "true").columns.last == "filepath")
  }

  test("fastx: single-end FASTQ values, sequence_index restarting per file, filepath") {
    val rows = read("fastx", s"$fastqA,$fastqB", "include_filepath" -> "true").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a1"), (2L, "a2"), (3L, "a3"), (1L, "b1"), (2L, "b2")))
    val a1 = rows(0)
    assert(a1.getString(2) == "first" && a1.getString(3) == "ACGT")
    assert(a1.getSeq[Short](5) == q(30, 31, 32, 33))
    assert(rows(1).isNullAt(2) && rows.forall(r => r.isNullAt(4) && r.isNullAt(6)))
    assert(rows.map(_.getString(7).stripPrefix("file:")).toSeq ==
      Seq(fastqA, fastqA, fastqA, fastqB, fastqB))
    assertProjections(read("fastx", s"$fastqA,$fastqB", "include_filepath" -> "true"))
  }

  test("fastx: paired FASTQ via sequence2, and FASTA with NULL quals") {
    val (r1, r2) = paired
    val full = read("fastx", r1, "sequence2" -> r2, "include_filepath" -> "true")
    val rows = full.collect()
    assert(rows.map(r => (r.getString(1), r.getString(3), r.getString(4))).toSeq ==
      Seq(("p1", "ACGTA", "TTTT"), ("p2", "GG", "CCC")))
    assert(rows(1).getSeq[Short](5) == q(11, 12) && rows(1).getSeq[Short](6) == q(1, 2, 3))
    assert(rows.forall(_.getString(7).stripPrefix("file:") == r1))
    assertProjections(full)
    val fa = read("fastx", fasta).collect()
    assert(fa.map(r => (r.getString(1), r.getString(2), r.getString(3))).toSeq ==
      Seq(("f1", "desc", "ACGTACGT"), ("f2", null, "NNAC")))
    assert(fa.forall(r => r.isNullAt(5) && r.isNullAt(6)))
  }

  test("alignments: SAM and BAM read the written records; sam is an alias") {
    val fromSam = read("alignments", sam).collect()
    assert(fromSam.map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSeq == samRows.map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))))
    assert(fromSam(0).getLong(4) == 110L && fromSam(0).getLong(10) == 20L &&
      fromSam(0).getString(19) == "5A4")
    assert(fromSam(1).isNullAt(17) && fromSam(2).isNullAt(10))
    assert(read("alignments", bam).collect().map(values).toSeq == fromSam.map(values).toSeq)
    assert(read("sam", sam).collect().map(values).toSeq == fromSam.map(values).toSeq)
    assertProjections(read("alignments", sam, "include_filepath" -> "true"))
    assertProjections(read("alignments", bam, "include_filepath" -> "true"))
  }

  test("alignments: pushed filters reach the scan and match post-filtering") {
    for (path <- Seq(sam, bam)) {
      val all = read("alignments", path).collect()
      val filtered = read("alignments", path)
        .filter(col("reference") === "chrA" && col("position") >= 120L && col("flags") =!= 16)
      val scans = filtered.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
      val desc = scans.map(_.description()).mkString
      assert(desc.startsWith("alignments PushedFilters: [") && !desc.contains("[]") &&
        Seq("reference", "position", "flags").forall(desc.contains), desc)
      val expected = all.filter(r =>
        r.getString(2) == "chrA" && r.getLong(3) >= 120L && r.getInt(1) != 16)
      assert(filtered.collect().map(values).toSeq == expected.map(values).toSeq)
      assert(expected.map(_.getString(0)).toSeq == Seq("r5"))
      val in = read("alignments", path).filter(col("read_id").isin("r1", "r3") ||
        col("cigar").startsWith("5M"))
      assert(in.collect().map(_.getString(0)).toSeq == Seq("r1", "r2", "r3"))
    }
  }

  test("alignments: a malformed CIGAR fails the read with an error naming it") {
    def samWith(name: String, cigar: String): String = {
      val p = s"$dir/cigar_$name.sam"
      Files.write(Paths.get(p), ("@HD\tVN:1.6\n" +
        s"c1\t0\tchrA\t5\t60\t$cigar\t*\t0\t0\t*\t*\n").getBytes("UTF-8"))
      p
    }
    for ((name, cigar) <- Seq("nolen" -> "M10M", "trailing" -> "10M5",
        "overflow" -> "99999999999999999999M", "sum" -> "922337203685477580M" * 11)) {
      val e = intercept[Exception](read("alignments", samWith(name, cigar)).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toList
      assert(msgs.exists(_.contains(s"Invalid CIGAR '$cigar'")), s"$cigar: $msgs")
    }
    // a zero-length operation is legal and consumes no reference
    def stop(name: String, cigar: String) =
      read("alignments", samWith(name, cigar)).select("stop_position").head().getLong(0)
    assert(stop("zero", "0M4M") == stop("plain", "4M"))
  }

  test("sam_sequences, biom and warc read back what was written") {
    val seqs = read("sam_sequences", sam, "include_filepath" -> "true")
    val s = seqs.collect()
    assert(s.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      samRows.zipWithIndex.map { case (r, i) => (i + 1L, r.getString(0)) })
    assert(s.forall(r => r.isNullAt(3) && r.isNullAt(5))) // copySam writes SEQ/QUAL as *
    assert(s.forall(_.getString(7).stripPrefix("file:") == sam))
    assertProjections(seqs)
    val withSeq = read("sam_sequences", samWithSeq).collect()
    assert(withSeq.map(r => (r.getString(3), Option(r.getSeq[Short](5)))).toSeq ==
      Seq(("ACGT", Some(q(40, 40, 2, 10))), ("GGC", None)))

    val aln = read("alignments", samWithSeq, "include_seq_qual" -> "true")
    val a = aln.collect()
    assert(a.map(_.getString(21)).toSeq == Seq("ACGT", "GGC"))
    assert(a(0).getSeq[Short](22) == q(40, 40, 2, 10))
    assertProjections(aln)

    val b = read("biom", biom, "include_filepath" -> "true")
    assert(b.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet ==
      Set(("s1", "f1", 1.0), ("s1", "f2", 2.5), ("s2", "f1", 4.0)))
    assertProjections(b)

    val w = read("warc", warc, "include_filepath" -> "true")
    val rows = w.collect()
    assert(rows.map(_.getString(2)).toSeq == Seq("http://a/", "http://b/"))
    assert(rows(0).getInt(7) == 200 && rows(0).getString(8) == "text/html")
    assert(new String(rows(0).getAs[Array[Byte]](9), "UTF-8") == "<p>hi</p>")
    assert(rows(1).isNullAt(7) && rows(1).isNullAt(8))
    assert(new String(rows(1).getAs[Array[Byte]](9), "UTF-8") == "plain")
    assert(rows(1).getLong(6) == 5L && rows(1).getString(1) == "resource")
    assertProjections(w)
  }
}
