package graft.ops

import graft.SparkFixture
import graft.kernel.{BamCodec, BgzfWriter}
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import scala.jdk.CollectionConverters._

/** The COPY sinks' shared contract, checked from in-memory rows (no
  * fixtures) for FASTQ, FASTA, SAM, BAM, BIOM and WARC: a single-file
  * COPY writes the bytes of a one-partition sharded COPY; a sharded
  * COPY writes one file per non-empty partition and the files read
  * back through `sources/` give the input; an empty DataFrame gives an
  * empty, header-only or EOF-only file; COMPRESSION and
  * COMPRESSION_LEVEL are honored or rejected on the driver before any
  * job; BAM records carry htslib's `bin`; a COPY reads its input once,
  * in one SQL execution of its plan.
  */
class SinkRoundTripSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** One partition per `parts` entry; an empty entry is an empty partition. */
  private def df(schema: StructType, parts: Seq[Row]*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(parts, parts.length).flatMap(identity), schema)

  private def tmp(): String = Files.createTempDirectory("graft_sink_rt").toString
  private def bytes(p: String): Seq[Byte] = Files.readAllBytes(Paths.get(p)).toSeq
  private def listed(dir: String): Seq[String] = new File(dir).list().toSeq.sorted
  private def gunzip(b: Seq[Byte]): Seq[Byte] =
    new GZIPInputStream(new ByteArrayInputStream(b.toArray)).readAllBytes().toSeq
  private def isGzip(p: String): Boolean = {
    val b = bytes(p)
    b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b
  }
  private def text(p: String): Seq[String] = {
    val b = if (isGzip(p)) gunzip(bytes(p)) else bytes(p)
    new String(b.toArray, "UTF-8").split("\n", -1).toSeq.dropRight(1)
  }
  private def read(format: String, path: String, opts: (String, String)*): DataFrame =
    spark.read.format(format).options(opts.toMap).load(path)
  /** Column values with byte arrays compared by content. */
  private def values(d: DataFrame, cols: String*): Seq[Seq[Any]] =
    d.select(cols.map(col): _*).collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    })
  private def orient(p: String, o: String): String = p.replace("{ORIENTATION}", o)

  /** One format's COPY pair: `single(df, path)` and `sharded(df, template)`
    * write `file` (R1 and R2 when it holds {ORIENTATION}); `back(path)`
    * reads one written file (or pair) through `sources/`, and `expect`
    * gives the same values from the input rows.
    */
  private case class Sink(file: String, schema: StructType, rows: Seq[Row],
      single: (DataFrame, String) => Unit, sharded: (DataFrame, String) => Unit,
      back: String => Seq[Seq[Any]], expect: Seq[Row] => Seq[Seq[Any]]) {
    def outputs(path: String): Seq[String] =
      if (path.contains("{ORIENTATION}")) Seq("R1", "R2").map(orient(path, _)) else Seq(path)
  }

  /** Runs the contract for `s`; returns the single-file and the
    * 3-partition sharded output directories.
    */
  private def checkSink(s: Sink): (String, String) = {
    val (one, shard1, shard3) = (tmp(), tmp(), tmp())
    s.single(df(s.schema, s.rows), s"$one/${s.file}")
    s.sharded(df(s.schema, s.rows), s"$shard1/part-{SHARD}-${s.file}")
    assert(s.outputs(s"$one/${s.file}").map(bytes) ==
      s.outputs(s"$shard1/part-00000-${s.file}").map(bytes), s"${s.file}: single vs 1 shard")
    assert(listed(shard1) == s.outputs(s"part-00000-${s.file}"))
    assert(s.back(s"$one/${s.file}") == s.expect(s.rows), s"${s.file}: single read-back")
    val (a, b) = s.rows.splitAt(2)
    s.sharded(df(s.schema, a, Seq.empty, b), s"$shard3/part-{SHARD}-${s.file}")
    val written = Seq("00000", "00002").map(n => s"part-$n-${s.file}")
    assert(listed(shard3) == written.flatMap(s.outputs).sorted, s"${s.file}: shard files")
    assert(written.flatMap(f => s.back(s"$shard3/$f")) == s.expect(s.rows),
      s"${s.file}: sharded read-back")
    (one, shard3)
  }

  private def q(s: Int*): Seq[Short] = s.map(_.toShort)
  private def field(n: String, t: DataType) = StructField(n, t)
  private val fqSchema = StructType(Seq(
    field("read_id", StringType), field("comment", StringType),
    field("sequence1", StringType), field("qual1", ArrayType(ShortType)),
    field("sequence2", StringType), field("qual2", ArrayType(ShortType))))
  private val fqRows = Seq(
    Row("r1", "one", "ACGT", q(30, 31, 32, 33), "TTA", q(20, 21, 22)),
    Row("r2", null, "GG", q(10, 40), "C", q(2)),
    Row("r3", "three", "NACGT", q(2, 3, 4, 5, 6), "GGGG", q(7, 8, 9, 10)),
    Row("r4", null, "A", q(41), "AC", q(11, 12)))
  private def columns(cols: Int*)(rows: Seq[Row]): Seq[Row] =
    rows.map(r => Row(cols.map(r(_)): _*))
  private def schemaOf(cols: Int*): StructType = StructType(cols.map(fqSchema(_)))

  test("FASTQ single-end, interleaved and {ORIENTATION} split; FASTA single and split") {
    val seCols = Seq(0, 1, 2, 3)
    checkSink(Sink("se.fq", schemaOf(seCols: _*), columns(seCols: _*)(fqRows),
      Writers.copyFastq(_, _, includeComment = true),
      Writers.copyFastqSharded(_, _, includeComment = true),
      p => values(read("fastx", p), "read_id", "comment", "sequence1", "qual1"),
      _.map(_.toSeq)))
    checkSink(Sink("il.fq", fqSchema, fqRows :+ Row("r5", null, "TT", q(1, 2), null, null),
      Writers.copyFastq(_, _, interleave = true),
      Writers.copyFastqSharded(_, _, interleave = true),
      p => values(read("fastx", p), "read_id", "sequence1", "qual1"),
      _.flatMap(r => Seq(Seq(r(0), r(2), r(3))) ++
        (if (r(4) == null) Nil else Seq(Seq(r(0), r(4), r(5)))))))
    checkSink(Sink("pe_{ORIENTATION}.fq", fqSchema, fqRows,
      Writers.copyFastq(_, _), Writers.copyFastqSharded(_, _),
      p => values(read("fastx", orient(p, "R1"), "sequence2" -> orient(p, "R2")),
        "read_id", "sequence1", "qual1", "sequence2", "qual2"),
      _.map(r => Seq(r(0), r(2), r(3), r(4), r(5)))))
    checkSink(Sink("s.fa", schemaOf(0, 1, 2), columns(0, 1, 2)(fqRows),
      Writers.copyFasta(_, _, includeComment = true),
      Writers.copyFastaSharded(_, _, includeComment = true),
      p => values(read("fastx", p), "read_id", "comment", "sequence1"),
      _.map(_.toSeq)))
    checkSink(Sink("pe_{ORIENTATION}.fa", schemaOf(0, 2, 4), columns(0, 2, 4)(fqRows),
      Writers.copyFasta(_, _), Writers.copyFastaSharded(_, _),
      p => values(read("fastx", orient(p, "R1"), "sequence2" -> orient(p, "R2")),
        "read_id", "sequence1", "sequence2"),
      _.map(_.toSeq)))
  }

  private val samSchema = StructType(Seq(
    field("read_id", StringType), field("flags", IntegerType),
    field("reference", StringType), field("position", LongType),
    field("mapq", ShortType), field("cigar", StringType),
    field("mate_reference", StringType), field("mate_position", LongType),
    field("template_length", LongType), field("tag_as", LongType),
    field("tag_nm", LongType), field("tag_md", StringType)))
  private val samCols = samSchema.fieldNames.toSeq
  private def aln(id: String, flags: Int, ref: String, pos: Long, cigar: String,
      as: java.lang.Long = null, md: String = null): Row =
    Row(id, flags, ref, pos, 60.toShort, cigar, "*", 0L, 0L, as, 0L, md)
  private val samRows = Seq(
    aln("a1", 0, "chrA", 100L, "10M", as = 20L, md = "10"),
    aln("a2", 16, "chrB", 150L, "5M2I3M"),
    aln("a3", 4, "*", 0L, "*"),
    Row("a4", 99, "chrA", 300L, 30.toShort, "4M1D6M", "=", 420L, 130L, 7L, null, null),
    aln("a5", 0, "chrA", 16380L, "10M", as = 1L))
  private def refLens: Option[DataFrame] = {
    val s = spark
    import s.implicits._
    Some(Seq(("chrA", 5000L)).toDF("reference", "length"))
  }
  private val samHeader = Seq("@HD\tVN:1.6\tSO:unknown", "@SQ\tSN:chrA\tLN:5000",
    s"@SQ\tSN:chrB\tLN:${Int.MaxValue}")
  private def alignments(p: String) = values(read("alignments", p), samCols: _*)

  test("SAM with and without header: @SQ from referenceLengths plus 2147483647 for unknowns") {
    val (one, shards) = checkSink(Sink("h.sam", samSchema, samRows,
      Writers.copySam(_, _, referenceLengths = refLens),
      Writers.copySamSharded(_, _, referenceLengths = refLens),
      alignments, _.map(_.toSeq)))
    assert(text(s"$one/h.sam").takeWhile(_.startsWith("@")) == samHeader)
    for (f <- listed(shards)) // every shard carries the full header
      assert(text(s"$shards/$f").takeWhile(_.startsWith("@")) == samHeader, f)
    val (bare, _) = checkSink(Sink("n.sam", samSchema, samRows,
      Writers.copySam(_, _, includeHeader = false, referenceLengths = refLens),
      Writers.copySamSharded(_, _, includeHeader = false, referenceLengths = refLens),
      alignments, _.map(_.toSeq)))
    assert(text(s"$bare/n.sam").length == samRows.length &&
      !text(s"$bare/n.sam").exists(_.startsWith("@")))
  }

  /** Decoded BAM: header references and each record's name and bin. */
  private def decodeBam(p: String): (Seq[(String, Int)], Seq[(String, Int)]) = {
    val b = ByteBuffer.wrap(gunzip(bytes(p)).toArray).order(ByteOrder.LITTLE_ENDIAN)
    def str(n: Int): String = { val a = new Array[Byte](n); b.get(a); new String(a, "UTF-8") }
    assert(str(4) == "BAM\u0001")
    val textLength = b.getInt()
    b.position(b.position() + textLength)
    val refs = Seq.fill(b.getInt())((str(b.getInt()).dropRight(1), b.getInt()))
    val recs = Seq.newBuilder[(String, Int)]
    while (b.hasRemaining) {
      val end = b.getInt() + b.position()
      b.position(b.position() + 8)
      val nameLen = b.get() & 0xff
      b.get()
      val bin = b.getShort() & 0xffff
      b.position(b.position() + 20)
      recs += ((str(nameLen).dropRight(1), bin))
      b.position(end)
    }
    (refs, recs.result())
  }

  test("BAM: shards read back, header references, and the EOF block") {
    val (one, shards) = checkSink(Sink("x.bam", samSchema, samRows,
      Writers.copyBam(_, _, refLens), Writers.copyBamSharded(_, _, refLens),
      alignments, _.map(_.toSeq)))
    for (p <- s"$one/x.bam" +: listed(shards).map(f => s"$shards/$f")) {
      assert(decodeBam(p)._1 == Seq("chrA" -> 5000, "chrB" -> Int.MaxValue), p)
      assert(bytes(p).takeRight(28).take(4) == Seq(0x1f, 0x8b, 8, 4).map(_.toByte), p)
    }
  }

  test("BAM bin: htslib reg2bin over the reference span (4680 for unplaced unmapped)") {
    val p = s"${tmp()}/bin.bam"
    Writers.copyBam(df(samSchema, Seq(
      aln("unmapped", 4, "*", 0L, "*"),
      aln("at100", 0, "chrA", 100L, "10M"),
      aln("spans16k", 0, "chrA", 16380L, "10M"),
      aln("deletion", 0, "chrA", 16377L, "4M2D4M"),
      aln("insertion", 0, "chrA", 16377L, "4M2I4M"),
      aln("clipped", 0, "chrA", 16385L, "3S5M1N2M4H"),
      aln("far", 0, "chrA", 300000L, "8M"))), p)
    assert(decodeBam(p)._2 == Seq("unmapped" -> 4680, "at100" -> 4681, "spans16k" -> 585,
      "deletion" -> 585, "insertion" -> 4681, "clipped" -> 4682, "far" -> (4681 + 18)))
  }

  test("BAM rejects an unknown CIGAR operator, naming the read") {
    val e = intercept[IllegalArgumentException](Writers.copyBam(
      df(samSchema, Seq(aln("good", 0, "chrA", 5L, "4M"), aln("badop", 0, "chrA", 9L, "3M2Q"))),
      s"${tmp()}/bad.bam"))
    assert(e.getMessage.contains("badop") && e.getMessage.contains("Q"), e.getMessage)
  }

  test("BAM reader: a corrupt block_size is a BamException naming the record") {
    val p = s"${tmp()}/ok.bam"
    Writers.copyBam(df(samSchema, samRows), p, refLens)
    val raw = gunzip(bytes(p)).toArray
    val le = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    le.position(8 + le.getInt(4))
    for (_ <- 0 until le.getInt()) le.position(le.position() + 4 + le.getInt() + 4)
    val second = le.position() + 4 + le.getInt(le.position()) // record 2's block_size
    def reader(b: Array[Byte]) = {
      val gz = new ByteArrayOutputStream()
      val out = new GZIPOutputStream(gz)
      out.write(b); out.close()
      new BamCodec.Reader(new ByteArrayInputStream(gz.toByteArray), false)
    }
    def withSize(blockSize: Int) = {
      val b = raw.clone()
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).putInt(second, blockSize)
      b
    }
    assert(reader(raw).map(_.readId).toSeq == samRows.map(_.getString(0)))
    for ((size, message) <- Seq(
        7 -> "BAM record 2: block_size 7 is below the 32-byte minimum",
        -5 -> "BAM record 2: block_size -5 is below the 32-byte minimum",
        Int.MaxValue -> s"BAM record 2: block_size ${Int.MaxValue} but input ends after")) {
      val r = reader(withSize(size))
      assert(r.next().readId == "a1")
      val e = intercept[BamCodec.BamException](r.toList)
      assert(e.getMessage.startsWith(message), e.getMessage)
    }
    // input ends inside record 2's block_size
    val e = intercept[BamCodec.BamException](reader(raw.take(second + 2)).toList)
    assert(e.getMessage == "BAM record 2: input ends inside block_size", e.getMessage)
  }

  test("BAM reader: corrupt header sizes are BamExceptions naming the field") {
    // magic, l_text + "@CO", n_ref, then chrA (l_name 5) and chrB (l_name `lName2`)
    def header(lText: Int = 3, nRef: Int = 2, lName2: Int = 5): BamCodec.Reader = {
      val b = ByteBuffer.allocate(41).order(ByteOrder.LITTLE_ENDIAN)
      b.put("BAM\u0001".getBytes("UTF-8")).putInt(lText).put("@CO".getBytes("UTF-8"))
      b.putInt(nRef).putInt(5).put("chrA\u0000".getBytes("UTF-8")).putInt(5000)
      b.putInt(lName2).put("chrB\u0000".getBytes("UTF-8")).putInt(7)
      val out = new ByteArrayOutputStream()
      val bgzf = new BgzfWriter(out)
      bgzf.write(b.array())
      bgzf.close()
      new BamCodec.Reader(new ByteArrayInputStream(out.toByteArray), false)
    }
    assert(header().isEmpty)
    val ends = "BAM header: input ends inside the header"
    for ((bad, message) <- Seq[(() => BamCodec.Reader, String)](
        (() => header(lText = -1), "BAM header: l_text -1 is negative"),
        (() => header(lText = Int.MaxValue), ends),
        (() => header(nRef = -1), "BAM header: n_ref -1 is negative"),
        (() => header(nRef = Int.MaxValue), ends),
        (() => header(lName2 = -1), "BAM header: reference 2: l_name -1 is below 1"),
        (() => header(lName2 = 0), "BAM header: reference 2: l_name 0 is below 1"),
        (() => header(lName2 = Int.MaxValue),
          s"BAM header: reference 2: l_name ${Int.MaxValue} but input ends after 9 bytes"))) {
      val e = intercept[BamCodec.BamException](bad())
      assert(e.getMessage == message, e.getMessage)
    }
  }

  test("SAM/BAM: a NULL reference is an error naming the read, in every mode") {
    val rows = Seq(aln("ok", 0, "chrA", 5L, "4M"), aln("lost", 0, null, 9L, "4M"))
    val dir = tmp()
    def named(e: Throwable): Boolean = e match {
      case n: Writers.NullReferenceException => n.readId == "lost" && n.getMessage ==
        "SAM/BAM output forbids a NULL reference column (read_id lost); write '*' for an unplaced read"
      case null => false
      case other => named(other.getCause)
    }
    // with a header the @SQ job fails on the driver before any file opens
    for (write <- Seq[() => Unit](
        () => Writers.copySam(df(samSchema, rows), s"$dir/h.sam"),
        () => Writers.copySamSharded(df(samSchema, rows.take(1), rows.drop(1)),
          s"$dir/h-{SHARD}.sam"),
        () => Writers.copyBam(df(samSchema, rows), s"$dir/b.bam"),
        () => Writers.copyBamSharded(df(samSchema, rows), s"$dir/b-{SHARD}.bam")))
      assert(named(intercept[Writers.NullReferenceException](write())))
    assert(listed(dir).isEmpty)
    // without one the record encoder raises it, on the driver or in a task
    val e = intercept[Writers.NullReferenceException](
      Writers.copySam(df(samSchema, rows), s"$dir/n.sam", includeHeader = false))
    assert(named(e), e.getMessage)
    val t = intercept[Exception](Writers.copySamSharded(df(samSchema, rows.take(1), rows.drop(1)),
      s"$dir/n-{SHARD}.sam", includeHeader = false))
    assert(named(t), t)
  }

  test("SAM/BAM: a NULL cigar or mate_reference is written '*' by both formats") {
    // a mapped read with no CIGAR, an unpaired read with no RNEXT and
    // a read with no name (QNAME '*', which SAMv1 allows)
    val rows = Seq(Row("c", 0, "chrA", 5L, 60.toShort, null, "*", 0L, 0L, null, 0L, null),
      Row("m", 0, "chrA", 9L, 60.toShort, "4M", null, 0L, 0L, null, 0L, null),
      Row(null, 0, "chrA", 13L, 60.toShort, "4M", "*", 0L, 0L, null, 0L, null))
    val dir = tmp()
    Writers.copySam(df(samSchema, rows), s"$dir/x.sam", includeHeader = false)
    assert(text(s"$dir/x.sam") == Seq("c\t0\tchrA\t5\t60\t*\t*\t0\t0\t*\t*\tNM:i:0",
      "m\t0\tchrA\t9\t60\t4M\t*\t0\t0\t*\t*\tNM:i:0",
      "*\t0\tchrA\t13\t60\t4M\t*\t0\t0\t*\t*\tNM:i:0"))
    Writers.copyBam(df(samSchema, rows), s"$dir/x.bam")
    val expected = Seq(Seq("c", "*", "*"), Seq("m", "4M", "*"), Seq("*", "4M", "*"))
    for (p <- Seq(s"$dir/x.sam", s"$dir/x.bam"))
      assert(values(read("alignments", p), "read_id", "cigar", "mate_reference") == expected, p)
  }

  test("SAM/BAM: a NULL numeric mandatory column is an error naming the column and the read") {
    val ok = aln("ok", 0, "chrA", 5L, "4M")
    val dir = tmp()
    for ((column, i) <- Seq("flags" -> 1, "position" -> 3, "mapq" -> 4, "mate_position" -> 7,
        "template_length" -> 8)) {
      val rows = Seq(ok, Row.fromSeq(aln("r1", 0, "chrA", 9L, "4M").toSeq.updated(i, null)))
      def named(e: Throwable): Boolean = e match {
        case n: Writers.NullColumnException => n.column == column && n.readId == "r1" &&
          n.getMessage == s"SAM/BAM output forbids a NULL $column column (read_id r1)"
        case null => false
        case other => named(other.getCause)
      }
      for (write <- Seq[() => Unit](
          () => Writers.copySam(df(samSchema, rows), s"$dir/$column.sam"),
          () => Writers.copySamSharded(df(samSchema, rows.take(1), rows.drop(1)),
            s"$dir/$column-{SHARD}.sam"),
          () => Writers.copyBam(df(samSchema, rows), s"$dir/$column.bam"),
          () => Writers.copyBamSharded(df(samSchema, rows.take(1), rows.drop(1)),
            s"$dir/$column-{SHARD}.bam"))) {
        val e = intercept[Exception](write())
        assert(named(e), s"$column: $e")
      }
    }
  }

  private val warcSchema = StructType(Seq(
    field("target_uri", StringType), field("payload", BinaryType),
    field("warc_type", StringType), field("content_type", StringType),
    field("warc_date", StringType), field("record_id", StringType)))
  private val warcRows = Seq(
    Row("http://a/", "alpha".getBytes("UTF-8"), "resource", "text/plain",
      "2024-01-02T03:04:05Z", "<urn:uuid:1>"),
    Row("http://b/", "beta".getBytes("UTF-8"), null, null, null, null),
    Row("http://c/", Array.emptyByteArray, "metadata", "application/json", null, "<urn:uuid:3>"),
    Row("http://d/", null, null, "text/html", null, null))
  private def warcExpect(rows: Seq[Row]): Seq[Seq[Any]] = rows.map { r =>
    def or(i: Int, d: String): Any = if (r.isNullAt(i)) d else r(i)
    Seq(or(2, "resource"), r(0), or(4, "1970-01-01T00:00:00Z"), or(5, "<urn:graft:record>"),
      or(3, "application/octet-stream"),
      if (r.isNullAt(1)) Seq.empty[Byte] else r.getAs[Array[Byte]](1).toSeq)
  }

  test("WARC: gzip member per record for .gz, plain otherwise") {
    for (file <- Seq("w.warc.gz", "w.warc")) {
      val (one, _) = checkSink(Sink(file, warcSchema, warcRows,
        Writers.copyWarc, Writers.copyWarcSharded,
        p => values(read("warc", p), "warc_type", "target_uri", "warc_date", "record_id",
          "content_type", "payload"),
        warcExpect))
      assert(isGzip(s"$one/$file") == file.endsWith(".gz"), file)
    }
  }

  private val biomSchema = StructType(Seq(field("sample_id", StringType),
    field("feature_id", StringType), field("value", DoubleType)))
  private val biomRows = Seq(Row("s1", "f1", 1.0), Row("s1", "f2", 2.5), Row("s2", "f1", 4.0),
    Row("s1", "f1", 2.0), Row("s2", "f3", 1.5), Row("s2", "f3", -1.5), Row("s3", "f2", 0.0))
  private val biomCanonical = Set(("s1", "f1", 3.0), ("s1", "f2", 2.5), ("s2", "f1", 4.0))
  /** A `.biom` (HDF5) or `.biomq` (parquet) table as a set of COO triples. */
  private def biom(p: String): Set[(String, String, Double)] =
    BiomOps.readBiom(spark, p).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet

  test("BIOM: single .biom, .biomq and sample-sharded files hold the canonical table") {
    val dir = tmp()
    BiomOps.copyBiom(df(biomSchema, biomRows), s"$dir/t.biom")
    assert(biom(s"$dir/t.biom") == biomCanonical)
    BiomOps.copyBiom(df(biomSchema, biomRows), s"$dir/t.biomq")
    assert(biom(s"$dir/t.biomq") == biomCanonical)
    Writers.copyBiomSharded(df(biomSchema, biomRows), s"$dir/one-{SHARD}.biom", numShards = 1)
    assert(listed(dir).filter(_.startsWith("one-")) == Seq("one-00000.biom"))
    assert(biom(s"$dir/one-00000.biom") == biomCanonical)
    val (a, b) = biomRows.splitAt(3)
    Writers.copyBiomSharded(df(biomSchema, a, Seq.empty, b), s"$dir/three-{SHARD}.biom",
      numShards = 3)
    val nonEmpty = df(biomSchema, biomRows).filter(col("sample_id") =!= "s3")
      .repartition(3, col("sample_id")).select(spark_partition_id()).distinct()
      .collect().map(r => f"three-${r.getInt(0)}%05d.biom").sorted.toSeq
    val shards = listed(dir).filter(_.startsWith("three-"))
    assert(shards == nonEmpty)
    val perShard = shards.map(f => biom(s"$dir/$f"))
    assert(perShard.flatten.toSet == biomCanonical && perShard.map(_.size).sum == 3)
    for (Seq(x, y) <- perShard.combinations(2)) // no sample split across files
      assert((x.map(_._1) & y.map(_._1)).isEmpty)
  }

  test("BIOM NULLs are rejected in both modes") {
    val bad = Seq(
      Row("s1", "f1", null), // joins a group of non-NULL values
      Row("s4", "f9", null), Row("s4", "f9", null), // a group of NULLs only
      Row(null, "f1", 1.0), Row("s1", null, 2.0), Row(null, null, null))
    val rows = df(biomSchema, biomRows.take(4), bad, biomRows.drop(4))
    val dir = tmp()
    for (write <- Seq[() => Unit](
        () => BiomOps.copyBiom(rows, s"$dir/t.biom"),
        () => BiomOps.copyBiom(rows, s"$dir/t.biomq"),
        () => Writers.copyBiomSharded(rows, s"$dir/t-{SHARD}.biom", numShards = 2))) {
      val e = intercept[IllegalArgumentException](write())
      assert(e.getMessage == "BIOM output forbids NULLs (6 offending rows)", e.getMessage)
    }
    assert(listed(dir).isEmpty)
  }

  /** What one COPY did, from the listener bus: the input records its
    * tasks read, each job's SQL execution id and root execution id, and
    * how many SQL executions it started that have no parent.
    */
  private case class Observed(recordsRead: Long, jobExecutions: Seq[Option[String]],
      jobRoots: Set[Option[String]], rootExecutions: Int) {
    def jobs: Int = jobExecutions.length
  }

  private def observe(write: => Unit): Observed = {
    val sc = spark.sparkContext
    val group = s"sink-observe-${java.util.UUID.randomUUID()}"
    def prop(e: SparkListenerJobStart, key: String) = Option(e.properties.getProperty(key))
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val tasks = new ConcurrentLinkedQueue[(Int, Long)]()
    val executions = new ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (prop(e, "spark.jobGroup.id").contains(group)) jobs.add(e)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) tasks.add(e.stageId -> e.taskMetrics.inputMetrics.recordsRead)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.jobGroupId.contains(group) => executions.add(x)
        case _ =>
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "observe")
    try write
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    val js = jobs.asScala.toSeq
    val stages = js.flatMap(_.stageIds).toSet
    Observed(tasks.asScala.collect { case (stage, n) if stages(stage) => n }.sum,
      js.map(prop(_, SQLExecution.EXECUTION_ID_KEY)),
      js.map(prop(_, SQLExecution.EXECUTION_ROOT_ID_KEY)).toSet,
      executions.asScala.count(x => x.rootExecutionId.forall(_ == x.executionId)))
  }

  test("a COPY reads its input once: bind-time jobs and the write share one planned input") {
    val dir = tmp()
    val n = 240
    val rows = (0 until n).map(i => aln(f"r$i%03d", 0, s"chr${"ABC"(i % 3)}", 100L + i, "10M"))
    Writers.copyBam(df(samSchema, rows), s"$dir/in.bam")
    Writers.copySam(df(samSchema, rows), s"$dir/in.sam")
    def check(what: String, maxJobs: Int)(write: => Unit): Unit = {
      val o = observe(write)
      info(s"$what: ${o.jobs} jobs, ${o.recordsRead} records read")
      assert(o.recordsRead == n, s"$what read ${o.recordsRead} input records, not $n")
      assert(o.jobs <= maxJobs, s"$what ran ${o.jobs} jobs")
    }
    for (in <- Seq("in.bam", "in.sam")) {
      def input = read("alignments", s"$dir/$in").repartition(3)
      // the input's exchange, the @SQ set, then the write (one job per partition)
      check(s"copyBamSharded($in)", 3)(
        Writers.copyBamSharded(input, s"$dir/$in-out/part-{SHARD}.bam"))
      check(s"copySam($in)", 2 + 3)(Writers.copySam(input, s"$dir/$in-out.sam"))
      assert(alignments(s"$dir/$in-out.sam").sortBy(_.head.toString) == rows.map(_.toSeq))
    }
    def coo = read("alignments", s"$dir/in.bam")
      .groupBy(col("reference").as("sample_id"), (col("position") % 5).cast("string").as("feature_id"))
      .agg(count(lit(1)).cast("double").as("value"))
    val expected = coo.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    // the aggregation's exchange, the NULL check, then the write; sharding adds an exchange
    check("copyBiom(.biom)", 2 + 4)(BiomOps.copyBiom(coo, s"$dir/t.biom"))
    check("copyBiom(.biomq)", 3)(BiomOps.copyBiom(coo, s"$dir/t.biomq"))
    check("copyBiomSharded", 4)(Writers.copyBiomSharded(coo, s"$dir/t-{SHARD}.biom", 2))
    assert(biom(s"$dir/t.biom") == expected && biom(s"$dir/t.biomq") == expected)
    assert(listed(dir).filter(_.startsWith("t-")).flatMap(f => biom(s"$dir/$f")).toSet == expected)
  }

  test("every COPY runs its jobs in one SQL execution of its input's plan") {
    val dir = tmp()
    def fq = df(schemaOf(0, 1, 2, 3), columns(0, 1, 2, 3)(fqRows))
    def sam = df(samSchema, samRows)
    def warc = df(warcSchema, warcRows)
    def coo = df(biomSchema, biomRows).groupBy("sample_id", "feature_id").agg(sum("value").as("value"))
    for ((what, write) <- Seq[(String, () => Unit)](
        "fastq" -> (() => Writers.copyFastq(fq, s"$dir/x.fq")),
        "fasta sharded" -> (() => Writers.copyFastaSharded(fq, s"$dir/{SHARD}.fa")),
        "sam" -> (() => Writers.copySam(sam, s"$dir/x.sam", referenceLengths = refLens)),
        "sam sharded" -> (() => Writers.copySamSharded(sam, s"$dir/{SHARD}.sam")),
        "bam" -> (() => Writers.copyBam(sam, s"$dir/x.bam", refLens)),
        "bam sharded" -> (() => Writers.copyBamSharded(sam, s"$dir/{SHARD}.bam")),
        "warc" -> (() => Writers.copyWarc(warc, s"$dir/x.warc")),
        "warc sharded" -> (() => Writers.copyWarcSharded(warc, s"$dir/{SHARD}.warc")),
        "biom" -> (() => BiomOps.copyBiom(coo, s"$dir/x.biom")),
        "biomq" -> (() => BiomOps.copyBiom(coo, s"$dir/x.biomq")),
        "biom sharded" -> (() => Writers.copyBiomSharded(coo, s"$dir/{SHARD}.biom", 2)))) {
      val o = observe(write())
      assert(o.jobs > 0 && o.jobExecutions.forall(_.isDefined),
        s"$what ran a job outside any SQL execution: ${o.jobExecutions}")
      assert(o.jobRoots.size == 1 && o.rootExecutions == 1,
        s"$what: ${o.rootExecutions} SQL executions, job roots ${o.jobRoots}")
    }
  }

  test("empty DataFrame: empty, header-only or EOF-only file; no shard files") {
    val dir = tmp()
    val fq = df(schemaOf(0, 1, 2, 3), Seq.empty)
    Writers.copyFastq(fq, s"$dir/e.fq")
    Writers.copyFastq(fq, s"$dir/e.fq.gz")
    Writers.copyFasta(df(schemaOf(0, 2), Seq.empty), s"$dir/e.fa")
    val sam = df(samSchema, Seq.empty)
    Writers.copySam(sam, s"$dir/e.sam", referenceLengths = refLens)
    Writers.copySam(sam, s"$dir/n.sam", includeHeader = false)
    Writers.copyBam(sam, s"$dir/e.bam", refLens)
    Writers.copyWarc(df(warcSchema, Seq.empty), s"$dir/e.warc.gz")
    BiomOps.copyBiom(df(biomSchema, Seq.empty), s"$dir/e.biom")
    for (f <- Seq("e.fq", "e.fa", "n.sam", "e.warc.gz")) assert(bytes(s"$dir/$f").isEmpty, f)
    assert(isGzip(s"$dir/e.fq.gz") && gunzip(bytes(s"$dir/e.fq.gz")).isEmpty)
    assert(text(s"$dir/e.sam") == samHeader.take(2))
    assert(decodeBam(s"$dir/e.bam") == (Seq("chrA" -> 5000), Nil))
    assert(read("alignments", s"$dir/e.bam").count() == 0)
    assert(read("biom", s"$dir/e.biom").count() == 0)

    val shards = tmp()
    Writers.copyFastqSharded(fq, s"$shards/{SHARD}.fq")
    Writers.copyFastaSharded(df(schemaOf(0, 2), Seq.empty), s"$shards/{SHARD}.fa")
    Writers.copySamSharded(sam, s"$shards/{SHARD}.sam", referenceLengths = refLens)
    Writers.copyBamSharded(sam, s"$shards/{SHARD}.bam", refLens)
    Writers.copyWarcSharded(df(warcSchema, Seq.empty), s"$shards/{SHARD}.warc")
    Writers.copyBiomSharded(df(biomSchema, Seq.empty), s"$shards/{SHARD}.biom", 2)
    assert(listed(shards).isEmpty)
  }

  test("COMPRESSION gzip/gz/none and the .gz extension, in both modes") {
    val fq = df(schemaOf(0, 1, 2, 3), columns(0, 1, 2, 3)(fqRows))
    val fa = df(schemaOf(0, 2), columns(0, 2)(fqRows))
    val sam = df(samSchema, samRows)
    val cases = Seq(("plain", "", None, false), ("ext", ".gz", None, true),
      ("gzip", "", Some("gzip"), true), ("gz", "", Some("gz"), true),
      ("upper", "", Some("GZIP"), true), ("none", ".gz", Some("none"), false),
      ("unc", ".gz", Some("uncompressed"), false))
    for ((name, suffix, c, gz) <- cases) {
      val (one, shard) = (tmp(), tmp())
      def file(ext: String) = s"$name.$ext$suffix"
      Writers.copyFastq(fq, s"$one/${file("fq")}", compression = c)
      Writers.copyFastqSharded(fq, s"$shard/{SHARD}-${file("fq")}", compression = c)
      Writers.copyFasta(fa, s"$one/${file("fa")}", compression = c)
      Writers.copyFastaSharded(fa, s"$shard/{SHARD}-${file("fa")}", compression = c)
      Writers.copySam(sam, s"$one/${file("sam")}", compression = c)
      Writers.copySamSharded(sam, s"$shard/{SHARD}-${file("sam")}", compression = c)
      for (ext <- Seq("fq", "fa", "sam")) {
        val (p, s) = (s"$one/${file(ext)}", s"$shard/00000-${file(ext)}")
        assert(isGzip(p) == gz && isGzip(s) == gz, s"${file(ext)} $c")
        assert(bytes(p) == bytes(s), s"${file(ext)} $c")
      }
      assert(read("fastx", s"$one/${file("fq")}").count() == fqRows.length)
      assert(alignments(s"$one/${file("sam")}") == samRows.map(_.toSeq))
    }
  }

  test("COMPRESSION_LEVEL -2 and 10 are rejected in both modes") {
    val sam = df(samSchema, samRows)
    val dir = tmp()
    for (bad <- Seq(-2, 10); write <- Seq[() => Unit](
        () => Writers.copyBam(sam, s"$dir/x.bam", compressionLevel = bad),
        () => Writers.copyBamSharded(sam, s"$dir/x-{SHARD}.bam", compressionLevel = bad))) {
      val e = intercept[IllegalArgumentException](write())
      assert(e.getMessage.contains("COMPRESSION_LEVEL must be between 0 and 9"))
    }
    assert(listed(dir).isEmpty)
  }

  /** Runs `write`, which must throw IllegalArgumentException without
    * starting a Spark job.
    */
  private def rejectedBeforeAnyJob(what: String)(write: => Unit): IllegalArgumentException = {
    val sc = spark.sparkContext
    val group = s"sink-bind-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, what)
    try {
      val e = intercept[IllegalArgumentException](write)
      assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty, s"$what started a job")
      e
    } finally sc.clearJobGroup()
  }

  test("an unknown COMPRESSION is rejected on the driver before any job, in both modes") {
    val fq = columns(0, 1, 2, 3)(fqRows)
    for (rows <- Seq(Seq.empty[Row], fq)) {
      val dir = tmp()
      val d = df(schemaOf(0, 1, 2, 3), rows)
      val sam = df(samSchema, if (rows.isEmpty) Nil else samRows)
      for ((what, write) <- Seq[(String, () => Unit)](
          "fastq" -> (() => Writers.copyFastq(d, s"$dir/x.fq", compression = Some("zstd"))),
          "fastq sharded" -> (() =>
            Writers.copyFastqSharded(d, s"$dir/x-{SHARD}.fq", compression = Some("zstd"))),
          "fasta sharded" -> (() =>
            Writers.copyFastaSharded(d, s"$dir/x-{SHARD}.fa", compression = Some("zstd"))),
          "sam" -> (() => Writers.copySam(sam, s"$dir/x.sam", compression = Some("zstd"))),
          "sam sharded" -> (() =>
            Writers.copySamSharded(sam, s"$dir/x-{SHARD}.sam", compression = Some("zstd"))))) {
        val e = rejectedBeforeAnyJob(what)(write())
        assert(e.getMessage.contains("Unknown compression type: zstd"), what)
      }
      assert(listed(dir).isEmpty, listed(dir))
    }
    val dir = tmp()
    val coo = df(biomSchema, biomRows)
    for ((what, write) <- Seq[(String, () => Unit)](
        "biom" -> (() => BiomOps.copyBiom(coo, s"$dir/t.biom", compression = "zstd")),
        "biomq" -> (() => BiomOps.copyBiom(coo, s"$dir/t.biomq", compression = "zstd")),
        "biom sharded" -> (() =>
          Writers.copyBiomSharded(coo, s"$dir/t-{SHARD}.biom", 2, compression = "zstd")))) {
      val e = rejectedBeforeAnyJob(what)(write())
      assert(e.getMessage.contains("compression must be 'gzip', 'gz', or 'none'"), what)
    }
    assert(listed(dir).isEmpty, listed(dir))
  }
}
