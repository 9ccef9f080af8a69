package graftbench

import java.io.{ByteArrayInputStream, File, OutputStream}
import java.nio.file.Files

import graft.functions.{AlignmentFlags, AlignmentFunctions}
import graft.kernel.{BamCodec, BgzfWriter, Cigar, FastxCodec, Rype, SeedAligner, TextKernel}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-layer measurements for the traced run: noop-sink scans through
  * the data sources, the flag/CIGAR expression layer over a cached
  * frame, and single-thread kernel calls on fixed in-memory samples.
  * Every figure is the median of a few repetitions.
  */
object Layers {
  import MiintFileQueries.tsv

  def measure(spark: SparkSession, miintDir: String, corpusDir: String): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    def files(ext: String) = new File(miintDir).listFiles().map(_.toString).filter(_.endsWith(ext)).sorted.toSeq
    val bams = files(".bam")
    val fastqs = files(".fq.gz")
    val nAlignments = tsv(s"$miintDir/truth_bam.tsv").map(_("n_records").toLong).sum
    val nReads = tsv(s"$miintDir/truth_fastq.tsv").map(_("n_reads").toLong).sum

    val alnScan = median(3)(seconds(
      spark.read.format("alignments").load(bams: _*).write.format("noop").mode("overwrite").save()))
    m("sources.alignments.scan_s") = alnScan
    m("sources.alignments.recs_per_s") = nAlignments / alnScan
    val fqScan = median(3)(seconds(
      spark.read.format("fastx").load(fastqs: _*).write.format("noop").mode("overwrite").save()))
    m("sources.fastx.scan_s") = fqScan
    m("sources.fastx.recs_per_s") = nReads / fqScan

    val frame = spark.read.format("alignments").load(bams: _*).cache()
    frame.count()
    val flags = col("flags")
    m("functions.cigar_exprs_s") = median(3)(seconds(frame.select(
      AlignmentFlags.alignmentIsPrimary(flags), AlignmentFlags.alignmentIsUnmapped(flags),
      AlignmentFlags.alignmentIsReverse(flags), AlignmentFlags.alignmentIsSecondary(flags),
      AlignmentFunctions.alignmentSeqIdentity(col("cigar"), col("tag_nm"), col("tag_md")),
      AlignmentFunctions.alignmentQueryCoverage(col("cigar")),
      AlignmentFunctions.alignmentQueryLength(col("cigar")))
      .write.format("noop").mode("overwrite").save()))
    frame.unpersist(blocking = true)

    val bam = Files.readAllBytes(new File(bams.head).toPath)
    m("kernel.bam_decode_ns_per_rec") = nsPerUnit {
      var n = 0L
      new BamCodec.Reader(new ByteArrayInputStream(bam), false).foreach(_ => n += 1)
      n
    }
    val fq = Files.readAllBytes(new File(fastqs.head).toPath)
    m("kernel.fastx_parse_ns_per_rec") = nsPerUnit {
      var n = 0L
      new FastxCodec.RecordIterator(FastxCodec.open(fastqs.head, new ByteArrayInputStream(fq)), 33)
        .foreach(_ => n += 1)
      n
    }
    val samText = Files.readAllBytes(new File(bams.head.stripSuffix(".bam") + ".sam").toPath)
    val samHead = java.util.Arrays.copyOf(samText, math.min(samText.length, 2 << 20))
    m("kernel.bgzf_write_mb_per_s") = 1e3 / nsPerUnit {
      val w = new BgzfWriter(NullSink)
      w.write(samHead)
      w.close()
      samHead.length.toLong
    } / 1.048576
    val samRecords = new String(samText, "UTF-8").split("\n").iterator.filter(!_.startsWith("@"))
      .map(l => graft.kernel.SamCodec.parseLine(l, includeSeqQual = false)).filter(_.cigar != "*").toVector
    m("kernel.cigar_parse_ns") = nsPerUnit {
      samRecords.foreach { r =>
        Cigar.parseCigar(r.cigar)
        Cigar.seqIdentity(r.cigar, r.tagNm.getOrElse(-1L), r.tagMd.orNull, "gap_compressed")
      }
      samRecords.size.toLong
    }
    val contigs = {
      val lines = scala.io.Source.fromFile(s"$miintDir/contigs.fa")
      try lines.getLines().grouped(2).map(g => (g.head.drop(1), g(1))).toVector
      finally lines.close()
    }
    val batch = new FastxCodec.RecordIterator(FastxCodec.open("batch0.fq",
      new ByteArrayInputStream(Files.readAllBytes(new File(s"$miintDir/batch0.fq").toPath))), 33)
      .map(_.sequence).take(200).toVector
    // the aligner's default short-read preset: k = 21, w = 11
    val index = SeedAligner.buildIndex(contigs, 21, 11)
    m("kernel.seed_align_us_per_read") = nsPerUnit {
      batch.foreach(SeedAligner.align(index, _))
      batch.size.toLong
    } / 1e3
    m("kernel.rype_minimizers_ns_per_bp") = nsPerUnit {
      batch.foreach(Rype.extractMinimizerSet(_, MiintFileQueries.RypeK, MiintFileQueries.RypeW, Rype.DefaultSalt))
      batch.map(_.length.toLong).sum
    }
    val texts = spark.read.parquet(s"$corpusDir/docs.parquet").select("text").limit(500)
      .collect().map(_.getString(0))
    m("kernel.minhash_us_per_doc") = nsPerUnit {
      texts.foreach(t => TextKernel.minhashSignature(TextKernel.sortedShingleHashes(t, 5), 64))
      texts.length.toLong
    } / 1e3
    m.toMap
  }

  private object NullSink extends OutputStream {
    override def write(b: Int): Unit = ()
    override def write(b: Array[Byte], off: Int, len: Int): Unit = ()
  }

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def median(n: Int)(sample: => Double): Double = {
    val xs = Seq.fill(n)(sample).sorted
    if (n % 2 == 1) xs(n / 2) else (xs(n / 2 - 1) + xs(n / 2)) / 2
  }

  /** Nanoseconds per unit of `body`, which returns the units it
    * processed: the median of five repetitions after one warm-up.
    */
  def nsPerUnit(body: => Long): Double = {
    body
    median(5) {
      val t0 = System.nanoTime()
      val units = body
      (System.nanoTime() - t0).toDouble / units
    }
  }
}
