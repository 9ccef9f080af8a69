package graftbench

import java.io.{BufferedInputStream, File, FileInputStream}

import graft.functions.{AlignmentFlags, AlignmentFunctions}
import graft.kernel.BamCodec
import graft.ops.{AlignOps, BiomOps, GenomeCoverage, RypeOps, Woltka, Writers}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** miint_file_queries: MIINT-style SQL over per-sample FASTQ.gz, BAM and
  * SAM files, with writes (sharded BAM, BIOM) beside the reads. Every op
  * is checked against the generator's ground truth.
  */
final class MiintFileQueries(spark: SparkSession, dir: String, work: String, cores: Int) extends Workload {
  import MiintFileQueries._
  import spark.implicits._

  val clients = 1
  val shuffled = true
  val kinds: Seq[String] = Seq("bam_filter_identity", "woltka_ogu", "genome_coverage", "fastq_stats",
    "align_minimap2", "rype_classify", "copy_bam_sharded", "copy_biom")

  private val genomes = tsv(s"$dir/genomes.tsv")
  private val samples = tsv(s"$dir/truth_fastq.tsv").map(_("sample"))
  private val batches = new File(dir).list().count(f => f.startsWith("batch") && f.endsWith(".fq"))
  private val bamTruth = tsv(s"$dir/truth_bam.tsv").map(r => r("sample") -> r).toMap
  private val fastqTruth = tsv(s"$dir/truth_fastq.tsv").map(r => r("sample") -> r).toMap
  private val identityTruth = tsv(s"$dir/truth_identity.tsv").map(r => r("sample") -> r).toMap
  private val woltkaTruth = tsv(s"$dir/truth_woltka.tsv")
    .groupBy(_("sample")).map { case (s, rs) => s -> rs.map(r => r("feature") -> r("value").toDouble).toMap }
  private val coverageTruth = tsv(s"$dir/truth_coverage.tsv")
    .groupBy(_("sample")).map { case (s, rs) => s -> rs.map(r => r("genome") -> r("covered").toLong).toMap }
  private val alignerIndex = s"$work/miint/aligner_index"
  private val rypeIndex = s"$work/miint/rype_index"
  private val outDir = s"$work/miint/out"
  private var contigGenome: DataFrame = _
  private var genomeLength: DataFrame = _

  def setup(): Unit = {
    contigGenome = genomes.map(r => (r("contig_id"), r("genome_id"))).toDF("contig_id", "genome_id").cache()
    genomeLength = genomes.groupBy(_("genome_id")).map { case (g, rs) => (g, rs.map(_("length").toLong).sum) }
      .toSeq.toDF("genome_id", "total_length").cache()
    val contigs = spark.read.format("fastx").load(s"$dir/contigs.fa").select("read_id", "sequence1")
    AlignOps.saveAlignerIndex(contigs, alignerIndex).collect()
    val buckets = contigs.join(contigGenome, contigs("read_id") === contigGenome("contig_id"))
      .select(col("genome_id").as("bucket_name"), col("sequence1"))
    RypeOps.saveIndex(RypeOps.buildIndex(buckets, RypeK, RypeW), rypeIndex)
  }

  private def alignments(path: String): DataFrame =
    Trace.span("sources.alignments")(spark.read.format("alignments").load(path))

  private def fastx(path: String): DataFrame =
    Trace.span("sources.fastx")(spark.read.format("fastx").load(path))

  private def mapped(df: DataFrame): DataFrame =
    Trace.span("functions.flags")(df.filter(!AlignmentFlags.alignmentIsUnmapped(col("flags"))))

  private def primary(df: DataFrame): DataFrame =
    Trace.span("functions.flags")(df.filter(AlignmentFlags.alignmentIsPrimary(col("flags"))))

  private def action[T](body: => T): T = Trace.span("spark.action")(body)

  def run(kind: String, round: Int): Outcome = {
    val sample = samples(round % samples.size)
    val batch = round % batches
    kind match {
      case "bam_filter_identity" =>
        val df = Trace.span("functions.alignment") {
          primary(mapped(alignments(s"$dir/$sample.bam")))
            .select(AlignmentFunctions.alignmentSeqIdentity(col("cigar"), col("tag_nm"), col("tag_md")).as("id"),
              AlignmentFunctions.alignmentQueryCoverage(col("cigar")).as("cov"))
            .agg(count(lit(1)), sum(when(col("id") >= 0.97 && col("cov") >= 0.9, 1L).otherwise(0L)),
              sum(floor(col("id") * 1e6).cast("long")))
        }
        val r = action(df.head())
        val t = identityTruth(sample)
        val ok = Trace.span("verify")(r.getLong(0) == t("n_primary").toLong &&
          r.getLong(1) == t("n_pass").toLong && r.getLong(2) == t("sum_identity_micro").toLong)
        Outcome(bamTruth(sample)("n_records").toLong, ok, if (ok) "" else s"$sample identity $r vs $t")

      case "woltka_ogu" =>
        val df = Trace.span("ops.Woltka.woltkaOgu")(Woltka.woltkaOgu(mapped(alignments(s"$dir/$sample.bam")), "read_id"))
        val got = action(df.collect()).map(r => r.getString(0) -> r.getDouble(1)).toMap
        val ok = Trace.span("verify")(sameValues(got, woltkaTruth(sample)))
        Outcome(bamTruth(sample)("n_records").toLong, ok, if (ok) "" else s"$sample woltka mismatch")

      case "genome_coverage" =>
        val df = Trace.span("ops.GenomeCoverage.genomeCoverage") {
          GenomeCoverage.genomeCoverage(primary(mapped(alignments(s"$dir/$sample.sam"))), genomeLength, contigGenome)
        }
        val got = action(df.collect()).map(r => r.getString(0) -> r.getLong(1)).toMap
        val ok = Trace.span("verify")(got == coverageTruth(sample))
        Outcome(bamTruth(sample)("n_records").toLong, ok, if (ok) "" else s"$sample coverage $got")

      case "fastq_stats" =>
        val seq = col("sequence1")
        val r = action(fastx(s"$dir/$sample.fq.gz").agg(count(lit(1)), sum(length(seq).cast("long")),
          sum((length(seq) - length(regexp_replace(seq, "[GC]", ""))).cast("long"))).head())
        val t = fastqTruth(sample)
        val ok = Trace.span("verify")(r.getLong(0) == t("n_reads").toLong &&
          r.getLong(1) == t("n_bases").toLong && r.getLong(2) == t("n_gc").toLong)
        Outcome(r.getLong(0), ok, if (ok) "" else s"$sample fastq $r vs $t")

      case "align_minimap2" =>
        val queries = fastx(s"$dir/batch$batch.fq").select("read_id", "sequence1")
        val hits = Trace.span("ops.AlignOps.alignMinimap2FromIndex")(AlignOps.alignMinimap2FromIndex(queries, alignerIndex))
        val got = action(hits.filter(!AlignmentFlags.alignmentIsSecondary(col("flags")))
          .select("read_id", "reference", "position", "flags").collect())
          .map(r => r.getString(0) -> (r.getString(1), r.getLong(2), (r.getInt(3) & 0x10) != 0)).toMap
        val truth = tsv(s"$dir/batch$batch.tsv")
        val correct = truth.count { t =>
          got.get(t("read_id")).exists { case (ref, pos, rev) =>
            ref == t("contig") && math.abs(pos - t("position").toLong) <= 10 && rev == (t("strand") == "-")
          }
        }
        val mappedRatio = got.size.toDouble / truth.size
        val ok = correct >= 0.95 * truth.size
        Outcome(truth.size, ok, if (ok) "" else s"batch$batch aligned $correct/${truth.size}",
          ratios = Map("align.mapped_ratio" -> mappedRatio))

      case "rype_classify" =>
        val queries = fastx(s"$dir/batch$batch.fq").select("read_id", "sequence1")
        val index = Trace.span("ops.RypeOps.loadIndex")(RypeOps.loadIndex(spark, rypeIndex))
        val df = Trace.span("ops.RypeOps.rypeClassify")(RypeOps.rypeClassify(index, queries, RypeK, RypeW))
        val best = action(df.collect()).groupBy(_.getString(0)).map { case (id, rs) =>
          id -> rs.maxBy(r => (r.getDouble(3), r.getString(2))).getString(2)
        }
        val truth = tsv(s"$dir/batch$batch.tsv")
        val correct = truth.count(t => best.get(t("read_id")).contains(t("genome")))
        val ok = correct >= 0.95 * truth.size
        Outcome(truth.size, ok, if (ok) "" else s"batch$batch classified $correct/${truth.size}",
          ratios = Map("rype.classified_ratio" -> best.size.toDouble / truth.size))

      case "copy_bam_sharded" =>
        val dest = new File(s"$outDir/bam-$round")
        deleteTree(dest)
        dest.mkdirs()
        val df = alignments(s"$dir/$sample.bam").repartition(cores)
        Trace.span("ops.Writers.copyBamSharded")(Writers.copyBamSharded(df, s"$dest/part-{SHARD}.bam"))
        val files = dest.listFiles().filter(_.getName.endsWith(".bam"))
        val (n, posSum) = Trace.span("verify")(files.map(readBack).foldLeft((0L, 0L)) {
          case ((a, b), (c, d)) => (a + c, b + d)
        })
        val bytes = files.map(_.length()).sum
        deleteTree(dest)
        val t = bamTruth(sample)
        val ok = n == t("n_records").toLong && posSum == t("sum_position").toLong
        Outcome(t("n_records").toLong, ok, if (ok) "" else s"$sample bam read-back $n/$posSum vs $t", bytes, n)

      case "copy_biom" =>
        val rel = samples.map(s => mapped(alignments(s"$dir/$s.bam")).withColumn("sample_id", lit(s))).reduce(_ union _)
        val table = Trace.span("ops.Woltka.woltkaOguPerSample")(Woltka.woltkaOguPerSample(rel, "sample_id", "read_id"))
        val path = s"$outDir/table-$round.biom"
        new File(outDir).mkdirs()
        Trace.span("ops.BiomOps.copyBiom")(BiomOps.copyBiom(table, path))
        val back = action(BiomOps.readBiom(spark, path).collect())
          .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
        val bytes = new File(path).length()
        new File(path).delete()
        val expected = for ((s, m) <- woltkaTruth; (f, v) <- m) yield (s, f) -> v
        val ok = Trace.span("verify")(sameValues(back, expected))
        Outcome(samples.map(s => bamTruth(s)("n_records").toLong).sum, ok,
          if (ok) "" else "biom read-back mismatch", bytes, back.size.toLong)
    }
  }
}

object MiintFileQueries {
  // RY-space minimizers: k = 32 keeps buckets of 40 kbp random genomes
  // disjoint (at k = 16 most RY k-mers occur in every genome)
  val RypeK = 32
  val RypeW = 8

  def tsv(path: String): Seq[Map[String, String]] = {
    val lines = scala.io.Source.fromFile(path)
    try {
      val it = lines.getLines()
      val header = it.next().split("\t", -1)
      it.filter(_.nonEmpty).map(l => header.zip(l.split("\t", -1)).toMap).toVector
    } finally lines.close()
  }

  def sameValues[K](got: Map[K, Double], want: Map[K, Double]): Boolean =
    got.keySet == want.keySet && got.forall { case (k, v) => math.abs(v - want(k)) <= 1e-6 * math.max(1.0, math.abs(v)) }

  /** (records, sum of 1-based positions) of a BAM file, decoded by the kernel reader. */
  def readBack(f: File): (Long, Long) = {
    val in = new FileInputStream(f)
    try {
      var n = 0L
      var s = 0L
      new BamCodec.Reader(new BufferedInputStream(in), false).foreach { rec => n += 1; s += rec.position }
      (n, s)
    } finally in.close()
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
