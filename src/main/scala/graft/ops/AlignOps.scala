package graft.ops

import graft.kernel.SeedAligner
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Alignment compute operators (reference: src/align_minimap2.cpp,
  * src/save_minimap2_index.cpp, src/align_minimap2_sharded.cpp,
  * src/align_bowtie2.cpp).
  *
  * Scale shape (SURVEY §3.3): the reference's internal-SQL pagination
  * disappears — queries are a DataFrame; subjects are collected on the
  * driver (the reference's own "must fit in RAM" bind-time constraint)
  * and shipped as a broadcast index; alignment runs in mapPartitions.
  * The sharded variant repartitions queries by shard so each task
  * loads exactly one shard index — the reference's thread-per-shard
  * scheduling becomes Spark tasks.
  */
object AlignOps {

  /** The full 21-col alignment schema every aligner emits — identical
    * to read_alignments' fixed columns (reference:
    * src/include/read_alignments.hpp:29-77,
    * src/include/align_common.hpp GetAlignmentOutputNames/Types), so
    * aligner output pipes directly into any read_alignments-shaped
    * consumer (woltka, copySam, flag predicates).
    */
  val outputSchema: StructType = StructType(Seq(
    StructField("read_id", StringType), StructField("flags", IntegerType),
    StructField("reference", StringType), StructField("position", LongType),
    StructField("stop_position", LongType), StructField("mapq", ShortType),
    StructField("cigar", StringType), StructField("mate_reference", StringType),
    StructField("mate_position", LongType), StructField("template_length", LongType),
    StructField("tag_as", LongType), StructField("tag_xs", LongType),
    StructField("tag_ys", LongType), StructField("tag_xn", LongType),
    StructField("tag_xm", LongType), StructField("tag_xo", LongType),
    StructField("tag_xg", LongType), StructField("tag_nm", LongType),
    StructField("tag_yt", StringType), StructField("tag_md", StringType),
    StructField("tag_sa", StringType)))

  /** minimap2 option bundle (reference: src/include/Minimap2Aligner.hpp
    * Minimap2Config — preset 'sr', max_secondary 5, eqx true, k/w 0 =
    * preset default; src/include/align_common.hpp
    * ParseMinimap2ConfigParams).
    */
  final case class Minimap2Params(
      preset: String = "sr",
      maxSecondary: Int = 5,
      eqx: Boolean = true,
      k: Int = 0,
      w: Int = 0) {
    // Validated at construction even when explicit k/w would shadow the
    // preset defaults — the reference errors on any unknown preset
    // (mm_set_opt != 0 → runtime_error "Unknown minimap2 preset").
    require(presetKW.contains(preset), s"Unknown minimap2 preset: $preset")
    def resolvedK: Int = if (k > 0) k else presetKW(preset)._1
    def resolvedW: Int = if (w > 0) w else presetKW(preset)._2
  }

  /** (k, w) bundles per preset — the published minimap2 mm_set_opt
    * defaults (minimap2 man page / options.c): short-read 'sr' 21/11,
    * nanopore 15/10, pacbio CLR 19/10, hifi 19/19, assembly presets
    * 19/19, all-vs-all 15/5 and 19/5.
    */
  val presetKW: Map[String, (Int, Int)] = Map(
    "sr" -> ((21, 11)), "map-ont" -> ((15, 10)), "map-pb" -> ((19, 10)),
    "map-hifi" -> ((19, 19)), "asm5" -> ((19, 19)), "asm10" -> ((19, 19)),
    "asm20" -> ((19, 10)), "ava-ont" -> ((15, 5)), "ava-pb" -> ((19, 5)))

  /** Collapse =/X runs to M when eqx=false (reference Minimap2Config
    * eqx flag: =/X CIGARs only when set).
    */
  private[ops] def cigarForEqx(cigar: String, eqx: Boolean): String = {
    if (eqx || cigar == "*") return cigar
    val runs = new scala.collection.mutable.ArrayBuffer[(Long, Char)]()
    var n = 0L
    for (c <- cigar) {
      if (c.isDigit) n = n * 10 + (c - '0')
      else {
        val op = if (c == '=' || c == 'X') 'M' else c
        if (runs.nonEmpty && runs.last._2 == op)
          runs(runs.length - 1) = (runs.last._1 + n, op)
        else runs += ((n, op))
        n = 0
      }
    }
    runs.map { case (len, op) => s"$len$op" }.mkString
  }

  /** One 21-col output row from a Hit + pairing context (reference
    * reg_to_sam, src/Minimap2Aligner.cpp:369-450): AS=score, XS=next
    * best or -1, YS/XN=-1 (not available from minimap2), XM/XO/XG/NM
    * from the CIGAR stats, YT pair type, MD, SA empty.
    */
  private def hitRow(
      readId: String, h: SeedAligner.Hit, eqx: Boolean,
      pairFlags: Int, mateRef: String, matePos: Long, tlen: Long,
      yt: String): Row =
    Row(readId, h.flags | pairFlags, h.subjectName, h.position,
      h.position + graft.kernel.SamCodec.cigarRefLen(h.cigar),
      h.mapq, cigarForEqx(h.cigar, eqx), mateRef, matePos, tlen,
      Long.box(h.score), Long.box(h.xs), Long.box(-1L), Long.box(-1L),
      Long.box(h.mismatches), Long.box(h.gapOpens), Long.box(h.gapExtends),
      Long.box(h.nm), yt, h.md, "")

  /** All rows for one read against one index — the per-row
    * single/paired dispatch the reference does per record
    * (src/Minimap2Aligner.cpp:190-210 "actually_paired"): a row is
    * paired iff its sequence2 is non-empty. Unmapped reads emit no
    * rows (reference align_single skips rid<0 / n_regs==0); with one
    * mate unmapped only the mapped mate's rows appear, flagged 0x8,
    * YT=UP.
    */
  private def alignOne(
      idx: SeedAligner.Index, readId: String, seq1: String, seq2: String,
      maxSecondary: Int, eqx: Boolean): Iterator[Row] = {
    if (seq2 == null || seq2.isEmpty) {
      // single-end
      SeedAligner.align(idx, seq1, maxSecondary).iterator.map(h =>
        hitRow(readId, h, eqx, 0, "*", 0L, 0L, "UU"))
    } else {
      val hits1 = SeedAligner.align(idx, seq1, maxSecondary)
      val hits2 = SeedAligner.align(idx, seq2, maxSecondary)
      val p1 = hits1.headOption
      val p2 = hits2.headOption
      val concordant = (p1, p2) match {
        case (Some(a), Some(b)) =>
          a.subjectName == b.subjectName && ((a.flags ^ b.flags) & 0x10) != 0
        case _ => false
      }
      // tlen from the primaries when they share a reference
      // (reference: src/Minimap2Aligner.cpp:308-327)
      val tlen: Long = (p1, p2) match {
        case (Some(a), Some(b)) if a.subjectName == b.subjectName =>
          val aEnd = a.position + graft.kernel.SamCodec.cigarRefLen(a.cigar)
          val bEnd = b.position + graft.kernel.SamCodec.cigarRefLen(b.cigar)
          val span = math.max(aEnd, bEnd) - math.min(a.position, b.position)
          if (a.position <= b.position) span else -span
        case _ => 0L
      }
      def segRows(hits: Seq[SeedAligner.Hit], mate: Option[SeedAligner.Hit],
          firstInPair: Boolean, segTlen: Long): Iterator[Row] =
        hits.iterator.map { h =>
          val proper = if (concordant) 0x2 else 0
          val pairFlags = 0x1 | proper |
            (if (firstInPair) 0x40 else 0x80) |
            (mate match {
              case Some(m) => if ((m.flags & 0x10) != 0) 0x20 else 0
              case None    => 0x8 // mate unmapped
            })
          val (mateRef, matePos) = mate match {
            case Some(m) =>
              (if (m.subjectName == h.subjectName) "=" else m.subjectName,
                m.position)
            case None => ("*", 0L)
          }
          val yt =
            if (mate.isEmpty) "UP"
            else if (concordant) "CP"
            else "DP"
          hitRow(readId, h, eqx, pairFlags, mateRef, matePos,
            if (mate.isDefined) segTlen else 0L, yt)
        }
      segRows(hits1, p2, firstInPair = true, tlen) ++
        segRows(hits2, p1, firstInPair = false, -tlen)
    }
  }

  /** Every read against each of the broadcast `indexes` in turn (one
    * combined index, or one per subject).
    */
  private def runAlignment(
      queries: DataFrame, indexes: Broadcast[Vector[SeedAligner.Index]],
      params: Minimap2Params): DataFrame = {
    val spark = queries.sparkSession
    val hasSeq2 = queries.columns.contains("sequence2")
    val cols = if (hasSeq2) Seq("read_id", "sequence1", "sequence2")
    else Seq("read_id", "sequence1")
    val maxSecondary = params.maxSecondary
    val eqx = params.eqx
    val rdd = queries.select(cols.head, cols.tail: _*).rdd.mapPartitions { rows =>
      val idxs = indexes.value
      rows.flatMap { r =>
        idxs.iterator.flatMap(idx =>
          alignOne(idx, r.getString(0), r.getString(1),
            if (hasSeq2) r.getString(2) else null, maxSecondary, eqx))
      }
    }
    spark.createDataFrame(rdd, outputSchema)
  }

  private def collectSubjects(subjects: DataFrame): Seq[(String, String)] = {
    // reference: align_minimap2 rejects paired subject tables
    // (test/sql/align_minimap2.test:129-132 "cannot be paired-end")
    require(!subjects.columns.contains("sequence2"),
      "subject table cannot be paired-end (sequence2 column present)")
    subjects.select("read_id", "sequence1").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
  }

  /** align_minimap2(queries, subjects): subjects collected + broadcast,
    * queries aligned per partition; paired rows dispatch per record on
    * a non-empty sequence2. Unmapped reads emit no rows (reference
    * align_single skips them). per_subject_database=true builds one
    * index per subject and aligns every query against each subject
    * independently (reference align_minimap2.cpp:149-195).
    */
  def alignMinimap2(
      queries: DataFrame,
      subjects: DataFrame,
      params: Minimap2Params = Minimap2Params(),
      perSubjectDatabase: Boolean = false): DataFrame = {
    val subj = collectSubjects(subjects)
    // per subject: one single-subject index each, every query vs each —
    // inherently O(Q×S) like the reference's per-subject Execute loop
    val groups = if (perSubjectDatabase) subj.map(Seq(_)) else Seq(subj)
    runAlignment(queries, queries.sparkSession.sparkContext.broadcast(groups.toVector
      .map(SeedAligner.buildIndex(_, params.resolvedK, params.resolvedW))), params)
  }

  /** Positional-params overload kept for the k/w call sites. */
  def alignMinimap2(
      queries: DataFrame, subjects: DataFrame,
      k: Int, w: Int): DataFrame =
    alignMinimap2(queries, subjects, Minimap2Params(k = k, w = w))

  def alignMinimap2(
      queries: DataFrame, subjects: DataFrame,
      k: Int, w: Int, maxSecondary: Int): DataFrame =
    alignMinimap2(queries, subjects,
      Minimap2Params(k = k, w = w, maxSecondary = maxSecondary))

  private val indexMetaFile = "graft_index_meta.json"

  /** save_minimap2_index(subjects, path, k, w, preset): persist the
    * subjects relation plus the (k, w) bundle — like the reference's
    * .mmi, the k-mer/window geometry is baked into the saved index and
    * alignMinimap2FromIndex ignores caller k/w (reference:
    * src/save_minimap2_index.cpp named params;
    * align_common.hpp "ignored when using pre-built index" warning).
    * Returns the 1-row status relation.
    */
  def saveAlignerIndex(
      subjects: DataFrame, outputPath: String,
      params: Minimap2Params = Minimap2Params()): DataFrame = {
    val spark = subjects.sparkSession
    // subjects live in a subdirectory so the metadata file never sits
    // inside a parquet directory listing
    subjects.select("read_id", "sequence1").write.mode("overwrite")
      .parquet(s"$outputPath/subjects")
    val n = spark.read.parquet(s"$outputPath/subjects").count()
    val meta = s"""{"k":${params.resolvedK},"w":${params.resolvedW},"preset":"${params.preset}"}"""
    // through the Hadoop FS, like the subjects parquet next to it — a
    // java.nio write would land on the driver's local disk when
    // outputPath is hdfs://… and the index would be unreadable
    // elsewhere
    val metaPath = new Path(outputPath, indexMetaFile)
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(metaPath, true)
    try out.write(meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(true, outputPath, n)), 1),
      StructType(Seq(
        StructField("success", BooleanType),
        StructField("index_path", StringType),
        StructField("num_subjects", LongType))))
  }

  /** The broadcast index of the most recent saved index aligned
    * against ([[LoadedIndex]]).
    */
  private val savedIndex = new LoadedIndex[Broadcast[Vector[SeedAligner.Index]]]

  /** align_minimap2(queries, index_path=...): align against a saved
    * index. k/w come from the index metadata — caller-specified k/w
    * are rejected to surface the mistake the reference only warns
    * about (they are baked into the index). per_subject_database is
    * incompatible with a pre-built index (reference BinderException).
    * The index loads once: its subjects are collected, built and
    * broadcast on the first call, and a later call on the same files
    * (keyed by the listing of `subjects/` and the metadata file, see
    * [[LoadedIndex]]) reuses the broadcast and runs no job before the
    * caller's action. A directory without the metadata file or
    * without subject files is rejected on the driver.
    */
  def alignMinimap2FromIndex(
      queries: DataFrame,
      indexPath: String,
      params: Minimap2Params = Minimap2Params()): DataFrame = {
    require(params.k == 0 && params.w == 0,
      "k/w are baked into a pre-built index and cannot be overridden " +
        "(reference: align_minimap2 index_path mode)")
    val sc = queries.sparkSession.sparkContext
    val metaPath = new Path(indexPath, indexMetaFile)
    val subjectsPath = new Path(indexPath, "subjects")
    val fs = metaPath.getFileSystem(sc.hadoopConfiguration)
    require(fs.exists(metaPath),
      s"Not a valid saved aligner index (missing $indexMetaFile): $indexPath")
    val subjectFiles =
      if (fs.exists(subjectsPath)) LoadedIndex.files(sc, Seq(subjectsPath)) else Nil
    require(subjectFiles.exists { case (f, _, _) =>
      val name = new Path(f).getName
      !name.startsWith("_") && !name.startsWith(".")
    }, s"Not a valid saved aligner index (missing subjects/): $indexPath")
    val key = LoadedIndex.Key(sc, subjectFiles ++ LoadedIndex.files(sc, Seq(metaPath)))
    val indexes = savedIndex(Some(key)) {
      val meta = {
        val in = fs.open(metaPath)
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      }
      def intField(name: String): Int =
        s""""$name":(\\d+)""".r.findFirstMatchIn(meta)
          .map(_.group(1).toInt)
          .getOrElse(throw new IllegalArgumentException(
            s"Corrupt index metadata (no $name): $indexPath"))
      val subj = collectSubjects(queries.sparkSession.read.parquet(subjectsPath.toString))
      sc.broadcast(Vector(SeedAligner.buildIndex(subj, intField("k"), intField("w"))))
    }
    runAlignment(queries, indexes, params)
  }

  /** Sharded alignment: one sub-job per shard — the shard's queries
    * (join on read_to_shard) against the shard's subject set (its own
    * broadcast index), results unioned. This is the reference's
    * thread-per-shard schedule (src/align_minimap2_sharded.cpp,
    * largest-first load balancing is delegated to Spark's scheduler);
    * no shard index ever coexists with another on an executor, so
    * memory stays bounded by the largest single shard.
    */
  def alignMinimap2Sharded(
      queries: DataFrame,
      shardDirectory: String,
      readToShard: DataFrame,
      k: Int = 16, w: Int = 5,
      maxSecondary: Int = 5): DataFrame = {
    val spark = queries.sparkSession
    val params = Minimap2Params(k = k, w = w, maxSecondary = maxSecondary)
    val withShard = queries.select("read_id", "sequence1")
      .join(readToShard.select("read_id", "shard_name"), "read_id")
    val shards = withShard.select("shard_name").distinct()
      .collect().map(_.getString(0)).sorted
    shards.map { shard =>
      val subjects = spark.read.parquet(s"$shardDirectory/$shard.parquet")
      alignMinimap2(
        withShard.filter(col("shard_name") === shard).select("read_id", "sequence1"),
        subjects, params)
    }.reduce(_ unionAll _)
    // No 0x4 filter needed: the aligner emits no rows for zero-hit
    // reads (reference parity — Minimap2Aligner.cpp's loop over
    // n_regs just doesn't run), so the sharded mode's documented
    // "unmapped filtered" behavior (README.md:1332) holds vacuously.
  }

  /** align_bowtie2_sharded: same per-shard sub-job schedule as the
    * minimap2 variant, each shard running through the bowtie2 pipe
    * harness (reference: src/align_bowtie2_sharded.cpp — one
    * single-threaded bowtie2 process per shard). Gated on the binary
    * like alignBowtie2.
    */
  def alignBowtie2Sharded(
      queries: DataFrame,
      shardDirectory: String,
      readToShard: DataFrame): DataFrame = {
    val spark = queries.sparkSession
    val withShard = queries.select("read_id", "sequence1")
      .join(readToShard.select("read_id", "shard_name"), "read_id")
    val shards = withShard.select("shard_name").distinct()
      .collect().map(_.getString(0)).sorted
    shards.map { shard =>
      val subjects = spark.read.parquet(s"$shardDirectory/$shard.parquet")
      alignBowtie2(
        withShard.filter(col("shard_name") === shard).select("read_id", "sequence1"),
        subjects)
    }.reduce(_ unionAll _)
      .filter((col("flags").bitwiseAND(lit(4))) === 0)
  }

  /** align_bowtie2 harness: pipes FASTA/FASTQ through an external
    * bowtie2 process per partition (reference: src/Bowtie2Aligner.hpp
    * pipe-deadlock-avoidant design → ProcessBuilder + reader thread).
    * Input format follows the reference's batch rules
    * (src/Bowtie2Aligner.cpp:380-455, 533-543): FASTQ when any query
    * in the batch carries a non-empty `quality1`, else FASTA (`-f`);
    * a `sequence2` column switches to paired mode — records stream as
    * `--interleaved -` R1/R2 pairs with `/1`//`/2` id suffixes.
    * Errors when the binary is absent — probe with bowtie2_available()
    * (reference: src/align_bowtie2.cpp:257-259).
    */
  def alignBowtie2(
      queries: DataFrame,
      subjects: DataFrame): DataFrame = {
    val bt2 = graft.functions.MiintRegistry.bowtie2Binary("bowtie2")
      .getOrElse(throw new UnsupportedOperationException(
        "bowtie2 binary not found on PATH (bowtie2_available() = false)"))
    val bt2Build = graft.functions.MiintRegistry.bowtie2Binary("bowtie2-build")
      .getOrElse(throw new UnsupportedOperationException(
        "bowtie2-build binary not found on PATH"))
    val spark = queries.sparkSession
    // build temp index on the driver, pipe per partition
    val tmp = java.nio.file.Files.createTempDirectory("graft_bt2").toString
    val fasta = s"$tmp/subjects.fasta"
    Writers.copyFasta(subjects.select("read_id", "sequence1"), fasta)
    val rc = new ProcessBuilder(bt2Build, "-q", fasta, s"$tmp/index")
      .inheritIO().start().waitFor()
    require(rc == 0, s"bowtie2-build failed with exit code $rc")
    val qCols = queries.columns.toSet
    val paired = qCols.contains("sequence2")
    val hasQualCol = qCols.contains("quality1")
    val sel = Seq("read_id", "sequence1") ++
      (if (paired) Seq("sequence2") else Nil) ++
      (if (hasQualCol) Seq("quality1") else Nil) ++
      (if (hasQualCol && paired) Seq("quality2") else Nil)
    val rdd = queries.select(sel.head, sel.tail: _*).rdd.mapPartitions { rows =>
      // buffer the batch: the FASTA/FASTQ decision needs the whole
      // batch (reference has_quality_scores scans every record before
      // the process starts) — partitions here play the role of the
      // reference's SequenceRecordBatch
      val batch = rows.toArray
      def qual(r: Row, field: String): String =
        if (!hasQualCol) "" else {
          val i = r.fieldIndex(field)
          if (r.isNullAt(i)) "" else r.getString(i)
        }
      val useFastq = hasQualCol && batch.exists(r => qual(r, "quality1").nonEmpty)
      val fmtArgs = if (useFastq) Seq.empty else Seq("-f")
      val inArgs = if (paired) Seq("--interleaved", "-") else Seq("-U", "-")
      val out = new scala.collection.mutable.ArrayBuffer[Row]()
      def writeRec(w: java.io.Writer, id: String, seq: String, q: String): Unit =
        if (useFastq) { w.write("@" + id + "\n" + seq + "\n+\n" + q + "\n") }
        else { w.write(">" + id + "\n" + seq + "\n") }
      val res = PipeHarness.pipe(
        Seq(bt2, "-x", s"$tmp/index") ++ fmtArgs ++ inArgs ++
          Seq("--quiet", "--no-head"),
        w => batch.foreach { r =>
          val id = r.getString(0)
          if (paired) {
            writeRec(w, id + "/1", r.getString(1), qual(r, "quality1"))
            writeRec(w, id + "/2", r.getString(2), qual(r, "quality2"))
          } else writeRec(w, id, r.getString(1), qual(r, "quality1"))
        },
        line => {
          val rec = graft.kernel.SamCodec.parseLine(line, includeSeqQual = false)
          out += Row(rec.readId, rec.flags, rec.reference, rec.position,
            rec.stopPosition, rec.mapq, rec.cigar, rec.mateReference,
            rec.matePosition, rec.templateLength,
            rec.tagAs.map(Long.box).orNull, rec.tagXs.map(Long.box).orNull,
            rec.tagYs.map(Long.box).orNull, rec.tagXn.map(Long.box).orNull,
            rec.tagXm.map(Long.box).orNull, rec.tagXo.map(Long.box).orNull,
            rec.tagXg.map(Long.box).orNull, rec.tagNm.map(Long.box).orNull,
            rec.tagYt.orNull, rec.tagMd.orNull, rec.tagSa.orNull)
        })
      require(res.exitCode == 0,
        s"bowtie2 exited ${res.exitCode}; stderr tail:\n${res.stderrTail}")
      out.iterator
    }
    spark.createDataFrame(rdd, outputSchema)
  }
}
