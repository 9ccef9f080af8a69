package graft.queries

import graft.{Checkout, QueryDef, Reference, Tables}
import graft.functions._
import graft.ops.{GenomeCoverage, Gff, Jplace, Woltka}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2B–2G MIINT domain surface, oracle-checked.
  *
  * DuckDB has none of our domain functions, so each oracle re-expresses
  * the semantics in plain SQL over the same synthetic columns (derived
  * deterministically from the TPC-H tables) — an independent
  * re-derivation, which is a stronger check than calling the same code
  * twice. Golden fixture tests against the reference's committed
  * expectations live in the ScalaTest suites.
  */
object LayerB {

  /** Synthetic SAM flag word: 12 meaningful bits from o_orderkey. */
  private def withFlags(df: DataFrame): DataFrame =
    df.withColumn("flags", (col("o_orderkey") % 4096).cast("int"))

  // committed fixtures of the reference checkout read by b25/b27/b28/b33/b34/b35
  private val WoltkaParquet = Reference("data/sam/miint-woltka-test.parquet")
  private val BiomFixture = Reference("data/biom/test.biom")
  private val SffFixture = Reference("data/sff/basic_2reads.sff")
  private val BamFixture = Reference("data/sam/foo_has_header.bam")
  private val CeFasta = Reference("ext/htslib-1.22.1/test/ce.fa")
  private val RangeCram = Reference("ext/htslib-1.22.1/test/range.cram")
  // in-repo CRAMs of every container version, read by b35
  private val Cram31Dir = Checkout("src/test/resources/graft/cram31")

  val queries: Seq[QueryDef] = Seq(
    // 2D: 13 SAM-flag predicates (native bit-test column expressions) —
    // exercised through the SQL-registered names to prove registration.
    QueryDef(
      "b01_flag_predicates",
      (s, d) => {
        MiintRegistry.registerAll(s)
        withFlags(Tables.orders(s, d)).createOrReplaceTempView("b01_flags")
        s.sql("""SELECT o_orderkey, flags,
                |       alignment_is_paired(flags) AS is_paired,
                |       alignment_is_proper_pair(flags) AS is_proper_pair,
                |       alignment_is_unmapped(flags) AS is_unmapped,
                |       is_munmap(flags) AS is_mate_unmapped,
                |       alignment_is_reverse(flags) AS is_rev,
                |       is_mreverse(flags) AS is_mate_rev,
                |       alignment_is_read1(flags) AS is_r1,
                |       is_read2(flags) AS is_r2,
                |       alignment_is_secondary(flags) AS is_sec,
                |       is_qcfail(flags) AS is_qcf,
                |       is_dup(flags) AS is_duplicate,
                |       alignment_is_supplementary(flags) AS is_supp,
                |       alignment_is_primary(flags) AS is_prim
                |  FROM b01_flags""".stripMargin)
      },
      Some("""SELECT o_orderkey, CAST(o_orderkey % 4096 AS INTEGER) AS flags,
             |       (o_orderkey % 4096 & 1) != 0 AS is_paired,
             |       (o_orderkey % 4096 & 2) != 0 AS is_proper_pair,
             |       (o_orderkey % 4096 & 4) != 0 AS is_unmapped,
             |       (o_orderkey % 4096 & 8) != 0 AS is_mate_unmapped,
             |       (o_orderkey % 4096 & 16) != 0 AS is_rev,
             |       (o_orderkey % 4096 & 32) != 0 AS is_mate_rev,
             |       (o_orderkey % 4096 & 64) != 0 AS is_r1,
             |       (o_orderkey % 4096 & 128) != 0 AS is_r2,
             |       (o_orderkey % 4096 & 256) != 0 AS is_sec,
             |       (o_orderkey % 4096 & 512) != 0 AS is_qcf,
             |       (o_orderkey % 4096 & 1024) != 0 AS is_duplicate,
             |       (o_orderkey % 4096 & 2048) != 0 AS is_supp,
             |       ((o_orderkey % 4096 & 256) = 0 AND (o_orderkey % 4096 & 2048) = 0) AS is_prim
             |  FROM orders""".stripMargin)),

    // 2D: CIGAR kernels — identity/qlen/coverage over synthesized CIGARs.
    // Oracle re-derives each formula arithmetically (never parses).
    QueryDef(
      "b02_cigar_kernels",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .withColumn("m", col("l_quantity").cast("long"))
          .withColumn("i", round(col("l_discount") * 100, 0).cast("long") + 1)
          .withColumn("dd", round(col("l_tax") * 100, 0).cast("long") + 1)
          .withColumn("sc", (col("l_suppkey") % 5) * 10 + 5)
          .withColumn("nm", col("l_linenumber").cast("long"))
          .withColumn("cigar",
            concat(col("sc"), lit("S"), col("m"), lit("M"),
              col("i"), lit("I"), col("dd"), lit("D")))
        li.select(
          col("l_orderkey"), col("l_linenumber"), col("cigar"),
          AlignmentFunctions.alignmentSeqIdentity(
            col("cigar"), col("nm"), lit(null).cast("string"), "gap_compressed").as("ident_gc"),
          AlignmentFunctions.alignmentSeqIdentity(
            col("cigar"), col("nm"), lit(null).cast("string"), "blast").as("ident_blast"),
          AlignmentFunctions.alignmentQueryLength(col("cigar")).as("qlen"),
          AlignmentFunctions.alignmentQueryCoverage(col("cigar")).as("cov_aligned"),
          AlignmentFunctions.alignmentQueryCoverage(col("cigar"), "mapped").as("cov_mapped"))
      },
      Some("""WITH t AS (
             |  SELECT l_orderkey, l_linenumber,
             |         CAST(l_quantity AS BIGINT) AS m,
             |         CAST(ROUND(l_discount*100,0) AS BIGINT) + 1 AS i,
             |         CAST(ROUND(l_tax*100,0) AS BIGINT) + 1 AS dd,
             |         (l_suppkey % 5) * 10 + 5 AS sc,
             |         CAST(l_linenumber AS BIGINT) AS nm
             |    FROM lineitem)
             |SELECT l_orderkey, l_linenumber,
             |       sc || 'S' || m || 'M' || i || 'I' || dd || 'D' AS cigar,
             |       CASE WHEN nm > m + i + dd THEN NULL
             |            ELSE CAST(m - nm + i + dd AS DOUBLE) / (m + 2) END AS ident_gc,
             |       CASE WHEN nm > m + i + dd THEN NULL
             |            ELSE CAST(m + i + dd - nm AS DOUBLE) / (m + i + dd) END AS ident_blast,
             |       sc + m + i AS qlen,
             |       CAST(m AS DOUBLE) / (sc + m + i) AS cov_aligned,
             |       CAST(m + i AS DOUBLE) / (sc + m + i) AS cov_mapped
             |  FROM t""".stripMargin)),

    // 2D: DNA reverse complement. Oracle: independent reverse+translate.
    QueryDef(
      "b03_revcomp",
      (s, d) => {
        val p = Tables.part(s, d)
          .withColumn("seq", expr("substring('ACGTACGTACGTACGT', 1, 4 + CAST(p_partkey % 8 AS INT))"))
        p.select(
          col("p_partkey"), col("seq"),
          SequenceFunctions.sequenceDnaReverseComplement(col("seq")).as("revcomp"))
      },
      Some("""SELECT p_partkey,
             |       substr('ACGTACGTACGTACGT', 1, CAST(4 + p_partkey % 8 AS INTEGER)) AS seq,
             |       reverse(translate(substr('ACGTACGTACGTACGT', 1, CAST(4 + p_partkey % 8 AS INTEGER)),
             |                         'ACGT', 'TGCA')) AS revcomp
             |  FROM part""".stripMargin)),

    // 2D: IUPAC→regex expansion. Oracle: independent replace().
    QueryDef(
      "b04_as_regexp",
      (s, d) => {
        val p = Tables.part(s, d)
          .withColumn("seq", concat(
            expr("substring('ACGT', 1 + CAST(p_partkey % 4 AS INT), 1)"),
            lit("N"),
            expr("substring('ACGT', 1 + CAST(p_size % 4 AS INT), 1)")))
        p.select(
          col("p_partkey"), col("seq"),
          SequenceFunctions.sequenceDnaAsRegexp(col("seq")).as("re"))
      },
      Some("""SELECT p_partkey,
             |       substr('ACGT', CAST(1 + p_partkey % 4 AS INTEGER), 1) || 'N' ||
             |         substr('ACGT', CAST(1 + p_size % 4 AS INTEGER), 1) AS seq,
             |       replace(substr('ACGT', CAST(1 + p_partkey % 4 AS INTEGER), 1) || 'N' ||
             |         substr('ACGT', CAST(1 + p_size % 4 AS INTEGER), 1), 'N', '[ACGT]') AS re
             |  FROM part""".stripMargin)),

    // 2E: compress_intervals UDAF. Oracle: classic gaps-and-islands SQL
    // (merge when next.start <= running max stop — touching merges).
    QueryDef(
      "b05_compress_intervals",
      (s, d) => {
        val iv = Tables.lineitem(s, d).select(
          col("l_returnflag").as("grp"),
          (col("l_orderkey") % 1000).as("s"),
          (col("l_orderkey") % 1000 + col("l_quantity").cast("long")).as("e"))
        // to_json: array-of-struct cells crash the driver's pandas sort
        // (ADVICE r2) — serialize on both sides; formats bit-match.
        iv.groupBy(col("grp"))
          .agg(to_json(CompressIntervals.compressIntervals(col("s"), col("e")))
            .as("intervals"))
      },
      Some("""WITH iv AS (
             |  SELECT l_returnflag AS grp, (l_orderkey % 1000) AS s,
             |         (l_orderkey % 1000) + CAST(l_quantity AS BIGINT) AS e
             |    FROM lineitem),
             |ivd AS (SELECT DISTINCT grp, s, e FROM iv),
             |flagd AS (
             |  SELECT grp, s, e,
             |         CASE WHEN s <= MAX(e) OVER (PARTITION BY grp ORDER BY s, e
             |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |              THEN 0 ELSE 1 END AS is_new
             |    FROM ivd),
             |isl AS (
             |  SELECT grp, s, e,
             |         SUM(is_new) OVER (PARTITION BY grp ORDER BY s, e
             |             ROWS UNBOUNDED PRECEDING) AS island
             |    FROM flagd),
             |m AS (SELECT grp, island, MIN(s) AS start, MAX(e) AS stop
             |        FROM isl GROUP BY grp, island)
             |SELECT grp, CAST(to_json(list(struct_pack(start := start, stop := stop) ORDER BY start)) AS VARCHAR) AS intervals
             |  FROM m GROUP BY grp""".stripMargin)),

    // 2F: woltka_ogu — fractional multi-mapping feature counts.
    QueryDef(
      "b06_woltka_ogu",
      (s, d) => {
        val rel = Tables.lineitem(s, d).select(
          col("l_orderkey").as("read_id"),
          concat(lit("r"), (col("l_suppkey") % 20)).as("reference"),
          (lit(64) * (col("l_linenumber") % 2)).cast("int").as("flags"))
        Woltka.woltkaOgu(rel, "read_id")
          .select(col("feature_id"), round(col("value"), 6).as("value"))
      },
      Some("""WITH rel AS (
             |  SELECT l_orderkey AS read_id,
             |         'r' || CAST(l_suppkey % 20 AS VARCHAR) AS reference,
             |         64 * (l_linenumber % 2) AS flags
             |    FROM lineitem),
             |base AS (
             |  SELECT DISTINCT read_id AS qid, reference AS feature_id,
             |         (flags & 64) != 0 AS is_fwd
             |    FROM rel),
             |wc AS (
             |  SELECT feature_id,
             |         1.0 / COUNT(*) OVER (PARTITION BY qid, is_fwd) AS lv
             |    FROM base)
             |SELECT feature_id, ROUND(SUM(lv), 6) AS value
             |  FROM wc GROUP BY feature_id""".stripMargin)),

    // 2F: woltka_ogu_per_sample — per-sample variant.
    QueryDef(
      "b07_woltka_per_sample",
      (s, d) => {
        val rel = Tables.lineitem(s, d).select(
          col("l_orderkey").as("read_id"),
          col("l_returnflag").as("sample"),
          concat(lit("r"), (col("l_suppkey") % 20)).as("reference"),
          (lit(64) * (col("l_linenumber") % 2)).cast("int").as("flags"))
        Woltka.woltkaOguPerSample(rel, "sample", "read_id")
          .select(col("sample_id"), col("feature_id"), round(col("value"), 6).as("value"))
      },
      Some("""WITH rel AS (
             |  SELECT l_orderkey AS read_id, l_returnflag AS sample,
             |         'r' || CAST(l_suppkey % 20 AS VARCHAR) AS reference,
             |         64 * (l_linenumber % 2) AS flags
             |    FROM lineitem),
             |base AS (
             |  SELECT DISTINCT read_id AS qid, sample AS sample_id,
             |         reference AS feature_id, (flags & 64) != 0 AS is_fwd
             |    FROM rel),
             |wc AS (
             |  SELECT sample_id, feature_id,
             |         1.0 / COUNT(*) OVER (PARTITION BY qid, is_fwd) AS lv
             |    FROM base)
             |SELECT sample_id, feature_id, ROUND(SUM(lv), 6) AS value
             |  FROM wc GROUP BY sample_id, feature_id""".stripMargin)),

    // 2F: genome_coverage — compress_intervals + explode + 2 joins,
    // half-open arithmetic.
    QueryDef(
      "b08_genome_coverage",
      (s, d) => {
        val aln = Tables.lineitem(s, d).select(
          concat(lit("c"), (col("l_suppkey") % 40)).as("reference"),
          (col("l_orderkey") % 5000).as("position"),
          (col("l_orderkey") % 5000 + col("l_quantity").cast("long")).as("stop_position"))
        val sg = Tables.lineitem(s, d).select(
          concat(lit("c"), (col("l_suppkey") % 40)).as("contig_id"),
          concat(lit("g"), (col("l_suppkey") % 5)).as("genome_id")).distinct()
        val tl = Tables.lineitem(s, d).select(
          concat(lit("g"), (col("l_suppkey") % 5)).as("genome_id"),
          lit(1000000L).as("total_length")).distinct()
        GenomeCoverage.genomeCoverage(aln, tl, sg)
      },
      Some("""WITH aln AS (
             |  SELECT 'c' || CAST(l_suppkey % 40 AS VARCHAR) AS reference,
             |         (l_orderkey % 5000) AS s,
             |         (l_orderkey % 5000) + CAST(l_quantity AS BIGINT) AS e
             |    FROM lineitem),
             |alnd AS (SELECT DISTINCT reference, s, e FROM aln),
             |flagd AS (
             |  SELECT reference, s, e,
             |         CASE WHEN s <= MAX(e) OVER (PARTITION BY reference ORDER BY s, e
             |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |              THEN 0 ELSE 1 END AS is_new
             |    FROM alnd),
             |isl AS (
             |  SELECT reference, s, e,
             |         SUM(is_new) OVER (PARTITION BY reference ORDER BY s, e
             |             ROWS UNBOUNDED PRECEDING) AS island
             |    FROM flagd),
             |ci AS (SELECT reference, island, MIN(s) AS start, MAX(e) AS stop
             |         FROM isl GROUP BY reference, island),
             |sg AS (SELECT DISTINCT 'c' || CAST(l_suppkey % 40 AS VARCHAR) AS contig_id,
             |              'g' || CAST(l_suppkey % 5 AS VARCHAR) AS genome_id FROM lineitem),
             |tl AS (SELECT DISTINCT 'g' || CAST(l_suppkey % 5 AS VARCHAR) AS genome_id,
             |              CAST(1000000 AS BIGINT) AS total_length FROM lineitem),
             |internal AS (
             |  SELECT sg.genome_id, ci.reference, CAST(SUM(ci.stop - ci.start) AS BIGINT) AS covered_internal
             |    FROM ci JOIN sg ON ci.reference = sg.contig_id
             |   GROUP BY sg.genome_id, ci.reference),
             |tc AS (SELECT genome_id, CAST(SUM(covered_internal) AS BIGINT) AS covered
             |         FROM internal GROUP BY genome_id)
             |SELECT tc.genome_id, tc.covered,
             |       CAST(tc.covered AS DOUBLE) / tl.total_length AS proportion_covered
             |  FROM tc JOIN tl USING (genome_id)""".stripMargin)),

    // 2B: read_gff + parse_gff_attributes over a GFF3 fixture.
    QueryDef(
      "b09_read_gff",
      (s, d) => {
        val path = "/tmp/graft_b09.gff"
        val pw = new java.io.PrintWriter(path)
        try pw.write(
          "##gff-version 3\n" +
            "#!annotation-source test\n" +
            "chr1\tsrcA\tgene\t100\t200\t0.5\t+\t0\tID=gene1;Name=foo\n" +
            "chr1\tsrcA\texon\t120\t180\t.\t-\t1\tID=exon1;Parent=gene1\n" +
            "chr2\tsrcB\tCDS\t5\t50\t1.5\t.\t2\tID=cds1\n")
        finally pw.close()
        Gff.readGff(s, path)
          .withColumn("attributes",
            to_json(array_sort(map_entries(col("attributes")))))
      },
      Some("""SELECT column0 AS seqid, column1 AS source, column2 AS type,
             |       column3::INTEGER AS position, column4::INTEGER AS stop_position,
             |       CASE WHEN column5 = '.' THEN NULL ELSE column5::DOUBLE END AS score,
             |       CASE WHEN column6 = '.' THEN NULL ELSE column6 END AS strand,
             |       CASE WHEN column7 = '.' THEN NULL ELSE column7::INTEGER END AS phase,
             |       CAST(to_json(list_sort(list_transform(string_split(column8, ';'),
             |         x -> struct_pack(key := string_split(x,'=')[1],
             |                          value := string_split(x,'=')[2])))) AS VARCHAR) AS attributes
             |  FROM read_csv('/tmp/graft_b09.gff', delim='\t', header=false, skip=2,
             |       columns={'column0':'VARCHAR','column1':'VARCHAR','column2':'VARCHAR',
             |                'column3':'VARCHAR','column4':'VARCHAR','column5':'VARCHAR',
             |                'column6':'VARCHAR','column7':'VARCHAR','column8':'VARCHAR'},
             |       auto_detect=false, null_padding=true)
             | WHERE column0 NOT LIKE '##%'""".stripMargin)),

    // 2B: read_jplace over a jplace fixture (best placement only,
    // nm-name fallback to n-name). filepath reduced to basename so both
    // engines' path schemes compare equal.
    QueryDef(
      "b10_read_jplace",
      (s, d) => {
        val path = "/tmp/graft_b10.jplace"
        val pw = new java.io.PrintWriter(path)
        try pw.write(
          """{"version": 3,
            | "tree": "((A:0.1{0},B:0.2{1}):0.3{2});",
            | "placements": [
            |   {"p": [[0, -100.5, 0.9, 0.1, 0.05]], "n": ["frag1"]},
            |   {"p": [[2, -50.25, 0.8, 0.2, 0.15], [1, -60.0, 0.2, 0.1, 0.1]],
            |    "nm": [["frag2", 2]]}
            | ],
            | "fields": ["edge_num", "likelihood", "like_weight_ratio",
            |            "distal_length", "pendant_length"],
            | "metadata": {"software": "test"}}""".stripMargin)
        finally pw.close()
        Jplace.readJplace(s, path)
          .withColumn("filepath", regexp_extract(col("filepath"), "[^/]+$", 0))
      },
      Some("""SELECT COALESCE(json_extract_string(pj, '$.nm[0][0]'),
             |                json_extract_string(pj, '$.n[0]')) AS fragment,
             |       json_extract(pj, '$.p[0][0]')::INTEGER AS edge_num,
             |       json_extract(pj, '$.p[0][1]')::DOUBLE AS likelihood,
             |       json_extract(pj, '$.p[0][2]')::DOUBLE AS like_weight_ratio,
             |       json_extract(pj, '$.p[0][3]')::DOUBLE AS distal_length,
             |       json_extract(pj, '$.p[0][4]')::DOUBLE AS pendant_length,
             |       'graft_b10.jplace' AS filepath
             |  FROM (SELECT to_json(unnest(placements)) AS pj
             |          FROM read_json('/tmp/graft_b10.jplace'))""".stripMargin)),

    // 2D: miint_version + bowtie2_available (registered SQL surface).
    QueryDef(
      "b11_version",
      (s, d) => {
        MiintRegistry.registerAll(s)
        s.sql("SELECT miint_version() AS v, bowtie2_available() AS b2")
      },
      Some(s"SELECT '${MiintRegistry.version}' AS v, false AS b2")),

    // 2B: read_fastx DataSource V2 (paired FASTQ fixture). Oracle: the
    // expected 7-col rows as an inline VALUES table.
    QueryDef(
      "b12_read_fastx",
      (s, d) => {
        def w(p: String, c: String): Unit = {
          val pw = new java.io.PrintWriter(p); try pw.write(c) finally pw.close()
        }
        w("/tmp/graft_b12_r1.fastq",
          "@r1/1 first read\nACGT\n+\nIIII\n@r2/1\nTTAA\n+\nHHHH\n")
        w("/tmp/graft_b12_r2.fastq",
          "@r1/2 first read\nCCGG\n+\nFFFF\n@r2/2\nGGTT\n+\nEEEE\n")
        s.read.format("fastx")
          .option("sequence2", "/tmp/graft_b12_r2.fastq")
          .load("/tmp/graft_b12_r1.fastq")
          // qual arrays → JSON text: list cells crash the driver's
          // pandas sort (ADVICE r2); to_json formats bit-match DuckDB's.
          .withColumn("qual1", to_json(col("qual1")))
          .withColumn("qual2", to_json(col("qual2")))
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(1 AS BIGINT), 'r1', 'first read', 'ACGT', 'CCGG',
             |   CAST(to_json(CAST([40,40,40,40] AS SMALLINT[])) AS VARCHAR),
             |   CAST(to_json(CAST([37,37,37,37] AS SMALLINT[])) AS VARCHAR)),
             |  (CAST(2 AS BIGINT), 'r2', NULL, 'TTAA', 'GGTT',
             |   CAST(to_json(CAST([39,39,39,39] AS SMALLINT[])) AS VARCHAR),
             |   CAST(to_json(CAST([36,36,36,36] AS SMALLINT[])) AS VARCHAR))
             |) AS t(sequence_index, read_id, comment, sequence1, sequence2, qual1, qual2)""".stripMargin)),

    // 2B: read_alignments DataSource V2 (SAM text fixture). Oracle: the
    // expected 21-col rows inline — stop_position = endpos+1, mate '='
    // normalization, NULL absent tags.
    QueryDef(
      "b13_read_alignments",
      (s, d) => {
        val pw = new java.io.PrintWriter("/tmp/graft_b13.sam")
        try pw.write(
          "@HD\tVN:1.6\n@SQ\tSN:ref1\tLN:1000\n" +
            "q1\t0\tref1\t100\t60\t8M2I5M\t*\t0\t0\tACGTACGTACGTACG\tIIIIIIIIIIIIIII\tAS:i:25\tNM:i:2\tMD:Z:11A1\n" +
            "q2\t99\tref1\t200\t30\t10M\tref1\t250\t60\tACGTACGTAC\tIIIIIIIIII\tYT:Z:CP\n" +
            "q3\t4\t*\t0\t0\t*\t*\t0\t0\tACGT\tIIII\n")
        finally pw.close()
        s.read.format("alignments").load("/tmp/graft_b13.sam")
      },
      Some("""SELECT * FROM (VALUES
             |  ('q1', 0, 'ref1', CAST(100 AS BIGINT), CAST(113 AS BIGINT), CAST(60 AS SMALLINT),
             |   '8M2I5M', '*', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             |   CAST(25 AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(2 AS BIGINT),
             |   CAST(NULL AS VARCHAR), '11A1', CAST(NULL AS VARCHAR)),
             |  ('q2', 99, 'ref1', CAST(200 AS BIGINT), CAST(210 AS BIGINT), CAST(30 AS SMALLINT),
             |   '10M', '=', CAST(250 AS BIGINT), CAST(60 AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), 'CP',
             |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
             |  ('q3', 4, '*', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS SMALLINT),
             |   '*', '*', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
             |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))
             |) AS t(read_id, flags, reference, position, stop_position, mapq, cigar,
             |       mate_reference, mate_position, template_length, tag_as, tag_xs, tag_ys,
             |       tag_xn, tag_xm, tag_xo, tag_xg, tag_nm, tag_yt, tag_md, tag_sa)""".stripMargin)),

    // 2G: FASTQ sink round-trip — lineitem-derived reads written via
    // copyFastq then re-read via the fastx source; oracle derives the
    // same relation logically (writer∘reader = identity).
    QueryDef(
      "b14_copy_fastq",
      (s, d) => {
        val src = Tables.lineitem(s, d)
          .filter(col("l_orderkey") < 500)
          .select(
            concat(lit("read"), col("l_orderkey"), lit("_"), col("l_linenumber")).as("read_id"),
            expr("substring('ACGTACGTACGTACGT', 1, 4 + CAST(l_orderkey % 8 AS INT))").as("sequence1"),
            col("l_linenumber"))
          .withColumn("qual1",
            transform(sequence(lit(1), length(col("sequence1"))),
              i => (col("l_linenumber") % 40 + 2).cast("short")))
          .drop("l_linenumber")
        graft.ops.Writers.copyFastq(src, "/tmp/graft_b14.fastq")
        s.read.format("fastx").load("/tmp/graft_b14.fastq")
          .select(col("read_id"), col("sequence1"),
            // to_json: list cells crash the driver's pandas sort (ADVICE r2)
            to_json(col("qual1")).as("qual1"))
      },
      Some("""SELECT 'read' || l_orderkey || '_' || l_linenumber AS read_id,
             |       substr('ACGTACGTACGTACGT', 1, CAST(4 + l_orderkey % 8 AS INTEGER)) AS sequence1,
             |       CAST(to_json(list_transform(generate_series(1, CAST(4 + l_orderkey % 8 AS INTEGER)),
             |         i -> CAST(l_linenumber % 40 + 2 AS SMALLINT))) AS VARCHAR) AS qual1
             |  FROM lineitem WHERE l_orderkey < 500""".stripMargin)),

    // 2G: FASTA sink round-trip — writer∘reader = identity on
    // lineitem-derived sequences (qual columns NULL for FASTA).
    QueryDef(
      "b29_copy_fasta",
      (s, d) => {
        val src = Tables.lineitem(s, d)
          .filter(col("l_orderkey") < 500)
          .select(
            concat(lit("seq"), col("l_orderkey"), lit("_"), col("l_linenumber")).as("read_id"),
            expr("substring('ACGTACGTACGTACGT', 1, 4 + CAST(l_orderkey % 8 AS INT))").as("sequence1"))
        graft.ops.Writers.copyFasta(src, "/tmp/graft_b29.fasta")
        s.read.format("fastx").load("/tmp/graft_b29.fasta")
          .select(col("read_id"), col("sequence1"), to_json(col("qual1")).as("qual1"))
      },
      Some("""SELECT 'seq' || l_orderkey || '_' || l_linenumber AS read_id,
             |       substr('ACGTACGTACGTACGT', 1, CAST(4 + l_orderkey % 8 AS INTEGER)) AS sequence1,
             |       CAST(NULL AS VARCHAR) AS qual1
             |  FROM lineitem WHERE l_orderkey < 500""".stripMargin)),

    // 2G: SAM sink round-trip — synthetic alignments written via
    // copySam (with @SQ header) then re-read; oracle derives the
    // relation logically incl. stop_position arithmetic.
    QueryDef(
      "b15_copy_sam",
      (s, d) => {
        val src = Tables.lineitem(s, d)
          .filter(col("l_orderkey") < 500)
          .select(
            concat(lit("q"), col("l_orderkey"), lit("_"), col("l_linenumber")).as("read_id"),
            (lit(16) * (col("l_linenumber") % 2)).cast("int").as("flags"),
            concat(lit("ref"), (col("l_suppkey") % 5)).as("reference"),
            (col("l_orderkey") % 10000 + 1).as("position"),
            lit(60).cast("short").as("mapq"),
            concat(col("l_quantity").cast("long"), lit("M")).as("cigar"),
            lit("*").as("mate_reference"),
            lit(0L).as("mate_position"),
            lit(0L).as("template_length"),
            (col("l_suppkey") % 100).as("tag_as"))
        graft.ops.Writers.copySam(src, "/tmp/graft_b15.sam", includeHeader = true)
        s.read.format("alignments").load("/tmp/graft_b15.sam")
          .select("read_id", "flags", "reference", "position", "stop_position",
            "cigar", "tag_as", "tag_nm")
      },
      Some("""SELECT 'q' || l_orderkey || '_' || l_linenumber AS read_id,
             |       CAST(16 * (l_linenumber % 2) AS INTEGER) AS flags,
             |       'ref' || CAST(l_suppkey % 5 AS VARCHAR) AS reference,
             |       (l_orderkey % 10000 + 1) AS position,
             |       (l_orderkey % 10000 + 1) + CAST(l_quantity AS BIGINT) AS stop_position,
             |       CAST(l_quantity AS BIGINT) || 'M' AS cigar,
             |       (l_suppkey % 100) AS tag_as,
             |       CAST(NULL AS BIGINT) AS tag_nm
             |  FROM lineitem WHERE l_orderkey < 500""".stripMargin)),

    // 2B: read_newick — tree-as-table (one row per node, parent
    // pointers). Oracle: the expected node table inline.
    QueryDef(
      "b16_read_newick",
      (s, d) => {
        val pw = new java.io.PrintWriter("/tmp/graft_b16.nwk")
        try pw.write("((A:0.1,B:0.2):0.3,C:0.4);\n") finally pw.close()
        graft.ops.NewickOps.readNewick(s, "/tmp/graft_b16.nwk")
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(0 AS BIGINT), '', CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), false),
             |  (CAST(1 AS BIGINT), '', 0.3, CAST(NULL AS BIGINT), CAST(0 AS BIGINT), false),
             |  (CAST(2 AS BIGINT), 'A', 0.1, CAST(NULL AS BIGINT), CAST(1 AS BIGINT), true),
             |  (CAST(3 AS BIGINT), 'B', 0.2, CAST(NULL AS BIGINT), CAST(1 AS BIGINT), true),
             |  (CAST(4 AS BIGINT), 'C', 0.4, CAST(NULL AS BIGINT), CAST(0 AS BIGINT), true)
             |) AS t(node_index, name, branch_length, edge_id, parent_index, is_tip)""".stripMargin)),

    // 2G: COPY NEWICK round-trip with jplace placement grafting
    // (insert_fully_resolved): build node table → graft fragment F on
    // edge 0 → serialize → re-read → compare topology-independent
    // projection. Oracle re-derives the grafted tree by hand; computed
    // branch lengths use IEEE expressions (1.0-0.3), not literals.
    QueryDef(
      "b17_copy_newick",
      (s, d) => {
        import s.implicits._
        val nodes = Seq(
          (0L, None: Option[Long], "", Some(0.0), Some(4L)),
          (1L, Some(0L), "", Some(0.5), Some(2L)),
          (2L, Some(1L), "A", Some(1.0), Some(0L)),
          (3L, Some(1L), "B", Some(2.0), Some(1L)),
          (4L, Some(0L), "C", Some(3.0), Some(3L)))
          .toDF("node_index", "parent_index", "name", "branch_length", "edge_id")
        val placements = Seq(("F", 0L, -100.5, 0.9, 0.3, 0.1))
          .toDF("fragment", "edge_num", "likelihood", "like_weight_ratio",
            "distal_length", "pendant_length")
        graft.ops.NewickOps.copyNewick(nodes, "/tmp/graft_b17.nwk", Some(placements))
        graft.ops.NewickOps.readNewick(s, "/tmp/graft_b17.nwk")
          .select(col("name"), col("branch_length"), col("is_tip"))
      },
      Some("""SELECT * FROM (VALUES
             |  ('', CAST(0.0 AS DOUBLE), false),
             |  ('', CAST(0.5 AS DOUBLE), false),
             |  ('', CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE), false),
             |  ('A', CAST(0.3 AS DOUBLE), true),
             |  ('B', CAST(2.0 AS DOUBLE), true),
             |  ('C', CAST(3.0 AS DOUBLE), true),
             |  ('F', CAST(0.1 AS DOUBLE), true)
             |) AS t(name, branch_length, is_tip)""".stripMargin)),

    // 2B: read_sequences_sam — SEQ/QUAL extraction into the 7-col
    // sequence schema (comment/sequence2/qual2 always NULL).
    QueryDef(
      "b18_read_sequences_sam",
      (s, d) => {
        val pw = new java.io.PrintWriter("/tmp/graft_b18.sam")
        try pw.write(
          "@HD\tVN:1.6\n" +
            "read1\t4\t*\t0\t0\t*\t*\t0\t0\tACGTACGT\tIIIIHHHH\n" +
            "read2\t4\t*\t0\t0\t*\t*\t0\t0\tTGCA\t!!!!\n" +
            "read3\t4\t*\t0\t0\t*\t*\t0\t0\tNNNN\t*\n")
        finally pw.close()
        s.read.format("sam_sequences").load("/tmp/graft_b18.sam")
          // to_json: list cells crash the driver's pandas sort (ADVICE r2)
          .withColumn("qual1", to_json(col("qual1")))
          .withColumn("qual2", to_json(col("qual2")))
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(1 AS BIGINT), 'read1', CAST(NULL AS VARCHAR), 'ACGTACGT',
             |   CAST(NULL AS VARCHAR),
             |   CAST(to_json(CAST([40,40,40,40,39,39,39,39] AS SMALLINT[])) AS VARCHAR),
             |   CAST(NULL AS VARCHAR)),
             |  (CAST(2 AS BIGINT), 'read2', CAST(NULL AS VARCHAR), 'TGCA',
             |   CAST(NULL AS VARCHAR),
             |   CAST(to_json(CAST([0,0,0,0] AS SMALLINT[])) AS VARCHAR),
             |   CAST(NULL AS VARCHAR)),
             |  (CAST(3 AS BIGINT), 'read3', CAST(NULL AS VARCHAR), 'NNNN',
             |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))
             |) AS t(sequence_index, read_id, comment, sequence1, sequence2, qual1, qual2)""".stripMargin)),

    // 2D: align_pairwise_* — score/cigar over pairs with 0 or exactly 1
    // substitution (optimum provably gap-free ⇒ score = 4·mismatches).
    QueryDef(
      "b19_align_pairwise",
      (s, d) => {
        val p = Tables.part(s, d)
          .withColumn("seq", expr("substring('ACGTACGTACGTACGT', 1, 8 + CAST(p_partkey % 6 AS INT))"))
          .withColumn("seq2", when(col("p_partkey") % 3 === 0, col("seq"))
            .otherwise(concat(substring(col("seq"), 1, 1), lit("Z"),
              expr("substring(seq, 3)"))))
        p.select(
          col("p_partkey"), col("seq"), col("seq2"),
          PairwiseFunctions.alignPairwiseScore(col("seq"), col("seq2")).as("score"),
          PairwiseFunctions.alignPairwiseCigar(col("seq"), col("seq2"))
            .getField("cigar").as("cigar"))
      },
      Some("""SELECT p_partkey,
             |       substr('ACGTACGTACGTACGT', 1, CAST(8 + p_partkey % 6 AS INTEGER)) AS seq,
             |       CASE WHEN p_partkey % 3 = 0
             |            THEN substr('ACGTACGTACGTACGT', 1, CAST(8 + p_partkey % 6 AS INTEGER))
             |            ELSE substr('ACGTACGTACGTACGT', 1, 1) || 'Z' ||
             |                 substr(substr('ACGTACGTACGTACGT', 1, CAST(8 + p_partkey % 6 AS INTEGER)), 3)
             |       END AS seq2,
             |       CASE WHEN p_partkey % 3 = 0 THEN 0 ELSE 4 END AS score,
             |       CASE WHEN p_partkey % 3 = 0
             |            THEN CAST(8 + p_partkey % 6 AS VARCHAR) || '='
             |            ELSE '1=1X' || CAST(6 + p_partkey % 6 AS VARCHAR) || '='
             |       END AS cigar
             |  FROM part""".stripMargin)),

    // 2C: rype minimizer extraction — the mix64 hash uses 64-bit
    // wrapping multiplication DuckDB can't express, so the oracle pins
    // kernel-derived expected rows over the deterministic genomes
    // (regenerate with `runMain graft.tools.RypePin`); algorithmic
    // invariants (rc/fwd symmetry, unsigned sort, salt sensitivity)
    // live in RypeSpec.
    QueryDef(
      "b20_rype_extract",
      (s, d) => {
        import s.implicits._
        val seqs = graft.queries.LayerB.syntheticGenomes(3, 400)
          .zipWithIndex.map { case (g, i) => (s"seq$i", g) }.toDF("read_id", "sequence1")
        graft.ops.RypeOps.rypeExtractMinimizerSet(seqs, k = 16, w = 5)
          .select(col("read_id"), size(col("fwd_set")).as("n_fwd"),
            size(col("rc_set")).as("n_rc"))
      },
      Some("""SELECT read_id, n_fwd, n_rc FROM (VALUES
             |  ('seq0', 124, 124), ('seq1', 115, 118), ('seq2', 121, 115))
             |  t(read_id, n_fwd, n_rc)""".stripMargin)),

    // 2C: rype classify — the oracle pins the classification RypePin
    // re-derives from the kernel with plain Scala collections (set
    // scores + threshold), independently of the distributed
    // inverted-index join under test; every planted read must map to
    // exactly its source bucket.
    QueryDef(
      "b21_rype_classify",
      (s, d) => {
        import s.implicits._
        val genomes = graft.queries.LayerB.syntheticGenomes(3, 800)
        val subjects = genomes.zipWithIndex
          .map { case (g, i) => (s"bucket$i", g) }.toDF("bucket_name", "sequence1")
        val index = graft.ops.RypeOps.buildIndex(subjects, k = 16, w = 5)
        val reads = genomes.zipWithIndex.flatMap { case (g, i) =>
          (0 until 3).map(j => (s"b${i}_r$j", g.substring(j * 120, j * 120 + 150)))
        }.toDF("read_id", "sequence1")
        graft.ops.RypeOps.rypeClassify(index, reads, k = 16, w = 5, threshold = 0.5)
          .select("read_id", "bucket_name")
      },
      Some("""SELECT read_id, bucket_name FROM (VALUES
             |  ('b0_r0', 'bucket0'), ('b0_r1', 'bucket0'), ('b0_r2', 'bucket0'),
             |  ('b1_r0', 'bucket1'), ('b1_r1', 'bucket1'), ('b1_r2', 'bucket1'),
             |  ('b2_r0', 'bucket2'), ('b2_r1', 'bucket2'), ('b2_r2', 'bucket2'))
             |  t(read_id, bucket_name)""".stripMargin)),

    // 2C: align_minimap2 — exact substrings of deterministic genomes
    // must align at their source offset with an all-match CIGAR.
    // Oracle: the expected primary alignments inline.
    QueryDef(
      "b22_align_minimap2",
      (s, d) => {
        import s.implicits._
        val genomes = graft.queries.LayerB.syntheticGenomes(2, 600)
        val subjects = genomes.zipWithIndex
          .map { case (g, i) => (s"ref$i", g) }.toDF("read_id", "sequence1")
        val queries = Seq(
          ("q0", genomes(0).substring(100, 220)),
          ("q1", genomes(1).substring(250, 370)))
          .toDF("read_id", "sequence1")
        graft.ops.AlignOps.alignMinimap2(queries, subjects, k = 16, w = 5)
          .filter((col("flags").bitwiseAND(lit(0x104))) === 0)
          .select("read_id", "flags", "reference", "position", "stop_position",
            "cigar", "tag_nm")
      },
      Some("""SELECT * FROM (VALUES
             |  ('q0', 0, 'ref0', CAST(101 AS BIGINT), CAST(221 AS BIGINT), '120=', CAST(0 AS BIGINT)),
             |  ('q1', 0, 'ref1', CAST(251 AS BIGINT), CAST(371 AS BIGINT), '120=', CAST(0 AS BIGINT))
             |) AS t(read_id, flags, reference, position, stop_position, cigar, tag_nm)""".stripMargin)),

    // 2C: sharded alignment — per-shard sub-jobs unioned.
    QueryDef(
      "b23_align_sharded",
      (s, d) => {
        import s.implicits._
        val genomes = graft.queries.LayerB.syntheticGenomes(2, 500)
        Seq(("sA_ref", genomes(0))).toDF("read_id", "sequence1")
          .write.mode("overwrite").parquet("/tmp/graft_b23_shards/shardA.parquet")
        Seq(("sB_ref", genomes(1))).toDF("read_id", "sequence1")
          .write.mode("overwrite").parquet("/tmp/graft_b23_shards/shardB.parquet")
        val queries = Seq(
          ("r0", genomes(0).substring(60, 180)),
          ("r1", genomes(1).substring(60, 180))).toDF("read_id", "sequence1")
        val readToShard = Seq(("r0", "shardA"), ("r1", "shardB")).toDF("read_id", "shard_name")
        graft.ops.AlignOps.alignMinimap2Sharded(queries, "/tmp/graft_b23_shards",
          readToShard, k = 16, w = 5)
          .filter((col("flags").bitwiseAND(lit(0x104))) === 0)
          .select("read_id", "reference", "position", "cigar")
      },
      Some("""SELECT * FROM (VALUES
             |  ('r0', 'sA_ref', CAST(61 AS BIGINT), '120='),
             |  ('r1', 'sB_ref', CAST(61 AS BIGINT), '120=')
             |) AS t(read_id, reference, position, cigar)""".stripMargin)),

    // 2B: read_biom over the reference's committed HDF5 fixture via
    // the pure-JVM HDF5 subset codec — oracle pins the rows from
    // test/sql/read_biom.test:30-46.
    QueryDef(
      "b28_read_biom_hdf5",
      (s, d) =>
        graft.ops.BiomOps.readBiomHdf5(s, BiomFixture),
      Some("""SELECT * FROM (VALUES
             |  ('Sample1','GG_OTU_2',5.0),('Sample1','GG_OTU_4',2.0),
             |  ('Sample2','GG_OTU_2',1.0),('Sample2','GG_OTU_4',1.0),
             |  ('Sample2','GG_OTU_5',1.0),('Sample3','GG_OTU_1',1.0),
             |  ('Sample3','GG_OTU_3',1.0),('Sample3','GG_OTU_4',1.0),
             |  ('Sample3','GG_OTU_5',1.0),('Sample4','GG_OTU_2',2.0),
             |  ('Sample4','GG_OTU_3',4.0),('Sample5','GG_OTU_2',3.0),
             |  ('Sample6','GG_OTU_2',1.0),('Sample6','GG_OTU_3',2.0),
             |  ('Sample6','GG_OTU_4',1.0)
             |) AS t(sample_id, feature_id, value)""".stripMargin),
      inputs = Seq(BiomFixture)),

    // 2B/2G: BIOM COO round-trip over the documented parquet container
    // — duplicate (sample, feature) pairs summed, zeros dropped.
    QueryDef(
      "b24_biom_roundtrip",
      (s, d) => {
        val coo = Tables.lineitem(s, d).select(
          concat(lit("s"), (col("l_suppkey") % 10)).as("sample_id"),
          concat(lit("f"), (col("l_partkey") % 50)).as("feature_id"),
          (col("l_quantity") - 25.0).as("value"))
        graft.ops.BiomOps.copyBiom(coo, "/tmp/graft_b24.biomq")
        graft.ops.BiomOps.readBiom(s, "/tmp/graft_b24.biomq")
      },
      Some("""SELECT 's' || CAST(l_suppkey % 10 AS VARCHAR) AS sample_id,
             |       'f' || CAST(l_partkey % 50 AS VARCHAR) AS feature_id,
             |       SUM(l_quantity - 25.0) AS value
             |  FROM lineitem
             | GROUP BY 1, 2
             |HAVING SUM(l_quantity - 25.0) != 0""".stripMargin)),

    // Flagship pipeline (SURVEY §7.3 minimum slice) over REAL data:
    // the reference's 252k-row alignment parquet → primary-alignment +
    // mapq filters (our scalar surface) → woltka_ogu_per_sample.
    // Oracle: DuckDB re-derives the whole pipeline with inline SQL
    // (bit tests + window + group) from the same file.
    QueryDef(
      "b27_flagship_pipeline",
      (s, d) => {
        val aln = s.read
          .parquet(WoltkaParquet)
          .filter(AlignmentFlags.alignmentIsPrimary(col("flags").cast("int"))
            && col("mapq").cast("int") >= 1)
        Woltka.woltkaOguPerSample(aln, "common_sample_name", "read_id")
          .select(col("sample_id"), col("feature_id"), round(col("value"), 4).as("value"))
      },
      Some(s"""WITH aln AS (
             |  SELECT * FROM read_parquet('$WoltkaParquet')
             |   WHERE (CAST(flags AS INTEGER) & 256) = 0
             |     AND (CAST(flags AS INTEGER) & 2048) = 0
             |     AND CAST(mapq AS INTEGER) >= 1),
             |base AS (
             |  SELECT DISTINCT read_id AS qid, common_sample_name AS sample_id,
             |         reference AS feature_id,
             |         (CAST(flags AS INTEGER) & 64) != 0 AS is_fwd
             |    FROM aln),
             |wc AS (
             |  SELECT sample_id, feature_id,
             |         1.0 / COUNT(*) OVER (PARTITION BY qid, is_fwd) AS lv
             |    FROM base)
             |SELECT sample_id, feature_id, ROUND(SUM(lv), 4) AS value
             |  FROM wc GROUP BY sample_id, feature_id""".stripMargin),
      inputs = Seq(WoltkaParquet)),

    // 2B: read_sequences_sff over the reference's committed binary
    // fixture — expected rows pinned from test/sql/read_sequences_sff
    // .test:45-49.
    QueryDef(
      "b25_read_sff",
      (s, d) =>
        s.read.format("sff").load(SffFixture)
          // to_json: list cells crash the driver's pandas sort (ADVICE r2)
          .withColumn("qual1", to_json(col("qual1")))
          .withColumn("qual2", to_json(col("qual2"))),
      Some("""SELECT * FROM (VALUES
             |  (CAST(1 AS BIGINT), 'READ_1', CAST(NULL AS VARCHAR), 'TCAGATTGCAGG',
             |   CAST(NULL AS VARCHAR),
             |   CAST(to_json(CAST([30,30,25,35,40,38,36,30,28,25,20,15] AS SMALLINT[])) AS VARCHAR),
             |   CAST(NULL AS VARCHAR)),
             |  (CAST(2 AS BIGINT), 'READ_2', CAST(NULL AS VARCHAR), 'TCAGCCTAAGTC',
             |   CAST(NULL AS VARCHAR),
             |   CAST(to_json(CAST([35,35,30,40,38,33,30,28,35,30,25,20] AS SMALLINT[])) AS VARCHAR),
             |   CAST(NULL AS VARCHAR))
             |) AS t(sequence_index, read_id, comment, sequence1, sequence2, qual1, qual2)""".stripMargin),
      inputs = Seq(SffFixture)),

    // 2G: COPY BAM round-trip — binary BGZF writer ∘ reader = identity
    // on the same lineitem-derived alignments as b15.
    QueryDef(
      "b26_copy_bam",
      (s, d) => {
        val src = Tables.lineitem(s, d)
          .filter(col("l_orderkey") < 500)
          .select(
            concat(lit("q"), col("l_orderkey"), lit("_"), col("l_linenumber")).as("read_id"),
            (lit(16) * (col("l_linenumber") % 2)).cast("int").as("flags"),
            concat(lit("ref"), (col("l_suppkey") % 5)).as("reference"),
            (col("l_orderkey") % 10000 + 1).as("position"),
            lit(60).cast("short").as("mapq"),
            concat(col("l_quantity").cast("long"), lit("M")).as("cigar"),
            lit("*").as("mate_reference"),
            lit(0L).as("mate_position"),
            lit(0L).as("template_length"),
            (col("l_suppkey") % 100).as("tag_as"),
            concat(col("l_quantity").cast("long"), lit("A0")).as("tag_md"))
        graft.ops.Writers.copyBam(src, "/tmp/graft_b26.bam")
        s.read.format("alignments").load("/tmp/graft_b26.bam")
          .select("read_id", "flags", "reference", "position", "stop_position",
            "cigar", "tag_as", "tag_md")
      },
      Some("""SELECT 'q' || l_orderkey || '_' || l_linenumber AS read_id,
             |       CAST(16 * (l_linenumber % 2) AS INTEGER) AS flags,
             |       'ref' || CAST(l_suppkey % 5 AS VARCHAR) AS reference,
             |       (l_orderkey % 10000 + 1) AS position,
             |       (l_orderkey % 10000 + 1) + CAST(l_quantity AS BIGINT) AS stop_position,
             |       CAST(l_quantity AS BIGINT) || 'M' AS cigar,
             |       (l_suppkey % 100) AS tag_as,
             |       CAST(l_quantity AS BIGINT) || 'A0' AS tag_md
             |  FROM lineitem WHERE l_orderkey < 500""".stripMargin)),

    // 2C+2F composition — the reference Quick Start pipeline
    // (README.md:10-41): align reads → quality-filter → woltka_ogu.
    // Two genomes share a planted 200bp region, so reads from it map
    // to both refs and exercise the fractional multi-mapping path:
    // 3 reads unique to refA (+1 each), 2 unique to refB, 2 shared
    // (+0.5 to each side) → refA 4.0, refB 3.0. Junk low-identity
    // secondaries are dropped by the Quick Start's identity filter.
    QueryDef(
      "b30_align_woltka_pipeline",
      (s, d) => {
        import s.implicits._
        val g0 = syntheticGenomes(2, 800).head
        val g1base = syntheticGenomes(4, 800)(3)
        val g1 = g1base.substring(0, 250) + g0.substring(100, 300) + g1base.substring(450)
        val subjects = Seq(("refA", g0), ("refB", g1)).toDF("read_id", "sequence1")
        val reads = Seq(
          ("u0a", g0.substring(350, 470)), ("u0b", g0.substring(450, 570)),
          ("u0c", g0.substring(600, 720)),
          ("u1a", g1.substring(500, 620)), ("u1b", g1.substring(620, 740)),
          ("s0", g0.substring(120, 240)), ("s1", g0.substring(160, 280)))
          .toDF("read_id", "sequence1")
        val aligned = graft.ops.AlignOps.alignMinimap2(reads, subjects,
          graft.ops.AlignOps.Minimap2Params(k = 16, w = 5))
        val hq = aligned.filter(
          AlignmentFunctions.alignmentSeqIdentity(
            col("cigar"), col("tag_nm"), lit(null).cast("string"), "blast") >= 0.95)
        Woltka.woltkaOgu(hq, "read_id")
          .select(col("feature_id"), round(col("value"), 6).as("value"))
      },
      Some("""SELECT * FROM (VALUES ('refA', 4.0), ('refB', 3.0))
             |  AS t(feature_id, value)""".stripMargin)),

    // 2C option parity: preset k/w bundle baked into a saved index,
    // align-from-index, eqx=false M-CIGARs (reference:
    // src/align_minimap2.cpp named params preset/k/w/eqx/index_path,
    // src/save_minimap2_index.cpp).
    QueryDef(
      "b31_align_options",
      (s, d) => {
        import s.implicits._
        val genomes = syntheticGenomes(2, 600)
        val subjects = genomes.zipWithIndex
          .map { case (g, i) => (s"ref$i", g) }.toDF("read_id", "sequence1")
        graft.ops.AlignOps.saveAlignerIndex(subjects, "/tmp/graft_b31_index",
          graft.ops.AlignOps.Minimap2Params(preset = "map-ont")).collect()
        val queries = Seq(
          ("q0", genomes(0).substring(100, 220)),
          ("q1", genomes(1).substring(250, 370)))
          .toDF("read_id", "sequence1")
        graft.ops.AlignOps.alignMinimap2FromIndex(queries, "/tmp/graft_b31_index",
          graft.ops.AlignOps.Minimap2Params(eqx = false))
          .filter((col("flags").bitwiseAND(lit(0x104))) === 0)
          .select("read_id", "reference", "position", "cigar", "tag_md", "tag_yt")
      },
      Some("""SELECT * FROM (VALUES
             |  ('q0', 'ref0', CAST(101 AS BIGINT), '120M', '120', 'UU'),
             |  ('q1', 'ref1', CAST(251 AS BIGINT), '120M', '120', 'UU')
             |) AS t(read_id, reference, position, cigar, tag_md, tag_yt)""".stripMargin)),

    // 2C: rype_extract_strand_minimizers — position-preserving variant
    // (reference: src/rype_extract.cpp, len(hashes)==len(positions)
    // invariant). Oracle pins kernel-derived counts, 0-based position
    // arrays (JSON) and the first/last hash per strand (regenerate
    // with `runMain graft.tools.RypePin`).
    QueryDef(
      "b32_rype_strand_minimizers",
      (s, d) => {
        import s.implicits._
        val seqs = syntheticGenomes(2, 150)
          .zipWithIndex.map { case (g, i) => (s"seq$i", g) }.toDF("read_id", "sequence1")
        graft.ops.RypeOps.rypeExtractStrandMinimizers(seqs, k = 16, w = 5)
          .select(col("read_id"),
            size(col("fwd_hashes")).as("n_fwd"),
            to_json(col("fwd_positions")).as("fwd_pos"),
            element_at(col("fwd_hashes"), 1).as("fwd_h_first"),
            element_at(col("fwd_hashes"), -1).as("fwd_h_last"),
            size(col("rc_hashes")).as("n_rc"),
            to_json(col("rc_positions")).as("rc_pos"),
            element_at(col("rc_hashes"), 1).as("rc_h_first"),
            element_at(col("rc_hashes"), -1).as("rc_h_last"))
      },
      Some("""SELECT * FROM (VALUES
             |  ('seq0', 42, '[3,5,10,14,16,20,24,26,29,33,35,39,42,44,46,48,52,56,58,60,62,63,65,70,74,76,79,82,87,89,91,96,101,106,109,113,116,119,121,125,128,131]', 6148914691236497815, 6148914691236507981, 41, '[2,7,11,13,17,20,23,27,29,32,35,39,42,47,50,52,57,59,64,69,72,76,78,83,85,90,92,94,96,100,102,104,106,109,113,117,119,122,127,128,132]', 6148914691236505273, 6148914691236506846),
             |  ('seq1', 40, '[2,7,11,16,18,23,25,28,31,33,36,40,44,46,49,53,55,59,64,68,70,73,77,81,86,89,92,96,99,101,104,108,110,115,117,121,123,128,129,131]', 6148914691236499050, 6148914691236501888, 41, '[1,3,5,7,10,14,17,19,23,25,30,31,36,38,40,44,47,52,56,59,62,67,71,75,78,80,84,89,93,97,99,102,107,108,112,115,117,120,123,128,130]', 6148914691236495462, 6148914691236500892)
             |) AS t(read_id, n_fwd, fwd_pos, fwd_h_first, fwd_h_last, n_rc, rc_pos, rc_h_first, rc_h_last)""".stripMargin)),

    // 2B: read_alignments over BGZF BAM — the reference's committed
    // binary fixture decoded by the pure-JVM BamCodec; oracle pins the
    // rows from the fixture's SAM twin (foo_has_header.sam): endpos+1
    // stop, '=' mate normalization, untyped tags (DE:f, RL:i) dropped.
    QueryDef(
      "b33_read_bam",
      (s, d) =>
        s.read.format("alignments")
          .load(BamFixture),
      Some("""SELECT * FROM (VALUES
             |  ('foo-1', 0, 'G1234', CAST(2 AS BIGINT), CAST(12 AS BIGINT), CAST(60 AS SMALLINT),
             |   '10M', '*', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
             |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
             |  ('foo-2', 0, 'G1234', CAST(2 AS BIGINT), CAST(12 AS BIGINT), CAST(60 AS SMALLINT),
             |   '10M', '*', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
             |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
             |  ('foo-3', 99, 'G000144735', CAST(76020 AS BIGINT), CAST(76170 AS BIGINT), CAST(1 AS SMALLINT),
             |   '150M', '=', CAST(76146 AS BIGINT), CAST(276 AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
             |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
             |  ('foo-3', 147, 'G000144735', CAST(76146 AS BIGINT), CAST(76296 AS BIGINT), CAST(1 AS SMALLINT),
             |   '150M', '=', CAST(76020 AS BIGINT), CAST(-276 AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
             |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))
             |) AS t(read_id, flags, reference, position, stop_position, mapq, cigar,
             |       mate_reference, mate_position, template_length, tag_as, tag_xs, tag_ys,
             |       tag_xn, tag_xm, tag_xo, tag_xg, tag_nm, tag_yt, tag_md, tag_sa)""".stripMargin),
      inputs = Seq(BamFixture)),

    // 2B: read_alignments over CRAM 3.0 — the pure-JVM CramCodec
    // (gzip+rANS4x8 blocks, multi-ref slices, reference-based decode
    // against ce.fa, MD/NM regeneration) on htslib's committed
    // range.cram. Oracle pins per-reference aggregates computed from
    // the INDEPENDENT BAM-twin decode path (range.bam via BamCodec,
    // itself oracle- and golden-anchored in b33); CramSpec pins full
    // 21-column + seq/qual row equality of the two paths.
    QueryDef(
      "b34_read_cram",
      (s, d) =>
        s.read.format("alignments")
          .option("reference_fasta", CeFasta)
          .load(RangeCram)
          .groupBy("reference").agg(
            count(lit(1)).as("n"),
            sum("position").as("sum_pos"),
            sum("flags").as("sum_flags"),
            sum("mapq").as("sum_mapq"),
            sum("tag_nm").as("sum_nm"),
            sum(length(col("cigar"))).as("sum_cigar_len"),
            sum(length(col("tag_md"))).as("sum_md_len")),
      Some("""SELECT * FROM (VALUES
             |  ('CHROMOSOME_I',   CAST(18 AS BIGINT), CAST(27180 AS BIGINT), CAST(2226 AS BIGINT),
             |   CAST(729 AS BIGINT), CAST(10 AS BIGINT), CAST(82 AS BIGINT), CAST(77 AS BIGINT)),
             |  ('CHROMOSOME_II',  CAST(34 AS BIGINT), CAST(67353 AS BIGINT), CAST(4148 AS BIGINT),
             |   CAST(2017 AS BIGINT), CAST(3 AS BIGINT), CAST(136 AS BIGINT), CAST(108 AS BIGINT)),
             |  ('CHROMOSOME_III', CAST(41 AS BIGINT), CAST(83850 AS BIGINT), CAST(5099 AS BIGINT),
             |   CAST(2398 AS BIGINT), CAST(14 AS BIGINT), CAST(165 AS BIGINT), CAST(150 AS BIGINT)),
             |  ('CHROMOSOME_IV',  CAST(19 AS BIGINT), CAST(31196 AS BIGINT), CAST(2361 AS BIGINT),
             |   CAST(68 AS BIGINT), CAST(1 AS BIGINT), CAST(76 AS BIGINT), CAST(58 AS BIGINT))
             |) AS t(reference, n, sum_pos, sum_flags, sum_mapq, sum_nm, sum_cigar_len, sum_md_len)""".stripMargin),
      inputs = Seq(CeFasta, RangeCram)),

    // 2B: every CRAM container version htslib can write (2.1, 3.1 in
    // all three encoder profiles, draft 4.0 ditto) decodes the same
    // 1000 reads to identical aggregates — one glob read, grouped by
    // the version token in the filename. Exercises tok3/arith/fqzcomp
    // (3.1/4.0 small+archive), the 2.x ITF8/CRC-less layout and the
    // 4.0 varint layout in the driver's own gate; Cram31Spec pins full
    // row equality of each file against the SAM twin.
    QueryDef(
      "b35_read_cram_versions",
      (s, d) =>
        s.read.format("alignments")
          .option("reference_fasta", CeFasta)
          .option("include_filepath", "true")
          .load(s"$Cram31Dir/ce1000_*.cram")
          .withColumn("version",
            regexp_extract(col("filepath"), "ce1000_(v[0-9]+(_[a-z]+)?)\\.cram$", 1))
          .groupBy("version").agg(
            count(lit(1)).as("n"),
            sum("position").as("sum_pos"),
            sum("flags").as("sum_flags"),
            sum("mapq").as("sum_mapq"),
            sum("tag_nm").as("sum_nm"),
            sum(length(col("cigar"))).as("sum_cigar_len"),
            sum(length(col("tag_md"))).as("sum_md_len")),
      Some("""SELECT t.version, CAST(1000 AS BIGINT) AS n, CAST(92208 AS BIGINT) AS sum_pos,
             |  CAST(7024 AS BIGINT) AS sum_flags, CAST(1088 AS BIGINT) AS sum_mapq,
             |  CAST(1531 AS BIGINT) AS sum_nm, CAST(4051 AS BIGINT) AS sum_cigar_len,
             |  CAST(5798 AS BIGINT) AS sum_md_len
             |FROM (VALUES ('v21'), ('v31'), ('v31_archive'), ('v31_small'),
             |             ('v40'), ('v40_archive'), ('v40_small')) AS t(version)""".stripMargin),
      inputs = Seq(CeFasta, s"$Cram31Dir/ce1000_v31.cram"))
  )

  /** Deterministic pseudo-random genomes (LCG — stable across JVMs). */
  def syntheticGenomes(n: Int, len: Int): Seq[String] = {
    (0 until n).map { i =>
      var state = 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
      val sb = new StringBuilder(len)
      for (_ <- 0 until len) {
        state = state * 6364136223846793005L + 1442695040888963407L
        sb.append("ACGT"(((state >>> 33) % 4).toInt))
      }
      sb.toString
    }
  }
}
