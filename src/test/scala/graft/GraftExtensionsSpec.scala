package graft

import graft.functions.MiintRegistry
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The extensions entry point must make the native SQL surface
  * available in a fresh session with zero registration calls.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  /** align_pairwise_* through SQL, checked against the scores and
    * CIGARs b19_align_pairwise's oracle derives: one substitution
    * costs the mismatch penalty 4 (`1=1X<n-2>=`), identity costs 0.
    */
  private def checkPairwise(spark: SparkSession): Unit = {
    val r = spark.sql(
      """SELECT align_pairwise_score('ACGT', 'AGGT') AS s1,
        |       align_pairwise_score('ACGTACGT', 'AZGTACGT') AS s2,
        |       align_pairwise_score('ACGTACGTA', 'ACGTACGTA') AS s3,
        |       align_pairwise_cigar('ACGTACGT', 'AZGTACGT') AS c1,
        |       align_pairwise_cigar('ACGTACGTA', 'ACGTACGTA') AS c2,
        |       align_pairwise_full('ACGTACGT', 'AZGTACGT') AS f1,
        |       align_pairwise_score(CAST(NULL AS STRING), 'ACGT') AS n1,
        |       align_pairwise_cigar('ACGT', CAST(NULL AS STRING)) AS n2,
        |       align_pairwise_full(CAST(NULL AS STRING), CAST(NULL AS STRING)) AS n3
        |""".stripMargin).collect()(0)
    assert(r.getInt(0) == 4 && r.getInt(1) == 4 && r.getInt(2) == 0)
    assert(r.getStruct(3) == Row(4, "1=1X6="))
    assert(r.getStruct(4) == Row(0, "9="))
    assert(r.getStruct(5) == Row(4, "1=1X6=", "ACGTACGT", "AZGTACGT"))
    assert(r.isNullAt(6) && r.isNullAt(7) && r.isNullAt(8))
  }

  test("spark.sql.extensions=graft.GraftExtensions exposes the SQL surface") {
    // spark.sql.extensions is a STATIC conf — it only takes effect when
    // the SparkContext is created, and the shared test context already
    // exists. Builder.withExtensions is the supported injection path
    // for an existing context and runs the exact same class.
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val r = spark.sql(
      """SELECT alignment_seq_identity('8M2I5M', 2) AS gc,
        |       alignment_query_length('5S10M3H') AS ql,
        |       alignment_query_coverage('5S10M3H', 'mapped') AS cov,
        |       sequence_dna_reverse_complement('ACGTN') AS rc,
        |       sequence_dna_as_regexp('AN') AS re,
        |       alignment_is_primary(0) AS prim,
        |       is_dup(1024) AS dup,
        |       miint_version() AS v,
        |       bowtie2_available() AS b2""".stripMargin).collect()
    assert(math.abs(r(0).getDouble(0) - 13.0 / 14.0) < 1e-12)
    assert(r(0).getLong(1) == 18)
    assert(math.abs(r(0).getDouble(2) - 10.0 / 18.0) < 1e-12)
    assert(r(0).getString(3) == "NACGT")
    assert(r(0).getString(4) == "A[ACGT]")
    assert(r(0).getBoolean(5) && r(0).getBoolean(6))
    assert(r(0).getString(7).nonEmpty && !r(0).getBoolean(8))
    // the GFF macro surface
    val gff = spark.sql(
      "SELECT parse_gff_attributes('ID=gene1;Name=foo') AS m").collect()
    assert(gff(0).getMap[String, String](0) == Map("ID" -> "gene1", "Name" -> "foo"))
    // the aggregate surface is injected too
    val agg = spark.sql(
      """SELECT compress_intervals(s, e) AS iv
        |  FROM VALUES (1L, 5L), (4L, 9L) AS t(s, e)""".stripMargin).collect()
    val iv = agg(0).getSeq[org.apache.spark.sql.Row](0)
    assert(iv.map(x => (x.getLong(0), x.getLong(1))) == Seq((1L, 9L)))
    checkPairwise(spark)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach(SparkSession.setDefaultSession)
      prior.foreach(SparkSession.setActiveSession)
    }
  }

  test("MiintRegistry.registerAll exposes align_pairwise_* in SQL") {
    val spark = SparkFixture.spark
    MiintRegistry.registerAll(spark)
    checkPairwise(spark)
  }
}
