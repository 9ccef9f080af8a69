package graft.ops

import graft.{ReferenceFixtures, SparkFixture}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** read_gff / read_jplace over the reference's committed fixtures
  * (reference: data/gff/test.gff, data/jplace/test.jplace).
  */
class MacroOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private def ref(rel: String) = ReferenceFixtures.path(s"data/$rel").toString

  test("read_gff parses the reference fixture") {
    val df = Gff.readGff(spark, ref("gff/test.gff"))
    val rows = df.orderBy("position", "type").collect()
    assert(rows.length == 7) // incl. the chr2 Ensembl gene
    val gene = rows.find(_.getAs[String]("type") == "gene").get
    assert(gene.getAs[String]("seqid") == "chr1")
    assert(gene.getAs[Int]("position") == 100 && gene.getAs[Int]("stop_position") == 500)
    assert(gene.isNullAt(gene.fieldIndex("score")))
    assert(gene.getAs[String]("strand") == "+")
    assert(gene.isNullAt(gene.fieldIndex("phase")))
    val attrs = gene.getAs[Map[String, String]]("attributes")
    assert(attrs == Map("ID" -> "gene1", "Name" -> "TEST1", "biotype" -> "protein_coding"))
    // exon2 has a real score; cds2 has phase 2
    val exon2 = rows.find(r => r.getAs[Map[String, String]]("attributes").get("ID").contains("exon2")).get
    assert(exon2.getAs[Double]("score") == 50.5)
    val cds2 = rows.find(r => r.getAs[Map[String, String]]("attributes").get("ID").contains("cds2")).get
    assert(cds2.getAs[Int]("phase") == 2)
  }

  test("read_gff on header-only fixture yields zero rows") {
    assert(Gff.readGff(spark, ref("gff/empty.gff")).count() == 0)
  }

  test("read_jplace: best placement only, nm-name extraction") {
    val df = Jplace.readJplace(spark, ref("jplace/test.jplace"))
    val rows = df.orderBy("fragment").collect()
    assert(rows.length == 3)
    val f1 = rows(0)
    assert(f1.getAs[String]("fragment") == "fragment1")
    assert(f1.getAs[Int]("edge_num") == 0) // first (best) placement in p
    assert(f1.getAs[Double]("likelihood") == -1234.56)
    assert(f1.getAs[Double]("like_weight_ratio") == 0.95)
    assert(f1.getAs[Double]("distal_length") == 0.05)
    assert(f1.getAs[Double]("pendant_length") == 0.001)
    assert(rows(1).getAs[Int]("edge_num") == 1)
    assert(rows(2).getAs[Int]("edge_num") == 2)
  }

  test("read_jplace: empty placements yields zero rows; n-name fallback") {
    assert(Jplace.readJplace(spark, ref("jplace/empty.jplace")).count() == 0)
    val withN = Jplace.readJplace(spark, ref("jplace/with_n.jplace"))
    assert(withN.collect().forall(r => r.getAs[String]("fragment") != null))
  }

  test("jplace placements graft onto the jplace tree via copyNewick") {
    // end-to-end: read placements + tree from the same jplace file,
    // graft, and confirm fragments became tips preserving distances
    val placements = Jplace.readJplace(spark, ref("jplace/test.jplace"))
    val tree = graft.kernel.Newick.parse(
      "((A:0.1,B:0.2):0.3{0},(C:0.4,D:0.5):0.6{1}):0.0{2};")
    val ps = placements.collect().map { r =>
      graft.kernel.Newick.Placement(
        r.getAs[String]("fragment"), r.getAs[Int]("edge_num").toLong,
        r.getAs[Double]("distal_length"), r.getAs[Double]("pendant_length"),
        r.getAs[Double]("like_weight_ratio"))
    // fragment3's best placement targets the zero-length root edge —
    // the reference's validator rejects distal > edge length the same
    // way (NewickTree.cpp:814-818), so graft the two valid ones
    }.filter(_.fragmentId != "fragment3")
    tree.insertFullyResolved(ps.toSeq)
    assert(tree.findNodeByName("fragment1").isDefined)
    assert(tree.findNodeByName("fragment2").isDefined)
    assert(tree.numTips == 6) // A B C D + 2 fragments
  }
}
