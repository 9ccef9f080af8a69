package graft.ops

import graft.kernel.Newick
import graft.sources.FileSourceCommon
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** read_newick / COPY NEWICK as tree-as-table operators.
  *
  * Reference: src/read_newick.cpp (6-col node table: one row per node,
  * parent-pointer encoding, root parent NULL), src/copy_newick.cpp +
  * src/NewickTree.cpp:789-925 (tree rebuild with one-root/acyclic
  * validation, optional jplace placement grafting before serialize).
  *
  * Trees are small driver-side objects (the reference reads whole files
  * into memory too); the TABLE representation is what scales — joins/
  * recursive traversals over millions of placements happen in Spark,
  * only the final serialize funnels through the driver.
  */
object NewickOps {

  val nodeSchema: StructType = StructType(Seq(
    StructField("node_index", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("branch_length", DoubleType, nullable = true),
    StructField("edge_id", LongType, nullable = true),
    StructField("parent_index", LongType, nullable = true),
    StructField("is_tip", BooleanType, nullable = false)))

  /** read_newick(path) → node table (NaN branch lengths preserved). */
  def readNewick(spark: SparkSession, path: String): DataFrame = {
    val rows = FileSourceCommon.expandPaths(path, allowStdin = true).flatMap { p =>
      val reader = graft.kernel.FastxCodec.open(p, FileSourceCommon.openStream(p))
      val content =
        try Iterator.continually(reader.readLine()).takeWhile(_ != null).mkString("\n")
        finally reader.close()
      val tree = Newick.parse(content)
      tree.nodes.indices.map { i =>
        val n = tree.nodes(i)
        Row(i.toLong, n.name, if (n.branchLength.isNaN) null else n.branchLength,
          n.edgeId.map(Long.box).orNull,
          if (n.parent < 0) null else n.parent.toLong, tree.isTip(i))
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, math.max(1, rows.length / 10000)),
      nodeSchema)
  }

  /** COPY ... (FORMAT NEWICK): rebuild the tree from a node table
    * (full validation), optionally graft placements (read_jplace
    * schema: fragment, edge_num, like_weight_ratio, distal_length,
    * pendant_length), serialize to one Newick line.
    */
  def copyNewick(
      df: DataFrame,
      path: String,
      placements: Option[DataFrame] = None): Unit = {
    val names = df.schema.fieldNames.toSet
    val inputs = df.collect().map { r =>
      def optLong(c: String): Option[Long] =
        if (names.contains(c) && !r.isNullAt(r.fieldIndex(c)))
          Some(r.getAs[Number](c).longValue()) else None
      Newick.NodeInput(
        r.getAs[Number]("node_index").longValue(),
        optLong("parent_index"),
        if (names.contains("name")) Option(r.getAs[String]("name")).getOrElse("") else "",
        if (names.contains("branch_length") && !r.isNullAt(r.fieldIndex("branch_length")))
          r.getAs[Double]("branch_length") else Double.NaN,
        optLong("edge_id"))
    }
    val tree = Newick.build(inputs.toSeq)
    placements.foreach { pl =>
      val ps = pl.collect().map { r =>
        Newick.Placement(
          r.getAs[String]("fragment"),
          r.getAs[Number]("edge_num").longValue(),
          r.getAs[Number]("distal_length").doubleValue(),
          r.getAs[Number]("pendant_length").doubleValue(),
          r.getAs[Number]("like_weight_ratio").doubleValue())
      }
      tree.insertFullyResolved(ps.toSeq)
    }
    val out = Writers.create(path, df.sparkSession.sparkContext.hadoopConfiguration,
      gzip = path.endsWith(".gz"))
    val w = new BufferedWriter(new OutputStreamWriter(out, StandardCharsets.UTF_8))
    try { w.write(tree.toNewick); w.newLine() } finally w.close()
  }
}
