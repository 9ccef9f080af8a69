package graft.ops

import graft.SparkFixture
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Woltka OGU counts from in-memory alignments, against values worked
  * out by hand from the macro (reference: src/include/miint_macros.hpp
  * :35-100): the distinct (read, reference, is_read1(flags)) rows of a
  * read and orientation share 1 equally, and each feature sums its
  * shares. WoltkaGoldenSpec pins the same ops against real woltka
  * output when the reference checkout is present.
  */
class WoltkaSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private val schema = StructType(Seq(
    StructField("sample", StringType), StructField("read_id", StringType),
    StructField("reference", StringType), StructField("flags", IntegerType),
    StructField("position", LongType)))
  private def alignments(rows: (String, String, String, Int, Long)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (s, r, ref, f, p) => Row(s, r, ref, f, p) }, 3), schema)

  private def near[K](got: Map[K, Double], want: Map[K, Double]): Unit = {
    assert(got.keySet == want.keySet, got)
    for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-12, s"$k: got ${got(k)}, want $v")
  }

  // flags: 0 unpaired, 256 a secondary alignment, 65 / 129 read 1 / read 2 of a pair
  test("woltka_ogu: multi-mapped reads share 1, mates count apart, duplicates collapse") {
    val rel = alignments(
      ("s", "r1", "A", 0, 10L), ("s", "r1", "B", 0, 20L), // 1/2 each
      ("s", "r2", "A", 0, 30L), ("s", "r2", "B", 0, 40L), ("s", "r2", "C", 0, 50L), // 1/3 each
      ("s", "r3", "A", 65, 60L), ("s", "r3", "C", 129, 70L), // read 1 and read 2: 1 each
      ("s", "r4", "B", 0, 80L), ("s", "r4", "B", 256, 90L), ("s", "r4", "D", 0, 95L)) // B once
    val got = Woltka.woltkaOgu(rel, "read_id").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    near(got, Map(
      "A" -> (1.0 / 2 + 1.0 / 3 + 1),
      "B" -> (1.0 / 2 + 1.0 / 3 + 1.0 / 2),
      "C" -> (1.0 / 3 + 1),
      "D" -> 1.0 / 2))
  }

  test("woltka_ogu_per_sample: shares follow the read across samples that name it") {
    // The window keys on (read, orientation) only, as in the macro: r1
    // names A and B in s1 and A in s2, three distinct rows, 1/3 each.
    val rel = alignments(
      ("s1", "r1", "A", 0, 1L), ("s1", "r1", "B", 0, 2L), ("s1", "r1", "B", 256, 3L),
      ("s2", "r1", "A", 0, 4L),
      ("s1", "r2", "C", 65, 5L), ("s2", "r2", "C", 129, 6L), // one mate in each sample
      ("s2", "r3", "C", 0, 7L), ("s2", "r3", "D", 0, 8L))
    val got = Woltka.woltkaOguPerSample(rel, "sample", "read_id").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    near(got, Map(
      ("s1", "A") -> 1.0 / 3, ("s1", "B") -> 1.0 / 3, ("s1", "C") -> 1.0,
      ("s2", "A") -> 1.0 / 3, ("s2", "C") -> (1.0 + 1.0 / 2), ("s2", "D") -> 1.0 / 2))
  }
}
