package graft.ops

import graft.{ReferenceFixtures, SparkFixture}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden test: Woltka OGU counts pinned against real `woltka classify
  * --no-demux --digits 10` output, via the reference's committed
  * expectations (reference: test/sql/woltka.test:22-58) over its
  * committed input parquet (data/sam/miint-woltka-test.parquet,
  * 252,279 alignments). This is the strongest semantic anchor the
  * reference ships.
  */
class WoltkaGoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private def input = ReferenceFixtures.path("data/sam/miint-woltka-test.parquet").toString

  private val goldenOgu = Map(
    "H000003450" -> 477.800, "H000000556" -> 849.086, "G002234575" -> 1302.833,
    "H000003668" -> 1468.333, "H000000425" -> 2165.002, "H000000962" -> 6509.969,
    "G012273055" -> 6638.369, "H000001008" -> 15743.819, "G025152275" -> 17770.333,
    "G000156075" -> 30911.302, "G016766915" -> 58468.152)

  private val goldenPerSampleFoo = Map(
    "H000000556" -> 1.417, "H000000425" -> 1.917, "G025152275" -> 2.000,
    "H000000962" -> 2.667, "G012273055" -> 4.750, "G000156075" -> 9.500,
    "H000001008" -> 13.250, "G016766915" -> 15.500)

  test("woltka_ogu matches the reference's woltka-CLI golden values") {
    val rel = spark.read.parquet(input)
    val got = Woltka.woltkaOgu(rel, "read_id")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == goldenOgu.keySet)
    for ((k, v) <- goldenOgu)
      assert(math.abs(got(k) - v) < 0.0005, s"$k: got ${got(k)}, want $v")
  }

  test("woltka_ogu_per_sample matches golden values (sample foo)") {
    val rel = spark.read.parquet(input)
    val got = Woltka.woltkaOguPerSample(rel, "common_sample_name", "read_id")
      .filter(col("sample_id") === "foo")
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(got.keySet == goldenPerSampleFoo.keySet)
    for ((k, v) <- goldenPerSampleFoo)
      assert(math.abs(got(k) - v) < 0.0005, s"$k: got ${got(k)}, want $v")
  }
}
