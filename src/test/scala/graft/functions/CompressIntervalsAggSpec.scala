package graft.functions

import graft.SparkFixture
import graft.kernel.IntervalCompressor
import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Half-open genomic interval — the Aggregator twin's output element. */
final case class Interval(start: Long, stop: Long)

/** The Aggregator twin of [[CompressIntervals.compressIntervals]]: the
  * same kernel behind Spark's typed-aggregate API, with Kryo buffer
  * serialization. It is the oracle the native aggregate is checked
  * against.
  */
object CompressIntervalsTwin {
  private val agg =
    new Aggregator[(Option[Long], Option[Long]), IntervalCompressor, Seq[Interval]] {
      def zero: IntervalCompressor = new IntervalCompressor
      def reduce(b: IntervalCompressor, in: (Option[Long], Option[Long])): IntervalCompressor = {
        in match {
          case (Some(s), Some(e)) => b.add(s, e)
          case _                  => // NULL start or stop: skipped
        }
        b
      }
      def merge(a: IntervalCompressor, b: IntervalCompressor): IntervalCompressor = {
        a.addAll(b); a
      }
      def finish(b: IntervalCompressor): Seq[Interval] =
        if (b.isEmpty) null
        else b.result().map { case (s, e) => Interval(s, e) }.toSeq
      def bufferEncoder: Encoder[IntervalCompressor] = Encoders.kryo[IntervalCompressor]
      def outputEncoder: Encoder[Seq[Interval]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Interval]]()
    }

  private val compressUdaf = udaf(agg)

  def compressIntervals(start: Column, stop: Column): Column =
    compressUdaf(start, stop)
}

/** The native TypedImperativeAggregate must agree with the Aggregator
  * twin (and the kernel) through real distributed plans, including
  * NULL skipping, inverted pairs, empty groups and shuffle merges.
  */
class CompressIntervalsAggSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def randomIntervals = {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0 until 5000).map { i =>
      val g = s"g${i % 7}"
      val s = rnd.nextInt(1000).toLong
      val e = s + rnd.nextInt(50) - 10 // some inverted
      val sOpt = if (rnd.nextInt(50) == 0) None else Some(s)
      val eOpt = if (rnd.nextInt(50) == 0) None else Some(e)
      (g, sOpt, eOpt)
    }
    rows.toDF("grp", "s", "e").repartition(8) // force real partial/merge path
  }

  test("native aggregate equals the Aggregator twin on random input") {
    val df = randomIntervals
    def collect(c: org.apache.spark.sql.Column) = df
      .groupBy("grp").agg(to_json(c).as("iv"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val native = collect(CompressIntervals.compressIntervals(col("s"), col("e")))
    val viaUdaf = collect(CompressIntervalsTwin.compressIntervals(col("s"), col("e")))
    assert(native == viaUdaf)
    assert(native.size == 7 && native.values.forall(_ != null))
  }

  test("empty group yields NULL; all semantics survive SQL registration") {
    import spark.implicits._
    MiintRegistry.registerAll(spark)
    Seq(("a", Some(5L), Some(3L)), ("a", Some(4L), Some(7L)),
      ("b", None: Option[Long], Some(1L)))
      .toDF("grp", "s", "e").createOrReplaceTempView("civ")
    val rows = spark.sql(
      "SELECT grp, compress_intervals(s, e) AS iv FROM civ GROUP BY grp ORDER BY grp")
      .collect()
    // 'a': inverted (5,3)→(3,5) touches (4,7) → merged [3,7]
    val a = rows(0).getSeq[org.apache.spark.sql.Row](1)
    assert(a.map(r => (r.getLong(0), r.getLong(1))) == Seq((3L, 7L)))
    // 'b': only a NULL-start pair → empty state → NULL
    assert(rows(1).isNullAt(1))
  }
}
