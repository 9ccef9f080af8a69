package graft.sources

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The file sources are batch-only: they declare BATCH_READ alone, so
  * `readStream` fails at analysis with Spark's own error, before any
  * file is listed or any query starts.
  */
class BatchOnlySourcesSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("readStream fails at analysis, naming the source") {
    val dir = Files.createTempDirectory("graft_batch_only").toString
    for (f <- Seq("fastx", "alignments", "warc")) {
      val e = intercept[Exception](spark.readStream.format(f).load(dir))
      assert(e.getMessage.contains("does not support streamed reading"), f)
      assert(e.getMessage.contains(f), f)
    }
  }
}
