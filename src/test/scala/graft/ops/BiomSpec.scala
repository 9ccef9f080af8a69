package graft.ops

import graft.{ReferenceFixtures, SparkFixture}
import graft.kernel.Hdf5Biom
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** HDF5 BIOM reader vs the reference's committed fixtures and
  * sqllogictest expectations (reference: test/sql/read_biom
  * .test:30-60, data/biom).
  */
class BiomSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private def ref(f: String) = ReferenceFixtures.path(s"data/biom/$f").toString
  private def bytes(f: String) = Files.readAllBytes(Paths.get(ref(f)))

  test("test.biom COO matches the reference's pinned 15 rows") {
    val coo = Hdf5Biom.readCoo(bytes("test.biom"), "test.biom").sorted
    val expected = Vector(
      ("Sample1", "GG_OTU_2", 5.0), ("Sample1", "GG_OTU_4", 2.0),
      ("Sample2", "GG_OTU_2", 1.0), ("Sample2", "GG_OTU_4", 1.0),
      ("Sample2", "GG_OTU_5", 1.0), ("Sample3", "GG_OTU_1", 1.0),
      ("Sample3", "GG_OTU_3", 1.0), ("Sample3", "GG_OTU_4", 1.0),
      ("Sample3", "GG_OTU_5", 1.0), ("Sample4", "GG_OTU_2", 2.0),
      ("Sample4", "GG_OTU_3", 4.0), ("Sample5", "GG_OTU_2", 3.0),
      ("Sample6", "GG_OTU_2", 1.0), ("Sample6", "GG_OTU_3", 2.0),
      ("Sample6", "GG_OTU_4", 1.0)).sorted
    assert(coo == expected)
  }

  test("multi-file concatenation matches reference expectations") {
    // reference test/sql/read_biom.test:49-60 pins the first 7 rows
    val df = BiomOps.readBiomHdf5(spark, s"${ref("file1.biom")},${ref("file2.biom")}")
    val rows = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).sorted.toVector
    assert(rows.take(7) == Vector(
      ("S1", "O2", 3.0), ("S2", "O1", 1.0), ("S2", "O2", 4.0),
      ("S3", "O1", 2.0), ("S3", "O2", 5.0), ("S4", "O2", 6.0),
      ("S5", "O1", 2.0)))
  }

  test("empty.biom yields zero rows") {
    assert(Hdf5Biom.readCoo(bytes("empty.biom"), "empty.biom").isEmpty)
  }

  test("notbiom.h5 rejected as not a BIOM file") {
    val notBiom = bytes("notbiom.h5")
    val e = intercept[Hdf5Biom.Hdf5Exception](
      Hdf5Biom.readCoo(notBiom, "notbiom.h5"))
    assert(e.getMessage.contains("not a BIOM file"))
  }

  test("HDF5 writer round-trips through the HDF5 reader") {
    val coo = Seq(
      ("SampleA", "OTU_1", 3.0), ("SampleA", "OTU_2", 1.5),
      ("SampleB", "OTU_2", 2.0), ("SampleC", "OTU_1", 7.0),
      ("SampleC", "OTU_3", 4.25))
    val bytes = graft.kernel.Hdf5BiomWriter.write(coo)
    val back = Hdf5Biom.readCoo(bytes, "roundtrip.biom").sorted
    assert(back == coo.sorted.toVector)
  }

  test("HDF5 writer output also round-trips via files") {
    val coo = Seq(("S1", "O1", 1.0), ("S2", "O2", 2.0))
    val bytes = graft.kernel.Hdf5BiomWriter.write(coo)
    Files.write(Paths.get("/tmp/graft_writer.biom"), bytes)
    val df = BiomOps.readBiomHdf5(spark, "/tmp/graft_writer.biom")
    assert(df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sorted.toSeq == coo.sorted)
  }

  test("biom DataSource V2: executor-side decode, filepath col, pruning") {
    val testBiom = ref("test.biom")
    val df = spark.read.format("biom")
      .option("include_filepath", "true")
      .load(testBiom)
    assert(df.count() == 15)
    assert(df.select("filepath").distinct().collect()
      .map(_.getString(0)).toSeq == Seq(s"file:$testBiom"))
    // projection pushdown reaches the reader
    val pruned = df.select("sample_id")
    assert(pruned.queryExecution.executedPlan.toString.contains("sample_id"))
    assert(pruned.distinct().count() == 6)
  }

  test("HDF5 writer follows libhdf5 heap/B-tree conventions") {
    // ADVICE r2 spec-conformance: heap offset 0 must decode as the
    // empty string (reserved head), the free-list field must be
    // H5HL_FREE_NULL (1), and group B-tree keys must be real heap name
    // offsets (low key 0, high key = last child name's offset).
    val bytes = graft.kernel.Hdf5BiomWriter.write(
      Seq(("S1", "O1", 1.0), ("S2", "O2", 2.0)))
    def u64(off: Int): Long =
      (0 until 8).map(i => (bytes(off + i) & 0xffL) << (8 * i)).sum
    def u16(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    def sig(off: Int, s: String): Boolean =
      s.zipWithIndex.forall { case (c, i) => bytes(off + i) == c.toByte }
    // walk every HEAP header in the file; group B-trees are node type
    // 0 (chunk B-trees from the gzip-compressed datasets are type 1
    // and keyed differently)
    var heaps = 0; var trees = 0
    for (off <- 0 until bytes.length - 32) {
      if (sig(off, "HEAP")) {
        heaps += 1
        assert(u64(off + 16) == 1L, s"free list at HEAP@$off is not H5HL_FREE_NULL")
        val dataAddr = u64(off + 24)
        assert(bytes(dataAddr.toInt) == 0, s"heap head at $dataAddr not empty string")
      }
      if (sig(off, "TREE") && bytes(off + 4) == 0) {
        trees += 1
        val entries = u16(off + 6)
        assert(u64(off + 8 + 16) == 0L, s"TREE@$off low key not 0")
        val highKey = u64(off + 8 + 16 + entries * 16)
        assert(highKey >= 8, s"TREE@$off high key $highKey not a real heap offset")
      }
    }
    assert(heaps == 5 && trees == 5) // root + 2×(biom group + matrix group)
  }

  test("gzip (default) vs none: both round-trip, gzip is smaller, bad value rejected") {
    // enough repetitive values that deflate visibly wins
    val coo = (0 until 200).map(i => (s"S${i % 10}", f"OTU_$i%04d", (i % 7).toDouble + 1.0))
    val gz = graft.kernel.Hdf5BiomWriter.write(coo, compression = "gzip")
    val none = graft.kernel.Hdf5BiomWriter.write(coo, compression = "none")
    assert(Hdf5Biom.readCoo(gz, "gz.biom").sorted == coo.sorted.toVector)
    assert(Hdf5Biom.readCoo(none, "none.biom").sorted == coo.sorted.toVector)
    assert(gz.length < none.length,
      s"gzip image (${gz.length}) not smaller than uncompressed (${none.length})")
    // 'gz' alias accepted (reference: copy_biom.cpp:107)
    assert(graft.kernel.Hdf5BiomWriter.write(coo, compression = "gz").sameElements(gz))
    val e = intercept[IllegalArgumentException](
      graft.kernel.Hdf5BiomWriter.write(coo, compression = "lzf"))
    assert(e.getMessage.contains("compression must be"))
  }

  test("gzip writer: empty table round-trips (no chunks written)") {
    val bytes = graft.kernel.Hdf5BiomWriter.write(Seq.empty, compression = "gzip")
    assert(Hdf5Biom.readCoo(bytes, "empty_gz.biom").isEmpty)
  }

  test("non-HDF5 bytes rejected") {
    val e = intercept[Hdf5Biom.Hdf5Exception](
      Hdf5Biom.readCoo("plain text".getBytes, "x.biom"))
    assert(e.getMessage.contains("not a BIOM file"))
  }
}
