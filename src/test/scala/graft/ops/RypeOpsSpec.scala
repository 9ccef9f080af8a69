package graft.ops

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Distributed classification: reads sampled from a bucket's genome
  * must classify back to that bucket.
  */
class RypeOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def genome(seed: Int, len: Int): String = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(len)("ACGT"(rnd.nextInt(4))).mkString
  }

  test("classify: planted reads hit their source bucket") {
    import spark.implicits._
    val genomes = Map("gA" -> genome(1, 800), "gB" -> genome(2, 800), "gC" -> genome(3, 800))
    val subjects = genomes.toSeq.toDF("bucket_name", "sequence1")
    val index = RypeOps.buildIndex(subjects, k = 16, w = 5)
    // reads: 120bp slices of each genome
    val reads = (for {
      (name, g) <- genomes.toSeq
      i <- 0 until 5
    } yield (s"${name}_read$i", g.substring(i * 100, i * 100 + 120))).toDF("read_id", "sequence1")
    val out = RypeOps.rypeClassify(index, reads, k = 16, w = 5, threshold = 0.5)
      .collect().map(r => r.getString(0) -> r.getString(2))
    // every read's best bucket is its source genome
    val byRead = out.groupBy(_._1)
    for ((name, _) <- genomes; i <- 0 until 5) {
      val rid = s"${name}_read$i"
      assert(byRead.contains(rid), s"$rid unclassified")
      assert(byRead(rid).exists(_._2 == name), s"$rid missed bucket $name")
    }
  }

  test("buildIndex: ids are dense ranks of sorted names, via a window-free plan") {
    import spark.implicits._
    val subjects = Seq(
      ("zeta", genome(7, 400)), ("alpha", genome(8, 400)), ("mid", genome(9, 400))
    ).toDF("bucket_name", "sequence1")
    val index = RypeOps.buildIndex(subjects, k = 16, w = 5)
    val ids = index.select("bucket_name", "bucket_id").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // same ids dense_rank(ORDER BY bucket_name) assigned before the
    // driver-side rank replaced it (r7): name-sorted, 0-based, dense
    assert(ids == Map("alpha" -> 0L, "mid" -> 1L, "zeta" -> 2L))
    val plan = index.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"buildIndex must not plan a (necessarily unpartitioned) window:\n$plan")
  }

  test("classify: negative index suppresses host reads") {
    import spark.implicits._
    val host = genome(7, 800)
    val microbe = genome(8, 800)
    val index = RypeOps.buildIndex(
      Seq(("microbe", microbe)).toDF("bucket_name", "sequence1"), k = 16, w = 5)
    val negative = RypeOps.buildIndex(
      Seq(("host", host)).toDF("bucket_name", "sequence1"), k = 16, w = 5)
    val reads = Seq(
      ("host_read", host.substring(100, 220)),
      ("microbe_read", microbe.substring(100, 220))).toDF("read_id", "sequence1")
    val out = RypeOps.rypeClassify(index, reads, k = 16, w = 5,
      threshold = 0.3, negativeIndex = Some(negative))
      .collect().map(_.getString(0)).toSet
    assert(out.contains("microbe_read"))
    assert(!out.contains("host_read"))
  }

  test("classify: broadcast-kernel path agrees exactly with the join path") {
    import org.scalacheck.Gen
    import spark.implicits._
    val genomes = Vector(genome(11, 900), genome(12, 900), genome(13, 900))
    val subjects = Seq("gA", "gB", "gC").zip(genomes).toDF("bucket_name", "sequence1")
    val index = RypeOps.buildIndex(subjects, k = 16, w = 5)
    val negative = RypeOps.buildIndex(
      Seq(("neg", genome(14, 600))).toDF("bucket_name", "sequence1"), k = 16, w = 5)
    // generated reads: NULL and shorter-than-k sequences, slices skewed
    // toward gA, random (unmatched) reads, repeated and NULL ids and
    // one long read; a read listed twice is classified twice on both
    // sides.
    def slice(g: String) = Gen.choose(0, 760).map(i => g.substring(i, i + 130))
    val read: Gen[String] = Gen.frequency(
      1 -> Gen.const(null: String),
      1 -> Gen.const("ACGTACGT"),
      4 -> slice(genomes(0)),
      4 -> Gen.oneOf(genomes).flatMap(slice),
      2 -> Gen.listOfN(130, Gen.oneOf('A', 'C', 'G', 'T')).map(_.mkString))
    val readsGen = for {
      n <- Gen.choose(0, 30)
      reads <- Gen.listOfN(n, Gen.zip(GateCases.id.map(_.fold(null: String)(i => s"r$i")), read))
      longId <- GateCases.id
    } yield reads :+ (longId.fold(null: String)(i => s"r$i") -> genomes(1))
    val twice = genomes(0).substring(40, 170)
    val repeated = Seq("r1" -> twice, "r1" -> twice, "r1" -> genomes(2).substring(0, 130),
      (null: String) -> twice, (null: String) -> twice)
    val cases = Seq(Seq.empty[(String, String)], repeated) ++
      GateCases.samples(readsGen, 5)
    for ((rows, i) <- cases.zipWithIndex) {
      val reads = rows.toDF("read_id", "sequence1")
      def run(cap: Int) = RypeOps.rypeClassifyGated(index, reads, 16, 5,
          graft.kernel.Rype.DefaultSalt, "read_id", 0.05, Some(negative), cap)
        .collect().sortBy(_.toString).toSeq
      val local = run(LocalGate.MaxRows)
      assert(local == run(0), s"case $i")
      assert(rows.isEmpty || local.nonEmpty, s"case $i")
      if (rows == repeated) assert(local.count(r =>
        r.getString(0) == "r1" && r.getString(2) == "gA" && r.getDouble(3) == 1.0) == 2)
    }
  }

  test("index round-trips through parquet") {
    import spark.implicits._
    val subjects = Seq(("g1", genome(4, 400))).toDF("bucket_name", "sequence1")
    val index = RypeOps.buildIndex(subjects, k = 16, w = 5)
    RypeOps.saveIndex(index, "/tmp/graft_rype_index.ryxdi")
    val loaded = RypeOps.loadIndex(spark, "/tmp/graft_rype_index.ryxdi")
    assert(loaded.count() == index.count())
    assert(loaded.schema.fieldNames.toSet == Set("bucket_id", "bucket_name", "minimizer"))
  }

  private def savedIndex(name: String, buckets: (String, String)*): String = {
    val path = java.nio.file.Files.createTempDirectory(name).resolve("index.ryxdi").toString
    save(path, buckets: _*)
    path
  }

  private def save(path: String, buckets: (String, String)*): Unit = {
    import spark.implicits._
    RypeOps.saveIndex(RypeOps.buildIndex(buckets.toDF("bucket_name", "sequence1"),
      k = 16, w = 5), path)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("classify over a saved index collects it once") {
    import spark.implicits._
    val gA = genome(15, 800)
    val path = savedIndex("graft_rype_once", "gA" -> gA, "gB" -> genome(16, 800))
    val reads = Seq(("r1", gA.substring(0, 120)), ("r2", gA.substring(300, 420)))
      .toDF("read_id", "sequence1")
    def classify() = {
      val index = RypeOps.loadIndex(spark, path)
      JobCount(spark)(RypeOps.rypeClassify(index, reads, k = 16, w = 5, threshold = 0.5))
    }
    val (firstJobs, first) = classify()
    val firstRows = rows(first)
    val (secondJobs, second) = classify()
    assert(firstJobs > 0)
    assert(secondJobs == 0)
    assert(rows(second) == firstRows)
    assert(firstRows.nonEmpty)
  }

  test("classify follows an index overwritten at the same path") {
    import spark.implicits._
    val gA = genome(17, 800)
    val gB = genome(18, 800)
    val path = savedIndex("graft_rype_rewrite", "gA" -> gA)
    val reads = Seq(("a", gA.substring(100, 220)), ("b", gB.substring(100, 220)))
      .toDF("read_id", "sequence1")
    def buckets() = RypeOps.rypeClassify(RypeOps.loadIndex(spark, path), reads,
      k = 16, w = 5, threshold = 0.5).collect().map(r => r.getString(0) -> r.getString(2)).toSet
    assert(buckets() == Set("a" -> "gA"))
    save(path, "gB" -> gB)
    assert(buckets() == Set("b" -> "gB"))
  }

  test("an in-memory or sampled index frame is collected on every call") {
    import spark.implicits._
    val g = genome(19, 800)
    val subjects = Seq(("g", g)).toDF("bucket_name", "sequence1")
    val path = savedIndex("graft_rype_sample", "g" -> g)
    val reads = Seq(("r", g.substring(0, 120))).toDF("read_id", "sequence1")
    val inMemory = RypeOps.buildIndex(subjects, k = 16, w = 5)
    val sampled = RypeOps.loadIndex(spark, path).sample(0.9, 7L)
    for (index <- Seq(inMemory, sampled); call <- 1 to 2) {
      val (jobs, _) = JobCount(spark)(
        RypeOps.rypeClassify(index, reads, k = 16, w = 5, threshold = 0.5))
      assert(jobs > 0, s"call $call")
    }
  }

  test("both gate sides over a saved index return the same rows, each decided once") {
    import spark.implicits._
    val genomes = Seq("gA" -> genome(20, 800), "gB" -> genome(21, 800))
    val path = savedIndex("graft_rype_sides", genomes: _*)
    val negPath = savedIndex("graft_rype_sides_neg", "neg" -> genome(22, 600))
    val reads = genomes.flatMap { case (n, g) =>
      (0 until 3).map(i => (s"${n}_$i", g.substring(i * 200, i * 200 + 120)))
    }.toDF("read_id", "sequence1")
    def run(cap: Int) = {
      val (index, negative) = (RypeOps.loadIndex(spark, path), RypeOps.loadIndex(spark, negPath))
      JobCount(spark)(RypeOps.rypeClassifyGated(index, reads, 16, 5,
        graft.kernel.Rype.DefaultSalt, "read_id", 0.3, Some(negative), cap))
    }
    val local = rows(run(LocalGate.MaxRows)._2)
    val (localJobs, localAgain) = run(LocalGate.MaxRows)
    val join = rows(run(0)._2)
    val (joinJobs, joinAgain) = run(0)
    assert(local.nonEmpty)
    assert(join == local)
    assert(localJobs == 0 && joinJobs == 0)
    assert(rows(localAgain) == local && rows(joinAgain) == local)
  }

  test("extract ops: schema + invariants on DataFrames") {
    import spark.implicits._
    val seqs = Seq(("s1", genome(5, 100)), ("s2", genome(6, 100)))
      .toDF("read_id", "sequence1")
    val sets = RypeOps.rypeExtractMinimizerSet(seqs, 16, 5)
    assert(sets.schema.fieldNames.toSeq == Seq("read_id", "fwd_set", "rc_set"))
    assert(sets.collect().forall(r => r.getSeq[Long](1).nonEmpty))
    val strands = RypeOps.rypeExtractStrandMinimizers(seqs, 16, 5)
    assert(strands.schema.fieldNames.toSeq ==
      Seq("read_id", "fwd_hashes", "fwd_positions", "rc_hashes", "rc_positions"))
    assert(strands.collect().forall(r =>
      r.getSeq[Long](1).length == r.getSeq[Long](2).length))
    // missing required column errors
    assertThrows[IllegalArgumentException](
      RypeOps.rypeExtractMinimizerSet(Seq("x").toDF("sequence1"), 16, 5))
  }
}
