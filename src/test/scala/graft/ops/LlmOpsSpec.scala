package graft.ops

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-duplicate validation for the probabilistic (LSH) pipeline
  * operators that the oracle gate can't check.
  */
class LlmOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def plantedDocs = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val words = Vector("spark", "data", "table", "query", "join", "scan",
      "filter", "batch", "window", "hash", "merge", "sort", "row", "column")
    def doc(): String = Seq.fill(40)(words(rnd.nextInt(words.size))).mkString(" ")
    val bases = (0 until 20).map(i => (i.toLong, doc()))
    // plant near-dups: copy of doc i with one word changed, id 100+i
    val dups = (0 until 5).map { i =>
      val t = bases(i)._2.split(" ").toVector.updated(3, "MUTATED").mkString(" ")
      (100L + i, t)
    }
    (bases ++ dups).toDF("doc_id", "text")
  }

  test("minhashPairs finds planted near-duplicates, verified by exact jaccard") {
    val pairs = Dedup.minhashPairs(plantedDocs, "doc_id", "text",
      shingleN = 5, numHashes = 64, bands = 16, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val found = pairs.map(p => (p._1, p._2)).toSet
    for (i <- 0 until 5)
      assert(found.contains((i.toLong, 100L + i)), s"missing planted pair $i")
    // every reported jaccard must actually be >= threshold (verify step works)
    assert(pairs.forall(_._3 >= 0.6))
  }

  test("minhashPairs two-pass bucket pruning is output-identical") {
    def run(pruneMinBytes: Long) = Dedup.minhashPairsGated(plantedDocs,
        "doc_id", "text", 5, 64, 16, 0.6, pruneMinBytes, bucketCap = 2048)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = run(256L << 20) // planted corpus is far below the gate
    val pruned = run(0L) // gate forced on: id pass + surviving-bucket join
    assert(pruned == single)
  }

  /** The MinHash plan invariant: the plan passes [[graft.plans.PlanLint]]
    * (no kernel copied into a filter, join or lambda, none twice), and
    * every banding chain — the subtree under one band-key posexplode,
    * nested chains excluded — holds exactly one kernel call, with none
    * outside a chain.
    */
  private def assertOneKernelCallPerChain(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{PosExplode, ScalaUDF}
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
    val lint = graft.plans.PlanLint.violations(df)
    assert(lint.isEmpty, lint.mkString("\n"))
    val plan = df.queryExecution.optimizedPlan
    def isChain(p: LogicalPlan) = p match {
      case g: Generate => g.generator.isInstanceOf[PosExplode]
      case _ => false
    }
    def kernelCalls(p: LogicalPlan): Int =
      p.expressions.map(_.collect {
        case u: ScalaUDF if u.udfName.contains("minhash_bands") => u
      }.size).sum +
        p.children.filterNot(isChain).map(kernelCalls).sum
    val chains = plan.collect { case g if isChain(g) => g }
    assert(chains.nonEmpty)
    for (g <- chains) assert(kernelCalls(g) == 1, s"kernel calls in chain:\n$g")
    assert(kernelCalls(plan) == (if (isChain(plan)) 1 else 0))
  }

  test("MinHash plans run the kernel once per document, never in a filter, join or lambda") {
    // a parquet scan, like the l-rows' input: over a LocalRelation the
    // optimizer folds the kernel away before any plan shape shows
    val dir = java.nio.file.Files.createTempDirectory("graft_minhash_plan").resolve("docs")
    plantedDocs.write.parquet(dir.toString)
    val docs = spark.read.parquet(dir.toString)
    val index = docs.filter(col("doc_id") < 100L)
    val fresh = docs.filter(col("doc_id") >= 100L)
    assertOneKernelCallPerChain(
      Dedup.explodeBanded(Dedup.minhashIndex(docs, "doc_id", "text")))
    for (pruneMinBytes <- Seq(256L << 20, 0L)) {
      assertOneKernelCallPerChain(Dedup.minhashPairsGated(docs, "doc_id", "text",
        5, 64, 16, 0.6, pruneMinBytes, bucketCap = 8))
      assertOneKernelCallPerChain(Dedup.minhashNewVsIndexGated(fresh,
        Dedup.minhashIndex(index, "doc_id", "text"), "doc_id", "text",
        5, 64, 16, 0.6, pruneMinBytes, bucketCap = 8))
    }
  }

  test("minhashIndex band_hashes are bit-identical to the Catalyst band expression") {
    import spark.implicits._
    // the expression form the kernel replaced, kept as its oracle:
    // hash(slice(sig, b * r + 1, r), b) per band over the signature
    val sigUdf = udf((t: String, n: Int, h: Int) =>
      graft.kernel.TextKernel.minhashSignature(
        graft.kernel.TextKernel.sortedShingleHashes(t, n), h))
    val texts = Seq(
      "plain ascii text about spark tables and joins",
      "naïve café — 日本語のテキスト 🎉 with emoji 🎈 and accents àéîõü",
      "abcde", // exactly shingleN code points: one shingle
      "🎉🎈🎉🎈🎉", // exactly shingleN code points, all surrogate pairs
      "abcd", // shorter than shingleN: excluded
      "🎉🎈")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for ((numHashes, bands) <- Seq((64, 16), (12, 4), (7, 1))) {
      val r = numHashes / bands
      val got = Dedup.minhashIndex(docs, "doc_id", "text", 5, numHashes, bands)
        .collect().map(row => row.getLong(0) -> row.getSeq[Int](2)).toMap
      val oracle = docs.filter(length(col("text")) >= 5)
        .select(col("doc_id"),
          transform(sequence(lit(0), lit(bands - 1)), b =>
            hash(slice(sigUdf(col("text"), lit(5), lit(numHashes)),
              b * r + 1, lit(r)), b)))
        .collect().map(row => row.getLong(0) -> row.getSeq[Int](1)).toMap
      assert(got.keySet == Set(0L, 1L, 2L, 3L))
      assert(got == oracle, s"numHashes=$numHashes bands=$bands")
    }
  }

  test("degenerate-bucket triangle split is output-identical and exact") {
    import spark.implicits._
    // 40 exact copies -> one 40-member bucket per band; with cap=8 the
    // bucket splits into g=5 sub-groups across 15 task-pairs, and all
    // C(40,2) = 780 pairs must still appear exactly once
    val dups = (0 until 40).map(i => (i.toLong, "identical duplicated content here"))
    val rest = (100 until 120).map(i => (i.toLong, s"unique text number $i nothing else"))
    val docs = (dups ++ rest).toDF("doc_id", "text")
    def run(pruneMinBytes: Long, bucketCap: Int) = Dedup.minhashPairsGated(
        docs, "doc_id", "text", 5, 64, 16, 0.9, pruneMinBytes, bucketCap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val baseline = run(256L << 20, 2048).toSet // below the gate: no split path
    assert(baseline.size == 40 * 39 / 2)
    val split = run(0L, 8)
    assert(split.length == split.toSet.size) // exactly once, never twice
    assert(split.toSet == baseline)
  }

  test("simhashPairs finds planted near-duplicates") {
    val pairs = Dedup.simhashPairs(plantedDocs, "doc_id", "text", maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = (0 until 5).count(i => pairs.contains((i.toLong, 100L + i)))
    assert(hits >= 4, s"simhash found only $hits/5 planted pairs")
  }

  private def plantedVectors = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val bases = (0 until 40).map(i => (i.toLong, vec()))
    val dups = (0 until 5).map { i =>
      val v = bases(i)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      (100L + i, v)
    }
    (bases ++ dups).toDF("vec_id", "embedding")
  }

  /** The O(nBits·dim) Catalyst expression form of the LSH bucket — the
    * oracle for [[Similarity.lshBucketKernel]]: bit b is set when the
    * left-to-right double projection onto plane b is >= 0.
    */
  private def lshBucket(embedding: org.apache.spark.sql.Column, nBits: Int,
      dim: Int, seed: Long): org.apache.spark.sql.Column =
    (0 until nBits).map { b =>
      val proj = (0 until dim).map { d =>
        element_at(embedding, d + 1).cast("double") *
          lit(Similarity.lshPlaneComponent(b, d, seed))
      }.reduce(_ + _)
      when(proj >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Build an IVF index the way a standing deployment does — train the
    * model, assign, persist `partitionBy("list_id")` — and return its
    * directory and centroid model. */
  private def partitionedIvfIndex(emb: org.apache.spark.sql.DataFrame,
      nLists: Int, iters: Int): (String, Array[Array[Double]]) = {
    val cents = Similarity.ivfCentroids(emb, dim = 16, nLists = nLists, iters = iters)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_part").toString
    Similarity.ivfAssignWithModel(emb, cents)
      .write.mode("overwrite").partitionBy("list_id").parquet(dir)
    (dir, cents)
  }

  test("lshBucketKernel buckets are bit-identical to the expression form") {
    val exprBuckets = plantedVectors.select(col("vec_id"),
      lshBucket(col("embedding"), nBits = 8, dim = 16, seed = 3L).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val kernBuckets = plantedVectors.select(col("vec_id"),
      Similarity.lshBucketKernel(8, 16, 3L)(
        col("embedding").cast("array<double>")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(exprBuckets.nonEmpty && exprBuckets == kernBuckets)
  }

  test("lshNearDupPairs recalls planted near-identical vectors") {
    val pairs = Similarity.lshNearDupPairs(plantedVectors, dim = 16,
      nBits = 8, nTables = 4, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (i <- 0 until 5)
      assert(pairs.contains((i.toLong, 100L + i)), s"missing planted vector pair $i")
  }

  test("bruteForceTopK rank-1 neighbor of a planted dup is its source") {
    val top = Similarity.bruteForceTopK(
      plantedVectors, plantedVectors.filter(col("vec_id") >= 100), 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for (i <- 0 until 5)
      assert(top(100L + i) == i.toLong)
  }

  test("quantizedTopK: planted dup at rank 1, integer scores symmetric-bounded") {
    val top = Similarity.quantizedTopK(
      plantedVectors, plantedVectors.filter(col("vec_id") >= 100), 5)
    val rows = top.collect()
    // int8 codes bound the dot product by 127*127*dim
    val dim = 16
    assert(rows.forall(r => math.abs(r.getLong(2)) <= 127L * 127L * dim))
    val rank1 = rows.filter(_.getLong(3) == 1L).map(r => (r.getLong(0), r.getLong(1))).toMap
    for (i <- 0 until 5)
      assert(rank1(100L + i) == i.toLong, s"planted dup $i not rank-1 under quantized scores")
  }

  test("connectedComponents labels chains, cliques and singleton-free graphs") {
    import spark.implicits._
    // chain 1-2-3-4-5 (worst case for plain propagation), clique 10-11-12,
    // isolated pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 5L).forall(comp(_) == 1L))
    assert((10L to 12L).forall(comp(_) == 10L))
    assert(comp(20L) == 20L && comp(21L) == 20L)
    assert(comp.size == 10)
  }

  test("local union-find and distributed loop agree (same labels, random graph)") {
    import org.scalacheck.Gen
    import spark.implicits._
    // generated graphs: self-loops, repeated and reversed pairs, NULL
    // ends (a pair with one names no node), a hub node 0 (skew) and,
    // in some cases, one long chain
    val node: Gen[Option[Long]] = Gen.frequency(
      1 -> Gen.const(None),
      3 -> Gen.const(Some(0L)),
      20 -> Gen.choose(1L, 120L).map(Some(_)))
    val graph = for {
      n <- Gen.choose(0, 200)
      pairs <- Gen.listOfN(n, Gen.zip(node, node))
      chain <- Gen.oneOf(0, 60)
    } yield pairs ++ (0 until chain).map(i => Some(200L + i) -> Some(201L + i))
    val probe = Seq[(Option[Long], Option[Long])](
      Some(1L) -> Some(2L), Some(2L) -> None, Some(3L) -> Some(3L))
    val cases = Seq(probe, Seq.empty) ++ GateCases.samples(graph, 4)
    for ((rows, i) <- cases.zipWithIndex) {
      val pairs = rows.toDF("id_a", "id_b")
      def run(cap: Int) = Dedup.connectedComponentsGated(pairs, 25, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val local = run(LocalGate.MaxRows)
      assert(local == run(0), s"case $i")
    }
    assert(Dedup.connectedComponents(probe.toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("reliable-checkpoint mode (spark.graft.checkpoint.dir) matches the local path") {
    // Serialized with GraphRankSpec's reliable test on the Lineage
    // monitor: both mutate the shared session's DirKey conf, and sbt
    // runs suites in parallel — unsynchronized, one suite's unset can
    // flip the other's mode mid-loop (r14 review finding).
    graft.ops.Lineage.synchronized {
    import spark.implicits._
    // r13 verdict #5: localCheckpoint blocks die with an executor and
    // the truncated lineage cannot recompute them — the 100-TB contract
    // is the opt-in reliable mode. Same labels, and real checkpoint
    // files must land under the configured dir.
    val rnd = new scala.util.Random(11)
    val pairs = (0 until 300).map(_ => (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
      .filter { case (a, b) => a != b }.toDF("id_a", "id_b")
    val base = Dedup.connectedComponentsGated(pairs, 25, 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    spark.conf.set(graft.ops.Lineage.DirKey, dir.getAbsolutePath)
    try {
      val rel = Dedup.connectedComponentsGated(pairs, 25, 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(rel == base && rel.nonEmpty)
      def rddDirs(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).toSeq.flatten
          .flatMap(c => (if (c.getName.startsWith("rdd-")) Seq(c) else Nil) ++ rddDirs(c))
      assert(rddDirs(dir).nonEmpty,
        s"reliable mode wrote no checkpoint files under $dir")
    } finally spark.conf.unset(graft.ops.Lineage.DirKey)
    }
  }

  test("connectedComponents executes the upstream pairs pipeline once (edges persisted)") {
    import spark.implicits._
    // count upstream executions with an accumulator inside a UDF over
    // the pair source, on the distributed side (cap 0): with the gate's
    // probe and `edges` reading the persisted pairs, the source is
    // scanned at most twice however many label-propagation rounds the
    // chain needs. A probe that recomputed the pairs, or a loop without
    // the `edges` persist, adds scans.
    val scans = spark.sparkContext.longAccumulator("pair_scans")
    val tick = udf { (x: Long) => scans.add(1L); x }
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    val pairs = raw.toDF("a", "id_b").select(tick(col("a")).as("id_a"), col("id_b"))
    val comp = Dedup.connectedComponentsGated(pairs, 25, 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 7L).forall(comp(_) == 1L)) // the chain needs >1 round
    assert(scans.value <= 2L * raw.size,
      s"pairs pipeline ran ${scans.value} row-scans — edges not cached?")
  }

  test("ivfTopK with full probing equals brute force exactly") {
    val emb = plantedVectors
    val qs = emb.filter(col("vec_id") < 8)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("rank"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1))).toSet
    val exact = canon(Similarity.bruteForceTopK(emb, qs, 5))
    val ivfFull = canon(Similarity.ivfTopK(emb, qs, dim = 16, k = 5,
      nLists = 6, nProbe = 6, iters = 2))
    assert(ivfFull == exact)
  }

  test("ivf index split: serving from a persisted assignment agrees with one-shot; corpus never shuffles") {
    val emb = plantedVectors
    val qs = emb.filter(col("vec_id") < 8)
    // round-trip through parquet: what a deployment actually serves from
    val (dir, cents) = partitionedIvfIndex(emb, nLists = 6, iters = 2)
    val served = Similarity.ivfTopKFromPartitionedIndex(
      spark, dir, cents, qs, k = 5, nProbe = 6)
    val oneShot = Similarity.ivfTopK(emb, qs, dim = 16, k = 5, nLists = 6,
      nProbe = 6, iters = 2)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(canon(served) == canon(oneShot) && canon(served).nonEmpty)
    // serving plan: the probe set broadcasts; the only exchange is the
    // k-rows-per-partition top-k aggregate — the corpus side is map-only
    // (with AQE the post-execution plan wraps the one top-k exchange
    // in a query stage, so the raw collect can see 0 — either way the
    // corpus-side join must contribute none)
    val shuffles = served.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    assert(shuffles.length <= 1,
      s"expected at most the top-k exchange:\n${served.queryExecution.executedPlan}")
    assert(served.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "probe set must broadcast-join the corpus")
  }

  test("ivf partitioned-at-rest serving: partition-prunes to the probe union, output identical") {
    val emb = plantedVectors
    val qs = emb.filter(col("vec_id") < 4)
    val (dir, cents) = partitionedIvfIndex(emb, nLists = 6, iters = 2)
    val served = Similarity.ivfTopKFromPartitionedIndex(
      spark, dir, cents, qs, k = 5, nProbe = 2)
    val reference = Similarity.ivfTopK(emb, qs, dim = 16, k = 5, nLists = 6,
      nProbe = 2, iters = 2)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(canon(served) == canon(reference) && canon(served).nonEmpty)
    // the scan must carry the driver-resolved list_id IN literal as a
    // PARTITION filter — pruning at file listing, before any task runs
    // (string match: AQE query stages hide scan nodes from collect())
    val planStr = served.queryExecution.executedPlan.toString
    val pf = planStr.linesIterator
      .find(_.contains("PartitionFilters:"))
      .getOrElse(fail(s"no PartitionFilters in plan:\n$planStr"))
    assert(pf.contains("list_id"),
      s"expected a list_id partition filter, got: $pf")
  }

  test("ivf partitioned-at-rest serving rejects a corpus-sized query batch loudly") {
    val (dir, cents) = partitionedIvfIndex(plantedVectors, nLists = 4, iters = 1)
    // one query over the 10,000-query batch limit
    val queries = spark.range(10001).select(col("id").as("vec_id"),
      array(Seq.fill(16)(lit(0.5f)): _*).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromPartitionedIndex(
        spark, dir, cents, queries, k = 2, nProbe = 1)
    }
    assert(e.getMessage.contains("query batch exceeds 10000 rows"))
  }

  test("ivfTopK partial probing: planted dup found at rank 1, recall@5 is high") {
    val emb = plantedVectors
    val qs = emb.filter(col("vec_id") >= 100)
    val ivf = Similarity.ivfTopK(emb, qs, dim = 16, k = 5,
      nLists = 6, nProbe = 2, iters = 3)
    val rank1 = ivf.filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // a near-identical dup lands in the same IVF list as its source
    for (i <- 0 until 5)
      assert(rank1(100L + i) == i.toLong, s"planted dup $i not rank-1")
    val exact = Similarity.bruteForceTopK(emb, qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = ivf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@5 = $recall")
  }

  test("int8 quantization: codes in range, error bounded by scale/2, zeros exact") {
    import spark.implicits._
    val emb = plantedVectors.unionAll(
      Seq((999L, Array.fill(16)(0.0f))).toDF("vec_id", "embedding"))
    val q = Similarity.quantizeInt8(emb)
      .withColumn("recon", Similarity.dequantizeInt8(col("q"), col("q_scale")))
    for (r <- q.collect()) {
      val codes = r.getSeq[Int](r.fieldIndex("q"))
      assert(codes.forall(c => c >= -127 && c <= 127))
      val scale = r.getDouble(r.fieldIndex("q_scale"))
      val orig = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)
      val recon = r.getSeq[Double](r.fieldIndex("recon"))
      val maxErr = orig.zip(recon).map { case (a, b) => math.abs(a - b) }.max
      if (r.getLong(0) == 999L) assert(scale == 0.0 && maxErr == 0.0)
      else assert(maxErr <= scale / 2 + 1e-12, s"err $maxErr > ${scale / 2}")
    }
  }

  test("multimodal feature extraction: byte counts and normalized histogram") {
    val media = Multimodal.mediaFromDocuments(
      plantedDocs.withColumn("n_chars", length(col("text"))))
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.nonEmpty)
    for (r <- feats) {
      assert(r.getAs[Long]("n_bytes") > 0)
      // text bytes are not decodable images → every kind falls back to
      // the byte histogram, and image dimensions stay null
      assert(r.isNullAt(r.fieldIndex("width")))
      val hist = r.getSeq[Double](r.fieldIndex("feature"))
      assert(math.abs(hist.sum - 1.0) < 1e-9)
    }
  }

  test("multimodal feature extraction decodes real PNG payloads") {
    import spark.implicits._
    val png = graft.kernel.ImageCodec.encodePng(6, 4,
      (x, y) => (((x * 40) % 256) << 16) | (((y * 60) % 256) << 8) | 128)
    val media = Seq((1L, "image", png), (2L, "audio", png))
      .toDF("media_id", "kind", "payload")
    val rows = Multimodal.extractFeatures(media).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    val img = rows(1L)
    assert(img.getAs[Int]("width") == 6 && img.getAs[Int]("height") == 4)
    assert(img.getAs[Double]("mean_r") == (0 + 40 + 80 + 120 + 160 + 200) / 6.0)
    assert(img.getAs[Double]("mean_b") == 128.0)
    // same bytes under kind=audio: no JDK codec → stub fallback, null dims
    assert(rows(2L).isNullAt(rows(2L).fieldIndex("width")))
  }

  test("keepBest keeps the highest-scored cluster member, ties to min id") {
    import spark.implicits._
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L),   // cluster {1,2,3}: tie 2 vs 3 -> 2
      (4L, 5L), (5L, 99L),               // cluster {4,5}: 5 wins
      (9L, 7L))                          // singleton
      .toDF("doc_id", "n_chars")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("id", "component")
    val out = Dedup.keepBest(docs, comps, "doc_id", "n_chars")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((3L, 2L, 30L)))
    assert(out(4L) == ((2L, 5L, 99L)))
    assert(out(9L) == ((1L, 9L, 7L)))
    assert(out.size == 3)
  }

  test("leakageFreeSplit keeps every cluster on one side of the split") {
    import spark.implicits._
    val docs = (0L to 99L).map(i => Tuple1(i)).toDF("doc_id")
    // clusters {0..4} and {10,11}; everything else singleton
    val comps = (Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L),
      (10L, 10L), (11L, 10L))).toDF("id", "component")
    val out = Dedup.leakageFreeSplit(docs, comps, "doc_id", trainPerMille = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 100)
    // cluster members share one split
    for (cluster <- Seq(Set(0L, 1L, 2L, 3L, 4L), Set(10L, 11L)))
      assert(out.filter(r => cluster(r._1)).map(_._3).toSet.size == 1)
    // singletons got their own id as component, both splits populated
    assert(out.filter(_._1 == 50L).head._2 == 50L)
    assert(out.map(_._3).toSet == Set("train", "eval"))
  }

  test("minhashNewVsPrebuiltIndex finds planted near-duplicates by jaccard") {
    import spark.implicits._
    val all = plantedDocs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val index = all.filter(_._1 < 100L).toDF("doc_id", "text")
    val fresh = all.filter(_._1 >= 100L).toDF("doc_id", "text")
    val fast = Dedup.minhashNewVsPrebuiltIndex(fresh,
        Dedup.minhashIndex(index, "doc_id", "text"), "doc_id", "text", threshold = 0.6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    for (i <- 0 until 5)
      assert(fast(100L + i) == ((1L, i.toLong)), s"planted dup $i")
    // verified jaccard, not just band collision: thresholds hold
    val loose = Dedup.minhashNewVsPrebuiltIndex(fresh,
      Dedup.minhashIndex(index, "doc_id", "text"), "doc_id", "text",
      threshold = 0.999).collect()
    assert(loose.isEmpty) // one-word mutations are below 0.999
  }

  test("incremental-path triangle split: cross-side pairs exactly once on a forced hot bucket") {
    import spark.implicits._
    // one degenerate bucket: 30 identical index docs + 10 identical new
    // docs of the SAME content -> every band bucket holds all 40; with
    // cap=8 the bucket splits into g=5 sub-groups across 15 task-pairs
    // and all 10x30 cross-side matches must still surface (any skipped
    // cross-group or within-group task drops matches; n_matches < 30
    // would betray it)
    val content = "identical duplicated content shared across both sides here"
    val index = (0 until 30).map(i => (i.toLong, content)).toDF("doc_id", "text")
    val fresh = (1000 until 1010).map(i => (i.toLong, content)).toDF("doc_id", "text")
    def run(pruneMinBytes: Long, bucketCap: Int) = Dedup.minhashNewVsIndexGated(
        fresh, Dedup.minhashIndex(index, "doc_id", "text"), "doc_id", "text",
        5, 64, 16, 0.9, pruneMinBytes, bucketCap)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    val baseline = run(256L << 20, 2048) // below the gate: single task per bucket
    assert(baseline.size == 10 &&
      baseline.values.forall(_ == ((30L, 1.0, 0L))), s"baseline $baseline")
    assert(run(0L, 8) == baseline)
  }

  test("minhashNewVsPrebuiltIndex matches a new shard only against the index") {
    import spark.implicits._
    val all = plantedDocs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // index = the 20 base docs; new shard = the 5 planted near-dups plus
    // one exact copy of base doc 7 (id 200) and one unrelated doc (id 300)
    val index = all.filter(_._1 < 100L)
    val fresh = all.filter(_._1 >= 100L) ++ Seq(
      (200L, all.find(_._1 == 7L).get._2),
      (300L, "completely unrelated text about nothing in particular at all"))
    val out = Dedup.minhashNewVsPrebuiltIndex(fresh.toDF("doc_id", "text"),
        Dedup.minhashIndex(index.toDF("doc_id", "text"), "doc_id", "text"),
        "doc_id", "text", threshold = 0.6)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    for (i <- 0 until 5)
      assert(out(100L + i)._3 == i.toLong, s"planted dup $i matched wrong doc")
    assert(out(200L) == ((1L, 1.0, 7L))) // exact copy: jaccard 1.0
    assert(!out.contains(300L)) // unrelated: no verified match
    // new-vs-new pairs must NOT appear: 100..104 match only index ids
    assert(out.values.forall(_._3 < 100L))
  }

  test("image dHash near-dup: planted duplicate pixel content pairs up at Hamming 0") {
    import spark.implicits._
    // 3 distinct pixel contents, each planted under 2-3 media ids; one
    // non-decodable payload must be ignored, not fail the pipeline
    def img(seed: Long): Array[Byte] =
      graft.kernel.ImageCodec.encodePng(8, 6, (x, y) =>
        (((seed * 31 + x * 57 + y * 17) % 256).toInt << 16) |
        (((seed * 13 + x * 7 + y * 43) % 256).toInt << 8) |
        ((seed * 5 + x * 23 + y * 3) % 256).toInt)
    val media = Seq(
      (0L, "image", img(1)), (1L, "image", img(2)), (2L, "image", img(1)),
      (3L, "image", img(3)), (4L, "image", img(2)), (5L, "image", img(1)),
      (6L, "image", "not an image".getBytes)
    ).toDF("media_id", "kind", "payload")
    val pairs = Multimodal.dhashNearDupPairs(media, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // content img(1): ids {0,2,5} -> 3 pairs; img(2): ids {1,4} -> 1 pair
    assert(pairs.contains((0L, 2L, 0L)) && pairs.contains((0L, 5L, 0L))
      && pairs.contains((2L, 5L, 0L)) && pairs.contains((1L, 4L, 0L)))
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L), "undecodable payload leaked in")
    // distinct contents must not collide at Hamming 0 on an 8x6 ramp family
    assert(!pairs.exists(p => Set(3L).contains(p._1) || Set(3L).contains(p._2)))
  }

  test("audio envelope-sig dedup: identical payloads group, undecodables drop") {
    import spark.implicits._
    def wav(seed: Long): Array[Byte] =
      graft.kernel.AudioCodec.encodeWav(1, 8000, 64, (_, t) =>
        (((seed * 7919 + t * 1299721L) % 65536) - 32768).toShort)
    val media = Seq(
      (0L, "audio", wav(1)), (1L, "audio", wav(2)), (2L, "audio", wav(1)),
      (3L, "audio", "not audio".getBytes)
    ).toDF("media_id", "kind", "payload")
    val got = Multimodal.audioSigDedup(media, buckets = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(!got.contains(3L), "undecodable payload leaked in")
    // identical payloads share the signature; the higher id is the dup
    assert(got(0L)._1 == got(2L)._1)
    assert(!got(0L)._3 && got(2L)._3)
    // an 8-bit envelope CAN collide across contents — only assert the
    // group arithmetic is consistent, not that 1L is alone
    assert(got.values.forall(v => v._2 >= 1))
  }

  test("winnowSimilarityPairs: lifted paragraph detected, boilerplate df-pruned") {
    import spark.implicits._
    val para = "the quick brown fox jumps over the lazy dog again and again"
    val boiler = "standard footer text appended to every single document here"
    val docs = Seq(
      // 0 and 1 share the lifted paragraph inside otherwise-unrelated text
      (0L, s"alpha bravo charlie delta echo $para"),
      (1L, s"zulu yankee xray whiskey victor $para"),
      // 2 is unrelated
      (2L, "completely different content with nothing shared at all ok"),
      // 3..12 all share ONLY the boilerplate → its fingerprints exceed
      // maxDf=8 and must be pruned: no boilerplate-only pairs
      // prefixes end in DISTINCT digits so no two docs share a
      // boundary-crossing 8-gram (e.g. "seven"/"eleven" share "ven"
      // and would legitimately pair — the algorithm catching real
      // shared substrings, not a bug)
      (3L, s"unique prefix number 3 $boiler"), (4L, s"unique prefix number 4 $boiler"),
      (5L, s"unique prefix number 5 $boiler"), (6L, s"unique prefix number 6 $boiler"),
      (7L, s"unique prefix number 7 $boiler"), (8L, s"unique prefix number 8 $boiler"),
      (9L, s"unique prefix number 9 $boiler"), (10L, s"unique prefix number 10 $boiler"),
      (11L, s"unique prefix number 11 $boiler"), (12L, s"unique prefix number 12 $boiler")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowSimilarityPairs(docs, "doc_id", "text",
        k = 8, w = 4, minShared = 2, maxDf = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "lifted paragraph must pair 0-1")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc paired")
    // boilerplate appears in 10 docs > maxDf 8 → pruned; 3..12 share
    // nothing else, so no pair among them
    assert(!pairs.exists(p => p._1 >= 3L && p._2 >= 3L),
      s"boilerplate-only pairs leaked: $pairs")
  }

  test("winnowSimilarityPairs: fingerprint UDF evaluates exactly once per doc") {
    // r10 verdict #5: the fingerprint set feeds the df aggregate and
    // BOTH sides of the pair self-join — without the localCheckpoint,
    // whether Catalyst's exchange reuse dedups the three scans of the
    // dominant md5-per-gram map was asserted nowhere. Pin it with the
    // kernel's per-doc call counter: exactly |docs| evaluations, not
    // 2× or 3×.
    import spark.implicits._
    val docs = (0L until 40L)
      .map(i => (i, s"document number $i with shared tail ${i % 4} paragraph body"))
      .toDF("doc_id", "text")
    val c0 = graft.kernel.TextKernel.winnowCalls.get()
    Dedup.winnowSimilarityPairs(docs, "doc_id", "text",
        k = 8, w = 4, minShared = 2, maxDf = 8)
      .write.format("noop").mode("overwrite").save()
    val calls = graft.kernel.TextKernel.winnowCalls.get() - c0
    assert(calls == 40L, s"fingerprint UDF ran $calls times for 40 docs")
  }

  test("winnowFingerprintCountExact kernel matches the original column formulation") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the pre-kernel formulation, verbatim — the bit-for-bit reference
    def columnForm(text: Column, k: Int, w: Int): Column = {
      val n = length(text) - (k - 1)
      val grams = transform(sequence(lit(1), greatest(n, lit(0))),
        i => Dedup.md5Hash60(text.substr(i, lit(k))))
      val mins = transform(sequence(lit(1), n - (w - 1)),
        s => array_min(slice(grams, s, lit(w))))
      when(n <= lit(0), lit(0))
        .when(n <= lit(w), size(array_distinct(grams)))
        .otherwise(size(array_distinct(mins)))
        .cast("long")
    }
    val texts = Seq("", "abc", "abcdefgh", "abcdefghij",
      "aaaaaaaaaaaaaaaa", "the quick brown fox jumps over the lazy dog",
      "😀😀😀😀😀😀😀😀😀x", "padded    whitespace   text here",
      ("abc " * 40).trim)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    for ((k, w) <- Seq((8, 4), (5, 3), (3, 6))) {
      val got = df.select(col("id"),
        Dedup.winnowFingerprintCountExact(col("text"), k, w).as("c"))
        .as[(Long, Long)].collect().toMap
      val ref = df.select(col("id"), columnForm(col("text"), k, w).as("c"))
        .as[(Long, Long)].collect().toMap
      assert(got == ref, s"k=$k w=$w")
    }
  }
}
