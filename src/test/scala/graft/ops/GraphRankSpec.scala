package graft.ops

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

class GraphRankSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** Independent driver-side reference: textbook PageRank over maps. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
      d: Double = 0.85): Map[Long, Double] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val n = nodes.length
    val out = e.groupBy(_._1).map { case (s, es) => s -> es.length }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      val dangling = nodes.filter(!out.contains(_)).map(r).sum
      val inflow = e.groupBy(_._2).map { case (t, es) =>
        t -> es.map(p => r(p._1) / out(p._1)).sum
      }
      r = nodes.map(id => id ->
        ((1.0 - d) / n + d * dangling / n +
          d * inflow.getOrElse(id, 0.0))).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
    import spark.implicits._
    GraphRank.pageRank(edges.toDF("src", "dst"), iters)
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
  }

  private def assertClose(a: Map[Long, Double], b: Map[Long, Double]): Unit = {
    assert(a.keySet == b.keySet)
    for ((k, v) <- a) assert(math.abs(v - b(k)) < 1e-12,
      s"node $k: $v vs ${b(k)}")
  }

  test("two-node cycle stays uniform") {
    val edges = Seq(1L -> 2L, 2L -> 1L)
    val got = run(edges, 5)
    assertClose(got, Map(1L -> 0.5, 2L -> 0.5))
  }

  test("chain with dangling sink matches the reference recurrence") {
    // 1 -> 2 -> 3, 3 dangling: exercises the dangling-mass path.
    val edges = Seq(1L -> 2L, 2L -> 3L)
    assertClose(run(edges, 4), refPageRank(edges, 4))
  }

  test("duplicate edges count once and rank sums to 1") {
    val edges = Seq(1L -> 2L, 1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 3L)
    val got = run(edges, 6)
    assertClose(got, refPageRank(edges, 6))
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
  }

  test("hub-and-spoke concentrates rank on the hub") {
    val edges = (2L to 9L).flatMap(i => Seq(i -> 1L, 1L -> i))
    val got = run(edges, 8)
    assertClose(got, refPageRank(edges, 8))
    assert(got(1L) > got(2L) * 3)
  }

  test("random graphs match the reference (seeded, with dangling and dups)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 20 + rnd.nextInt(30)
      // ~2.5 edges per node; some nodes get none (dangling), some
      // edges duplicate
      val edges = Seq.fill(n * 5 / 2)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
        Seq.fill(n / 4)((rnd.nextInt(n / 2).toLong, 0L))
      val iters = 1 + rnd.nextInt(6)
      assertClose(run(edges, iters), refPageRank(edges, iters))
    }
  }

  test("zero iterations returns the uniform prior") {
    val got = run(Seq(1L -> 2L, 2L -> 1L, 3L -> 1L), 0)
    assertClose(got, Map(1L -> 1.0 / 3, 2L -> 1.0 / 3, 3L -> 1.0 / 3))
  }

  private def refPpr(edges: Seq[(Long, Long)], seeds: Set[Long],
      iters: Int, d: Double = 0.85): Map[Long, Double] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val s = seeds.intersect(nodes.toSet)
    val tele = nodes.map(v =>
      v -> (if (s(v)) 1.0 / s.size else 0.0)).toMap
    val out = e.groupBy(_._1).map { case (src, es) => src -> es.length }
    var r = tele
    for (_ <- 0 until iters) {
      val dangling = nodes.filter(!out.contains(_)).map(r).sum
      val inflow = e.groupBy(_._2).map { case (t, es) =>
        t -> es.map(p => r(p._1) / out(p._1)).sum
      }
      r = nodes.map(v => v ->
        (((1.0 - d) + d * dangling) * tele(v) +
          d * inflow.getOrElse(v, 0.0))).toMap
    }
    r
  }

  private def runPpr(edges: Seq[(Long, Long)], seeds: Seq[Long],
      iters: Int): Map[Long, Double] = {
    import spark.implicits._
    GraphRank.personalizedPageRank(edges.toDF("src", "dst"),
        seeds.toDF("id"), iters)
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
  }

  test("PPR with all nodes as seeds equals uniform PageRank") {
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 3L, 4L -> 1L)
    assertClose(runPpr(edges, Seq(1L, 2L, 3L, 4L), 5), run(edges, 5))
  }

  test("PPR matches the reference and concentrates mass near seeds") {
    // two loosely connected triangles; seed in the first one
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L,
      4L -> 5L, 5L -> 6L, 6L -> 4L, 3L -> 4L)
    val got = runPpr(edges, Seq(1L), 6)
    assertClose(got, refPpr(edges, Set(1L), 6))
    assert(got(2L) > got(5L), "mass should concentrate near the seed")
  }

  test("PPR handles dangling nodes and off-graph seeds") {
    val edges = Seq(1L -> 2L, 2L -> 3L) // 3 dangling
    val got = runPpr(edges, Seq(1L, 99L), 4) // 99 not in graph
    assertClose(got, refPpr(edges, Set(1L), 4))
  }

  test("dangling-heavy graph: fixed iters still match the reference") {
    // 1 hub feeding 30 dangling sinks plus a 3-cycle — most of the node
    // set is dangling, exercising the precomputed-dangling semi-join
    val edges = (10L to 39L).map(i => 1L -> i) ++
      Seq(1L -> 2L, 2L -> 3L, 3L -> 1L)
    assertClose(run(edges, 5), refPageRank(edges, 5))
  }

  // ---- HITS ----

  /** Driver-side reference: textbook sequential sweep with L1
    * normalization — a_t = norm(Eᵀ h_{t−1}), h_t = norm(E a_t).
    */
  private def refHits(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, (Double, Double)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.size
    var hub = nodes.map(_ -> 1.0 / n).toMap
    var auth = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val aRaw = nodes.map(v =>
        v -> e.filter(_._2 == v).map(ed => hub(ed._1)).sum).toMap
      val ta = aRaw.values.sum
      auth = aRaw.map { case (k, v) => k -> v / ta }
      val hRaw = nodes.map(u =>
        u -> e.filter(_._1 == u).map(ed => auth(ed._2)).sum).toMap
      val th = hRaw.values.sum
      hub = hRaw.map { case (k, v) => k -> v / th }
    }
    nodes.map(v => v -> (hub(v), auth(v))).toMap
  }

  private def runHits(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, (Double, Double)] = {
    import spark.implicits._
    GraphRank.hits(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
  }

  test("HITS: hub-and-authority star matches the reference") {
    // 1 links to 10..12 (1 is the hub); 10..12 link to 20 (20 is the
    // authority-of-authorities)
    val edges = Seq(1L -> 10L, 1L -> 11L, 1L -> 12L,
      10L -> 20L, 11L -> 20L, 12L -> 20L)
    val got = runHits(edges, 3)
    val ref = refHits(edges, 3)
    assert(got.keySet == ref.keySet)
    for ((k, (h, a)) <- got) {
      assert(math.abs(h - ref(k)._1) < 1e-12, s"hub $k: $h vs ${ref(k)._1}")
      assert(math.abs(a - ref(k)._2) < 1e-12, s"auth $k: $a vs ${ref(k)._2}")
    }
    // 20 is the top authority; 1 the top hub... 10..12 both link and
    // are linked, so assert the extremes only
    assert(got(20L)._2 == got.values.map(_._2).max)
    assert(got(1L)._2 == got.values.map(_._2).min)
  }

  test("HITS: random seeded graphs match the reference, scores sum to 1") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 30
      val edges = Seq.fill(80)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val got = runHits(edges, 4)
      val ref = refHits(edges, 4)
      assert(got.keySet == ref.keySet)
      for ((k, (h, a)) <- got) {
        assert(math.abs(h - ref(k)._1) < 1e-9, s"hub $k")
        assert(math.abs(a - ref(k)._2) < 1e-9, s"auth $k")
      }
      assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-9)
      assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9)
    }
  }

  test("HITS: zero iterations returns the uniform prior") {
    val got = runHits(Seq(1L -> 2L, 2L -> 3L), 0)
    assert(got == Map(1L -> ((1.0 / 3, 1.0 / 3)),
      2L -> ((1.0 / 3, 1.0 / 3)), 3L -> ((1.0 / 3, 1.0 / 3))))
  }

  test("damping outside [0, 1] is rejected on the driver before any job runs") {
    import org.apache.spark.sql.functions.{lit, raise_error}
    import spark.implicits._
    // any job over these edges fails, so only a driver-side check can
    // raise IllegalArgumentException
    val edges = spark.range(2).select(
      raise_error(lit("edges were read")).cast("long").as("src"),
      $"id".as("dst"))
    val seeds = Seq(1L).toDF("id")
    for (d <- Seq(-0.1, 1.5, Double.NaN)) {
      val pr = intercept[IllegalArgumentException](
        GraphRank.pageRank(edges, iters = 3, damping = d))
      assert(pr.getMessage.contains("damping"))
      val ppr = intercept[IllegalArgumentException](
        GraphRank.personalizedPageRank(edges, seeds, iters = 3, damping = d))
      assert(ppr.getMessage.contains("damping"))
    }
  }

  test("a rejected seed set and an empty-graph HITS leave nothing cached") {
    import spark.implicits._
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException](
      GraphRank.personalizedPageRank(edges, Seq(99L).toDF("id"), iters = 2))
    assert(e.getMessage.contains("no seed ids"))
    assert(cache.isEmpty, "PPR left its edge or node relation cached")
    val empty = GraphRank.hits(Seq.empty[(Long, Long)].toDF("src", "dst"), iters = 2)
    assert(empty.isEmpty)
    assert(cache.isEmpty, "HITS left its edge or node relation cached")
  }

  test("pageRank under reliable-checkpoint mode matches the local path bit-for-bit") {
    // Serialized with LlmOpsSpec's reliable test (shared-session DirKey
    // conf; suites run in parallel) — see the note there.
    graft.ops.Lineage.synchronized {
    import spark.implicits._
    // r13 verdict #5: the per-iteration truncation goes through
    // Lineage.truncate — with spark.graft.checkpoint.dir set, every
    // round's rank table checkpoints reliably (executor-loss-safe).
    // Same recurrence, same depth → identical doubles.
    val rnd = new scala.util.Random(3)
    val edges = (0 until 200)
      .map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val base = GraphRank.pageRank(edges, iters = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_pr").toFile
    spark.conf.set(graft.ops.Lineage.DirKey, dir.getAbsolutePath)
    try {
      val rel = GraphRank.pageRank(edges, iters = 8)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rel == base && rel.nonEmpty)
    } finally spark.conf.unset(graft.ops.Lineage.DirKey)
    }
  }
}
